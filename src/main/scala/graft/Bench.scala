package graft

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":...,"value":total_sec,"queries":{...}}.
  *
  * Execution is forced through the `noop` sink — a plain `.count()` would let
  * Catalyst prune away most of each query's actual work (column pruning to
  * zero columns), under-measuring by 10×.
  *
  * Honesty guarantees (VERDICT r01 "make the bench honest", r05 "bench
  * hygiene"):
  *  - a query that throws is recorded in "failed" and the process exits
  *    non-zero — a regression can't masquerade as a speedup;
  *  - every query is also timed WITHOUT its final global ORDER BY
  *    ("queries_nosort"): the sort exists for oracle determinism, and at
  *    sf0.1 it can dominate, hiding operator-level regressions;
  *  - MEDIAN-OF-N (default 3, SPARK_GRAFT_RUNS): this box runs under shared
  *    load with a documented ±3× noise band (the r03 307 s artifact); a
  *    single sample can't distinguish a plan regression from a noisy run.
  *    Per-query medians of N interleaved-free runs are reported;
  *  - "load_contaminated" lists queries whose sorted median exceeds 3× the
  *    nosort median — the top sort on an oracle-sized result never honestly
  *    costs 3× the query, so such a row means external load hit those runs.
  *  - CROSS-ROUND GUARD (VERDICT r06 #1/#5): "regressed_vs_prev" lists
  *    queries whose sorted median exceeds 3× the previous full-suite run's
  *    median (bench_prev.json, committed) and is over 1 s — the r06 judge
  *    found four >3× swings with zero source change that the within-run
  *    flag missed (it only sees sorted-vs-nosort, so a uniform slowdown is
  *    invisible to it). A full unfiltered run refreshes bench_prev.json so
  *    the next round compares against this one — but ONLY when the run is
  *    clean (VERDICT r07 #1: the unconditional refresh let a load-
  *    contaminated 238.7 s snapshot overwrite the clean 81.7 s basis, which
  *    would have neutered the guard the following round). A run with any
  *    load_contaminated / regressed_vs_prev / failed entry never becomes
  *    the basis; SPARK_GRAFT_REFRESH_BASIS=1 force-overrides for manual
  *    basis resets.
  *  - SUITE-TOTAL DRIFT GUARD (VERDICT r08 #2): the per-query flags have a
  *    >3×-and->1 s blind spot, so a broad sub-3× inflation could pass
  *    "clean" and ratchet the basis upward round over round. The refresh is
  *    additionally blocked when the suite total over the queries SHARED
  *    with the basis exceeds 1.2× the basis total ("basis_total_ratio" in
  *    the artifact).
  *  - RETRY-IN-ISOLATION (VERDICT r07 #2): before the artifact is written,
  *    every flagged query is re-measured once more in isolation; if the
  *    retry median is lower it replaces the loaded one and the flags are
  *    recomputed. A judged round should end with a clean artifact when the
  *    contamination was transient load, and a still-flagged one only when
  *    the slowdown reproduces.
  *
  * SPARK_GRAFT_ONLY=name1,name2 filters to a subset (local iteration only —
  * the driver runs unfiltered).
  */
object Bench {
  // The bench session's default config, defined ONCE: read here when the
  // env vars are absent AND compared against in the basis-refresh gate, so
  // a future default change cannot desync the two (a sweep refreshing the
  // basis under a non-default config is exactly the contamination the gate
  // exists to stop).
  private val DefaultShuffle = "8"
  private val DefaultMaxPartitionBytes = "134217728"
  private val DefaultOpenCost = "4194304"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    // nosort is a secondary diagnostic (sort-contamination signal + the
    // ratio table's numerator); one pass by default keeps the full-suite
    // wall-clock near the pre-median protocol (3+3 passes ran ~12 min).
    val nosortRuns = sys.env.getOrElse("SPARK_GRAFT_NOSORT_RUNS", "1").toInt
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val warmupRuns = !sys.env.get("SPARK_GRAFT_WARMUP").contains("0")
    // Bench-scale shuffle width (VERDICT r06 #2). sf0.1 is ~600 k rows —
    // nobody sizes 32 reducers for that; the 8 floor-bound headline queries
    // were paying 32-way task launch per Exchange on sub-second data. The
    // bench session therefore defaults to a small-data width (8) and RECORDS
    // it in the output ("shuffle_partitions"); the 100 TB config — the
    // SparkEntry/Verify sessions and every plan-shape spec — keeps the wide
    // default. Override with SPARK_GRAFT_SHUFFLE=32 to reproduce the old
    // basis.
    //
    // Scan-split size (default 128 MB, Spark's own default). At sf1 the
    // amplified single-file tables are 30-150 MB — the default would scan
    // each as 1-2 tasks and serialize CPU-heavy text scans; an operator
    // sizes maxPartitionBytes to the cluster exactly like shuffle width
    // (SCALING.md). Recorded in the output when overridden.
    //
    // openCostInBytes FLOORS the split size at 4 MB by default — for
    // high-compression CPU-heavy columns (text at ~7:1) a 5 MB parquet file
    // is 40 MB of decompressed scan work, and the byte heuristic would run
    // it as one task. Sized together with maxPartitionBytes (SCALING.md).
    val spark = Sessions.start("graft-bench", DefaultShuffle.toInt, Map(
      "spark.sql.files.maxPartitionBytes" ->
        sys.env.getOrElse("SPARK_GRAFT_MAX_PARTITION_BYTES", DefaultMaxPartitionBytes),
      "spark.sql.files.openCostInBytes" ->
        sys.env.getOrElse("SPARK_GRAFT_OPEN_COST", DefaultOpenCost)))
    // The EFFECTIVE session values (SPARK_GRAFT_SHUFFLE overrides the width
    // inside Sessions): what the artifact records and the basis gate checks.
    val shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    val maxPart = spark.conf.get("spark.sql.files.maxPartitionBytes")
    val openCost = spark.conf.get("spark.sql.files.openCostInBytes")
    System.err.println(s"[bench] heap max=${Runtime.getRuntime.maxMemory / (1 << 20)} MiB" +
      s" sfDir=$sfDir shuffle=$shuffle maxPartitionBytes=$maxPart openCost=$openCost")

    // Warm the JVM/codegen paths once on the smallest SF so per-query times
    // measure the engine, not first-call classloading.
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    def timed(thunk: => Unit): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok =
        try { thunk; true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] failed: ${e.getMessage}"); false
        }
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

    def measure(d: QueryDef): (String, Double, Double, Boolean) = {
      // ONE untimed per-query warmup run (r11 verdict #3): the sorted runs
      // always execute FIRST, so without it the query's JIT/codegen ramp
      // lands entirely in the sorted medians and reads as a phantom "sort
      // tail" — dd_ppjoin's big generated pipeline decays 8.6 → 4.6 → 4.2 s
      // over its first runs, and a job-level breakdown (clean window) shows
      // warm sorted ≈ warm nosort. The session-level flagship warmup above
      // covers classloading, not per-query generated code. The warmup uses
      // the SORTED plan (superset of the nosort one) and its failure is
      // ignored — the timed runs will report it. SPARK_GRAFT_WARMUP=0
      // skips it for runs=1 completeness SCREENS (the sf1 sweep), where
      // doubling every query's cost buys no median.
      if (warmupRuns)
        try d.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
      val sortedRuns = (1 to runs).map(_ => timed(
        d.fn(spark, sfDir).write.format("noop").mode("overwrite").save()))
      // Queries with NO top-level ORDER BY (the 1-row aggregate family —
      // q18/q20/q32) run the IDENTICAL plan on both passes, so timing them
      // twice only manufactures a phantom sorted-vs-nosort gap out of run
      // ordering (the r06 "1-row result costing 0.5 s to sort", VERDICT
      // #6). Detect the no-op strip and reuse the sorted median. Every
      // TIMED run still constructs its DataFrame inside the timer — the
      // probe must NOT be reused for a timed run, because queries with
      // eager construction work (the components loop, perKeyAuto's
      // estimate) would have that work pre-materialized (localCheckpoint)
      // and the "run" would time a cache read (~0.02 s, found the hard
      // way); the probe's one untimed construction is the price of sort
      // detection.
      // The probe's construction + analysis can itself throw (e.g. a query
      // whose input dir is schema-incompatible); that must count as a failed
      // query, not kill the whole suite before the JSON is written.
      val hasTopSort =
        try {
          val probe = d.fn(spark, sfDir)
          org.apache.spark.sql.graftbridge.Bridge.stripTopSort(probe) ne probe
        } catch { case e: Throwable =>
          System.err.println(s"[bench] probe failed: ${e.getMessage}"); false
        }
      val nosortRuns0 =
        if (!hasTopSort) Seq.empty
        else (1 to nosortRuns).map(_ => timed(
          org.apache.spark.sql.graftbridge.Bridge.stripTopSort(d.fn(spark, sfDir))
            .write.format("noop").mode("overwrite").save()))
      val ok = sortedRuns.forall(_._2) && nosortRuns0.forall(_._2)
      val sortedMed = median(sortedRuns.map(_._1))
      val nosortMed = if (hasTopSort) median(nosortRuns0.map(_._1)) else sortedMed
      System.err.println(f"[bench] ${d.name}%-28s sorted=$sortedMed%7.2f nosort=$nosortMed%7.2f ok=$ok" +
        s" runs=[${(sortedRuns ++ nosortRuns0).map(r => f"${r._1}%.2f").mkString(",")}]")
      (d.name, sortedMed, nosortMed, ok)
    }

    // SCRATCH MANAGEMENT for full-suite scale sweeps (r11 verdict #1): the
    // r11 sf1 sweep died on spill ENOSPC mid-suite — shuffle files and
    // DISK_ONLY checkpoint blocks of FINISHED queries linger in the local
    // scratch until the ContextCleaner happens to run, and the two
    // output-bound exact joins then spill tens of GB on top of that
    // residue. With SPARK_GRAFT_SCRATCH_GC_GB=N set, the suite (a) forces
    // a JVM GC after any query that leaves more than N GiB of scratch so
    // the cleaner reclaims the dead shuffles/blocks before the next query
    // runs, and (b) sequences the two known heavy spillers LAST with a
    // free-disk log line before each — the verdict's "per-query spill-dir
    // cleanup + disk check" shape. Unset (the driver's sf0.1 run), both
    // behaviors are off and the suite is byte-identical to before.
    val scratchGcGb = sys.env.get("SPARK_GRAFT_SCRATCH_GC_GB").map(_.toDouble)
    def dirBytes(f: java.io.File): Long =
      if (f.isFile) f.length
      else { val ks = f.listFiles(); if (ks == null) 0L else ks.map(dirBytes).sum }
    // Spark writes blockmgr-*/spark-* under spark.local.dir (or
    // SPARK_LOCAL_DIRS) when set, NOT java.io.tmpdir — scanning only tmpdir
    // would silently disable the ENOSPC protection on such configs.
    val scratchRoots: Seq[java.io.File] = {
      val conf = spark.conf.getOption("spark.local.dir")
        .orElse(sys.env.get("SPARK_LOCAL_DIRS"))
      conf.map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
        .getOrElse(Seq(System.getProperty("java.io.tmpdir", "/tmp")))
        .map(new java.io.File(_))
    }
    def scratchBytes(): Long = scratchRoots.map { tmp =>
      val kids = tmp.listFiles()
      if (kids == null) 0L
      else kids.filter(f => f.getName.startsWith("blockmgr-") || f.getName.startsWith("spark-"))
        .map(dirBytes).sum
    }.sum
    def reclaimScratch(label: String): Unit = scratchGcGb.foreach { gb =>
      val limit = (gb * (1L << 30)).toLong
      var b = scratchBytes()
      if (b > limit) {
        System.err.println(f"[bench] scratch ${b / 1e9}%.1f GB > $gb%.0f GB after $label — forcing cleaner GC")
        var tries = 0
        while (b > limit && tries < 15) {
          System.gc(); Thread.sleep(2000); b = scratchBytes(); tries += 1
        }
        System.err.println(f"[bench] scratch after reclaim ${b / 1e9}%.1f GB," +
          f" free disk ${scratchRoots.head.getUsableSpace / 1e9}%.1f GB")
      }
    }
    // dd_lsh_eval joined the set in r12: it embeds a full ppjoin (the
    // exact-truth side), so at sf1 it spills the same tens of GB and
    // must run in the managed tail with the other output-bound joins
    val heavySpillers = Set("dd_ppjoin", "dd_containment", "dd_lsh_eval")
    val defs0 = SparkEntry.allDefs.filter(d => only.forall(_.contains(d.name)))
    val defs =
      if (scratchGcGb.isEmpty) defs0
      else defs0.filterNot(d => heavySpillers(d.name)) ++
        defs0.filter(d => heavySpillers(d.name))
    val results0 = defs.map { d =>
      if (scratchGcGb.isDefined && heavySpillers(d.name))
        System.err.println(f"[bench] pre-${d.name} free disk: " +
          f"${scratchRoots.head.getUsableSpace / 1e9}%.1f GB")
      val r = measure(d)
      reclaimScratch(d.name)
      r
    }
    // Cross-round guard: previous full-suite medians live in bench_prev.json
    // ("queries":{"name":sec,...}); flag >3× round-over-round moves above 1 s.
    val prevPath = java.nio.file.Paths.get("bench_prev.json")
    // the basis is only comparable at ITS scale factor: an sf1 (or
    // scale-smoke) run compared against the sf0.1 basis spuriously
    // flags/retries every data-proportional query (seen with
    // ta_pipeline_e2e at sf1, r10)
    val prevSf: Option[String] =
      if (!java.nio.file.Files.exists(prevPath)) None
      else "\"sf\"\\s*:\\s*\"([^\"]+)\"".r
        .findFirstMatchIn(
          new String(java.nio.file.Files.readAllBytes(prevPath), "UTF-8"))
        .map(_.group(1))
    val prevMedians: Map[String, Double] =
      if (java.nio.file.Files.exists(prevPath) && !prevSf.exists(_ != sfDir)) {
        val txt = new String(java.nio.file.Files.readAllBytes(prevPath), "UTF-8")
        "\"([A-Za-z0-9_]+)\"\\s*:\\s*([0-9.]+)".r.findAllMatchIn(txt)
          .filter(m => m.group(1) != "round" && m.group(1) != "runs" && m.group(1) != "sf")
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      } else Map.empty
    // sub-second queries swing >3× on pure scheduling noise — only flag
    // rows where the absolute gap could matter
    def flaggedOf(rs: Seq[(String, Double, Double, Boolean)]): Set[String] =
      (rs.filter(r => r._2 > 3 * r._3 && r._2 > 1.0) ++
        rs.filter(r => prevMedians.get(r._1).exists(p => r._2 > 3 * p && r._2 > 1.0)))
        .map(_._1).toSet

    // Retry-in-isolation: a flagged query in a full-suite pass usually means
    // external load hit its window, not a plan change. Re-measure each one
    // back-to-back (nothing else running between its runs); if the retry's
    // sorted median is lower, BOTH medians come from the retry — mixing the
    // retry's sorted with min(original, retry) nosort would compute the
    // load_contaminated ratio across two different measurement windows
    // (ADVICE r08). The retried set is recorded in the artifact so a
    // retry-cleared run stays distinguishable from a first-pass-clean one.
    val retried = flaggedOf(results0)
    val results = results0.map { r =>
      if (!retried(r._1)) r
      else {
        System.err.println(s"[bench] retrying flagged query in isolation: ${r._1}")
        val d = defs.find(_.name == r._1).get
        val again = measure(d)
        if (again._4 && again._2 < r._2) (r._1, again._2, again._3, r._4)
        else r
      }
    }

    def obj(pairs: Seq[(String, Double)]): String =
      pairs.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val qs = obj(results.map(r => r._1 -> r._2))
    val qsNoSort = obj(results.map(r => r._1 -> r._3))
    val failed = results.filterNot(_._4).map("\"" + _._1 + "\"").mkString("[", ",", "]")
    val contaminatedSeq = results.filter(r => r._2 > 3 * r._3 && r._2 > 1.0).map(_._1)
    val contaminated = contaminatedSeq.map("\"" + _ + "\"").mkString("[", ",", "]")
    val regressedSeq = results
      .filter(r => prevMedians.get(r._1).exists(p => r._2 > 3 * p && r._2 > 1.0))
    val regressed = regressedSeq
      .map(r => "\"" + r._1 + "\":" + f"${r._2 / prevMedians(r._1)}%.1f")
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // Suite-level drift guard (VERDICT r08 #2): the per-query >3×-AND->1 s
    // flags miss a broad sub-3× inflation (r08 passed "clean" at +15% and
    // became the basis — each such run ratchets the basis upward and a real
    // regression hides under the accumulated slack forever). Compare suite
    // totals over the INTERSECTION of query names (new queries must not
    // count as drift) and block the basis refresh past 1.2×.
    val shared = results.filter(r => prevMedians.contains(r._1))
    val sharedTotal = shared.map(_._2).sum
    val prevSharedTotal = shared.map(r => prevMedians(r._1)).sum
    val totalRatio = if (prevSharedTotal > 0) sharedTotal / prevSharedTotal else 1.0
    // MEDIAN-OF-RATIOS GUARD (VERDICT r17 #8): a uniform +15-20 % load
    // inflation slid under the 1.2× TOTAL gate twice (r08, r17) and
    // ratcheted the basis. The per-query ratio median is insensitive to a
    // few genuinely-slower queries (real regressions/changes move a few
    // rows a lot; load moves every row a little), so a clean optimization
    // round passes while broad inflation (median > 1.1) blocks the
    // refresh. Refresh-gate-only change: measurements are untouched.
    val ratios = shared.collect {
      case r if prevMedians(r._1) > 0 => r._2 / prevMedians(r._1)
    }
    val medianRatio = if (ratios.isEmpty) 1.0 else median(ratios)
    val totalDrifted = totalRatio > 1.2 || medianRatio > 1.1
    val retriedJson = retried.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Memoized-artifact transparency (VERDICT r13 #5): queries served from a
    // per-JVM memo (trained BPE model, persisted ANN indexes, materialized
    // stream sources) have bench rows that measure SERVE cost — the one-time
    // build ran inside the warmup. Emit each memo's recorded cold wall so
    // the artifact distinguishes the two without external docs.
    val coldBuild = ColdBuilds.snapshot.toSeq.sorted
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val detail =
      f"""{"metric":"total_sec_all_queries","value":$total%.3f,"unit":"sec","runs":$runs,"shuffle_partitions":$shuffle,"queries":$qs,"queries_nosort":$qsNoSort,"load_contaminated":$contaminated,"regressed_vs_prev":$regressed,"failed":$failed,"retried":$retriedJson,"basis_total_ratio":$totalRatio%.3f,"basis_median_ratio":$medianRatio%.3f,"cold_build":$coldBuild,"sf":"$sfDir"}"""
    // Full per-query detail goes to a file plus an early stdout line; the
    // FINAL stdout line is kept compact (headline queries only) so it fits
    // entirely inside the harness's bounded output-tail capture. A 3.5 kB
    // line gets its head truncated by the tail window and parses as nothing.
    java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_detail.json"),
      (detail + "\n").getBytes("UTF-8"))
    // A full (unfiltered) CLEAN run becomes the next round's comparison
    // basis. Gated (VERDICT r07 #1): a run with surviving contamination /
    // regression flags or failures must never overwrite the clean basis —
    // that neuters regressed_vs_prev next round. Manual reset:
    // SPARK_GRAFT_REFRESH_BASIS=1.
    val clean = contaminatedSeq.isEmpty && regressedSeq.isEmpty && results.forall(_._4) &&
      !totalDrifted
    val forceRefresh = sys.env.get("SPARK_GRAFT_REFRESH_BASIS").contains("1")
    // Config sweeps (SPARK_GRAFT_SHUFFLE=32 etc. — the per-round width
    // sanity line) must never become the regression basis: every
    // cross-round comparison would silently be cross-CONFIG (this bit a
    // round-11 sweep, which overwrote the 8-wide basis with 32-wide
    // medians before being caught).
    val defaultConfig = shuffle == DefaultShuffle &&
      maxPart == DefaultMaxPartitionBytes && openCost == DefaultOpenCost
    // A run at a DIFFERENT scale factor than the standing basis must never
    // become the basis: with prevSf != sfDir the per-query regression flags
    // are (correctly) disabled above, so an sf1 sweep would read as "clean"
    // and silently replace the sf0.1 basis with sf1 medians.
    val sameSf = !prevSf.exists(_ != sfDir)
    if (only.isEmpty && ((clean && defaultConfig && sameSf) || forceRefresh)) {
      val prevJson = "{\"runs\":" + runs + ",\"sf\":\"" + sfDir + "\",\"queries\":" + qs + "}"
      java.nio.file.Files.write(prevPath, (prevJson + "\n").getBytes("UTF-8"))
    } else if (only.isEmpty) {
      System.err.println(
        s"[bench] basis NOT refreshed (contaminated=$contaminated regressed=$regressed " +
          f"failed=$failed total_ratio=$totalRatio%.3f median_ratio=$medianRatio%.3f)")
    }
    println(detail)
    // dd_minhash_lsh replaced dd_ngram_jaccard in the headline (VERDICT r08
    // #2): the n-gram self-join is the labeled exact baseline whose sf1 cost
    // grows ~quadratically; the LSH path is the scale story worth tracking.
    val headline = Seq(
      "q01_pricing_summary", "q04_leftjoin_nullfill", "q05_window_dedup",
      "q15_refund_rollup", "fk_daily_city_sales", "dd_minhash_lsh",
      "dd_embedding_cosine", "ta_quality", "ev_stream_window")
    val byName = results.map(r => r._1 -> r._2).toMap
    val qsHead = obj(headline.flatMap(n => byName.get(n).map(n -> _)))
    println(
      f"""{"metric":"total_sec_all_queries","value":$total%.3f,"unit":"sec","n_queries":${results.size},"runs":$runs,"shuffle_partitions":$shuffle,"queries":$qsHead,"load_contaminated":$contaminated,"regressed_vs_prev":$regressed,"failed":$failed,"sf":"$sfDir","detail":"bench_detail.json"}""")
    spark.stop()
    if (results.exists(!_._4)) sys.exit(1)
  }
}
