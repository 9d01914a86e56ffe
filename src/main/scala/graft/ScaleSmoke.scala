package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scale-up smoke: synthesize an N×-scaled copy of a testdata dir
  * (key-shifted unions — documents/embeddings become exact duplicate
  * families, the realistic dedup workload) and time the scale-critical
  * queries on it, printing per-query seconds and the ratio vs the source
  * dir. This is the measured half of SCALING.md's argument: a plan whose
  * runtime scales ≈ linearly in rows here has no hidden all-pairs/
  * global-sort step; a super-linear one does.
  *
  * Run: `sbt "runMain graft.ScaleSmoke"` (env: SPARK_GRAFT_COPIES=8,
  * SPARK_GRAFT_SCALE_SRC=/root/testdata/sf0.1,
  * SPARK_GRAFT_SCALE_DST=/tmp/graft_scale).
  */
object ScaleSmoke {

  private val queries = Seq(
    "q01_pricing_summary", "q20_sketch_stats", "q32_percentiles",
    "ta_tokens", "ta_langid", "ta_seq_pack", "ta_keywords",
    "ta_pipeline_e2e", "dd_span_dup", "dd_minhash_lsh", "dd_components",
    "dd_keep_best", "dd_embedding_lsh",
    // late-round-7 additions: corpus indexing (term-keyed aggregates),
    // event analytics (user-keyed aggregates over a ×copies user
    // population), and the per-row HOF scan
    "ta_inverted_index", "ta_collocations", "ev_funnel", "ev_retention",
    "q38_vector_hof",
    // round-9 additions: cluster-partitioned semantic dedup (8× the vectors
    // per fixed k=10 clusters → within-cluster pairs grow ~64× — the smoke
    // quantifies how much of that the clustering absorbs vs the all-pairs
    // baseline), corpus-level line dedup (line-hash window), and the
    // within-doc repetition rules (per-doc keyed rollups)
    "dd_semdedup", "dd_line_dedup", "ta_repetition",
    // round-9 session additions: iterative graph dataflow (edges ×8, rank
    // vector ×~1 — per-iteration cost should track edges), exact-substring
    // removal (8 exact copies make ~every window a duplicate — removal
    // volume is the stress, still linear by construction), the fixed-state
    // sketches (grid/sketch size CONSTANT as data grows — the whole
    // point), the bigram LM (model zipf-small vs corpus), and the layout
    // op (two scans + two group-bys, no joins)
    "pr_pagerank", "dd_substr_dedup", "ta_cms_heavy", "ta_bigram_lm",
    "q40_hll_cube", "lo_zorder", "ev_theta_audience",
    // late additions: scan-speed projection and the fingerprint diff (both
    // linear; sim_rp_topk stays OUT like dd_embedding_cosine — it is the
    // labeled O(n²) projected-space baseline)
    "sim_rp_project", "ta_snapshot_diff",
    // round-10 additions: incremental-index dedup (batch-proportional
    // hashing + candidate-sized verify), index-served ANN (probe-
    // proportional — sf1 measured FLAT), and the salted skew join
    // (fact-side linear). The mm_* families stay out: their committed
    // media fixtures don't scale with the ×copies corpus.
    "dd_minhash_incr", "sim_ivf_persist", "jo_skew_salted",
    // round-10 session additions: DSIR (bucket model + per-doc rollup +
    // top-k — linear), the Hilbert layout twin (two scans + two group-bys,
    // like lo_zorder), and composed IVFADC (assignment/training linear in
    // vectors; the probe-side candidate scan reads nprobe/K of the codes).
    // q42_lateral stays out: it reads nation/customer, which the
    // synthesized dir doesn't carry (dimension-sized anyway).
    // dd_ppjoin: exact prefix-filtered similarity join — candidate volume
    // is Σ df² over PREFIX (rarest) tokens; ×8 exact copy families make
    // every prefix token's df grow ×8, so candidates grow ~64× WITHIN
    // families (inherent to any exact pairs-emitting operator — the
    // dd_components lesson), while the non-family corpus stays pruned.
    "ta_dsir", "lo_hilbert", "sim_ivfpq_adc", "dd_ppjoin",
    // third-session additions: the CDC merge (per-key partial agg — the
    // map-side combine should absorb most of the ×8 log), the KLL sketch
    // (CONSTANT ~1 KiB state per group, like the other fixed-state
    // sketches), MIPS (5 broadcast queries × n candidates — linear scan),
    // and the bucketed join (times table BUILD + join on first touch of
    // each dir — the honest once-per-layout cost the amortization claim
    // is about; the join itself is exchange-free on both sides).
    // mm_embed_ann stays out with the other mm_* (fixed media fixtures).
    "ev_cdc_apply", "q43_kll_quantiles", "sim_mips_topk", "io_bucketed_join",
    // later third-session additions: containment shares dd_ppjoin's
    // output-bound caveat (exact pairs on a duplicate-saturated ×8 corpus);
    // kmeans_train is 3 linear rounds against a broadcast model;
    // anomaly/incr_rollup are hour-keyed partial aggs + constant-size
    // tails; multiset ops are count-joins; time_travel times fixture
    // build + 3 pinned-manifest reads on first touch of each dir.
    "dd_containment", "sim_kmeans_train", "ev_anomaly_zscore",
    "ev_incr_rollup", "q44_multiset_ops", "io_time_travel",
    // and the last two: the global-shuffle shard stage (hash assign is a
    // scan; the within-shard hash sort is n/8 log n per shard — the one
    // deliberate sort, sized by shard count) and triplet mining (30
    // broadcast anchors × candidate scan + hash argmin — linear).
    "ta_shard_shuffle", "sim_triplet_mine",
    // triangle counting: ×8 orders over the SAME part catalog densify the
    // co-purchase graph (edges dedup toward saturation), so this measures
    // the oriented wedge join under rising density — the m^1.5 shape.
    "pr_triangles",
    // phrase search: the bigram argmax scans ×8 tokens (linear); the
    // adjacency join stays postings-sized.
    "ta_phrase_search",
    // round-11: URL canonicalization is a pure per-row scan; the url-dedup
    // adds one canon_url shuffle + one host window — host COUNT stays
    // constant under ×8 copies (hosts derive from source, which the
    // synthesis keeps), so per-host volume grows ×8: the cap-bind case.
    "ta_url_canon", "dd_url_dedup",
    // integer GD trainer: Steps+1 linear scans of a cached 5-column
    // integer frame, 32 bytes of driver traffic per step. The scoring
    // face adds one more feature scan with literal weights — pure map.
    "ta_logreg_train", "ta_logreg_score", "ta_logreg_eval",
    // recall eval: the two composed retrievals (each already smoked) + a
    // k-sized join.
    "sim_recall_eval",
    // PIT join: SCD2 build + sorted-union carry, all on ONE user_id hash
    // partitioning (the ev_sessionize class).
    "ev_pit_join",
    // tar shards: fixed-size committed fixture (48 imgs, not synthesized)
    // — a pure floor like sim_rp_project; the signal is absence of blowup.
    "mm_tar_shards", "mm_tar_pack",
    // vacuum: per-call fixture build (3 linear writes of orders slices) +
    // a path-set anti-join sized by file COUNT, not data volume.
    "io_vacuum",
    // late audit: one event scan + per-chunk max + a chunk-series window;
    // ×8 copies multiply rows per chunk, not chunks — the window stays
    // calendar-sized.
    "ev_late_audit",
    // backfill: three (hour,type)-keyed partial-aggregable rollups +
    // calendar-sized merge joins on the tiny aggregates.
    "ev_late_backfill",
    // sweep: one scan fanned over the literal delay list — 3 delays cost
    // one what-if.
    "ev_late_sweep",
    // incremental IVF: build+ingest on first touch of each dir (the
    // once-per-layout cost, like sim_ivf_persist/io_bucketed_join); the
    // serve itself is probe-proportional.
    "sim_ivf_incr",
    // round-12: HTML extraction is a pure per-row block classifier scan;
    // the blocklist is a depth-bounded suffix explode + broadcast join +
    // one doc-keyed agg/join — both linear.
    "ta_html_extract", "ta_blocklist",
    // the dedup cascade under ×8 EXACT copies: stage 1 collapses every
    // copy family to one survivor, so the expensive near-dup stage runs
    // on ~n/8 — the smoke quantifies the cost-ordering payoff that is the
    // operator's whole argument.
    "dd_cascade",
    // merge/CDF/stats-prune/DQ: fixture build + a fixed number of file
    // commits on first touch (the once-per-layout class) + linear
    // rewrites; stats-prune's scan is selectivity-bound by construction;
    // the DQ suite is one scan + a broadcast anti-join.
    "io_merge", "io_cdf", "io_stats_prune", "io_dq_checks",
    // range search: K-row radius metadata + Q×K scan/skip decisions; on
    // the unclustered ×copies corpus everything scans — the honest
    // worst case, a linear candidate scan.
    "sim_range_search",
    // MoR deletes: two predicate scans emitting (file,pos) vectors +
    // anti-join reads against the broadcast delete-sized DV — all linear,
    // zero data rewrites. The clone adds one manifest write on top.
    "io_dv_delete", "io_shallow_clone",
    // CLIP-style pair filtering: token explode + (doc, dim) agg + one
    // doc-keyed join against the 64x-exploded embeddings — token-count-
    // linear, no pairwise stage.
    "mm_clip_filter",
    // partition evolution: O(files) manifest planning + a selectivity-
    // bound pruned scan; fixture build (7 linear writes) on first touch.
    "io_partition_evolution",
    // Matryoshka truncate-then-rerank eval: one broadcast-query candidate
    // scan (prefix + full scores in one pass) + per-query windows on a
    // single hash partitioning — Q-row output.
    "sim_dim_truncate",
    // attribution: ONE range-frame window on a user-keyed partitioning,
    // frame state bounded by a user's 7-day event volume; no pair blowup.
    "ev_attribution",
    // HITS: per half-step one edge⋈state join + one keyed agg over
    // fixed-width rows (the pr_pagerank topology); edge set saturates
    // under ×copies like the rest of the graph family.
    "pr_hits",
    // LSH eval: the banded candidate join + candidate-sized verify +
    // the prefix-filtered exact truth — each individually smoked (the
    // dd_minhash_lsh / dd_ppjoin rows); the eval rides their sum.
    "dd_lsh_eval",
    // graph ANN: per-shard M-NN builds (n²/S, partition-local) + a
    // fixed-unroll scatter-gather walk whose scored set is budget-bounded
    // (≤ shards × (greedy + beam·M·hops)) regardless of corpus size.
    "sim_hnsw_topk",
    // bloom index: one distributed build pass (per-file OR-merged bloom
    // fold), O(files) planning metadata, selectivity-bound pruned read.
    "io_bloom_index",
    // OCC: conflict detection is one metadata swap; the writers' work is
    // three predicate scans emitting delete-sized vectors + MoR reads.
    "io_occ_conflict",
    // EWMA: one event scan + calendar-sized per-series array folds
    // (sequential per series by nature; types parallelize).
    "ev_ewma")

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SCALE_SRC", "/root/testdata/sf0.1")
    val dst = sys.env.getOrElse("SPARK_GRAFT_SCALE_DST", "/tmp/graft_scale")
    val copies = sys.env.getOrElse("SPARK_GRAFT_COPIES", "8").toInt
    val spark = Sessions.start("graft-scale-smoke", 32)

    // A marker file records the copies count the dst was synthesized with;
    // a dst left over from a run with a DIFFERENT SPARK_GRAFT_COPIES would
    // otherwise be silently reused and every printed ratio mislabeled
    // (ADVICE r06).
    val marker = java.nio.file.Paths.get(dst, "copies.marker")
    // "v2" = the synthesized table set now includes events; a v1 dst (no
    // events.parquet) must re-synthesize even with matching copies:src
    // v3 = + orders (shared order-key shift, per-copy custkey shift)
    // v4 = + part (unscaled dim copy for jo_skew_salted)
    // v5 = + customer (custkey shifted with the ORDERS shift so the
    //      bucketed join and cdc rollup see a ×copies key population)
    val markerVal = s"$copies:$src:v5"
    val fresh = java.nio.file.Files.exists(marker) &&
      new String(java.nio.file.Files.readAllBytes(marker), "UTF-8").trim == markerVal
    if (!fresh) {
      synthesize(spark, src, dst, copies)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dst))
      java.nio.file.Files.write(marker, s"$markerVal\n".getBytes("UTF-8"))
    }

    def timed(thunk: => Unit): Double = {
      val t0 = System.nanoTime(); thunk; (System.nanoTime() - t0) / 1e9
    }
    def run(dir: String, name: String): Double = timed(
      SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save())

    // SPARK_GRAFT_SCALE_ONLY=name1,name2 filters the uniform-scale list;
    // the special names "components_only" and "skew" select the isolated
    // components timing and the hot-key family. Local iteration only — a
    // full smoke runs everything.
    val onlySel = sys.env.get("SPARK_GRAFT_SCALE_ONLY").map(_.split(",").toSet)
    def selected(name: String): Boolean = onlySel.forall(_.contains(name))

    // warm codegen/scan paths once on the small side
    run(src, "q01_pricing_summary")
    val rows = queries.filter(selected).map { name =>
      val small = run(src, name)
      // ta_seq_pack's shard count is a semantics-bearing CONFIG (pack
      // layout), not a constant: a real run sizes shards ∝ corpus, so the
      // big side runs with copies× the shards — the configured-operator
      // ratio, the same way shuffle width scales with cluster size. (The
      // oracle row always runs the default 8.)
      val big =
        if (name == "ta_seq_pack") {
          spark.conf.set("graft.pack.shards", (8 * copies).toString)
          try run(dst, name) finally spark.conf.unset("graft.pack.shards")
        } else run(dst, name)
      println(f"""[scale] $name%-22s src=$small%6.2f s  ${copies}x=$big%6.2f s  ratio=${big / small}%5.2f""")
      (name, small, big)
    }
    // dd_components' end-to-end ratio is EDGE-bound, not round-bound: exact
    // copy families make LSH pair output quadratic in family size (8 copies
    // of a 2-dup family → 16-clique → 120 pairs where src had 1), which is
    // inherent to any pairs-emitting operator. To pin the label-propagation
    // ALGORITHM separately, time componentsOf alone on pre-materialized
    // pair sets at both scales — with pointer doubling its rounds are
    // O(log diameter), so this ratio tracks edge volume ≈ linearly.
    val isolated = if (!selected("components_only")) "" else {
      import org.apache.spark.sql.functions.col
      def pairsOf(dir: String) = graft.operators.Dedup
        .minhashLshPairs(spark, Tables.documents(spark, dir))
        .select(col("doc_a"), col("doc_b")).localCheckpoint(true)
      def nodesOf(dir: String) =
        Tables.documents(spark, dir).select(col("doc_id")).localCheckpoint(true)
      val (ps, ns) = (pairsOf(src), nodesOf(src))
      val (pb, nb) = (pairsOf(dst), nodesOf(dst))
      val es = ps.count(); val eb = pb.count()
      val ts = timed(graft.operators.Dedup.componentsOf(spark, ns, ps)
        .write.format("noop").mode("overwrite").save())
      val tb = timed(graft.operators.Dedup.componentsOf(spark, nb, pb)
        .write.format("noop").mode("overwrite").save())
      println(f"[scale] components_only       src=$ts%6.2f s ($es edges)  ${copies}x=$tb%6.2f s ($eb edges)  ratio=${tb / ts}%5.2f  edge_ratio=${eb.toDouble / es}%5.2f")
      f""""components_only":{"src_sec":$ts%.3f,"big_sec":$tb%.3f,"ratio":${tb / ts}%.2f,"src_edges":$es,"big_edges":$eb}"""
    }
    // SKEW smoke (VERDICT r07 #5): the ×copies population above is UNIFORM,
    // but the realistic event-stream failure is a hot user (bot traffic)
    // concentrating one partition of every user_id-keyed shuffle. Rewrite
    // the big events table so ONE user owns ~10% of all events, rerun the
    // user-keyed event-analytics family, and report skewed/uniform ratios —
    // a plan that serializes on the hot key blows past 2× here. (AQE is on,
    // as in every session; funnel/retention collapse each user to ≤1-row
    // aggregates map-side, sessionize's per-user window sorts the hot
    // user's events within one partition — all bounded work.)
    val skewRows = if (!selected("skew")) Seq.empty else {
      val skewDir = s"${dst}_skew"
      val skewMarker = java.nio.file.Paths.get(skewDir, "copies.marker")
      val skewMarkerVal = s"$copies:$src:v1skew"
      val skewFresh = java.nio.file.Files.exists(skewMarker) &&
        new String(java.nio.file.Files.readAllBytes(skewMarker), "UTF-8").trim == skewMarkerVal
      if (!skewFresh) {
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        val ev = spark.read.parquet(s"$dst/events.parquet")
        val hot = 424242424242L
        ev.withColumn("user_id",
            when(abs(hash(col("event_id"))) % 10 === 0, lit(hot)).otherwise(col("user_id")))
          .write.mode("overwrite").parquet(s"$skewDir/events.parquet")
        java.nio.file.Files.write(skewMarker, s"$skewMarkerVal\n".getBytes("UTF-8"))
      }
      Seq("ev_funnel", "ev_retention", "ev_sessionize", "ev_window_agg").map { name =>
        val uni = run(dst, name)
        val skw = run(skewDir, name)
        println(f"""[scale] skew:$name%-17s uniform=$uni%6.2f s  hot10pct=$skw%6.2f s  ratio=${skw / uni}%5.2f""")
        (s"skew:$name", uni, skw)
      }
    }
    val obj = ((rows ++ skewRows).map { case (n, s, b) =>
      f""""$n":{"src_sec":$s%.3f,"big_sec":$b%.3f,"ratio":${b / s}%.2f}"""
    } ++ Option(isolated).filter(_.nonEmpty)).mkString("{", ",", "}")
    println(s"""{"metric":"scale_smoke","copies":$copies,"queries":$obj}""")
    spark.stop()
  }

  /** Key-shifted union ×copies for the tables the smoke queries read.
    * documents get a per-copy suffix token so copies stay exact near-dup
    * families without being byte-identical in the tail grams.
    */
  private def synthesize(spark: SparkSession, src: String, dst: String, copies: Int): Unit = {
    // the raw events parquet stores ts as TIMESTAMP(NANOS); read it as long
    // (same conf Tables.events uses) — the synthesized copy then carries a
    // plain long ts, which Tables.events' `ts div 1000` handles identically
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    def shifted(df: DataFrame, key: String, shift: Long, i: Int): DataFrame =
      df.withColumn(key, col(key) + lit(shift * i))
    def union(df: DataFrame, key: String, tweak: (DataFrame, Int) => DataFrame): DataFrame = {
      val shift = df.agg(max(col(key))).collect().head.getLong(0) + 1
      (0 until copies).map(i => tweak(shifted(df, key, shift, i), i)).reduce(_ union _)
    }
    // orders + lineitem share ONE order-key shift (orders' max — the
    // superset domain) so the join stays intact across copies; customers
    // shift per copy so the purchase GRAPH grows ×copies (new users, same
    // part catalog — pr_pagerank's growth mode; without the custkey shift
    // the distinct edge set would collapse back to the original)
    val ord = spark.read.parquet(s"$src/orders.parquet")
    val orderShift = ord.agg(max(col("o_orderkey"))).collect().head.getLong(0) + 1
    // the shift must clear BOTH key domains: customer holds keys above
    // max(o_custkey) (customers with no orders at the top of the range),
    // and a shift taken from orders alone would overlap those across
    // copies — duplicate c_custkey values silently inflating the
    // io_bucketed_join / ev_cdc_apply smoke fan-out
    val custShift = math.max(
      ord.agg(max(col("o_custkey"))).collect().head.getLong(0),
      spark.read.parquet(s"$src/customer.parquet")
        .agg(max(col("c_custkey"))).collect().head.getLong(0)) + 1
    (0 until copies).map(i => ord
      .withColumn("o_orderkey", col("o_orderkey") + lit(orderShift * i))
      .withColumn("o_custkey", col("o_custkey") + lit(custShift * i)))
      .reduce(_ union _)
      .write.mode("overwrite").parquet(s"$dst/orders.parquet")
    val li = spark.read.parquet(s"$src/lineitem.parquet")
      .withColumn("l_orderkey", col("l_orderkey").cast("long"))
    (0 until copies).map(i => li
      .withColumn("l_orderkey", col("l_orderkey") + lit(orderShift * i)))
      .reduce(_ union _)
      .write.mode("overwrite").parquet(s"$dst/lineitem.parquet")
    val docs = spark.read.parquet(s"$src/documents.parquet")
    union(docs, "doc_id", (d, i) =>
      d.withColumn("text", concat(col("text"), lit(s" copytag$i"))))
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    union(emb, "vec_id", (d, _) => d)
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
    // events: shift user_id as well as event_id, so the USER population
    // (the key every event-analytics shuffle partitions on) scales ×copies
    // with the event volume — per-user history length stays constant, the
    // realistic growth mode for an event stream.
    val ev = spark.read.parquet(s"$src/events.parquet")
    val userShift = ev.agg(max(col("user_id"))).collect().head.getLong(0) + 1
    union(ev, "event_id", (d, i) =>
      d.withColumn("user_id", col("user_id") + lit(userShift * i)))
      .write.mode("overwrite").parquet(s"$dst/events.parquet")
    // customer: custkey shifted with the SAME shift as orders so every
    // synthesized order still finds its customer — the ×copies key
    // population io_bucketed_join buckets on and ev_cdc_apply merges over
    val cust = spark.read.parquet(s"$src/customer.parquet")
    (0 until copies).map(i =>
      cust.withColumn("c_custkey", col("c_custkey") + lit(custShift * i)))
      .reduce(_ union _)
      .write.mode("overwrite").parquet(s"$dst/customer.parquet")
    // part is the DIM side (jo_skew_salted): copied unscaled — the
    // realistic growth mode where the fact side explodes and the catalog
    // doesn't. The hot key joins the synthetic (0, 1) dim row anyway.
    spark.read.parquet(s"$src/part.parquet")
      .write.mode("overwrite").parquet(s"$dst/part.parquet")
    println(s"[scale] synthesized ${copies}x copies of orders/lineitem/documents/embeddings/events (+ part dim) at $dst")
  }
}
