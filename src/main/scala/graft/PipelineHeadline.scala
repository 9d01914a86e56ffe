package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The COMPOSED curation pipeline, end to end, as ONE measured run
  * (r12 verdict #6: the repo had every stage green individually but no
  * single throughput figure for the composition — the "100 TB story" as
  * one number). Topology is the FineWeb/RefinedWeb production order:
  *
  *   1. GATES  — per-document quality curation in one scan family:
  *               Gopher structural rules ∧ quality score ≥ 0.5 ∧
  *               URL-category blocklist ∧ language-consistency
  *               (detected == declared). Per-doc, embarrassingly parallel,
  *               runs FIRST because it's the cheapest bytes-dropper.
  *   2. DEDUP  — the staged cascade (exact hash → canonical URL →
  *               MinHash-LSH near-dup) over gate survivors only.
  *   3. SEMDEDUP — embedding-space semantic dedup (SemDeDup, Abbas et al.
  *               2023) over the cascade survivors that HAVE an embedding
  *               (vec_id = doc_id; docs without a vector pass through):
  *               cluster, drop any item with an earlier same-cluster
  *               neighbor at cosine ≥ 0.3 — the r13 verdict's "full
  *               modern curation topology" stage. The core is the
  *               BALANCED form (semdedupBalanced): below the split valve
  *               it is exactly the frame-parameterized core dd_semdedup
  *               verifies; when a cell overflows the cap, the
  *               geometry-aware deep re-quantize kicks in, whose behavior
  *               is pinned by SemDedupValveSpec (spec-verified, not
  *               oracle-checked — the overflow path has no SQL twin).
  *   4. PACK   — greedy 512-token sequence packing of the final keeps
  *               (the training-data delivery format).
  *
  * Every stage is the SAME code the oracle-checked queries run
  * (gopherFlags / qualityScores / blocklistMatches / detectLang /
  * cascadeAttribution / seqPack — extracted frame-parameterized cores),
  * so the measured number is the verified semantics, not a fork.
  *
  * Prints ONE JSON line: per-stage wall seconds + docs/bytes in/out, and
  * the end-to-end docs/s and MB/s. Byte accounting reads octet_length of
  * the text column (measurement-only scans, run outside the stage
  * timers). Run: SPARK_GRAFT_SF_DIR=<dir> sbt "runMain graft.PipelineHeadline"
  */
object PipelineHeadline {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.start("graft-pipeline-headline", 32)
    import spark.implicits._

    val docs = Tables.documents(spark, sfDir)
    def bytesAndCount(ids: DataFrame): (Long, Long) = {
      val r = docs.join(ids.select("doc_id"), "doc_id")
        .agg(count(lit(1)), coalesce(sum(octet_length($"text")), lit(0L)))
        .collect().head
      (r.getLong(0), r.getLong(1))
    }
    val (docsIn, bytesIn) = {
      // coalesce like bytesAndCount: on an empty corpus sum() is NULL and
      // getLong NPEs, sending NaN/Infinity into the JSON line (ADVICE r13)
      val r = docs.agg(count(lit(1)), coalesce(sum(octet_length($"text")), lit(0L)))
        .collect().head
      (r.getLong(0), r.getLong(1))
    }

    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }

    // ---- stage 1: gates (localCheckpoint materializes the survivor set,
    // so the timer covers the full gate computation)
    // Each gate frame is materialized (localCheckpoint) INSIDE the timer —
    // the timer covers computing every gate exactly once — while the
    // per-gate diagnostic counts run OUTSIDE it against the materialized
    // blocks (ADVICE r13: counting uncached frames inside the timer
    // recomputed each gate a second time, inflating tGates and deflating
    // the headline docs/s).
    val ((gatePass, gateFrames), tGates) = timed {
      val gop = operators.TextAnalysis.gopherFlags(spark, docs)
        .filter($"keep").select("doc_id").localCheckpoint()
      val qual = operators.TextAnalysis.qualityScores(spark, docs)
        .filter($"quality" >= 0.5).select("doc_id").localCheckpoint()
      val bl = operators.UrlCuration.blocklistMatches(spark, docs)
        .filter(!$"blocked").select("doc_id").localCheckpoint()
      val lang = operators.TextAnalysis.detectLang(spark, docs)
        .filter($"lang_detected" === $"lang_declared").select("doc_id")
        .localCheckpoint()
      val pass = docs.select("doc_id")
        .join(gop, "doc_id").join(qual, "doc_id")
        .join(bl, "doc_id").join(lang, "doc_id")
        .localCheckpoint()
      (pass, Map("gopher" -> gop, "quality" -> qual,
        "blocklist" -> bl, "lang" -> lang))
    }
    val gateCounts = gateFrames.map { case (k, f) => k -> f.count() }
    val (gateDocs, gateBytes) = bytesAndCount(gatePass)

    // ---- stage 2: dedup cascade over gate survivors
    val (keeps, tDedup) = timed {
      operators.Dedup.cascadeAttribution(spark, docs.join(gatePass, "doc_id"))
        .filter($"stage" === "keep").select("doc_id")
        .localCheckpoint()
    }
    val (keepDocs, keepBytes) = bytesAndCount(keeps)

    // ---- stage 3: semantic dedup over the embedded cascade survivors.
    // The survivors ⋈ embeddings frame is materialized ONCE (the core
    // consumes it for the valve count, the vector scan and the centroid
    // pass — uncheckpointed it would recompute the join three times
    // inside the timer, the tGates inflation class all over again)
    val (semKeeps, tSem) = timed {
      val emb = Tables.embeddings(spark, sfDir)
        .join(keeps.select($"doc_id".as("vec_id")), "vec_id")
        .localCheckpoint()
      val drops = operators.Similarity.semdedupOf(spark, emb)
        .filter(!$"keep").select($"vec_id".as("doc_id"))
      keeps.join(drops, Seq("doc_id"), "left_anti").localCheckpoint()
    }
    val (semDocs, semBytes) = bytesAndCount(semKeeps)

    // ---- stage 4: sequence packing of the final keeps
    val (packRow, tPack) = timed {
      operators.TextAnalysis.seqPack(spark, docs.join(semKeeps, "doc_id"))
        .agg(coalesce(sum($"n_tokens"), lit(0L)),
          coalesce(sum($"n_packs"), lit(0L)))
        .collect().head
    }
    val (tokensOut, packsOut) = (packRow.getLong(0), packRow.getLong(1))

    val total = tGates + tDedup + tSem + tPack
    val json =
      f"""{"metric":"pipeline_e2e","sf":"$sfDir","total_sec":$total%.2f,""" +
        f""""docs_in":$docsIn,"bytes_in":$bytesIn,""" +
        f""""docs_per_sec":${docsIn / total}%.1f,""" +
        f""""mb_per_sec":${bytesIn / total / 1e6}%.2f,""" +
        f""""stages":{""" +
        f""""gates":{"sec":$tGates%.2f,"docs_out":$gateDocs,"bytes_out":$gateBytes,""" +
        s""""pass_per_gate":{${gateCounts.toSeq.sorted.map { case (k, v) => s""""$k":$v""" }.mkString(",")}}},""" +
        f""""dedup":{"sec":$tDedup%.2f,"docs_out":$keepDocs,"bytes_out":$keepBytes},""" +
        f""""semdedup":{"sec":$tSem%.2f,"docs_out":$semDocs,"bytes_out":$semBytes},""" +
        f""""pack":{"sec":$tPack%.2f,"tokens_out":$tokensOut,"packs_out":$packsOut}}}"""
    println(json)
    spark.stop()
  }
}
