package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The INCREMENTAL curation pipeline, measured end to end (VERDICT r14
  * #4 — PipelineHeadline measures the batch topology; production curation
  * is an arrival feed): builds the persisted base state once (the
  * previous full run), ingests the arrival batch through
  * gates → cascade-vs-state → frozen-quantizer SemDeDup → pack-append,
  * RE-RUNS the arrival-ordered batch recompute on the union, and emits
  * both walls plus the RECONCILIATION GATE (ingest keep set ≡ recompute's
  * arrival keeps AND base keeps invariant) as one JSON line. The ANN
  * SERVING INDEX rides the same contract (VERDICT r15 #6): the arrival
  * keeps' embeddings are INSERTED into the persisted base index
  * (arrival-proportional work) and the result is equality-gated against
  * the rebuild-from-union insert semantics on both the edge sets and the
  * served top-k. A run whose gates are false exits non-zero — the speed
  * number is only worth reporting when the incremental path provably
  * computed the same answer.
  *
  * Run: SPARK_GRAFT_SF_DIR=<dir> sbt "runMain graft.PipelineIncremental"
  * Artifact: PIPELINE_INCR_r{N}.json.
  */
object PipelineIncremental {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.start("graft-pipeline-incremental", 32)
    import spark.implicits._
    import graft.operators.{PipelineIncr, TextAnalysis}

    val docs = Tables.documents(spark, sfDir).localCheckpoint()
    val emb = Tables.embeddings(spark, sfDir).localCheckpoint()
    val base = docs.filter(!PipelineIncr.isArrival($"doc_id")).localCheckpoint()
    val arrivals = docs.filter(PipelineIncr.isArrival($"doc_id")).localCheckpoint()
    val (nBase, nArr) = (base.count(), arrivals.count())
    val arrBytes = arrivals.agg(coalesce(sum(octet_length($"text")), lit(0L)))
      .collect().head.getLong(0)

    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }
    def ids(df: DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet

    // the previous full run (state build) — the once-per-corpus cost the
    // ingest amortizes over every subsequent batch
    val (state, tBase) = timed(PipelineIncr.buildBase(spark, base, emb))

    // THE MEASURED FACE: one arrival batch, arrival-proportional work,
    // materialized keep set + pack append
    val ((ingestKeeps, packRow), tIngest) = timed {
      val keeps = PipelineIncr.ingestArrivals(spark, state, arrivals, emb)
        .localCheckpoint()
      val pack = TextAnalysis.seqPack(spark, docs.join(keeps, "doc_id"))
        .agg(coalesce(sum($"n_tokens"), lit(0L)),
          coalesce(sum($"n_packs"), lit(0L)))
        .collect().head
      (keeps, pack)
    }
    val ingestSet = ids(ingestKeeps)

    // the reference face: arrival-ordered batch recompute on the union
    val (recompute, tRecompute) = timed(
      PipelineIncr.recomputeUnion(spark, docs, emb).localCheckpoint())
    // the production alternative: a FULL batch rerun on the union, state
    // rebuild included (without incrementality the next batch needs the
    // fresh state too — this is the cost the ingest actually replaces;
    // the lean recompute above is the equality REFERENCE, not what a
    // non-incremental deployment would run)
    val (_, tFullRerun) = timed(PipelineIncr.buildBase(spark, docs, emb))
    val recomputeArr = ids(recompute.filter(PipelineIncr.isArrival($"doc_id")))
    val recomputeBase = ids(recompute.filter(!PipelineIncr.isArrival($"doc_id")))
    val equal = ingestSet == recomputeArr
    val baseInvariant = recomputeBase == ids(state.keeps)

    // ---- ANN-SERVING FACE (VERDICT r15 #6): the curated corpus's serving
    // index rides the same incremental contract — base index on the base
    // keeps' embeddings (a state-build cost), arrival keep embeddings
    // INSERTED arrival-proportionally, and the result equality-gated
    // against the rebuild-from-union insert semantics on BOTH the edge
    // sets and the served top-k (frozen base entries, same serve budget).
    import graft.operators.GraphAnn
    val baseIdxP = Scratch.dir("graft-incr-ann-base")
    val (_, tAnnBase) = timed(
      PipelineIncr.buildAnnIndex(spark, emb, state.keeps, baseIdxP))
    val updIdxP = Scratch.dir("graft-incr-ann-upd")
    val (_, tAnnIngest) = timed(
      PipelineIncr.ingestAnnArrivals(spark, baseIdxP, emb, ingestKeeps, updIdxP))
    val unionKeeps = state.keeps.select("doc_id")
      .union(ingestKeeps.select("doc_id"))
    val unionNodes = GraphAnn.hnswNodes(
      emb.join(unionKeeps.select($"doc_id".as("vec_id")), "vec_id"))
      .localCheckpoint()
    val refMerged = GraphAnn.incrMergedEdges(spark, unionNodes,
      isArr = PipelineIncr.isArrival)
    val refEdges = refMerged.toSeq.map { case (l, e) =>
      e.select($"shard", $"src", $"dst", lit(l).as("lvl"))
    }.reduce(_ union _).localCheckpoint()
    val updEdges = spark.read.parquet(s"$updIdxP/edges")
      .select($"shard".cast("long").as("shard"), $"src", $"dst",
        $"lvl".cast("int").as("lvl")).localCheckpoint()
    val edgeGate = updEdges.except(refEdges).count() == 0 &&
      refEdges.except(updEdges).count() == 0
    // entry eligibility (frozen entries AND RP seeds) restricted to the
    // base corpus in BOTH serves — the incremental frozen-entry discipline
    val entryMembers = unionNodes
      .filter(!PipelineIncr.isArrival($"vec_id")).localCheckpoint()
    val servedUpd = GraphAnn.hnswTopkFrom(
      GraphAnn.hnswWalkStored(spark, updIdxP, Some(entryMembers)))
      .select($"query_id", $"cand_id", $"rk").localCheckpoint()
    val servedRef = GraphAnn.hnswTopkFrom(
      GraphAnn.hnswWalk(spark, unionNodes, refMerged(0), refMerged - 0,
        Some(entryMembers), Some(unionNodes.count())))
      .select($"query_id", $"cand_id", $"rk").localCheckpoint()
    val serveGate = servedUpd.except(servedRef).count() == 0 &&
      servedRef.except(servedUpd).count() == 0
    val (annEdges, serveRows) = (updEdges.count(), servedUpd.count())

    val json =
      f"""{"metric":"pipeline_incr","sf":"$sfDir",""" +
        f""""base_docs":$nBase,"arrival_docs":$nArr,"arrival_bytes":$arrBytes,""" +
        f""""base_build_sec":$tBase%.2f,""" +
        f""""ingest_sec":$tIngest%.2f,""" +
        f""""ingest_docs_per_sec":${nArr / tIngest}%.1f,""" +
        f""""ingest_mb_per_sec":${arrBytes / tIngest / 1e6}%.2f,""" +
        f""""recompute_sec":$tRecompute%.2f,""" +
        f""""full_rerun_sec":$tFullRerun%.2f,""" +
        f""""ingest_speedup_vs_recompute":${tRecompute / tIngest}%.2f,""" +
        f""""ingest_speedup_vs_full_rerun":${tFullRerun / tIngest}%.2f,""" +
        f""""arrival_keeps":${ingestSet.size},""" +
        f""""tokens_out":${packRow.getLong(0)},"packs_out":${packRow.getLong(1)},""" +
        f""""equality_gate":$equal,"base_invariant":$baseInvariant,""" +
        f""""ann":{"base_build_sec":$tAnnBase%.2f,"ingest_sec":$tAnnIngest%.2f,""" +
        f""""edges":$annEdges,"serve_rows":$serveRows,""" +
        f""""edge_gate":$edgeGate,"serve_gate":$serveGate}}"""
    println(json)
    spark.stop()
    if (!equal || !baseInvariant || !edgeGate || !serveGate) sys.exit(1)
  }
}
