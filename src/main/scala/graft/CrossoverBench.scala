package graft

import org.apache.spark.sql.functions._

/** The exact-vs-NN-descent BUILD CROSSOVER, measured through the PERSISTED
  * index path (VERDICT r14 #1/#3: the r14 crossover was measured on the
  * fused queries against a one-off corpus; this main makes the round's
  * central scale claim reproducible end to end). On an embeddings-only
  * corpus (tools/make_sf1.py --vec-copies N <dir>) it:
  *
  *   1. builds the persisted index in NN-DESCENT mode (the valve's choice
  *      for any corpus over [[graft.operators.GraphAnn.NndBuildCap]]) via
  *      [[graft.operators.GraphAnn.writeHnswIndex]] — the identical code
  *      path hnswIndexDir memoizes;
  *   2. builds it again in EXACT mode (cap forced above n — the labeled
  *      O(n²/S) baseline, run here so the pair is measured on the same
  *      box in the same JVM);
  *   3. serves the 5-query batch from each stored index and grades both
  *      against the brute-force truth (recall@10 — the descent build must
  *      be cheaper WITHOUT giving up recall).
  *
  * Prints ONE JSON line. Run:
  *   python3 tools/make_sf1.py --vec-copies 40 target/vec80k
  *   SPARK_GRAFT_VEC_DIR=target/vec80k sbt "runMain graft.CrossoverBench"
  * Artifact: CROSSOVER_r{N}.json (committed; BASELINE.md points here).
  */
object CrossoverBench {

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_VEC_DIR", "target/vec80k")
    val spark = Sessions.start("graft-crossover-bench", 32)
    import spark.implicits._
    import graft.operators.GraphAnn

    val emb = Tables.embeddings(spark, dir).localCheckpoint()
    val n = emb.count()

    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }

    // brute-force truth for recall grading: 5 broadcast queries × one
    // candidate scan — O(q·n), trivial next to either build
    val e = emb
      .select($"vec_id", graft.functions.Exprs.vecAsDouble($"embedding").as("v"))
      .withColumn("nrm", graft.functions.Exprs.l2norm($"v"))
    val q = e.filter($"vec_id" < GraphAnn.HnswQueryMax)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qnrm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"cos".desc, $"cand_id".asc)
    val truth = broadcast(q)
      .join(e.as("c"), $"query_id" =!= $"c.vec_id")
      .select($"query_id", $"c.vec_id".as("cand_id"),
        round(graft.functions.Exprs.dot($"qv", $"c.v") / ($"qnrm" * $"c.nrm"), 6)
          .as("cos"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= GraphAnn.HnswK)
      .select($"query_id", $"cand_id")
      .localCheckpoint()
    val truthN = truth.count().toDouble

    def measure(label: String, cap: Long): (Double, Double, Double, Boolean) = {
      val p = java.nio.file.Files
        .createTempDirectory(s"graft-crossover-$label").toString
      val (mode, tBuild) = timed(GraphAnn.writeHnswIndex(spark, emb, p, cap))
      def serveOnce() = {
        val t = GraphAnn.hnswTopkFrom(GraphAnn.hnswWalkStored(spark, p))
          .select($"query_id", $"cand_id").localCheckpoint()
        (t, t.count())
      }
      serveOnce() // warm the walk's codegen/scan paths: serve cost is
                  // mode-agnostic by construction (HnswBuildValveSpec), so
                  // a cold-JVM first walk must not masquerade as mode cost
      val ((top, nTop), tServe) = timed(serveOnce())
      require(nTop > 0, s"$label: empty top-k")
      val hits = truth.join(top, Seq("query_id", "cand_id")).count()
      (tBuild, tServe, hits / truthN, mode)
    }

    val (nndBuild, nndServe, nndRecall, nndMode) = measure("nnd", GraphAnn.NndBuildCap)
    val (exBuild, exServe, exRecall, exMode) = measure("exact", Long.MaxValue)
    require(nndMode && !exMode, s"valve modes wrong: nnd=$nndMode exact=$exMode")

    println(
      f"""{"metric":"hnsw_build_crossover","dir":"$dir","n_vectors":$n,""" +
        f""""cap":${GraphAnn.NndBuildCap},""" +
        f""""nnd_build_sec":$nndBuild%.1f,"exact_build_sec":$exBuild%.1f,""" +
        f""""build_speedup":${exBuild / nndBuild}%.2f,""" +
        f""""nnd_serve_sec":$nndServe%.2f,"exact_serve_sec":$exServe%.2f,""" +
        f""""nnd_recall_at_10":$nndRecall%.2f,"exact_recall_at_10":$exRecall%.2f}""")
    spark.stop()
  }
}
