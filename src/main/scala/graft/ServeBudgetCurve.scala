package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The serve-budget RECALL CURVE, measured (VERDICT r15 #1's evidence
  * artifact): for one corpus, build the exact graph once, then walk it at
  * every budget tier (the tier is an input to the walk, so each point
  * re-serves the same index at a different depth/width) and grade
  * recall@10 against brute-force truth with the measured candidate
  * budget. Two corpora tell the whole story (BUDGET_CURVE_r{N}.json):
  *
  *  - the AMPLIFIED TESTDATA vectors are near-isotropic: distances
  *    concentrate, the true top-k is noise-scattered, and recall rises
  *    ~linearly with the VISITED FRACTION — the regime where no
  *    sublinear index beats a scan (the repo's documented RP position,
  *    now measured for the graph family);
  *  - the PLANTED-CLUSTER corpus (make_sf1.py --vec-clustered) is the
  *    navigable geometry ANN exists for: recall jumps at tier 0 and
  *    saturates by tier ~2 at a small visited fraction.
  *
  * Run: SPARK_GRAFT_VEC_DIR=<dir> sbt "runMain graft.ServeBudgetCurve"
  * Prints ONE JSON line per corpus.
  */
object ServeBudgetCurve {

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_VEC_DIR", "target/sf1")
    val spark = Sessions.start("graft-serve-budget-curve", 32)
    import spark.implicits._
    import graft.operators.GraphAnn
    import graft.functions.Exprs

    val emb = Tables.embeddings(spark, dir).localCheckpoint()
    val nodes = GraphAnn.hnswNodes(emb).localCheckpoint()
    val st = GraphAnn.ladderStats(nodes)
    val e0 = GraphAnn.knnEdges(nodes, GraphAnn.HnswM0, Some(st.n)).localCheckpoint()
    val uppers = GraphAnn.upperEdgesOf(nodes, Some(st))

    val e = nodes.select($"vec_id", $"v", $"nrm")
    val q = e.filter($"vec_id" < GraphAnn.HnswQueryMax)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qnrm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"cos".desc, $"cand_id".asc)
    val truth = broadcast(q).join(e.as("c"), $"query_id" =!= $"c.vec_id")
      .select($"query_id", $"c.vec_id".as("cand_id"),
        round(Exprs.dot($"qv", $"c.v") / ($"qnrm" * $"c.nrm"), 6).as("cos"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= GraphAnn.HnswK)
      .select($"query_id", $"cand_id").localCheckpoint()
    val tN = truth.count().toDouble

    // one point per tier: the walk's budget derives from nOpt, so feeding
    // a corpus size in each tier's activation band re-serves the SAME
    // index at that tier's depth/width (serveTiers is the shared rule)
    val points = (0 to GraphAnn.MaxServeTiers).map { t =>
      val nFake = if (t == 0) 1L else GraphAnn.ServeRefN * (1L << (t - 1)) + 1
      require(GraphAnn.serveTiers(nFake) == t)
      val vis = GraphAnn.hnswWalk(spark, nodes, e0, uppers, nOpt = Some(nFake))
        .localCheckpoint()
      val top = GraphAnn.hnswTopkFrom(vis).select($"query_id", $"cand_id")
      val hits = truth.join(top, Seq("query_id", "cand_id")).count()
      val budget = vis.filter($"node" =!= $"query_id").count()
      f"""{"tier":$t,"beam":${GraphAnn.HnswBeam + GraphAnn.ServeBeamStep * t},""" +
        f""""recall_at_10":${hits / tN}%.3f,"n_cand":$budget,""" +
        f""""visited_frac":${budget / GraphAnn.HnswQueryMax.toDouble / st.n}%.4f}"""
    }
    val active = GraphAnn.serveTiers(st.n)
    println(
      s"""{"metric":"serve_budget_curve","dir":"$dir","n_vectors":${st.n},""" +
        s""""active_tier":$active,"points":[${points.mkString(",")}]}""")
    spark.stop()
  }
}
