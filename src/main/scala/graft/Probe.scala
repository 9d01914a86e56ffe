package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Measurement probe over named `SparkEntry` queries at SPARK_GRAFT_SF_DIR
  * (default sf0.1), under the bench session's shuffle width (8):
  *
  *  - `sbt "runMain graft.Probe plan <outDir> <suffix> <query>..."` writes
  *    `<outDir>/<query>_<suffix>.txt`: the `.explain("formatted")` plan under
  *    a header with the query, the scale directory and the exchange/join
  *    profile (`exchanges=N bhj=N smj=N`, also printed). The presentation
  *    sort is degraded to a plain orderBy (QueryDef.PlainSortConf), so the
  *    inner plan shows instead of a checkpointed-RDD scan. Queries that run
  *    eager work while they are built (the localCheckpoint-stepped iterative
  *    paths) show only their final frame.
  *  - `sbt "runMain graft.Probe jobs <query>..."` runs each query to the
  *    `noop` sink twice, a warm pass (memos, JIT) and then a measured pass,
  *    and prints every Spark job's wall time, call site and
  *    `spark.job.description`, so the time of a labeled iterative path is
  *    attributable to its phases and each job to the line that started it.
  */
object Probe {
  private val Exchange = "Exchange (hashpartitioning|rangepartitioning|SinglePartition)"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val run: SparkSession => Unit = args.toList match {
      case "plan" :: outDir :: suffix :: names if names.nonEmpty =>
        plan(_, sfDir, outDir, suffix, names)
      case "jobs" :: names if names.nonEmpty => jobs(_, sfDir, names)
      case _ => throw new IllegalArgumentException(
        "usage: Probe plan <outDir> <suffix> <query>... | Probe jobs <query>...")
    }
    val spark = Sessions.start("graft-probe", 8)
    try run(spark) finally spark.stop()
  }

  private def plan(s: SparkSession, sfDir: String, outDir: String, suffix: String,
      names: Seq[String]): Unit = {
    s.conf.set(QueryDef.PlainSortConf, "true")
    Files.createDirectories(Paths.get(outDir))
    for (name <- names) {
      val qe = SparkEntry.queries(name)(s, sfDir).queryExecution
      val executed = qe.executedPlan.toString
      def count(node: String) = node.r.findAllIn(executed).size
      val profile = s"exchanges=${count(Exchange)} " +
        s"bhj=${count("BroadcastHashJoin")} smj=${count("SortMergeJoin")}"
      Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
        (s"-- $name @ $sfDir --\n-- $profile --\n" + qe.explainString(FormattedMode))
          .getBytes("UTF-8"))
      println(s"$name ($suffix): $profile")
    }
  }

  private def jobs(s: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    val starts = new ConcurrentHashMap[Int, (Long, String, String)]()
    val lines = new ConcurrentLinkedQueue[String]()
    s.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val desc = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        // the result stage is named after the job's call site
        val site = j.stageInfos.maxBy(_.stageId).name
        starts.put(j.jobId, (j.time, site, desc))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        Option(starts.remove(j.jobId)).foreach { case (t0, site, desc) =>
          lines.add(f"job ${j.jobId}%4d ${j.time - t0}%8d ms  $site  $desc")
        }
    })
    for (name <- names; (pass, label) <- Seq(1 -> "warm", 2 -> "measured")) {
      lines.clear()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(s, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"===== $name pass $pass ($label) wall $wall%.2f s =====")
      // the listener bus is asynchronous: let the last job ends arrive
      Thread.sleep(500)
      lines.forEach(l => println(l))
    }
  }
}
