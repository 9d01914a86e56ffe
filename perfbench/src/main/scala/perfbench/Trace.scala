package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** Job, stage and task events for the traced run, held in memory.
  *
  * Jobs are attributed to a layer by the source file in their call site,
  * the short form Spark puts in `StageInfo.name` (`collect at
  * Sinks.scala:61`): the first frame outside Spark is the program file that
  * launched the job. Spans are wall-clock intervals the harness opens around
  * its calls into the program; a job belongs to the span its start falls in.
  */
final class Trace extends SparkListener {

  final case class Job(id: Int, start: Long, site: String, execId: Option[String])
  final case class Stage(jobId: Int, tasks: Int, runMs: Long, cpuNs: Long,
      shuffleReadB: Long, shuffleWriteB: Long, spillB: Long, inputB: Long, outputB: Long)

  val jobs = mutable.ArrayBuffer.empty[Job]
  val stages = mutable.ArrayBuffer.empty[Stage]
  /** Task [launch, finish) intervals in ms, for idle-slot accounting. */
  val tasks = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobOfStage = mutable.Map.empty[Int, Int] // stage id -> job id

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.name).getOrElse("?")
    e.stageIds.foreach(jobOfStage(_) = e.jobId)
    jobs += Job(e.jobId, e.time, site,
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id"))))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) {
      stages += Stage(jobOfStage.getOrElse(i.stageId, -1), i.numTasks,
        m.executorRunTime, m.executorCpuTime,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled + m.memoryBytesSpilled,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += (e.taskInfo.launchTime -> e.taskInfo.finishTime)
  }

  /** Call site per job. Jobs that Spark launches from its own threads
    * (broadcasts, subqueries) have a JDK frame as call site; they take the
    * site of a job of the same SQL execution that has a program frame.
    */
  def sites: Map[Int, String] = synchronized {
    val known = jobs.filter(j => Trace.module(j.site) != "other")
    val byExec = known.flatMap(j => j.execId.map(_ -> j.site)).toMap
    jobs.map(j => j.id -> (if (Trace.module(j.site) != "other") j.site
      else j.execId.flatMap(byExec.get).getOrElse(j.site))).toMap
  }

  def clear(): Unit = synchronized {
    jobs.clear(); stages.clear(); tasks.clear(); jobOfStage.clear()
  }
}

object Trace {

  /** Program module of a call site such as `parquet at Sinks.scala:102`,
    * named the way the repository names its packages. Frames in the
    * harness itself (the final write) map to `action`.
    */
  def module(site: String): String = {
    val file = site.split(" at ").lastOption.getOrElse("").takeWhile(_ != ':').stripSuffix(".scala")
    file match {
      case "SalesPipeline" | "Sinks" => s"freshkart.$file"
      case "Dedup" | "Similarity" | "GraphAnn" | "Graph" | "TextAnalysis" | "Formats" => s"operators.$file"
      case "Events" => "streaming.Events"
      case "Relational" => "queries.Relational"
      case "QueryDef" => "QueryDef"
      case "Main" => "action"
      case _ => "other"
    }
  }

  val modules: Seq[String] = Seq(
    "freshkart.SalesPipeline", "freshkart.Sinks", "operators.Formats", "operators.Dedup",
    "operators.Similarity", "operators.GraphAnn", "operators.Graph", "operators.TextAnalysis",
    "streaming.Events", "queries.Relational", "QueryDef")

  /** Length of the union of `intervals` clipped to [from, to). */
  def covered(intervals: Iterable[(Long, Long)], from: Long, to: Long): Long = {
    var total = 0L
    var end = from
    intervals.iterator.map { case (a, b) => (a max from, b min to) }.filter(x => x._1 < x._2)
      .toSeq.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - (a max end); end = b }
      }
    total
  }
}
