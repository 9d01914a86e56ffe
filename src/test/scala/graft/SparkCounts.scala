package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Counts what a thunk starts on the session's listener bus: Spark jobs and
  * SQL executions (one per eager `collect`, `count` or write, each paying
  * its own planning and job start). The bus is drained on both sides, so
  * no event from before or after the thunk is counted.
  */
object SparkCounts {
  final case class Counts(jobs: Int, executions: Int)

  def apply[A](spark: SparkSession)(body: => A): (A, Counts) = {
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    val (jobs, execs) = (new AtomicInteger(), new AtomicInteger())
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => execs.incrementAndGet()
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try { val a = body; ListenerBusDrain(sc); (a, Counts(jobs.get, execs.get)) }
    finally sc.removeSparkListener(listener)
  }
}
