package graft.operators

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.matchers.should.Matchers
import graft.SparkSuite

/** Pins the versioned table's schema metadata: a snapshot read takes its
  * schema from the table root's `_schema.json`, so building the DataFrame
  * launches no Spark job (no parquet footer inference), the recorded
  * schema is the one inference would find, and a table without it fails
  * instead of falling back to inference.
  */
class SnapshotSchemaSpec extends SparkSuite with Matchers {

  /** `body`'s value and the number of Spark jobs it started. */
  private def counted[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try { val a = body; ListenerBusDrain(sc); (a, jobs.get) }
    finally sc.removeSparkListener(listener)
  }

  private def deletedTable(): String = {
    val root = java.nio.file.Files.createTempDirectory("graft-schema-spec").toString
    Formats.buildVersionedTable(spark, sf("sf0.001"), root)
    Formats.applyDvDeletes(spark, root)
    root
  }

  test("a merge-on-read snapshot is built without a job, in the data's schema") {
    val root = deletedTable()
    val (v4, jobs) = counted(Formats.readMorVersion(spark, root, 4))
    jobs shouldBe 0
    val inferred = spark.read
      .parquet(Seq("data-a2.parquet", "data-b.parquet").map(f => s"$root/$f"): _*)
    v4.drop("file", "pos").schema shouldBe inferred.schema
    v4.count() should be < inferred.count()
  }

  test("a table root without _schema.json fails the read loudly") {
    val root = deletedTable()
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$root/_schema.json"))
    val e = the[IllegalStateException] thrownBy Formats.readMorVersion(spark, root, 4)
    e.getMessage should include("_schema.json")
  }
}
