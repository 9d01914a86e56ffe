package graft.operators

import org.scalatest.matchers.should.Matchers
import graft.{SparkCounts, SparkSuite}

/** Pins the versioned table's schema metadata: a snapshot read takes its
  * schema from the table root's `_schema.json`, so building the DataFrame
  * launches no Spark job (no parquet footer inference), the recorded
  * schema is the one inference would find, and a table without it fails
  * instead of falling back to inference. Also pins how many SQL
  * executions the table-format queries start while they are built: each
  * costs its own planning and job start, so the commits and ONE pass of
  * post-commit gates are all a query may run.
  */
class SnapshotSchemaSpec extends SparkSuite with Matchers {

  private def deletedTable(): String = {
    val root = java.nio.file.Files.createTempDirectory("graft-schema-spec").toString
    Formats.buildVersionedTable(spark, sf("sf0.001"), root)
    Formats.applyDvDeletes(spark, root)
    root
  }

  test("a merge-on-read snapshot is built without a job, in the data's schema") {
    val root = deletedTable()
    val (v4, counts) = SparkCounts(spark)(Formats.readMorVersion(spark, root, 4))
    counts.jobs shouldBe 0
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

  test("io_merge and io_dv_delete are built in three SQL executions each") {
    val dir = sf("sf0.001")
    // merge: the match scan, one write of rewrites and inserts, one gate
    // pass; dv delete: two vector writes, one gate pass
    for (q <- Seq("io_merge", "io_dv_delete")) {
      val build = graft.SparkEntry.queries(q)
      build(spark, dir) // warm: the shared fixture and the orders schema memo
      val (_, counts) = SparkCounts(spark)(build(spark, dir))
      withClue(q)(counts.executions shouldBe 3)
    }
  }
}
