package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.functions.unix_micros
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.scalatest.matchers.should.Matchers

/** `Tables.load` infers a table's schema once per file version and parquet
  * read settings: a later open starts no Spark job, a rewritten file or a
  * changed `spark.sql.parquet.*` / `spark.sql.legacy.parquet.*` setting
  * misses the memo, so no table is ever read with a stale schema.
  */
class TablesSchemaMemoSpec extends SparkSuite with Matchers {

  private def tmp(prefix: String) = java.nio.file.Files.createTempDirectory(prefix).toString

  /** Write (event_id, ts) rows as `path` with parquet's own writer, so the
    * file carries no Spark schema and Spark infers `ts` from its
    * parquet type alone.
    */
  private def writeEvents(path: String, tsType: String, rows: Seq[(Long, Long)]): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      s"message e { required int64 event_id; required int64 ts ($tsType); }")
    val w = ExampleParquetWriter.builder(new Path(path))
      .withType(schema).withConf(new Configuration()).build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach { case (id, t) =>
      w.write(groups.newGroup().append("event_id", id).append("ts", t))
    } finally w.close()
  }

  test("a second open starts no job; a rewritten file misses the memo") {
    import spark.implicits._
    val dir = tmp("tables-memo")
    Seq((1L, 2.5)).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    val (first, cold) = SparkCounts(spark)(Tables.load(spark, dir, "t"))
    cold.jobs should be > 0 // the footer-inference job
    val (second, warm) = SparkCounts(spark)(Tables.load(spark, dir, "t"))
    warm.jobs shouldBe 0
    second.schema shouldBe first.schema
    second.as[(Long, Double)].collect() shouldBe Array((1L, 2.5))

    Seq(("a", 7)).toDF("name", "n").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val rewritten = Tables.load(spark, dir, "t")
    rewritten.columns shouldBe Array("name", "n")
    rewritten.as[(String, Int)].collect() shouldBe Array(("a", 7))
    Scratch.rm(new java.io.File(dir))
  }

  test("events: the read settings are part of the key") {
    // the driver's layout: ts as TIMESTAMP(NANOS), which only the
    // nanosAsLong setting lets Spark read (as BIGINT epoch-nanos)
    val dir = tmp("tables-memo-events")
    val nanos = Seq(1L -> 1700000000123456789L, 2L -> 1700000123999999999L)
    writeEvents(s"$dir/events.parquet", "TIMESTAMP(NANOS,false)", nanos)

    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prior = spark.conf.getOption(key)
    try {
      for (asLong <- Seq("false", "true", "false")) {
        spark.conf.set(key, asLong)
        val read = Tables.events(spark, dir)
        read.schema("ts").dataType shouldBe TimestampType
        read.select(unix_micros(read("ts"))).collect().map(_.getLong(0)).sorted shouldBe
          nanos.map(_._2 / 1000).toArray
      }
      spark.conf.set(key, "true")
      Tables.load(spark, dir, "events").schema("ts").dataType shouldBe LongType
      // a micros timestamp written without UTC adjustment infers as NTZ
      // or as TIMESTAMP by `inferTimestampNTZ`: the memo keeps both apart
      val ntz = tmp("tables-memo-ntz")
      writeEvents(s"$ntz/t.parquet", "TIMESTAMP(MICROS,false)", Seq(1L -> 1700000000123456L))
      val infer = "spark.sql.parquet.inferTimestampNTZ.enabled"
      try {
        for ((on, want) <- Seq("true" -> TimestampNTZType, "false" -> TimestampType,
            "true" -> TimestampNTZType)) {
          spark.conf.set(infer, on)
          Tables.load(spark, ntz, "t").schema("ts").dataType shouldBe want
        }
      } finally spark.conf.unset(infer)
      Scratch.rm(new java.io.File(ntz))
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    Scratch.rm(new java.io.File(dir))
  }
}
