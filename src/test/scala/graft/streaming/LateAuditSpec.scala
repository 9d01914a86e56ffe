package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.matchers.should.Matchers
import graft.SparkSuite

/** Pins for the watermark what-if audit (ev_late_audit):
  *
  * 1. a planted arrival frame with hand-computed raw-late / window-late /
  *    max-lateness expectations, including the BOUNDARY case (a window
  *    whose end equals the watermark exactly);
  * 2. the semantic pin — replaying the SAME chunks through a real
  *    watermarked streaming aggregation must produce, window by window,
  *    exactly the counts the audit says survive. Output equality (not the
  *    numRowsDroppedByWatermark metric, which LateDataSpec showed is a
  *    witness, not a total) fully determines the drop predicate the audit
  *    models, boundary inclusive.
  */
class LateAuditSpec extends SparkSuite with Matchers {

  private val D = "2025-03-01 "

  /** (event_id, event_type, ts "HH:mm", arrival "HH:mm"). The late-events
    * watermark in chunk c is max(ts over chunks ≤ c−2) − 10 min — one
    * batch BEHIND the eviction watermark (the split the probe measured:
    * batch 2 of this very frame runs with eviction wm 04:00 yet keeps
    * events 6/7, because late filtering still uses batch 1's 00:40).
    */
  private val rows = Seq(
    (1L, "a", "00:10", "00:10"), // chunk 0 — no watermark yet
    (2L, "a", "00:50", "00:55"), // chunk 0; chunk-0 max ts = 00:50
    (3L, "a", "01:20", "01:05"), // chunk 1 — still no late-events wm
    (4L, "b", "00:20", "01:10"), // chunk 1 — no wm yet either
    (5L, "b", "04:10", "01:30"), // chunk 1 — watermark advancer
    (6L, "a", "01:30", "02:05"), // chunk 2, late-wm 00:40 (from chunk 0,
                                 //   NOT the advancer) — kept
    (7L, "b", "02:59", "02:15"), // chunk 2 — kept
    (10L, "b", "00:20", "02:20"), // chunk 2 — RAW-late (ts < 00:40) but its
                                 //   window [00:00,01:00) end 01:00 > wm → kept
    (8L, "a", "03:30", "03:05"), // chunk 3, late-wm 04:00 (the advancer
                                 //   lands) — window end 04:00 = wm: the
                                 //   boundary probe, DROPPED
    (9L, "b", "04:30", "03:10")) // chunk 3 — on time

  private def planted: DataFrame = {
    import spark.implicits._
    rows.toDF("event_id", "event_type", "t", "a")
      .select($"event_id", $"event_type",
        to_timestamp(concat(lit(D), $"t")).as("ts"),
        to_timestamp(concat(lit(D), $"a")).as("arrival_ts"),
        ($"event_id" * 1.5).as("value"))
  }

  private val ChunkSec = 3600L
  private val DelaySec = 600L

  test("planted frame: raw-late, window-late and max lateness by hand") {
    val audit = EventAnalytics.lateAudit(planted, ChunkSec, DelaySec)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), if (r.isNullAt(4)) -1L else r.getLong(4)))
      .sortBy(_._1)
    audit shouldBe Seq(
      // a: only the boundary row 8 is raw-late AND window-late (end = wm
      // IS dropped — boundary inclusive, the replay test holds this);
      // worst lateness = wm 04:00 − ts 03:30
      ("a", 5L, 1L, 1L, 1800L),
      // b: row 10 is raw-late (1200 s behind chunk 2's 00:40) but its
      // window is still open → kept; nothing window-late
      ("b", 5L, 1L, 0L, 1200L))
  }

  test("streamed replay equals the audit's survivors, window by window") {
    val root = Files.createTempDirectory("late-audit-spec").toString
    val (src, out, ck) = (s"$root/src", s"$root/out", s"$root/ck")

    // one file per chunk, in arrival order (FileStreamSource orders by
    // mtime — the InactiveSpec discipline)
    val frame = EventAnalytics.lateFrame(planted, ChunkSec, DelaySec).cache()
    val chunks = frame.select(col("chunk")).distinct()
      .collect().map(_.getLong(0)).sorted
    chunks should have size 4
    for (c <- chunks) {
      frame.filter(col("chunk") === c)
        .select(col("event_id"), col("event_type"), col("ts"))
        .coalesce(1).write.mode("append").parquet(src)
      Thread.sleep(1100)
    }

    // update-mode hourly count with the audit's delay; every batch's
    // updated windows land in batch=<id>, last write per window wins
    val schema = spark.read.parquet(src).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .withWatermark("ts", s"$DelaySec seconds")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("ws"), col("n"))
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", ck)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        df.write.mode("overwrite").parquet(s"$out/batch=$id")
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val streamed = spark.read.parquet(out) // partition discovery yields `batch`
      .groupBy(col("ws")).agg(max_by(col("n"), col("batch")).as("n"))
      .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1))).toSet

    val survivors = frame
      .filter(col("wm_enter").isNull ||
        date_trunc("hour", col("ts")) + expr("INTERVAL 1 HOUR") > col("wm_enter"))
      .groupBy(date_trunc("hour", col("ts")).as("ws"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1))).toSet

    streamed shouldBe survivors
    frame.unpersist()
    ()
  }

  test("sweep: D=600 column equals the audit's window-late counts; drops are monotone in D") {
    val dir = sf("sf0.001")
    val audit = graft.SparkEntry.queries("ev_late_audit")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    val sweep = graft.SparkEntry.queries("ev_late_sweep")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    // the 10-min sweep point IS the audit's drop predicate
    sweep.filter(_._2 == 600L).map(t => t._1 -> t._3).toMap shouldBe audit
    // a longer allowed lateness never drops more
    sweep.groupBy(_._1).values.foreach { rows =>
      val byDelay = rows.sortBy(_._2).map(_._3)
      byDelay shouldBe byDelay.sorted.reverse
    }
  }

  test("backfill reconciles exactly, including the late-only cell") {
    val out = EventAnalytics.lateBackfill(spark, planted, ChunkSec, DelaySec)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getBoolean(6), r.getBoolean(7)))
    // every (hour, type) cell reconciles against the full recompute —
    // count AND exact decimal sum
    out.foreach { c => withClue(c) { c._7 shouldBe true; c._8 shouldBe true } }
    // row 8 (ts 03:30, type a) is DROPPED by the stream and is the only
    // row of its hour — the cell exists purely from the backfill side
    val lateOnly = out.find(c => c._1 == "2025-03-01 03:00" && c._2 == "a").get
    lateOnly._3 shouldBe 0L // n_ontime
    lateOnly._4 shouldBe 1L // n_late
    lateOnly._5 shouldBe 1L // n_total
    lateOnly._6 shouldBe 12.0 // 8 * 1.5
    // and the total row count over all cells is every planted event
    out.map(_._5).sum shouldBe rows.length.toLong
  }
}
