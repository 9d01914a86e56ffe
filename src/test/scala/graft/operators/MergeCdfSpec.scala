package graft.operators

import org.scalatest.matchers.should.Matchers
import graft.SparkSuite

/** Pins for MERGE INTO + change data feed that the oracle gates can't see:
  * the reused data file is byte-identical (true copy-on-write reuse, not a
  * same-named rewrite), the per-row merge semantics hold key by key, and
  * the CDF classifies every changed key with the right op and delta.
  */
class MergeCdfSpec extends SparkSuite with Matchers {

  test("merge: copy-on-write reuses the untouched file byte-identically") {
    import spark.implicits._
    val dir = sf("sf0.001")
    val root = java.nio.file.Files.createTempDirectory("graft-merge-spec").toString
    Formats.buildVersionedTable(spark, dir, root)
    val b = java.nio.file.Paths.get(s"$root/data-b.parquet")
    val bytesBefore = java.nio.file.Files.readAllBytes(b)
    val (nUpd, nDel, nIns, rewritten, reused) =
      Formats.applyMergeV4(spark, dir, root)
    rewritten shouldBe Seq("data-a2.parquet")
    reused shouldBe Seq("data-b.parquet")
    java.nio.file.Files.readAllBytes(b) shouldBe bytesBefore // never copied
    // the fused match gates equal the op predicates counted on the raw table
    val orders = graft.Tables.orders(spark, dir)
    val a2 = orders.filter($"o_orderkey" % 3 === 0 && $"o_orderkey" % 9 =!= 0)
    val want = Seq(
      a2.filter($"o_orderkey" % 5 === 0 && $"o_orderkey" % 8 =!= 1).count(),
      a2.filter($"o_orderkey" % 8 === 1).count(),
      orders.filter($"o_orderkey" % 3 === 2 && $"o_orderkey" % 7 === 0).count())
    want.foreach(_ should be > 0L)
    Seq(nUpd, nDel, nIns) shouldBe want

    // per-key semantics against the raw table
    val v4 = spark.read.parquet(
      scala.jdk.CollectionConverters.ListHasAsScala(
        java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get(s"$root/manifest-v4.txt")))
        .asScala.filter(_.nonEmpty).map(l => s"$root/$l").toSeq: _*)
    // a deleted key is gone
    val delKey = orders.filter($"o_orderkey" % 3 === 0 && $"o_orderkey" % 9 =!= 0
      && $"o_orderkey" % 8 === 1).agg(org.apache.spark.sql.functions.min($"o_orderkey"))
      .collect().head.getLong(0)
    v4.filter($"o_orderkey" === delKey).count() shouldBe 0
    // an updated key carries price + 1000
    val updRow = orders.filter($"o_orderkey" % 3 === 0 && $"o_orderkey" % 9 =!= 0
      && $"o_orderkey" % 5 === 0 && $"o_orderkey" % 8 =!= 1)
      .orderBy($"o_orderkey").limit(1).collect().head
    val merged = v4.filter($"o_orderkey" === updRow.getLong(0)).collect()
    merged.length shouldBe 1
    merged.head.getAs[Double]("o_totalprice") shouldBe
      (updRow.getAs[Double]("o_totalprice") + 1000.0)
    // an inserted key exists exactly once with the source row's price
    val insRow = orders.filter($"o_orderkey" % 3 === 2 && $"o_orderkey" % 7 === 0)
      .orderBy($"o_orderkey").limit(1).collect().head
    val ins = v4.filter($"o_orderkey" === insRow.getLong(0)).collect()
    ins.length shouldBe 1
    ins.head.getAs[Double]("o_totalprice") shouldBe insRow.getAs[Double]("o_totalprice")
  }

  test("cdf: ops partition the changed keys, deltas and nulls are exact") {
    import spark.implicits._
    val dir = sf("sf0.001")
    val out = graft.SparkEntry.queries("io_cdf")(spark, dir).collect()
    out.map(_.getLong(1)).distinct.length shouldBe out.length // one op per key
    Set("insert", "update", "delete").subsetOf(
      out.map(_.getString(0)).toSet) shouldBe true
    out.foreach { r =>
      r.getString(0) match {
        case "delete" =>
          r.isNullAt(3) shouldBe true; r.isNullAt(2) shouldBe false
        case "insert" =>
          r.isNullAt(2) shouldBe true; r.isNullAt(3) shouldBe false
        case "update" =>
          r.getDouble(3) shouldBe (r.getDouble(2) + 1000.0)
      }
    }
  }
}
