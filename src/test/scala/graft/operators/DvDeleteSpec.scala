package graft.operators

import org.scalatest.matchers.should.Matchers
import graft.SparkSuite

/** Pins for merge-on-read deletion vectors that the oracle gate can't see:
  * the base data files stay byte-identical across BOTH delete commits (the
  * whole point of MoR), the stacked vectors partition the deleted rows (no
  * position deleted twice), every vector entry addresses a real base row,
  * and the MoR read equals the predicate read row-for-row, not just in
  * aggregate.
  */
class DvDeleteSpec extends SparkSuite with Matchers {

  test("dv delete: base files byte-identical, vectors stack and partition") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = sf("sf0.001")
    val root = java.nio.file.Files.createTempDirectory("graft-dv-spec").toString
    Formats.buildVersionedTable(spark, dir, root)
    val dataFiles = Seq("data-a2.parquet", "data-b.parquet")
    val bytesBefore = dataFiles.map(f =>
      f -> java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$root/$f")))

    val v3Stats = spark.read.parquet(dataFiles.map(f => s"$root/$f"): _*)
      .agg(count(lit(1)), round(graft.functions.ExactSum.sumScaled($"o_totalprice", 8), 2))
      .collect().head
    val c = Formats.applyDvDeletes(spark, root)
    val (dv4Names, dv5Names) = (c.dv4, c.dv5)
    // the base stats observed on the dv4 scan equal v3 aggregated directly
    (c.baseRows, c.basePrice) shouldBe ((v3Stats.getLong(0), v3Stats.getDouble(1)))
    dv4Names.nonEmpty shouldBe true
    dv5Names.nonEmpty shouldBe true

    // the MoR contract: two delete commits, zero data bytes rewritten
    bytesBefore.foreach { case (f, b) =>
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$root/$f")) shouldBe b
    }

    def dv(names: Seq[String]) =
      spark.read.parquet(names.map(f => s"$root/$f"): _*)
    // stacked vectors partition the deleted positions — nothing dies twice
    dv(dv4Names).join(dv(dv5Names), Seq("file", "pos")).count() shouldBe 0
    // every vector entry addresses a real base row
    val base = spark.read.parquet(dataFiles.map(f => s"$root/$f"): _*)
      .withColumn("file", substring_index(col("_metadata.file_path"), "/", -1))
      .withColumn("pos", col("_metadata.row_index"))
    val allDv = dv(dv4Names).union(dv(dv5Names))
    base.join(allDv, Seq("file", "pos")).count() shouldBe allDv.count()

    // per-key semantics
    val v3 = base.drop("file", "pos")
    val gone4 = v3.filter($"o_orderkey" % 7 === 2)
      .agg(min($"o_orderkey")).collect().head.getLong(0)
    val gone5 = v3.filter($"o_orderkey" % 7 =!= 2 && $"o_orderkey" % 10 === 6)
      .agg(min($"o_orderkey")).collect().head.getLong(0)
    val v4 = Formats.readMorVersion(spark, root, 4)
    val v5 = Formats.readMorVersion(spark, root, 5)
    v4.filter($"o_orderkey" === gone4).count() shouldBe 0
    v4.filter($"o_orderkey" === gone5).count() shouldBe 1 // dies only in v5
    v5.filter($"o_orderkey" === gone5).count() shouldBe 0

    // MoR read == predicate read, row for row (both directions)
    val cols = v3.columns.map(col).toSeq
    val pred5 = v3.filter($"o_orderkey" % 7 =!= 2 && $"o_orderkey" % 10 =!= 6)
    v5.select(cols: _*).exceptAll(pred5).count() shouldBe 0
    pred5.exceptAll(v5.select(cols: _*)).count() shouldBe 0
  }

  test("shallow clone: manifest-only, diverges without touching the source") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = sf("sf0.001")
    val srcRoot = java.nio.file.Files.createTempDirectory("graft-dv-src").toString
    Formats.buildVersionedTable(spark, dir, srcRoot)
    val dataFiles = Seq("data-a2.parquet", "data-b.parquet")
    val bytesBefore = dataFiles.map(f =>
      f -> java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$srcRoot/$f")))
    val srcListingBefore =
      new java.io.File(srcRoot).listFiles().map(_.getName).toSet

    val cloneRoot = java.nio.file.Files.createTempDirectory("graft-dv-clone").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$cloneRoot/manifest-v3.txt"),
      (dataFiles.map(f => s"$srcRoot/$f").mkString("\n") + "\n").getBytes("UTF-8"))
    Formats.applyDvDeletes(spark, cloneRoot)

    // the clone diverged...
    val clone5 = Formats.readMorVersion(spark, cloneRoot, 5)
    clone5.filter($"o_orderkey" % 7 === 2).count() shouldBe 0
    clone5.filter($"o_orderkey" % 10 === 6).count() shouldBe 0
    // ...the source root gained nothing and lost nothing...
    new java.io.File(srcRoot).listFiles().map(_.getName).toSet shouldBe srcListingBefore
    bytesBefore.foreach { case (f, b) =>
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$srcRoot/$f")) shouldBe b
    }
    // ...and the clone root holds manifests + vectors only, zero data files
    new java.io.File(cloneRoot).listFiles()
      .exists(_.getName.startsWith("data-")) shouldBe false
    val srcRows = spark.read
      .parquet(dataFiles.map(f => s"$srcRoot/$f"): _*).count()
    clone5.count() should be < srcRows
  }
}
