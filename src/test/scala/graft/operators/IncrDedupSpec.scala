package graft.operators

import org.scalatest.matchers.should.Matchers
import graft.SparkSuite

/** Pins for incremental-ingest dedup (dd_minhash_incr, also oracle-checked):
  * the persisted-index path must reproduce exactly the mixed (new, old)
  * subset of the one-shot corpus-wide pairs, and the arrival batch's plan
  * must read the signature index, not re-derive the corpus signatures.
  */
class IncrDedupSpec extends SparkSuite with Matchers {

  test("incremental result ≡ the mixed subset of the one-shot pairs") {
    val dir = sf("sf0.01") // sf0.001 has no cross-split near-dups to pin
    val oneShot = graft.SparkEntry.queries("dd_minhash_lsh")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val mixed = oneShot.filter { case (a, b, _) =>
      (a % Dedup.IncrMod == Dedup.IncrRem) != (b % Dedup.IncrMod == Dedup.IncrRem)
    }.map { case (a, b, j) =>
      if (a % Dedup.IncrMod == Dedup.IncrRem) (a, b, j) else (b, a, j)
    }.sortBy(t => (t._1, t._2))
    val incr = graft.SparkEntry.queries("dd_minhash_incr")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      .sortBy(t => (t._1, t._2))
    mixed should not be empty // non-vacuous at this SF (11 pairs)
    incr shouldBe mixed.toSeq
  }

  test("the arrival query reads the persisted signature index") {
    val p = withPlainSort { // the largeSort checkpoint hides the inner plan
      graft.SparkEntry.queries("dd_minhash_incr")(spark, sf("sf0.01"))
        .queryExecution.executedPlan.toString
    }
    p should include("graft-minhash-index")
  }

  test("batch-split invariance: pairs(A) ∪ pairs(B) ≡ pairs(A ∪ B) for any arrival split") {
    import org.apache.spark.sql.functions.col
    val dir = sf("sf0.01")
    val arrivals = graft.Tables.documents(spark, dir)
      .filter(col("doc_id") % Dedup.IncrMod === Dedup.IncrRem)
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      Dedup.incrementalMinhashPairs(spark, df, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val whole = pairsOf(arrivals)
    val split = pairsOf(arrivals.filter(col("doc_id") % 2 === 0)) ++
      pairsOf(arrivals.filter(col("doc_id") % 2 =!= 0))
    whole should not be empty
    split shouldBe whole // each arrival couples only with the fixed index
  }

  test("checkpoint restart: a resumed pass ingests only new arrivals; union ≡ one-shot") {
    import org.apache.spark.sql.functions.col
    val dir = sf("sf0.01")
    val root = java.nio.file.Files.createTempDirectory("incr-restart").toString
    val (src, out, ck) = (s"$root/src", s"$root/out", s"$root/ck")
    val arrivals = graft.Tables.documents(spark, dir)
      .filter(col("doc_id") % Dedup.IncrMod === Dedup.IncrRem)
    def batches() = {
      val fs = new java.io.File(out).listFiles()
      if (fs == null) 0 else fs.count(_.getName.startsWith("batch="))
    }
    arrivals.filter(col("doc_id") % 2 === 0)
      .coalesce(1).write.mode("append").parquet(src)
    Dedup.incrStreamPass(spark, src, None, out, ck, dir)
    val after1 = batches()
    after1 should be >= 1
    Thread.sleep(1100) // distinct mtimes for the file source
    arrivals.filter(col("doc_id") % 2 =!= 0)
      .coalesce(1).write.mode("append").parquet(src)
    Dedup.incrStreamPass(spark, src, None, out, ck, dir)
    batches() should be > after1 // the resume saw ONLY the added file(s)
    val streamed = spark.read.parquet(out) // partition discovery yields `batch`
      .select(col("new_doc"), col("old_doc"), col("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val oneShot = Dedup.incrementalMinhashPairs(spark, arrivals, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    streamed shouldBe oneShot
  }

  test("the streaming face equals the batch face") {
    val dir = sf("sf0.01")
    def res(name: String) = graft.SparkEntry.queries(name)(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      .sortBy(t => (t._1, t._2))
    res("dd_minhash_incr_stream") shouldBe res("dd_minhash_incr")
  }
}
