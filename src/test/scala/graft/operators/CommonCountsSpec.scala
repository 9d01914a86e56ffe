package graft.operators

import scala.math.BigDecimal.RoundingMode
import org.scalatest.matchers.should.Matchers
import graft.SparkSuite

/** The near-dup verify's arithmetic on a hand-built (doc_id, h) table,
  * checked against a brute-force multiset count. The table plants what
  * `docShinglesOf` never produces, since it distincts the shingle strings
  * first: a doc that holds one hash twice (a hash60 collision). Every
  * verify in Dedup goes through [[Dedup.commonCounts]], so a replacement
  * for it must pass this spec.
  */
class CommonCountsSpec extends SparkSuite with Matchers {
  import spark.implicits._

  // doc 1 holds h = 10 twice; doc 3 has no rows; doc 4 shares nothing
  private val rows = Seq(
    1L -> 10L, 1L -> 10L, 1L -> 20L, 1L -> 30L,
    2L -> 10L, 2L -> 20L, 2L -> 40L,
    4L -> 50L, 4L -> 60L,
    5L -> 10L, 5L -> 20L, 5L -> 20L)
  private val pairs = Seq(1L -> 2L, 1L -> 3L, 1L -> 4L, 1L -> 5L, 2L -> 5L, 5L -> 1L)

  private def hs(d: Long) = rows.collect { case (`d`, h) => h }
  private def n(d: Long) = hs(d).size.toLong
  // every (row of a, row of b) agreeing on h; no row for a zero count
  private def bruteCommon(a: Long, b: Long) =
    hs(a).map(h => hs(b).count(_ == h).toLong).sum
  private def round6(x: Double) =
    BigDecimal(x).setScale(6, RoundingMode.HALF_UP).toDouble
  private val shh = rows.toDF("doc_id", "h")

  test("commonCounts is the multiset count, duplicates counted per row pair") {
    val got = Dedup.commonCounts(pairs.toDF("doc_a", "doc_b"), shh)
      .as[(Long, Long, Long)].collect().toSet
    val want = pairs.map { case (a, b) => (a, b, bruteCommon(a, b)) }
      .filter(_._3 > 0).toSet
    got shouldBe want
    // the planted collision counts twice on each side it meets
    want should contain((1L, 5L, 2L * 1 + 1L * 2))
    // a doc with no rows and a pair with no shared h give no row
    got.map(p => (p._1, p._2)) should contain noneOf((1L, 3L), (1L, 4L))
  }

  test("withJaccard divides by the row counts the table holds") {
    val got = Dedup.withJaccard(
        Dedup.commonCounts(pairs.toDF("doc_a", "doc_b"), shh), shh)
      .as[(Long, Long, Long, Double)].collect().toSet
    val want = pairs.map { case (a, b) =>
      val c = bruteCommon(a, b)
      (a, b, c, round6(c.toDouble / (n(a) + n(b) - c)))
    }.filter(_._3 > 0).toSet
    got shouldBe want
    Dedup.jaccardFor(pairs.toDF("doc_a", "doc_b"), shh)
      .as[(Long, Long, Double)].collect().toSet shouldBe
      want.map(r => (r._1, r._2, r._4))
  }

  test("a carried column rides through: containment's one-sided ratio") {
    val sized = pairs.map { case (a, b) => (a, b, n(a)) }.toDF("doc_a", "doc_b", "na")
    val got = Dedup.commonCounts(sized, shh, "na")
      .as[(Long, Long, Long, Long)].collect()
      .map { case (a, b, na, c) => (a, b) -> round6(c.toDouble / na) }.toMap
    val want = pairs.filter { case (a, b) => bruteCommon(a, b) > 0 }
      .map { case (a, b) => (a, b) -> round6(bruteCommon(a, b).toDouble / n(a)) }.toMap
    got shouldBe want
    // same overlap, different denominators: 4/4 one way, 4/3 the other
    got((1L, 5L)) should not be got((5L, 1L))
  }
}
