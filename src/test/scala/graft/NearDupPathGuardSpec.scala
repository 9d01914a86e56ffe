package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The near-dup family has one exact verify and one MinHash band-bucket
  * candidate join, each in one helper of `operators/Dedup.scala`. A second copy of
  * either is a second place a faster verify would have to land.
  */
class NearDupPathGuardSpec extends AnyFunSuite with Matchers {
  // a column reference: $"a.b" or col("a.b")
  private def ref(c: String) = s"""(?:\\$$|col\\()"$c"\\)?"""
  // candidate doc_b bound to one side of a (doc_id, h) table, in the same
  // condition as an h = h equality: the two-sided verify join
  private val VerifyJoin =
    (s"${ref("doc_b")}\\s*===\\s*${ref("\\w+\\.doc_id")}\\s*&&\\s*" +
      s"${ref("\\w+\\.h")}\\s*===\\s*${ref("\\w+\\.h")}").r
  // (band, sig) equality of two MinHash bucket frames; the audio
  // fingerprint bands in Multimodal key on (band, v) and are not this join
  private val BandJoin =
    (s"${ref("\\w+\\.band")}\\s*===\\s*${ref("\\w+\\.band")}\\s*&&\\s*" +
      s"${ref("\\w+\\.sig")}\\s*===\\s*${ref("\\w+\\.sig")}").r

  private val sources: List[(String, String)] = {
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> Files.readString(p)).toList
    finally walk.close()
  }

  /** (file, enclosing def) of every match. */
  private def sites(re: scala.util.matching.Regex): List[(String, String)] =
    for ((file, text) <- sources; m <- re.findAllMatchIn(text).toList) yield {
      val defs = "def (\\w+)".r.findAllMatchIn(text.substring(0, m.start)).toList
      file -> defs.lastOption.map(_.group(1)).getOrElse("")
    }

  test("the two-sided h verify join appears only in Dedup.commonCounts") {
    sites(VerifyJoin) shouldBe List("graft/operators/Dedup.scala" -> "commonCounts")
  }

  test("the MinHash band-bucket join appears only in Dedup.bandPairs") {
    sites(BandJoin) shouldBe List("graft/operators/Dedup.scala" -> "bandPairs")
  }
}
