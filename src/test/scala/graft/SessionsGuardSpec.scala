package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Every main starts Spark through [[Sessions]]: each hand-rolled builder
  * site is one more place where master, shuffle width and time zone drift
  * apart from the others.
  */
class SessionsGuardSpec extends AnyFunSuite with Matchers {
  test("SparkSession.builder appears in src/main/scala only in graft/Sessions.scala") {
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    val sites =
      try walk.iterator.asScala
        .filter(p => p.toString.endsWith(".scala") &&
          Files.readString(p).contains("SparkSession.builder"))
        .map(p => root.relativize(p).toString).toList
      finally walk.close()
    sites shouldBe List("graft/Sessions.scala")
  }
}
