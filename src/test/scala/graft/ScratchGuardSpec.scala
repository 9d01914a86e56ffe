package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Every scratch dir comes from [[Scratch]]: a module that makes its own
  * temp dir or registers its own shutdown hook decides for itself where the
  * dir lives and whether it is ever deleted.
  */
class ScratchGuardSpec extends AnyFunSuite with Matchers {
  test("createTempDirectory and addShutdownHook appear in src/main/scala only in graft/Scratch.scala") {
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    val sites =
      try walk.iterator.asScala
        .filter { p =>
          p.toString.endsWith(".scala") && {
            val src = Files.readString(p)
            src.contains("createTempDirectory") || src.contains("addShutdownHook")
          }
        }
        .map(p => root.relativize(p).toString).toList
      finally walk.close()
    sites shouldBe List("graft/Scratch.scala")
  }
}
