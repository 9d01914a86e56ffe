package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Every `runMain graft.X` a reader can follow names a main that exists:
  * a doc that tells the reader to run a deleted main is a dead end. Scans
  * the repo-root `*.md` files, `.claude/skills/` and `src/main/scala`;
  * committed `*.json` artifacts are history and are not scanned. A
  * one-letter name such as `graft.X` is a placeholder, not an instruction.
  */
class RunInstructionsGuardSpec extends AnyFunSuite with Matchers {
  private def files(root: Path, keep: Path => Boolean): List[Path] =
    if (!Files.isDirectory(root)) Nil
    else {
      val walk = Files.walk(root)
      try walk.iterator.asScala.filter(p => Files.isRegularFile(p) && keep(p)).toList
      finally walk.close()
    }

  /** Fully qualified names of the objects under src/main/scala that
    * declare a `def main`.
    */
  private lazy val mains: Set[String] =
    files(Paths.get("src/main/scala"), _.toString.endsWith(".scala")).flatMap { p =>
      val text = Files.readString(p)
      val pkg = """(?m)^package\s+([\w.]+)""".r.findFirstMatchIn(text).map(_.group(1))
      val objs = """\bobject\s+(\w+)""".r.findAllMatchIn(text).toList
      objs.zip(objs.drop(1).map(_.start) :+ text.length).collect {
        case (m, end) if text.substring(m.start, end).contains("def main(") =>
          (pkg.toList :+ m.group(1)).mkString(".")
      }
    }.toSet

  test("every runMain graft.X in docs, skills and main code names an existing main") {
    val list = Files.list(Paths.get("."))
    val rootMd =
      try list.iterator.asScala.filter(_.toString.endsWith(".md")).toList
      finally list.close()
    val docs = rootMd ++
      files(Paths.get(".claude/skills"), _ => true) ++
      files(Paths.get("src/main/scala"), _.toString.endsWith(".scala"))
    val runMain = """runMain\s+(graft\.[\w.]*\w)""".r
    val stale = for {
      p <- docs
      m <- runMain.findAllMatchIn(Files.readString(p))
      name = m.group(1)
      if !name.matches("""graft\.[A-Z]""") && !mains.contains(name)
    } yield s"$p: $name"
    stale shouldBe empty
  }
}
