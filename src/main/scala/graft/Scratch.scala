package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

/** The one home of this JVM's scratch state: stream sinks and checkpoints,
  * per-call fixture copies, and the write-once intermediates (persisted
  * indexes, derived table layouts) that queries share per source dir.
  *
  * Every dir sits under ONE per-JVM root in `java.io.tmpdir`, created on
  * first use and deleted recursively by one shutdown hook. Deletion waits
  * for JVM exit because a query returns a lazy frame over its scratch
  * files: the dir must outlive the query that made it. A JVM that dies
  * before its hooks run strands the root; no later JVM reuses it, so the
  * stale dir costs disk until the OS tmp reaper runs, never correctness.
  */
object Scratch {

  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft-scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() => rm(r.toFile)))
    r
  }

  /** A fresh dir under the per-JVM root; its name starts with `prefix`. */
  def dir(prefix: String): String =
    Files.createTempDirectory(root, prefix).toString

  /** Delete `f` and everything below it. */
  def rm(f: java.io.File): Unit = {
    val kids = f.listFiles(); if (kids != null) kids.foreach(rm); f.delete()
  }

  /** One per-key build slot: racing callers synchronize on the cell, not on
    * the map, so a slow build holds up only callers of its own key, and a
    * builder may call other memos (nested builds, concurrent driver
    * threads) without the map's `Recursive update` or a deadlock. A build
    * that throws leaves the cell empty, so the next call builds again.
    */
  private final class Once {
    @volatile private var value: Option[Any] = None
    def get[A](build: => A): A = {
      if (value.isEmpty) synchronized { if (value.isEmpty) value = Some(build) }
      value.get.asInstanceOf[A]
    }
  }

  private val cells = new ConcurrentHashMap[(String, String), Once]()

  /** Write-once per (label, key) per JVM: the first caller runs `build`,
    * racing first callers wait for it, and every later caller gets its
    * result. Keys are the raw strings: `dir` and `dir/` are two keys.
    */
  def memo[A](label: String, key: String)(build: => A): A =
    cells.computeIfAbsent((label, key), _ => new Once).get(build)

  /** [[memo]] over a fresh dir: `fill` writes the dir once per (prefix,
    * key), and callers get its path. A `fill` that throws deletes its dir,
    * so the retry starts in a new one.
    */
  def memoDir(prefix: String, key: String)(fill: String => Unit): String =
    memo(prefix, key) {
      val p = dir(prefix)
      try fill(p) catch { case t: Throwable => rm(new java.io.File(p)); throw t }
      p
    }
}
