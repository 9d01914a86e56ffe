package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The write-once contract of [[Scratch.memo]]: one build per key under a
  * race, builders that run outside any map lock (nested and concurrent
  * builds), a failed build that memoizes nothing, and one root for every
  * scratch dir.
  */
class ScratchSpec extends AnyFunSuite with Matchers {

  private def inPool[A](n: Int)(body: java.util.concurrent.ExecutorService => A): A = {
    val pool = Executors.newFixedThreadPool(n)
    try body(pool) finally pool.shutdownNow()
  }

  private def call[A](f: => A): Callable[A] = new Callable[A] { def call(): A = f }

  test("racing first callers run the builder once and get one path") {
    val builds = new AtomicInteger(0)
    val gate = new CyclicBarrier(2)
    val paths = inPool(2) { pool =>
      val futs = (1 to 2).map(_ => pool.submit(call {
        gate.await()
        Scratch.memoDir("spec-race", "k") { p =>
          builds.incrementAndGet()
          Thread.sleep(200) // the loser arrives while the build runs
          Files.writeString(Paths.get(p, "data"), "x")
        }
      }))
      futs.map(_.get(30, TimeUnit.SECONDS)).toSet
    }
    paths.size shouldBe 1
    builds.get() shouldBe 1
    Files.readString(Paths.get(paths.head, "data")) shouldBe "x"
  }

  test("a builder that calls another memo returns normally") {
    val (outer, inner) = inPool(1) { pool =>
      pool.submit(call {
        var in = ""
        val out = Scratch.memoDir("spec-outer", "k") { _ =>
          in = Scratch.memoDir("spec-inner", "k")(_ => ())
        }
        (out, in)
      }).get(30, TimeUnit.SECONDS) // a deadlock fails here, not by hanging
    }
    Files.isDirectory(Paths.get(outer)) shouldBe true
    Scratch.memoDir("spec-inner", "k")(_ => fail("rebuilt")) shouldBe inner
    Scratch.memoDir("spec-outer", "k")(_ => fail("rebuilt")) shouldBe outer
  }

  test("a slow build on one key does not block another key") {
    val release = new CountDownLatch(1)
    val started = new CountDownLatch(1)
    inPool(2) { pool =>
      val slow = pool.submit(call(Scratch.memo("spec-slow", "a") {
        started.countDown(); release.await(30, TimeUnit.SECONDS); "a"
      }))
      started.await(30, TimeUnit.SECONDS) shouldBe true
      try pool.submit(call(Scratch.memo("spec-slow", "b")("b")))
        .get(10, TimeUnit.SECONDS) shouldBe "b"
      finally release.countDown()
      slow.get(30, TimeUnit.SECONDS) shouldBe "a"
    }
  }

  test("a builder that throws is retried on the next call in a new dir") {
    var failed = ""
    an[IllegalStateException] should be thrownBy {
      Scratch.memoDir("spec-throw", "k") { p =>
        failed = p; throw new IllegalStateException("build failed")
      }
    }
    Files.exists(Paths.get(failed)) shouldBe false // the failed dir is gone
    val builds = new AtomicInteger(0)
    val p = Scratch.memoDir("spec-throw", "k")(_ => builds.incrementAndGet())
    p should not be failed
    Scratch.memoDir("spec-throw", "k")(_ => builds.incrementAndGet()) shouldBe p
    builds.get() shouldBe 1
  }

  test("every dir lands under one root inside java.io.tmpdir") {
    val dirs = Seq(Scratch.dir("spec-a"), Scratch.dir("spec-b"),
      Scratch.memoDir("spec-root", "k")(_ => ()))
    val parents = dirs.map(d => Paths.get(d).getParent).toSet
    parents.size shouldBe 1
    parents.head.getParent.toRealPath() shouldBe
      Paths.get(System.getProperty("java.io.tmpdir")).toRealPath()
    Paths.get(dirs.head).getFileName.toString should startWith("spec-a")
  }
}
