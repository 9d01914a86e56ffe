package graft

/** Registry of COLD build costs for write-once-per-JVM artifacts (trained
  * models, persisted ANN indexes, materialized source intermediates).
  *
  * Several queries serve from a per-(dir, JVM) memo — ta_bpe_train reads a
  * trained trajectory, sim_*_persist walk stored indexes — so their bench
  * rows measure SERVE cost while the warmup run silently pays the build.
  * That is the intended production split (build once, serve many), but the
  * bench artifact must say so itself (VERDICT r13 #5): every memoized
  * builder records its one-time wall here, and Bench emits the snapshot as
  * "cold_build" in bench_detail.json, making serve-vs-build cost legible
  * without reading SCALING.md.
  */
object ColdBuilds {

  private val builds = scala.collection.concurrent.TrieMap.empty[String, Double]

  /** Run `body` (a cold build) and record its wall seconds under
    * `label:basename(dir)`. Returns `body`'s result. Call INSIDE the
    * memo's builder so only the one cold execution is recorded.
    */
  def timed[A](label: String, dir: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val a = body
    builds.put(s"$label:${new java.io.File(dir).getName}",
      (System.nanoTime() - t0) / 1e9)
    a
  }

  /** All recorded (label, cold seconds) pairs so far in this JVM. */
  def snapshot: Map[String, Double] = builds.toMap
}
