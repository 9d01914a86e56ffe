package graft

import org.apache.spark.sql.SparkSession

/** The one session factory for every main (specs keep SparkSuite's fixed
  * session): the mains differ in what they run, not in how they start Spark.
  *
  * Master: `SPARK_MASTER` if set, else `local[cores]`. Shuffle width: the
  * caller's, unless `SPARK_GRAFT_SHUFFLE` overrides it. Always on: AQE, UTC
  * session time zone (spark-submit does not inject the sbt `-D` flag), no
  * UI, WARN logging, and heartbeat 60 s / network timeout 600 s — a local
  * master runs driver and every executor thread in ONE JVM, so a long GC can
  * starve the heartbeat past the 120 s default and the HeartbeatReceiver
  * then kills the only executor (observed at sf1: 126 s gap).
  */
object Sessions {
  /** Local worker threads: `SPARK_GRAFT_CPUS`, else the machine's cores. */
  lazy val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def start(app: String, shuffle: Int,
      extras: Map[String, String] = Map.empty): SparkSession = {
    val base = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cores]"))
      .appName(app)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", shuffle.toString))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
    val spark = extras.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs `body` with each `key -> value` set on `s`'s session conf, then
    * puts every key back as it was: its old value, or unset if it had none.
    * The restore runs also when the body throws. Scoped to `s`: an
    * override on a `newSession()` never reaches the session it came from.
    */
  def withConf[T](s: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> s.conf.getOption(k) }
    try {
      kvs.foreach { case (k, v) => s.conf.set(k, v) }
      body
    } finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}
