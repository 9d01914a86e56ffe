package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.ListenerDrain
import org.apache.spark.sql.SparkSession
import graft.freshkart.{Config, SalesPipeline}

/** One benchmark run in one JVM: a `local[nproc]` session, the workload's
  * inputs, warmup, then a closed loop with one client (each op is issued
  * after the previous one returns) until `--seconds` have passed. The
  * outputs the check needs are written after the loop, and everything
  * measured goes to `<scratch>/result.json` for `run.py`.
  *
  *   --kind fk --scale N              SalesPipeline.run over generated input
  *     --warm-scale W --warmup-small K  (the first K warmup ops run over a
  *                                    second input at scale W)
  *   --kind queries --queries a,b,c   one pass over the named queries
  *     --tables DIR                   (generated tables, read as `sfDir`)
  *
  * Only public entry points are called: `SalesPipeline.run(spark, config)`
  * and `SparkEntry.queries(name)(spark, dir)` followed by a `noop` write.
  */
object Main {

  final case class Span(name: String, kind: String, startMs: Long, endMs: Long, seconds: Double)

  final class Spans {
    val all = mutable.ArrayBuffer.empty[Span]
    def apply[A](name: String, kind: String)(body: => A): A = {
      val ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally all += Span(name, kind, ms, System.currentTimeMillis(), (System.nanoTime() - t0) / 1e9)
    }
  }

  trait Workload {
    /** Builds the inputs; returns their sizes for the environment stamp. */
    def prepare(): Map[String, Any]
    /** One op. With `capture` the op keeps the outputs the check reads
      * (the first warmup op does this, so checking adds no extra pass).
      * With `small` it runs over the small warmup input instead.
      */
    def op(spans: Spans, capture: Boolean, small: Boolean): Unit
    /** Called between ops, outside the timer. */
    def reset(): Unit
    /** Where the captured outputs are, with their oracle SQL. */
    def checks(): Seq[Map[String, Any]]
  }

  final class FkSales(spark: SparkSession, seed: Long, scale: Int, warmScale: Int, scratch: File)
      extends Workload {
    // run.py points GRAFT_FK_DIR here before the JVM starts, so the oracle
    // SQL that FreshKartQueries builds at class init reads this input.
    private val input = new File(scratch, "fk_input")
    private val out = new File(scratch, "fk_out")
    private val config = Config(input.getPath, out.getPath, new File(out, "sales.db").getPath)
    // Warmup ops on a small input run the same jobs and so compile the same
    // planner and scheduler code, at a fraction of the cost of a full-size op.
    private val warmInput = new File(scratch, "fk_warm_input")
    private val warmOut = new File(scratch, "fk_warm_out")
    private val warmConfig = Config(warmInput.getPath, warmOut.getPath, new File(warmOut, "sales.db").getPath)

    def prepare(): Map[String, Any] = {
      FreshKartGen.generate(warmInput.toPath, seed, warmScale)
      val s = FreshKartGen.generate(input.toPath, seed, scale)
      Map("freshkart_scale" -> scale, "warmup_scale" -> warmScale, "order_records" -> s.orderRecords,
        "input_bytes" -> s.bytes, "customers" -> s.customers, "refunds" -> s.refunds,
        "traps" -> Map("duplicate_records" -> s.duplicateRecords, "negative_prices" -> s.negativePrices,
          "unknown_customers" -> s.unknownCustomers, "date_only" -> s.dateOnly,
          "garbage_refunds" -> s.garbageRefunds, "orphan_refunds" -> s.orphanRefunds))
    }

    // The sinks are the outputs: the last op's files stay for the check.
    def op(spans: Spans, capture: Boolean, small: Boolean): Unit =
      spans("SalesPipeline.run", "run")(SalesPipeline.run(spark, if (small) warmConfig else config))

    def reset(): Unit = { deleteRecursively(out); deleteRecursively(warmOut) }

    // The Parquet sink tables carry no order; the rejects CSV is sorted.
    def checks(): Seq[Map[String, Any]] = {
      val sql = graft.SparkEntry.oracleSql
      Seq(
        Map("name" -> "fk_daily_city_sales", "kind" -> "parquet", "ordered" -> false,
          "path" -> s"${config.dbPath}.parquet/daily_city_sales", "oracle" -> sql("fk_daily_city_sales")),
        Map("name" -> "fk_orders_clean", "kind" -> "parquet", "ordered" -> false,
          "path" -> s"${config.dbPath}.parquet/orders_clean", "oracle" -> sql("fk_orders_clean")),
        Map("name" -> "fk_rejects", "kind" -> "csv", "ordered" -> true,
          "path" -> new File(out, "rejects_items.csv").getPath, "oracle" -> sql("fk_rejects")))
    }
  }

  final class Queries(spark: SparkSession, names: Seq[String], tables: String, scratch: File)
      extends Workload {
    private val fns = names.map(n => n -> graft.SparkEntry.queries(n))

    def prepare(): Map[String, Any] = Map("queries" -> names)

    private def result(name: String) = new File(scratch, s"results/$name").getPath

    def op(spans: Spans, capture: Boolean, small: Boolean): Unit = fns.foreach { case (name, fn) =>
      val df = spans(name, "construct")(fn(spark, tables))
      spans(name, "action") {
        if (capture) df.write.mode("overwrite").parquet(result(name))
        else df.write.format("noop").mode("overwrite").save()
      }
    }

    def reset(): Unit = ()

    def checks(): Seq[Map[String, Any]] = {
      val sql = graft.SparkEntry.oracleSql
      names.map(name => Map("name" -> name, "kind" -> "parquet", "ordered" -> true, "path" -> result(name)) ++
        sql.get(name).map(s => "oracle" -> s))
    }
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime max 0L).sum

  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** CPU time of the whole process (every thread, JIT and GC included). */
  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Plans registered in the session's cache manager (not public API). */
  private def cachedPlans(spark: SparkSession): Int = {
    val cm = spark.sharedState.cacheManager
    cm.getClass.getDeclaredFields.find(_.getName.endsWith("cachedData")).map { f =>
      f.setAccessible(true)
      f.get(cm).asInstanceOf[Iterable[_]].size
    }.getOrElse(-1)
  }

  private def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  final case class Op(wall: Double, ok: Boolean, traced: Boolean, startMs: Long, endMs: Long,
      spans: Seq[Span], gcMs: Long, jitMs: Long, cpuS: Double, plansLeft: Int, layers: Map[String, Double],
      sites: Map[String, Int])

  /** Query name -> the module that registers it, for the traced modules. */
  lazy val owners: Map[String, String] = Seq(
    "queries.Relational" -> graft.queries.Relational.defs,
    "operators.Formats" -> graft.operators.Formats.defs,
    "operators.Dedup" -> graft.operators.Dedup.defs,
    "operators.Similarity" -> graft.operators.Similarity.defs,
    "operators.GraphAnn" -> graft.operators.GraphAnn.defs,
    "operators.Graph" -> graft.operators.Graph.defs,
    "operators.TextAnalysis" -> graft.operators.TextAnalysis.defs,
    "streaming.Events" -> graft.streaming.Events.defs,
  ).flatMap { case (mod, defs) => defs.map(_.name -> mod) }.toMap +
    ("SalesPipeline.run" -> "freshkart.SalesPipeline")

  /** Per-layer figures of one traced op, from the listener's events. */
  def layers(t: Trace, op: Op, cores: Int, queryNames: Seq[String]): Map[String, Double] = t.synchronized {
    val m = mutable.LinkedHashMap.empty[String, Double]
    val sites = t.sites
    // A job still without a program frame takes the module that registers
    // the query whose span it started in.
    val byJob = t.jobs.map { j =>
      val mod = Trace.module(sites.getOrElse(j.id, "?"))
      j.id -> (if (mod != "other") mod else op.spans.find(s => s.startMs <= j.start && j.start <= s.endMs)
        .map(s => if (s.kind == "action") "action" else owners.getOrElse(s.name, "other")).getOrElse("other"))
    }.toMap
    val modOf = (jobId: Int) => byJob.getOrElse(jobId, "other")
    m("sched.jobs") = t.jobs.size
    m("sched.stages") = t.stages.size
    m("sched.tasks") = t.stages.map(_.tasks).sum
    val construct = op.spans.filter(_.kind == "construct")
    m("driver.construct_s") = construct.map(_.seconds).sum
    m("driver.construct_jobs") = if (construct.isEmpty) 0 else t.jobs.count(j => modOf(j.id) != "action")
    m("driver.action_s") = op.spans.filter(_.kind != "construct").map(_.seconds).sum
    m("driver.idle_s") = op.wall - Trace.covered(t.tasks, op.startMs, op.endMs) / 1000.0
    val runS = t.stages.map(_.runMs).sum / 1000.0
    m("exec.task_run_s") = runS
    m("exec.task_cpu_s") = t.stages.map(_.cpuNs).sum / 1e9
    m("exec.slot_use") = runS / (op.wall * cores)
    m("exec.gc_s") = op.gcMs / 1000.0
    m("jvm.jit_s") = op.jitMs / 1000.0
    m("jvm.cpu_s") = op.cpuS
    m("jvm.peak_rss_mb") = vmHwmMb()
    val mb = (f: Trace#Stage => Long) => t.stages.map(f).sum / 1048576.0
    m("shuffle.read_mb") = mb(_.shuffleReadB)
    m("shuffle.write_mb") = mb(_.shuffleWriteB)
    m("shuffle.spill_mb") = mb(_.spillB)
    m("io.input_mb") = mb(_.inputB)
    m("io.output_mb") = mb(_.outputB)
    m("cache.plans_left") = op.plansLeft
    for (mod <- Trace.modules :+ "action" :+ "other") {
      m(s"$mod.jobs") = t.jobs.count(j => modOf(j.id) == mod)
      m(s"$mod.task_s") = t.stages.filter(s => modOf(s.jobId) == mod).map(_.runMs).sum / 1000.0
    }
    for (q <- queryNames) {
      val qs = op.spans.filter(_.name == q)
      val (from, to) = if (qs.isEmpty) (0L, -1L) else (qs.map(_.startMs).min, qs.map(_.endMs).max)
      m(s"q.$q.wall_s") = qs.map(_.seconds).sum
      m(s"q.$q.construct_s") = qs.filter(_.kind == "construct").map(_.seconds).sum
      m(s"q.$q.jobs") = t.jobs.count(j => j.start >= from && j.start < to)
    }
    m.toMap
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val scratch = new File(a("scratch")).getAbsoluteFile
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val warmup = a("warmup").toInt
    val warmupSmall = a.get("warmup-small").fold(0)(_.toInt)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(scratch, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(scratch, "warehouse").getPath)
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = System.currentTimeMillis()

    val queryNames = a.get("all-queries").map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val workload: Workload = a("kind") match {
      case "fk" => new FkSales(spark, a("seed").toLong, a("scale").toInt, a("warm-scale").toInt, scratch)
      case "queries" => new Queries(spark, a("queries").split(",").toSeq, a("tables"), scratch)
    }
    val inputs = workload.prepare()
    val inputMs = System.currentTimeMillis()

    val tracer = new Trace
    val ops = mutable.ArrayBuffer.empty[Op]
    def runOp(traced: Boolean, capture: Boolean = false, small: Boolean = false): Op = {
      workload.reset()
      // Every op starts from the same empty cache.
      spark.catalog.clearCache()
      if (traced) { tracer.clear(); spark.sparkContext.addSparkListener(tracer) }
      val spans = new Spans
      val gc0 = gcMs()
      val jit0 = jitMs()
      val cpu0 = cpuNs()
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val ok =
        try { workload.op(spans, capture, small); true }
        catch { case e: Exception => System.err.println(s"[perfbench] op failed: $e"); false }
      val wall = (System.nanoTime() - t0) / 1e9
      val ms1 = System.currentTimeMillis()
      val gc = gcMs() - gc0
      val jit = jitMs() - jit0
      val cpu = (cpuNs() - cpu0) / 1e9
      ListenerDrain(spark.sparkContext)
      if (traced) spark.sparkContext.removeSparkListener(tracer)
      val left = cachedPlans(spark)
      val op = Op(wall, ok, traced, ms0, ms1, spans.all.toSeq, gc, jit, cpu, left, Map.empty, Map.empty)
      if (!traced) op
      else op.copy(layers = layers(tracer, op, cores, queryNames),
        sites = tracer.sites.groupBy(_._2).map { case (k, v) => k -> v.size }.toMap)
    }

    val warm = (1 to warmupSmall).map(_ => runOp(traced = false, small = true)) ++
      (1 to warmup).map(i => runOp(traced = false, capture = i == 1))
    val coldBuilds = graft.ColdBuilds.snapshot
    val loopMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    // In a traced run every other op is traced, so the untraced ops of the
    // same run give the tracing overhead.
    while (ops.size < 3 || (System.nanoTime() - t0) / 1e9 < seconds)
      ops += runOp(traced = trace && ops.size % 2 == 0)
    val loopEndMs = System.currentTimeMillis()
    val peakRss = vmHwmMb()
    // What the session holds once the last op has returned (its cached
    // plans included): the heap that survives a full collection. Spark's
    // cleaner releases broadcasts and shuffles of earlier ops only after a
    // collection finds them unreachable, so collect, let it run, collect.
    System.gc()
    Thread.sleep(1000)
    System.gc()
    val retainedHeap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val conf = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" || k == "spark.local.dir"
    }
    val result = Map(
      "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime,
      "session_ready_ms" -> sessionMs, "inputs_ready_ms" -> inputMs,
      "loop_start_ms" -> loopMs, "loop_end_ms" -> loopEndMs,
      "cores" -> cores, "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_version" -> spark.version, "spark_conf" -> conf,
      "inputs" -> inputs, "peak_rss_mb" -> peakRss, "retained_heap_mb" -> retainedHeap,
      "warmup_walls" -> warm.map(_.wall), "warmup_failed" -> warm.count(!_.ok),
      "cold_builds" -> coldBuilds,
      "ops" -> ops.map(o => Map("wall_s" -> o.wall, "ok" -> o.ok, "traced" -> o.traced,
        "gc_s" -> o.gcMs / 1000.0, "jit_s" -> o.jitMs / 1000.0, "cpu_s" -> o.cpuS, "plans_left" -> o.plansLeft, "layers" -> o.layers,
        "job_sites" -> o.sites,
        "spans" -> o.spans.map(s => Map("name" -> s.name, "kind" -> s.kind,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs, "s" -> s.seconds)))),
      "checks" -> workload.checks())
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new File(scratch, "result.json"), result)
    spark.stop()
  }
}
