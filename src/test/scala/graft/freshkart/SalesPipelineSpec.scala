package graft.freshkart

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers
import graft.SparkSuite

/** End-to-end + trap-semantics specs for the FreshKart pipeline over the
  * committed fixtures (SURVEY §7.1 trap list; golden files are the
  * oracle-verified outputs of the pipeline run).
  */
class SalesPipelineSpec extends SparkSuite with Matchers {

  private val fixtures = "fixtures/freshkart"
  private lazy val result = SalesPipeline.build(spark, fixtures)

  test("S1: multiLine JSON array scan reads all 31 files with the explicit schema") {
    val orders = SalesPipeline.readOrders(spark, fixtures)
    orders.count() shouldBe (31 * 103)
    orders.schema shouldBe Schemas.orders
  }

  test("S1: a directory without orders_*.json fails the read") {
    val empty = Files.createTempDirectory("fk-no-orders")
    val e = intercept[IllegalArgumentException](SalesPipeline.readOrders(spark, empty.toString))
    e.getMessage should include("orders_*.json")
    graft.Scratch.rm(empty.toFile)
  }

  test("trap 7.1.1: dedup keeps exactly ONE item line per order — first record, first item") {
    val flat = SalesPipeline.ordersFlat(SalesPipeline.readOrders(spark, fixtures))
    val (_, positive) = SalesPipeline.rejectsSplit(flat)
    val dedup = SalesPipeline.dedupFirst(positive).cache()
    try {
      // one row per order_id
      dedup.groupBy("order_id").count().filter(col("count") > 1).count() shouldBe 0
      // duplicated-order fixture rows: the kept row is the lexicographically
      // smallest created_at with pos == min pos among its positive items
      val dupIds = positive.groupBy("order_id")
        .agg(countDistinct(col("created_at")).as("n")).filter(col("n") > 1)
        .select("order_id").collect().map(_.getString(0))
      dupIds.length should be > 0
      val firsts = positive
        .groupBy("order_id").agg(min(struct(col("created_at"), col("pos"))).as("f"))
        .select(col("order_id"), col("f.created_at").as("created_at"), col("f.pos").as("pos"))
      dedup.select("order_id", "created_at", "pos")
        .except(firsts).count() shouldBe 0
    } finally dedup.unpersist()
  }

  test("trap 7.1.5/P4: rejects + kept partition the exploded rows exactly") {
    val flat = SalesPipeline.ordersFlat(SalesPipeline.readOrders(spark, fixtures)).cache()
    try {
      val (rejects, positive) = SalesPipeline.rejectsSplit(flat)
      rejects.count() should be > 0L
      rejects.count() + positive.count() shouldBe flat.count()
      rejects.filter(col("item_unit_price") >= 0).count() shouldBe 0
    } finally flat.unpersist()
  }

  test("trap 7.1.4/P5: is_active === true drops null (unknown-customer) rows") {
    val perOrder = SalesPipeline.perOrderAgg(SalesPipeline.dedupFirst(
      SalesPipeline.rejectsSplit(SalesPipeline.ordersFlat(
        SalesPipeline.readOrders(spark, fixtures)))._2))
    val cust = SalesPipeline.cleanCustomers(SalesPipeline.readCustomers(spark, fixtures))
    val active = SalesPipeline.activeEnrich(perOrder, cust)
    // fixture plants customer_ids C0801..C0820 that are absent from the dim
    perOrder.filter(col("customer_id") > "C0800").count() should be > 0L
    active.filter(col("customer_id") > "C0800").count() shouldBe 0
    active.filter(col("is_active") =!= true).count() shouldBe 0
  }

  test("trap 7.1.2/7.1.3: net = gross + negative refunds; orphan refunds aggregated then dropped") {
    val daily = result.dailyCitySales.cache()
    try {
      // refunds are negative → net <= gross everywhere, strictly less somewhere
      daily.filter(col("net_revenue_eur") > col("gross_revenue_eur")).count() shouldBe 0
      daily.filter(col("net_revenue_eur") < col("gross_revenue_eur")).count() should be > 0L
      // net is exactly gross + refunds
      daily.filter(
        abs(col("net_revenue_eur") - (col("gross_revenue_eur") + col("refunds_eur"))) > 1e-9)
        .count() shouldBe 0
    } finally daily.unpersist()
  }

  test("F2: garbage refund amounts try_cast to null and fill as 0.0") {
    val raw = SalesPipeline.readRefunds(spark, fixtures)
    val cleaned = SalesPipeline.cleanRefunds(raw)
    val garbage = raw.filter(
      col("amount").isNotNull && expr("try_cast(amount AS double)").isNull)
    garbage.count() should be > 0L // fixtures plant n/a, abc, 12.50.1
    cleaned.filter(col("amount").isNull).count() shouldBe 0
    cleaned.agg(max(col("amount"))).collect().head.getDouble(0) shouldBe 0.0
  }

  test("golden: daily_summary_20250301.csv byte-identical (';' sep, %.2f)") {
    val out = Files.createTempDirectory("fk-golden").toString
    val cfg = Config(fixtures, out, s"$out/sales.db")
    SalesPipeline.run(spark, cfg)
    val got = Files.readString(Paths.get(out, "daily_summary_20250301.csv"), StandardCharsets.UTF_8)
    val want = Files.readString(Paths.get("src/test/resources/golden/daily_summary_20250301.csv"), StandardCharsets.UTF_8)
    got shouldBe want
    val gotR = Files.readString(Paths.get(out, "rejects_items.csv"), StandardCharsets.UTF_8)
    val wantR = Files.readString(Paths.get("src/test/resources/golden/rejects_items.csv"), StandardCharsets.UTF_8)
    gotR shouldBe wantR
    // S7 fallback: both tables present and readable, replace semantics
    val oc = spark.read.parquet(s"$out/sales.db.parquet/orders_clean")
    oc.count() shouldBe result.ordersClean.count()
    Files.readString(Paths.get(s"$out/sales.db.parquet/MANIFEST")).trim
      .split("\n").toSeq shouldBe Seq("daily_city_sales", "orders_clean")
    graft.Scratch.rm(new java.io.File(out))
  }

  test("golden: daily_summary_all.csv = header + per-day rows concatenated in date order") {
    val out = Files.createTempDirectory("fk-all").toString
    val cfg = Config(fixtures, out, s"$out/sales.db")
    SalesPipeline.run(spark, cfg)
    val all = Files.readString(Paths.get(out, "daily_summary_all.csv"), StandardCharsets.UTF_8)
    // byte-identical to the golden snapshot…
    val want = Files.readString(
      Paths.get("src/test/resources/golden/daily_summary_all.csv"), StandardCharsets.UTF_8)
    all shouldBe want
    // …and structurally the concatenation of the (already golden-checked)
    // per-day files: same header, data rows in filename (= date) order.
    val perDay = new java.io.File(out).listFiles
      .map(_.getName)
      .filter(n => n.startsWith("daily_summary_2"))
      .sorted
      .flatMap(n => Files.readString(Paths.get(out, n), StandardCharsets.UTF_8)
        .linesIterator.toSeq.tail)
    val allLines = all.linesIterator.toSeq
    allLines.head shouldBe "date;city;channel;orders_count;unique_customers;items_sold;gross_revenue_eur;refunds_eur;net_revenue_eur"
    allLines.tail shouldBe perDay.toSeq
    graft.Scratch.rm(new java.io.File(out))
  }

  test("P4: no rejects_items.csv when no item line has a negative price") {
    val in = Files.createTempDirectory("fk-no-rejects")
    Files.writeString(in.resolve("orders_2025-03-01.json"),
      """[{"order_id": "O1", "customer_id": "C1", "channel": "web",
        |  "created_at": "2025-03-01 10:00:00", "payment_status": "paid",
        |  "items": [{"sku": "SKU-1", "qty": 2, "unit_price": 5.0}]}]""".stripMargin)
    Files.writeString(in.resolve("customers.csv"),
      "customer_id,first_name,last_name,email,city,is_active\nC1,Ann,Lee,ann@example.com,Paris,true\n")
    Files.writeString(in.resolve("refunds.csv"), "refund_id,order_id,amount,reason,created_at\n")
    val out = in.resolve("out").toString
    SalesPipeline.run(spark, Config(in.toString, out, s"$out/sales.db"))
    Files.exists(Paths.get(out, "rejects_items.csv")) shouldBe false
    // the run itself completed: header + the one order's daily row
    Files.readAllLines(Paths.get(out, "daily_summary_all.csv")).size shouldBe 2
    graft.Scratch.rm(in.toFile)
  }

  test("run releases every plan it caches (the customer dim included)") {
    spark.catalog.clearCache()
    val out = Files.createTempDirectory("fk-cache").toString
    SalesPipeline.run(spark, Config(fixtures, out, s"$out/sales.db"))
    spark.sharedState.cacheManager.isEmpty shouldBe true
    graft.Scratch.rm(new java.io.File(out))
  }

  test("run parses the orders JSON in exactly one stage") {
    // A stage that reads a cache still lists the scan among its RDD's
    // ancestors, so the signal is the scan's row metric: only a stage that
    // ran the scan updates it. Its accumulator ids come from the SQL plans
    // (a cached plan is a child of the InMemoryTableScan that reads it).
    val scanRows = ConcurrentHashMap.newKeySet[Long]()
    val stages = new ConcurrentLinkedQueue[Set[Long]]()
    def visit(p: SparkPlanInfo): Unit = {
      if (p.nodeName.toLowerCase.startsWith("scan json"))
        p.metrics.filter(_.name == "number of output rows").foreach(m => scanRows.add(m.accumulatorId))
      p.children.foreach(visit)
    }
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => visit(s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate => visit(u.sparkPlanInfo)
        case _ =>
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.add(s.stageInfo.accumulables.keySet.toSet)
    }
    val sc = spark.sparkContext
    val out = Files.createTempDirectory("fk-one-parse").toString
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      SalesPipeline.run(spark, Config(fixtures, out, s"$out/sales.db"))
      ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    scanRows.size should be > 0
    stages.asScala.count(_.exists(scanRows.contains)) shouldBe 1
    graft.Scratch.rm(new java.io.File(out))
  }

  test("the fk_* queries leave no plan cached") {
    spark.catalog.clearCache()
    for (q <- Seq("fk_daily_city_sales", "fk_orders_clean", "fk_rejects")) {
      graft.SparkEntry.queries(q)(spark, fixtures).write.format("noop").mode("overwrite").save()
      withClue(q)(spark.sharedState.cacheManager.isEmpty shouldBe true)
    }
  }

  test("per-day fan-out writes one file per distinct date, all 31 days") {
    val out = Files.createTempDirectory("fk-days").toString
    val cfg = Config(fixtures, out, s"$out/sales.db")
    SalesPipeline.run(spark, cfg)
    val files = new java.io.File(out).listFiles
      .map(_.getName).filter(_.startsWith("daily_summary_2")).sorted
    files.length shouldBe 31
    files.head shouldBe "daily_summary_20250301.csv"
    files.last shouldBe "daily_summary_20250331.csv"
    graft.Scratch.rm(new java.io.File(out))
  }

  test("partitioned parquet sink: date= subdirs, pruned scan, round-trip") {
    val out = Files.createTempDirectory("fk-part").toString + "/daily"
    val daily = result.dailyCitySales.cache()
    try {
      Sinks.writePartitionedParquet(daily, out)
      val dirs = new java.io.File(out).listFiles.map(_.getName).filter(_.startsWith("date=")).sorted
      dirs.length shouldBe 31
      dirs.head shouldBe "date=2025-03-01"
      val back = spark.read.parquet(out)
      back.count() shouldBe daily.count()
      // partition pruning: a date filter scans one partition only
      val pruned = back.filter(col("date") === "2025-03-15")
      val prunedPlan = pruned.queryExecution.executedPlan.toString
      prunedPlan should include("PartitionFilters")
      prunedPlan should include("= 2025-03-15")
      pruned.count() shouldBe daily.filter(col("date") === "2025-03-15").count()
      graft.Scratch.rm(new java.io.File(out).getParentFile)
    } finally daily.unpersist()
  }

  test("Config: yaml subset parse + relative path resolution") {
    val dir = Files.createTempDirectory("fk-cfg")
    val yaml = dir.resolve("settings.yaml")
    Files.write(yaml,
      """# comment
        |input_dir: ./in
        |output_dir: /abs/out
        |db_path: ./db/sales.db
        |csv_sep: ";"
        |csv_float_format: "%.3f"
        |""".stripMargin.getBytes(StandardCharsets.UTF_8))
    val c = Config.load(yaml.toString)
    c.inputDir shouldBe dir.resolve("in").toString
    c.outputDir shouldBe "/abs/out"
    c.dbPath shouldBe dir.resolve("db/sales.db").toString
    c.csvSep shouldBe ";"
    c.csvFloatFormat shouldBe "%.3f"
    c.csvEncoding shouldBe "utf-8" // default
  }

  test("S6: writeSingleCsv formats doubles with the configured pattern, nulls empty") {
    import spark.implicits._
    val df = Seq((1L, Some(1.005), "x"), (2L, None, null))
      .toDF("id", "v", "s")
    val p = Files.createTempFile("csv", ".csv").toString
    Sinks.writeSingleCsv(df, p, Config("", "", "", csvSep = ";"))
    val lines = Files.readAllLines(Paths.get(p)).toArray.toSeq
    // Java Formatter %.2f rounds HALF_UP on the decimal repr: 1.005 → "1.01"
    lines shouldBe Seq("id;v;s", "1;1.01;x", "2;;")
  }

  test("S8: text sink round-trips lines") {
    import spark.implicits._
    val dir = Files.createTempDirectory("txt").toString + "/out"
    Sinks.writeText(Seq("alpha", "beta").toDF("value"), dir)
    spark.read.text(dir).collect().map(_.getString(0)).sorted shouldBe Array("alpha", "beta")
  }
}
