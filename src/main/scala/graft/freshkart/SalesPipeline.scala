package graft.freshkart

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Exprs

/** The FreshKart sales pipeline — the reference's actual product
  * (`src/pyspark/pipeline_pyspark.py:59-224`) re-expressed Spark-first.
  *
  * Stage by stage (reference line cites on each method), preserving the
  * SURVEY §7.1 trap list:
  *  1. dedup keeps ONE ITEM LINE per order, first occurrence by the raw
  *     `created_at` STRING, tie-broken deterministically by item position
  *     (posexplode) — "first item of the first record wins", matching the
  *     pandas twin's stable sort;
  *  2. `net_revenue_eur = gross + refunds` (refund amounts are negative);
  *  3. refunds are aggregated over ALL refunds before any filtering;
  *  4. `is_active === true` drops null (unmatched-customer) rows;
  *  5. rejects are collected once and written only when rows came back;
  *  6. dates stay strings; `order_date` is derived after the active join
  *     with the fail-fast two-format parse (U2 strict).
  *
  * Differences from the reference, by design, not accident:
  *  - Python UDFs (U1/U2) are native Column expressions — no Python worker
  *    hop, whole-stage codegen stays unbroken;
  *  - schemas are explicit (Schemas.scala) instead of re-read inference;
  *  - money sums run in DECIMAL and are cast back to double, so results are
  *    bit-identical under any partitioning (a float sum over 32 partitions
  *    is order-dependent; the reference runs single-process pandas sums).
  *
  * Every stage is a separate function so ScalaTest specs pin each trap
  * individually and the oracle queries reuse the exact production code.
  */
object SalesPipeline {

  /** Exact, order-independent money sum: decimal in, double out. */
  private def dsum(c: org.apache.spark.sql.Column) =
    graft.functions.ExactSum.sumScaled(c, 8) // int128 exact sum — same value as sum(cast(c as decimal(20,8))) on <=15-sig-digit inputs, no per-row BigDecimal (see graft.functions.Int128)

  // --- reads (S1, S2) -------------------------------------------------------

  /** S1 — 31 daily order files, each a multiLine JSON array of structs
    * (reference `pipeline_pyspark.py:94-96`). One multi-file read, not a
    * loop-and-union: at scale the files parallelize across executors.
    *
    * The glob is expanded here, on the driver: handed the pattern itself,
    * Spark probes it as a possible streaming-sink directory and logs a
    * FileNotFoundException for every read. No match fails the read.
    */
  def readOrders(spark: SparkSession, inputDir: String): DataFrame = {
    val glob = new Path(inputDir, "orders_*.json")
    val fs = glob.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = Option(fs.globStatus(glob)).toSeq.flatten.map(_.getPath.toString)
    require(files.nonEmpty, s"no order files match $glob")
    spark.read.option("multiLine", "true").schema(Schemas.orders).json(files: _*)
  }

  /** S2 — CSV scans with explicit schema (reference `:97-98` infers). */
  def readCustomers(spark: SparkSession, inputDir: String): DataFrame =
    spark.read.option("header", "true").schema(Schemas.customers)
      .csv(s"$inputDir/customers.csv")

  def readRefunds(spark: SparkSession, inputDir: String): DataFrame =
    spark.read.option("header", "true").schema(Schemas.refunds)
      .csv(s"$inputDir/refunds.csv")

  // --- cleaning (U1, F2, P7) ------------------------------------------------

  /** U1 + C1 — normalize dirty is_active (string path of the type-directed
    * truth table), keep the 3 pipeline columns, cache the reused dim
    * (reference `:100-104`).
    */
  def cleanCustomers(customers: DataFrame): DataFrame =
    customers
      .withColumn("is_active", Exprs.boolNormString(col("is_active")))
      .select("customer_id", "city", "is_active")

  /** F2 + P7 — garbage-tolerant amount cast, null → 0.0 (reference `:105-109`). */
  def cleanRefunds(refunds: DataFrame): DataFrame =
    refunds
      .withColumn("amount", expr("try_cast(amount AS double)"))
      .na.fill(Map("amount" -> 0.0))
      .select("order_id", "amount")

  // --- explode + split (P3, F1, P1, P4) -------------------------------------

  /** P3 + F1 + P1 — paid filter, explode items WITH POSITION (the
    * deterministic tie-breaker SURVEY §7.1.1 calls for; the reference's
    * bare `explode` leaves "first" unspecified), nested-field extraction
    * (reference `:111-121`).
    */
  def ordersFlat(orders: DataFrame): DataFrame =
    orders
      .filter(col("payment_status") === "paid")
      .select(col("order_id"), col("customer_id"), col("channel"), col("created_at"),
        posexplode(col("items")).as(Seq("pos", "item")))
      .select(col("order_id"), col("customer_id"), col("channel"), col("created_at"),
        col("pos"),
        col("item.sku").as("item_sku"),
        col("item.qty").as("item_qty"),
        col("item.unit_price").as("item_unit_price"))

  /** P4 — negative-price rejects (collected once, written only when present;
    * reference `:123-131`). Returns (rejects, kept-complement).
    */
  def rejectsSplit(flat: DataFrame): (DataFrame, DataFrame) =
    (flat.filter(col("item_unit_price") < 0),
      flat.filter(col("item_unit_price") >= 0))

  // --- dedup + per-order aggregate (W1, P2, A1) -----------------------------

  /** W1 — keep the FIRST item line per order: row_number over
    * (order_id | created_at asc, pos asc), rn == 1 (reference `:133-138`;
    * the pos tie-break makes the reference's arbitrary tie deterministic,
    * matching pandas' stable "first item wins").
    */
  def dedupFirst(positive: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("order_id"))
      .orderBy(col("created_at").asc, col("pos").asc)
    positive.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** P2 + A1 — line_gross and the per-order rollup (reference `:140-148`). */
  def perOrderAgg(dedup: DataFrame): DataFrame =
    dedup
      .withColumn("line_gross", col("item_qty") * col("item_unit_price"))
      .groupBy("order_id", "customer_id", "channel", "created_at")
      .agg(
        sum("item_qty").as("items_sold"),
        dsum(col("line_gross")).as("gross_revenue_eur"))

  // --- joins (J1, P5, U2, J2, A2) -------------------------------------------

  /** J1 + P5 + U2 — enrich with the customer dim (explicit broadcast: the
    * dim is ~800 rows; the fact side never shuffles at any cluster size),
    * drop inactive AND unmatched (null) rows, derive order_date fail-fast
    * (reference `:150-154`).
    */
  def activeEnrich(perOrder: DataFrame, customersClean: DataFrame): DataFrame =
    perOrder
      .join(broadcast(customersClean), Seq("customer_id"), "left")
      .filter(col("is_active") === true)
      .withColumn("order_date", Exprs.orderDateStrStrict(col("created_at")))

  /** A2 + J2 + P7 — refunds aggregated over ALL refunds first, then
    * left-joined and null-filled (reference `:156-173`). Aggregate-before-
    * join: the join input is one row per key, never the raw refund lines.
    */
  def refundRollup(active: DataFrame, refundsClean: DataFrame): DataFrame = {
    val refundsSum = refundsClean.groupBy("order_id")
      .agg(dsum(col("amount")).as("refunds_eur"))
    active
      .join(refundsSum, Seq("order_id"), "left")
      .na.fill(Map("refunds_eur" -> 0.0))
      .select("order_id", "customer_id", "city", "channel", "order_date",
        "created_at", "items_sold", "gross_revenue_eur", "refunds_eur")
  }

  /** A3 + P2 + P6 + O1 — the daily_city_sales rollup: two countDistincts,
    * three sums, net = gross + refunds (ADDITION: amounts are negative),
    * rename, deterministic sort (reference `:175-184,195`). The sort is
    * `smallSort`: the output has one row per (date, city, channel), and
    * `run` collects it to the driver, so driver memory bounds it anyway; a
    * range sort would re-run the rollup to sample its bounds.
    */
  def dailyCitySales(perOrderRef: DataFrame): DataFrame =
    perOrderRef
      .groupBy("order_date", "city", "channel")
      .agg(
        countDistinct(col("order_id")).as("orders_count"),
        countDistinct(col("customer_id")).as("unique_customers"),
        sum(col("items_sold")).as("items_sold"),
        dsum(col("gross_revenue_eur")).as("gross_revenue_eur"),
        dsum(col("refunds_eur")).as("refunds_eur"))
      .withColumn("net_revenue_eur",
        (col("gross_revenue_eur").cast("decimal(20,8)")
          + col("refunds_eur").cast("decimal(20,8)")).cast("double"))
      .withColumnRenamed("order_date", "date")
      .transform(d => graft.QueryDef.smallSort(d, col("date"), col("city"), col("channel")))

  /** orders_clean — the 7-column per-order table (NO refunds/net: the
    * reference keeps the two sink schemas distinct, SURVEY §7.1.8;
    * reference `:186-194`).
    */
  def ordersClean(perOrderRef: DataFrame): DataFrame =
    perOrderRef.select("order_id", "customer_id", "city", "channel",
      "order_date", "items_sold", "gross_revenue_eur")

  // --- end-to-end -----------------------------------------------------------

  /** The two frames every output shares — the exploded paid order lines
    * (`flat`) and the per-order table with refunds (`perOrderRef`) — and
    * the customer dimension behind it. The outputs derive from them, so a
    * caller that persists the three computes each once for all sinks.
    */
  final case class Result(
      customersClean: DataFrame,
      flat: DataFrame,
      perOrderRef: DataFrame) {
    def rejects: DataFrame = rejectsSplit(flat)._1
    def ordersClean: DataFrame = SalesPipeline.ordersClean(perOrderRef)
    def dailyCitySales: DataFrame = SalesPipeline.dailyCitySales(perOrderRef)
  }

  /** Full logical pipeline (no sinks, no job, nothing cached): reads →
    * cleaned → split → dedup → aggregate → joins.
    */
  def build(spark: SparkSession, inputDir: String): Result = {
    val customersClean = cleanCustomers(readCustomers(spark, inputDir))
    val refundsClean = cleanRefunds(readRefunds(spark, inputDir))
    val flat = ordersFlat(readOrders(spark, inputDir))
    val perOrder = perOrderAgg(dedupFirst(rejectsSplit(flat)._2))
    val perOrderRef = refundRollup(activeEnrich(perOrder, customersClean), refundsClean)
    Result(customersClean, flat, perOrderRef)
  }

  /** Run with sinks, reference lifecycle (`:59-224`): the rejects CSV
    * (only when there are rejects), per-day `daily_summary_YYYYMMDD.csv`
    * plus the concatenated `daily_summary_all.csv` (`;` / utf-8 / `%.2f`),
    * and the two DB tables via [[Sinks.writeDbTable]] (Parquet fallback —
    * no SQLite JDBC driver resolvable offline; SURVEY §7.2.3). Each final
    * frame behind a CSV is collected once.
    *
    * The customer dim (the reference's one `.cache()`, `:103`), `flat` and
    * `perOrderRef` are cached here, in that order, so each is computed once:
    * the orders are parsed once and the per-order table built once per run.
    * Every sink's plan reads the cached data in place of the subtree.
    */
  def run(spark: SparkSession, config: Config): Unit = {
    val r = build(spark, config.inputDir)
    val shared = Seq(r.customersClean, r.flat, r.perOrderRef)
    shared.foreach(_.cache())
    try sinks(r, config)
    finally shared.foreach(_.unpersist())
  }

  private def sinks(r: Result, config: Config): Unit = {
    // (order_id, created_at, pos) is a total order over the fixtures (the
    // fk_rejects oracle uses the same); (order_id, pos) alone ties between
    // an order's original and duplicate records, and Spark's sort is not
    // stable on ties — the golden-file byte compare would be plan-dependent.
    // smallSort: the rejects are collected to the driver right below, so
    // driver memory bounds them anyway; a range sort would re-read `flat`
    // to sample its bounds.
    val rejects = graft.QueryDef.smallSort(r.rejects,
      col("order_id"), col("created_at"), col("pos")).drop("pos")
    val rejectRows = rejects.collect().toSeq
    if (rejectRows.nonEmpty)
      Sinks.writeSingleCsv(rejects.schema, rejectRows,
        s"${config.outputDir}/rejects_items.csv", config)
    val daily = r.dailyCitySales.cache()
    Sinks.writeDbTable(r.ordersClean, config.dbPath, "orders_clean")
    Sinks.writeDbTable(daily, config.dbPath, "daily_city_sales")
    val dailyRows = daily.collect().toSeq
    Sinks.writePerDayCsv(daily.schema, dailyRows, config.outputDir, config)
    // Concatenated twin of the per-day fan-out (pandas reference
    // `src/pandas/pipeline_pandas.py:201-202` writes agg once more as
    // daily_summary_all.csv) — same (date, city, channel) order.
    Sinks.writeSingleCsv(daily.schema, dailyRows,
      s"${config.outputDir}/daily_summary_all.csv", config)
    daily.unpersist()
  }

  def main(args: Array[String]): Unit = {
    val settings = if (args.nonEmpty) args(0) else "fixtures/freshkart/settings.yaml"
    val config = Config.load(settings)
    val spark = graft.Sessions.start("FreshKartSalesPipeline", 32)
    try run(spark, config)
    finally spark.stop()
  }
}
