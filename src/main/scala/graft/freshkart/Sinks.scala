package graft.freshkart

import java.nio.charset.Charset
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.Locale
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{DoubleType, FloatType, StructType}

/** FreshKart sinks (S6, S7).
  *
  * S6 — single-file CSV with locale options (`;` separator, configured
  * encoding, `%.2f` floats; reference `pipeline_pyspark.py:126-130,201-222` +
  * `settings.yaml:7-9`). The reference collects results to the driver via
  * `toPandas()` and writes one file; we keep that collect-to-driver shape
  * deliberately and ONLY here: these are final, already-aggregated results
  * (daily summaries, rejects), thousands of rows after a 100 TB input has
  * been reduced — the one place where a driver write is the correct,
  * byte-stable choice. Everything upstream stays distributed.
  *
  * S7 — the reference replaces SQLite tables via pandas `to_sql`
  * (`:197-199`). No SQLite JDBC driver is resolvable offline (checked:
  * /opt/spark/jars has none; COURSIER_MODE=offline — SURVEY §7.2.3 decision
  * point), so the documented fallback is a Parquet "database": one directory
  * per table under `<db_path>.parquet/`, overwrite-on-write like
  * `if_exists="replace"`, plus a manifest listing the tables. Identical
  * logical schema; swapping in a real JDBC sink is a one-line change where
  * `writeDbTable` is called. (A real JDBC write + partitioned read IS
  * exercised elsewhere: io_jdbc_roundtrip in operators/Formats.scala uses
  * the embedded Derby engine Spark ships; the Parquet fallback stays the
  * byte-pinned golden sink here because Derby's on-disk format is not
  * byte-comparable.)
  */
object Sinks {

  private def fmtRow(schema: StructType, floatFormat: String, sep: String): Row => String = {
    val isFloat = schema.fields.map(f => f.dataType == DoubleType || f.dataType == FloatType)
    row =>
      row.toSeq.iterator.zipWithIndex.map {
        case (null, _) => ""
        case (v, i) if isFloat(i) =>
          String.format(Locale.ROOT, floatFormat, v.asInstanceOf[AnyRef])
        case (v, _) => v.toString
      }.mkString(sep)
  }

  /** Write `df` as ONE csv file (header + rows) at `path`. */
  def writeSingleCsv(df: DataFrame, path: String, config: Config): Unit =
    writeSingleCsv(df.schema, df.collect().toSeq, path, config)

  /** [[writeSingleCsv]] over rows already collected from a frame of `schema`. */
  def writeSingleCsv(schema: StructType, rows: Seq[Row], path: String,
      config: Config): Unit = {
    val sep = config.csvSep
    val charset = Charset.forName(config.csvEncoding)
    val fmt = fmtRow(schema, config.csvFloatFormat, sep)
    val header = schema.fieldNames.mkString(sep)
    val lines = rows.map(fmt)
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, (header +: lines).mkString("", "\n", "\n").getBytes(charset))
  }

  /** Per-day fan-out: `daily_summary_YYYYMMDD.csv` per distinct `date`
    * (reference `:201-222`), grouped on the driver over rows the caller
    * collected once — the final daily aggregate (O(days × cities ×
    * channels) rows).
    */
  def writePerDayCsv(schema: StructType, rows: Seq[Row], outDir: String,
      config: Config): Unit = {
    val sep = config.csvSep
    val charset = Charset.forName(config.csvEncoding)
    val fmt = fmtRow(schema, config.csvFloatFormat, sep)
    val header = schema.fieldNames.mkString(sep)
    Files.createDirectories(Paths.get(outDir))
    val dateIdx = schema.fieldIndex("date")
    rows.groupBy(_.getString(dateIdx)).toSeq.sortBy(_._1).foreach {
      case (date, dayRows) =>
        val name = s"daily_summary_${date.replace("-", "")}.csv"
        Files.write(Paths.get(outDir, name),
          (header +: dayRows.map(fmt))
            .mkString("", "\n", "\n").getBytes(charset),
          StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING,
          StandardOpenOption.WRITE)
    }
  }

  /** True when an org.sqlite JDBC driver is on the classpath. None ships in
    * this offline environment (probe result: Spark's jars dir carries Derby
    * only, and the coursier cache resolves nothing else), so the probe is
    * what makes the sink honest: drop a sqlite-jdbc jar on the classpath
    * and [[writeDbTable]] produces the reference's literal `.db` file
    * (`src/pyspark/pipeline_pyspark.py:197-199`, `to_sql(if_exists=
    * "replace")`) with no code change; absent the driver it falls back to
    * the Parquet replace-table layout.
    */
  lazy val sqliteAvailable: Boolean =
    try { Class.forName("org.sqlite.JDBC"); true }
    catch { case _: ClassNotFoundException => false }

  /** Replace-table write: real SQLite when a driver is present (single
    * partition — the inputs are final driver-sized aggregates and SQLite
    * serializes writers anyway), else the Parquet fallback "database".
    */
  def writeDbTable(df: DataFrame, dbPath: String, table: String): Unit =
    if (sqliteAvailable)
      df.coalesce(1).write.mode("overwrite")
        .format("jdbc")
        .option("url", s"jdbc:sqlite:$dbPath")
        .option("driver", "org.sqlite.JDBC")
        .option("dbtable", table)
        .save()
    else writeDbTableParquet(df, dbPath, table)

  /** Parquet replace-table fallback layout: `<dbPath>.parquet/<table>/` plus
    * a MANIFEST of table names.
    */
  def writeDbTableParquet(df: DataFrame, dbPath: String, table: String): Unit = {
    val dbDir = s"$dbPath.parquet"
    df.write.mode("overwrite").parquet(s"$dbDir/$table")
    val manifest = Paths.get(dbDir, "MANIFEST")
    val existing =
      if (Files.exists(manifest))
        new String(Files.readAllBytes(manifest)).linesIterator.toSeq
      else Seq.empty
    Files.write(manifest, (existing :+ table).distinct.sorted
      .mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  /** S8 — text sink (tutorial surface; reference
    * `tutos/tuto_rdd_pyspark(2).ipynb#30-32` `saveAsTextFile`).
    */
  def writeText(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite").text(dir)

  /** The DISTRIBUTED analog of [[writePerDayCsv]]: Hive-style
    * date-partitioned parquet (`date=YYYY-MM-DD/` subdirs). The per-day CSV
    * writer exists for byte-exact reference parity on driver-sized finals;
    * this is the shape the same fan-out takes at 100 TB — executors write
    * their own partitions, downstream readers get partition pruning on
    * `date` for free.
    */
  def writePartitionedParquet(daily: DataFrame, dir: String): Unit =
    daily.write.mode("overwrite").partitionBy("date").parquet(dir)
}
