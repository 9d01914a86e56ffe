package graft.freshkart

import java.nio.file.{Files, Paths}

import org.scalatest.matchers.should.Matchers
import graft.SparkSuite

/** S7 — the SQLite sink probe. In this offline environment no sqlite-jdbc
  * jar is resolvable (Spark ships Derby only), so the expected state here is
  * `sqliteAvailable == false` + the Parquet fallback; the branch for a
  * present driver is exercised end-to-end the moment a jar appears on the
  * classpath (then this spec round-trips the literal `.db` file). Generic
  * JDBC replace-table itself is proven by io_jdbc_roundtrip on embedded
  * Derby.
  */
class SqliteProbeSpec extends SparkSuite with Matchers {

  test("writeDbTable: literal sqlite when driver present, parquet fallback otherwise") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    val out = Files.createTempDirectory("sqlite-probe").toString
    val dbPath = s"$out/probe.db"
    Sinks.writeDbTable(df, dbPath, "t1")
    if (Sinks.sqliteAvailable) {
      // a real .db file exists and round-trips through the same driver
      Files.exists(Paths.get(dbPath)) shouldBe true
      val back = spark.read.format("jdbc")
        .option("url", s"jdbc:sqlite:$dbPath")
        .option("driver", "org.sqlite.JDBC")
        .option("dbtable", "t1")
        .load()
      back.count() shouldBe 2
    } else {
      // documented offline state: no driver anywhere on the classpath …
      intercept[ClassNotFoundException](Class.forName("org.sqlite.JDBC"))
      // … and the fallback layout holds the table + manifest
      Files.exists(Paths.get(dbPath)) shouldBe false
      spark.read.parquet(s"$dbPath.parquet/t1").count() shouldBe 2
      new String(Files.readAllBytes(Paths.get(s"$dbPath.parquet/MANIFEST"))).trim shouldBe "t1"
    }
    graft.Scratch.rm(new java.io.File(out))
  }
}
