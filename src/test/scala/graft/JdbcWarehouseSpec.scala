package graft

import org.apache.spark.sql.{DataFrame, Row}
import graft.ops.{EmissionsEtl, Merge}
import graft.sinks.JdbcWarehouse

/** Parity: the staged-upsert JDBC warehouse (reference
  * `scripts/lambda_handler_warehouse.py:45-101`, embedded Derby standing in
  * for RDS Postgres) produces exactly the table [[Merge.upsert]] produces on
  * the same batch sequence. */
class JdbcWarehouseSpec extends SparkSpec {

  private def batch(rows: Seq[(String, Int, String, String, String, Double, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("Country", "Year", "Scenario", "Category", "Gas", "ReportedValue", "Unit")
  }

  private def canon(df: DataFrame): Set[(String, Int, String, String, String, Double, String)] =
    df.collect().map(r => (r.getString(0), r.getInt(1), r.getString(2),
      r.getString(3), r.getString(4), r.getDouble(5), r.getString(6))).toSet

  private val b0 = batch(Seq(
    ("DE", 2030, "WEM", "Energy", "CO2", 100.0, "kt"),
    ("DE", 2030, "WAM", "Energy", "CO2", 90.0, "kt"),
    ("FR", 2030, "WEM", "Energy", "CH4", 50.0, "kt"),
    ("AT", 2040, "WEM", "Waste", "N2O", 5.0, "kt")))
  // overlaps b0 on two keys (updated values) and adds one new key — the
  // reference's sequential per-file loop: later file wins
  private val b1 = batch(Seq(
    ("DE", 2030, "WEM", "Energy", "CO2", 120.0, "kt"),
    ("FR", 2030, "WEM", "Energy", "CH4", 55.0, "kt"),
    ("PL", 2035, "WAM", "Industry", "CO2", 70.0, "kt")))

  private def sparkSideExpected: DataFrame = {
    val empty = spark.createDataFrame(
      new java.util.ArrayList[Row](), EmissionsEtl.warehouseSchema)
    Merge.upsert(Merge.upsert(empty, b0, EmissionsEtl.mergeKeys),
      b1, EmissionsEtl.mergeKeys)
  }

  test("JDBC staged-MERGE warehouse equals Merge.upsert on the same batches") {
    val url = "jdbc:derby:memory:graftparity;create=true"
    JdbcWarehouse.upsertBatch(b0, url)
    JdbcWarehouse.upsertBatch(b1, url)
    val viaJdbc = JdbcWarehouse.readTable(spark, url)
      .toDF(EmissionsEtl.warehouseSchema.fieldNames: _*)
    assert(canon(viaJdbc) == canon(sparkSideExpected))
    assert(canon(viaJdbc).size == 5) // 4 + 1 new, 2 updated in place
  }

  test("streaming pipeline lands files into the JDBC warehouse end-to-end (reference lifecycle)") {
    import java.nio.file.Files
    val url = "jdbc:derby:memory:graftstreamjdbc;create=true"
    val landing = Files.createTempDirectory("graft_jdbc_landing_")
    val checkpoint = Files.createTempDirectory("graft_jdbc_ckpt_").toString
    val gas = EmissionsEtl.totalGhgRaw
    val header = "CountryCode,Year,Scenario,Category,Gas,Reported Value"
    Files.writeString(landing.resolve("001.csv"), (Seq(header,
      s"""AT,2030,WEM,Energy,"$gas",100.0""",
      s"""DE,2030,WEM,Energy,"$gas",50.0""")).mkString("\n"))
    graft.streaming.UpsertPipeline.runOnceJdbc(spark, landing.toString, url, checkpoint)
    // second file updates AT, adds FR; pipeline picks up only the new file
    Files.writeString(landing.resolve("002.csv"), (Seq(header,
      s"""AT,2030,WEM,Energy,"$gas",200.0""",
      s"""FR,2030,WEM,Energy,"$gas",75.0""")).mkString("\n"))
    graft.streaming.UpsertPipeline.runOnceJdbc(spark, landing.toString, url, checkpoint)
    val table = JdbcWarehouse.readTable(spark, url)
      .toDF(EmissionsEtl.warehouseSchema.fieldNames: _*)
      .collect().map(r => (r.getString(0), r.getDouble(5))).toMap
    assert(table == Map("Austria" -> 200.0, "Germany" -> 50.0, "France" -> 75.0))
  }

  test("JDBC upsert is idempotent and the surrogate id (K5) is stable across re-delivery") {
    val url = "jdbc:derby:memory:graftredeliver;create=true"
    JdbcWarehouse.upsertBatch(b0, url)
    val idsBefore = spark.read.jdbc(url, "\"" + JdbcWarehouse.TableName + "\"",
        new java.util.Properties())
      .select("ID", "COUNTRY", "YEAR", "SCENARIO").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getString(3))).toSet
    JdbcWarehouse.upsertBatch(b0, url) // at-least-once re-delivery
    val after = spark.read.jdbc(url, "\"" + JdbcWarehouse.TableName + "\"",
        new java.util.Properties())
    val idsAfter = after.select("ID", "COUNTRY", "YEAR", "SCENARIO").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getString(3))).toSet
    assert(idsAfter == idsBefore,
      "re-delivered batch must update in place: same rows, same surrogate ids")
    val viaJdbc = JdbcWarehouse.readTable(spark, url)
      .toDF(EmissionsEtl.warehouseSchema.fieldNames: _*)
    assert(canon(viaJdbc) == canon(b0))
  }

  test("a null-key row fails the load loudly and leaves the target untouched (NOT NULL keys)") {
    val url = "jdbc:derby:memory:graftnullkey;create=true"
    JdbcWarehouse.upsertBatch(b0, url)
    // Null Scenario: never matches the key equality, so without the
    // target's NOT NULL constraint each re-delivery would INSERT a fresh
    // duplicate; with it, the load must throw.
    val bad = batch(Seq(("XX", 2030, null, "Energy", "CO2", 1.0, "kt")))
    val e = intercept[Exception] { JdbcWarehouse.upsertBatch(bad, url) }
    assert(e.getMessage != null)
    // Update and insert share one transaction — the failed batch leaves b0 intact.
    val viaJdbc = JdbcWarehouse.readTable(spark, url)
      .toDF(EmissionsEtl.warehouseSchema.fieldNames: _*)
    assert(canon(viaJdbc) == canon(b0))
  }

  private def ids(url: String): Map[(String, Int, String, String, String, String), Int] =
    spark.read.jdbc(url, "\"" + JdbcWarehouse.TableName + "\"", new java.util.Properties())
      .select("ID", "COUNTRY", "YEAR", "SCENARIO", "CATEGORY", "GAS", "UNIT").collect()
      .map(r => (r.getString(1), r.getInt(2), r.getString(3), r.getString(4),
        r.getString(5), r.getString(6)) -> r.getInt(0)).toMap

  test("a batch of 6 or more new keys loads (Derby's identity-column MERGE failed at this size)") {
    val url = "jdbc:derby:memory:graftsixnew;create=true"
    val rows = (0 until 8).map(i => (s"C$i", 2030 + i, "WEM", "Energy", "CO2", i * 10.0, "kt"))
    JdbcWarehouse.upsertBatch(batch(rows), url)
    val viaJdbc = JdbcWarehouse.readTable(spark, url)
      .toDF(EmissionsEtl.warehouseSchema.fieldNames: _*)
    assert(canon(viaJdbc) == rows.toSet)
  }

  test("a reference-size load (~9k keys) lands, and its re-delivery keeps every surrogate id") {
    val url = "jdbc:derby:memory:graftrefsize;create=true"
    val scenarios = Seq("WEM", "WAM", "WOM")
    val rows = for {
      c <- 0 until 30; y <- 2020 until 2050 by 5; s <- scenarios; g <- Seq("CO2", "CH4")
      cat <- Seq("Energy", "Waste", "Industry", "Agriculture", "Transport", "LULUCF", "Total", "Other")
    } yield (f"C$c%02d", y, s, cat, g, (c * 7 + y) * 0.5, "kt")
    assert(rows.size == 8640)
    JdbcWarehouse.upsertBatch(batch(rows), url)
    val first = ids(url)
    assert(first.size == rows.size)
    val updated = rows.map(r => r.copy(_6 = r._6 + 1.0))
    JdbcWarehouse.upsertBatch(batch(updated), url) // re-delivery, new values
    assert(ids(url) == first, "re-delivery must update in place: same rows, same surrogate ids")
    val viaJdbc = JdbcWarehouse.readTable(spark, url)
      .toDF(EmissionsEtl.warehouseSchema.fieldNames: _*)
    assert(canon(viaJdbc) == updated.toSet)
  }
}
