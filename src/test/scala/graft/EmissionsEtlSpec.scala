package graft

import org.apache.spark.sql.Row
import graft.ops.EmissionsEtl

/** Reference-parity tests for the P1→P8 chain on an EEA-shaped fixture with
  * the edge rows SURVEY.md §5 calls for: nulls in key columns, non-total gas,
  * non-EU country codes, extra columns. */
class EmissionsEtlSpec extends SparkSpec {
  import EmissionsEtl._

  private def fixture = {
    import spark.implicits._
    Seq(
      // CountryCode, Year, Scenario, Category, Gas, Reported Value, Extra
      ("AT", "2030", "WEM", "Energy", totalGhgRaw, "123.5", "x"),
      ("DE", "2025", "WAM", "Waste", totalGhgRaw, "77.0", "y"),
      (null, "2030", "WEM", "Energy", totalGhgRaw, "1.0", "z"),       // null key → dropped
      ("AT", null, "WEM", "Energy", totalGhgRaw, "2.0", "z"),         // null key → dropped
      ("AT", "2030", "WEM", "Energy", "CO2", "3.0", "z"),             // non-total gas → dropped
      ("XX", "2030", "WEM", "Energy", totalGhgRaw, "4.0", "z")        // non-EU code → dropped
    ).toDF("CountryCode", "Year", "Scenario", "Category", "Gas", "Reported Value", "Extra")
  }

  test("transform keeps only valid rows, decodes country, types columns") {
    val out = transform(fixture).orderBy("Country").collect()
    assert(out.toSeq == Seq(
      Row("Austria", 2030, "WEM", "Energy", totalGhgClean, 123.5, unitLabel),
      Row("Germany", 2025, "WAM", "Waste", totalGhgClean, 77.0, unitLabel)))
  }

  test("output schema matches the warehouse DDL") {
    assert(transform(fixture).schema.map(f => (f.name, f.dataType)) ==
      warehouseSchema.map(f => (f.name, f.dataType)))
  }

  test("literal-map decode equals a join against `countryCodeMap`") {
    import spark.implicits._
    val pre = renameReportedValue(normalizeGas(deriveUnit(
      filterGasAndCountries(dropNullKeys(project(fixture))))))
    val dim = countryCodeMap.toSeq.toDF("CountryCode", "Country")
    val viaMap = finalShape(decodeCountryLiteralMap(pre)).orderBy("Country").collect()
    val viaJoin = finalShape(pre.join(dim, Seq("CountryCode"), "left"))
      .orderBy("Country").collect()
    assert(viaMap.toSeq == viaJoin.toSeq)
    assert(viaMap.map(_.getString(0)).toSeq == Seq("Austria", "Germany"))
  }

  test("unknown code under literal map decodes to null (reference map-miss semantics)") {
    import spark.implicits._
    val df = Seq(("ZZ", "x")).toDF("CountryCode", "other")
    val out = decodeCountryLiteralMap(df).select("Country").collect()
    assert(out.head.isNullAt(0))
  }
}
