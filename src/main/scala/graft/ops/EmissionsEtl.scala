package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reference-parity ETL chain (SURVEY.md §2 P1–P8): the transform applied by
  * the reference's Glue job (`scripts/etl_process.py:71-102`) to the EEA
  * greenhouse-gas projections CSV, re-expressed as composable Spark ops.
  *
  * Behavioral notes preserved from the reference:
  *  - input is read untyped (all strings, header, comma — `:71-74`);
  *  - null-drop is `how='any'` over exactly the 6 projected columns (`:83`);
  *  - the `withColumnRenamed` of a cell *value* at `:90` is a silent no-op
  *    bug in the reference and intentionally NOT reproduced (SURVEY.md §7).
  */
object EmissionsEtl {

  val totalGhgRaw = "Total GHG emissions (ktCO2e)"
  val totalGhgClean = "Total GHG emissions"
  val unitLabel = "kt CO2 equivalent"

  /** 30-entry country dimension (`scripts/etl_process.py:33-64`), decoded
    * by literal map as the reference does (P7); past trivial cardinality it
    * would be a broadcast-joined dim table (the reference's TODO, `:32`). */
  val countryCodeMap: Map[String, String] = Map(
    "AT" -> "Austria", "BE" -> "Belgium", "BG" -> "Bulgaria",
    "CH" -> "Switzerland", "CY" -> "Cyprus", "CZ" -> "Czech Republic",
    "DE" -> "Germany", "DK" -> "Denmark", "EE" -> "Estonia",
    "ES" -> "Spain", "FI" -> "Finland", "FR" -> "France",
    "GR" -> "Greece", "HR" -> "Croatia", "HU" -> "Hungary",
    "IE" -> "Ireland", "IS" -> "Iceland", "IT" -> "Italy",
    "LT" -> "Lithuania", "LU" -> "Luxembourg", "LV" -> "Latvia",
    "MT" -> "Malta", "NL" -> "Netherlands", "NO" -> "Norway",
    "PL" -> "Poland", "PT" -> "Portugal", "RO" -> "Romania",
    "SE" -> "Sweden", "SI" -> "Slovenia", "SK" -> "Slovakia")

  val projectedCols: Seq[String] =
    Seq("CountryCode", "Year", "Scenario", "Category", "Gas", "Reported Value")

  /** Untyped read schema (the reference uses no inferSchema — every column
    * lands as string; typing happens at warehouse load). */
  val rawSchema: StructType = StructType(projectedCols.map(StructField(_, StringType)))

  /** Warehouse output schema (`scripts/lambda_handler_warehouse.py:53-65`). */
  val warehouseSchema: StructType = StructType(Seq(
    StructField("Country", StringType),
    StructField("Year", IntegerType),
    StructField("Scenario", StringType),
    StructField("Category", StringType),
    StructField("Gas", StringType),
    StructField("ReportedValue", DoubleType),
    StructField("Unit", StringType)))

  val mergeKeys: Seq[String] =
    Seq("Country", "Year", "Scenario", "Category", "Gas", "Unit")

  /** P1: keep exactly the 6 touched columns (`scripts/etl_process.py:82`);
    * `carryCols` lets pipeline plumbing (e.g. source-file lineage) ride
    * along without widening the operator's contract. */
  def project(df: DataFrame, carryCols: Seq[String] = Nil): DataFrame =
    df.select((projectedCols ++ carryCols).map(col): _*)

  /** P2: drop rows with a null in any projected column (`:83`). */
  def dropNullKeys(df: DataFrame): DataFrame =
    df.na.drop("any", projectedCols)

  /** P3: equality + IN-list predicate (`:84-85`). */
  def filterGasAndCountries(df: DataFrame): DataFrame =
    df.filter(col("Gas") === totalGhgRaw &&
      col("CountryCode").isin(countryCodeMap.keys.toSeq: _*))

  /** P4: conditional Unit enrichment (`:86-87`). */
  def deriveUnit(df: DataFrame): DataFrame =
    df.withColumn("Unit",
      when(col("Gas") === totalGhgRaw, lit(unitLabel))
        .otherwise(lit(null).cast(StringType)))

  /** P5: gas label normalization (`:88-89`). */
  def normalizeGas(df: DataFrame): DataFrame =
    df.withColumn("Gas",
      when(col("Gas") === totalGhgRaw, lit(totalGhgClean)).otherwise(col("Gas")))

  /** P6: storable column name (`:90-91`); the `:90` no-op is not reproduced. */
  def renameReportedValue(df: DataFrame): DataFrame =
    df.withColumnRenamed("Reported Value", "ReportedValue")

  /** P7: country decode by the reference's literal map (`:67,92`), a
    * per-row lookup with no join; a map miss decodes to null. */
  def decodeCountryLiteralMap(df: DataFrame): DataFrame = {
    val mapExpr = typedLit(countryCodeMap)
    df.withColumn("Country", mapExpr(col("CountryCode")))
  }

  /** P8 + typing: final column order (`:93`) with warehouse types applied
    * (the reference defers typing to the Postgres DDL). */
  def finalShape(df: DataFrame, carryCols: Seq[String] = Nil): DataFrame =
    df.select(Seq(
      col("Country"),
      col("Year").cast(IntegerType).as("Year"),
      col("Scenario"), col("Category"), col("Gas"),
      col("ReportedValue").cast(DoubleType).as("ReportedValue"),
      col("Unit")) ++ carryCols.map(col): _*)

  /** Full P1→P8 chain — the reference's `transform_data`
    * (`scripts/etl_process.py:78-95`). Narrow throughout: scan → project →
    * filter → case-when → map lookup; one stage, no join, no shuffle. */
  def transform(raw: DataFrame, carryCols: Seq[String] = Nil): DataFrame =
    finalShape(decodeCountryLiteralMap(renameReportedValue(normalizeGas(deriveUnit(
      filterGasAndCountries(dropNullKeys(project(raw, carryCols))))))), carryCols)
}
