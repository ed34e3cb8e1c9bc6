package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** The engine profile, as [[Bench.session]], so the oracle checks the
    * configuration the bench measures. */
  private[graft] def session(cpus: String): org.apache.spark.sql.SparkSession =
    GraftSession.build("graft-verify", cpus)

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    new java.io.File(outDir).mkdirs()
    // Local-iteration filter (unset in the driver run): comma-separated
    // query names to dump, so one new query can be oracle-checked without
    // re-running all 150+.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    // Jackson escapes quotes, backslashes and every control character, so
    // SQL with a tab or CR still loads as JSON in the oracle compare.
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      graft.tools.Ledger.json(SparkEntry.oracleSql))
    spark.stop()
  }
}
