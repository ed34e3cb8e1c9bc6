package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Versioned parquet table layout: `root/v=N` directories, the highest
  * COMMITTED version is current. A version counts as committed only once its
  * `_SUCCESS` marker exists — Spark's file committer writes it after all
  * part files are in place, so readers resolving through [[latest]] see the
  * old version or the new one, never a half-written directory. This is the
  * same swap discipline a table format's commit log provides, reduced to
  * what a plain object store offers: one atomic marker-file creation.
  *
  * Writers: [[commit]] writes the next version with SaveMode.Overwrite (a
  * crashed earlier attempt without `_SUCCESS` is invisible to readers and
  * gets overwritten by the retry), then the table is live. No rename window.
  *
  * ONE writer at a time per table: the next version resolves from a
  * directory listing, so concurrent writers can claim the same version and
  * interleave their part files. Readers are unrestricted; writer/maintenance
  * serialization is the caller's job (see
  * [[graft.ops.Compaction.compactVersioned]]).
  */
object VersionedTable {

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Committed (`_SUCCESS`-marked) versions, ascending. */
  def committedVersions(spark: SparkSession, root: String): Seq[(Int, Path)] = {
    val p = new Path(root)
    val f = fs(spark, p)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      // Non-numeric v= dirs (an operator's v=backup, a tool's v=5.bak) are
      // skipped, not fatal: .toInt here bricked every read/latest/vacuum of
      // a table whose data was fully intact.
      .flatMap(s => s.getPath.getName.stripPrefix("v=").toIntOption
        .map(_ -> s.getPath))
      .filter { case (_, path) => f.exists(new Path(path, "_SUCCESS")) }
      .sortBy(_._1)
  }

  /** Highest committed version, if any. */
  def latest(spark: SparkSession, root: String): Option[(Int, Path)] =
    committedVersions(spark, root).lastOption

  /** Current table contents; empty with `schema` when nothing is committed.
    * A committed version reads with its own schema (a column a later
    * version added surfaces), taken from one part file's footer on the
    * driver: handing no schema to the reader runs Spark's footer inference,
    * a one-task job per read. */
  def read(spark: SparkSession, root: String, schema: StructType): DataFrame =
    latest(spark, root) match {
      case Some((_, path)) =>
        versionSchema(spark, path).fold(spark.read)(spark.read.schema)
          .parquet(path.toString)
      case None => spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    }

  /** The schema Spark's parquet inference gives a version directory, read
    * from the footer of its first data file (one job writes a version, so
    * its part files share one schema); None when it holds no data file. */
  private def versionSchema(spark: SparkSession, dir: Path): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    fs(spark, dir).listStatus(dir).find { s =>
      val name = s.getPath.getName
      s.isFile && !name.startsWith("_") && !name.startsWith(".")
    }.map { part =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(part, conf))
      val footer = try reader.getFooter finally reader.close()
      ParquetFileFormat.readSchemaFromFooter(new Footer(part.getPath, footer),
        new ParquetToSparkSchemaConverter(SQLConf.get))
    }
  }

  /** Time travel: the table's contents at a specific committed version.
    * Old versions stay readable until [[vacuum]] — the audit/reproducibility
    * read the versioned layout exists for (pin a training run to the exact
    * table state it consumed). Throws if the version was never committed or
    * has been vacuumed. */
  def readAt(spark: SparkSession, root: String, version: Int): DataFrame =
    committedVersions(spark, root).find(_._1 == version) match {
      case Some((_, path)) => spark.read.parquet(path.toString)
      case None => throw new NoSuchElementException(
        s"no committed version v=$version under $root")
    }

  /** Directory for the next version (latest committed + 1 — an uncommitted
    * leftover at that number is a crashed attempt; overwrite it). */
  private def nextVersionPath(spark: SparkSession, root: String): String = {
    val next = latest(spark, root).map(_._1 + 1).getOrElse(0)
    s"${root.stripSuffix("/")}/v=$next"
  }

  /** Write `data` as the table's next version and return that version's
    * directory; the version is live once the write's `_SUCCESS` lands. */
  def commit(spark: SparkSession, root: String, data: DataFrame): String = {
    val path = nextVersionPath(spark, root)
    data.write.mode(SaveMode.Overwrite).parquet(path)
    path
  }

  /** Drop all committed versions below the latest plus any uncommitted
    * leftovers — run after readers of old versions have drained. */
  def vacuum(spark: SparkSession, root: String): Unit = {
    val p = new Path(root)
    val f = fs(spark, p)
    if (!f.exists(p)) return
    val keep = latest(spark, root).map(_._2.getName).toSet
    f.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .filterNot(s => keep.contains(s.getPath.getName))
      .foreach(s => f.delete(s.getPath, true))
  }
}
