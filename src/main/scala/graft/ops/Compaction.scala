package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{SaveMode, SparkSession}

/** Small-files compaction — the maintenance pass every file-based warehouse
  * needs: streaming/incremental sinks (e.g. the versioned upsert pipeline)
  * accumulate many small part files; scans then pay per-file open/footer
  * costs. Compaction rewrites a table directory into ~`targetBytes` files.
  *
  * At cluster scale the same code runs per partition directory; the repartition
  * count derives from actual data size, not a guess.
  */
object Compaction {

  def dataBytes(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).filter(_.isFile)
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
  }

  def parquetFileCount(spark: SparkSession, dir: String): Int = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
  }

  /** Rewrite `dir` (a flat parquet table directory) into
    * ceil(size/targetBytes) files via an exchange-free coalesce when
    * shrinking. NOT atomic: the swap is two directory renames, so a reader
    * listing `dir` between them sees a missing directory, and a crash
    * between them leaves the data at `dir + ".compact-old"` (recover by
    * renaming it back). Use [[compactVersioned]] on a
    * [[VersionedTable]]-layout table for an atomic maintenance pass —
    * this flat-dir variant exists for tables whose path readers hold
    * directly and cannot re-resolve. */
  def compact(spark: SparkSession, dir: String,
              targetBytes: Long = 128L * 1024 * 1024): Unit = {
    val bytes = math.max(dataBytes(spark, dir), 1L)
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val df = spark.read.parquet(dir)
    val tmp = dir.stripSuffix("/") + ".compact-tmp"
    df.coalesce(nFiles).write.mode(SaveMode.Overwrite).parquet(tmp)
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bak = new Path(dir.stripSuffix("/") + ".compact-old")
    // Hadoop FS signals rename/delete failure by RETURNING FALSE, not by
    // throwing. Every step must be checked: the original unchecked chain
    // could have a failed tmp→dir restore (object-store rename quirk, a
    // concurrent re-creation of `dir`) fall through to `fs.delete(bak)` —
    // deleting the only remaining copy of the table while `dir` does not
    // exist. Now: a failed backup rename aborts with the table untouched;
    // a failed restore rename puts the backup BACK (and only if that also
    // fails leaves it at .compact-old, which the error names); the backup
    // is deleted only after the restore provably succeeded.
    fs.delete(bak, true)
    if (!fs.rename(p, bak))
      throw new java.io.IOException(
        s"compact: could not move $dir aside to $bak; table left untouched")
    if (!fs.rename(new Path(tmp), p)) {
      val restored = fs.rename(bak, p)
      throw new java.io.IOException(
        if (restored)
          s"compact: could not move compacted $tmp into place; original restored at $dir"
        else
          s"compact: could not move $tmp into place AND the original is still at $bak — rename it back to $dir manually")
    }
    fs.delete(bak, true) // best-effort: leftover backup is harmless
    ()
  }

  /** Atomic compaction for a [[VersionedTable]]-layout table (`root/v=N`):
    * the latest committed version is rewritten into ~`targetBytes` files as
    * version N+1, which becomes visible only when its `_SUCCESS` marker
    * lands. A reader resolving through [[VersionedTable.latest]] at any
    * point sees the old complete version or the new complete one — no
    * rename window, no missing-directory state; a mid-write crash leaves an
    * uncommitted directory that the next attempt overwrites. Old versions
    * are vacuumed after the new commit (pass `keepOld = true` to defer).
    *
    * SINGLE WRITER REQUIRED: the next version number comes from a directory
    * listing, so two concurrent writers (e.g. compaction racing an ingest
    * commit) can resolve the same `v=N+1` and interleave part files under one
    * `_SUCCESS` marker. Run maintenance from the same scheduler slot as the
    * table's writer (as [[graft.streaming.UpsertPipeline]] does — foreachBatch
    * is serialized per query), or serialize externally. Multi-writer safety
    * needs a real commit log (a table format), which this plain-directory
    * layout deliberately does not reimplement. */
  def compactVersioned(spark: SparkSession, root: String,
                       targetBytes: Long = 128L * 1024 * 1024,
                       keepOld: Boolean = false): Unit = {
    VersionedTable.latest(spark, root).foreach { case (_, latestPath) =>
      val bytes = math.max(dataBytes(spark, latestPath.toString), 1L)
      val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
      VersionedTable.commit(spark, root,
        spark.read.parquet(latestPath.toString).coalesce(nFiles))
      if (!keepOld) VersionedTable.vacuum(spark, root)
    }
  }
}
