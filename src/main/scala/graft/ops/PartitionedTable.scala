package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Hash-bucket-partitioned warehouse table with touched-partition-only
  * merge — the layout a 100 TB upsert target needs (VERDICT r13 #2).
  *
  * The problem it solves: a whole-table merge (one last-write-wins window
  * in `UpsertPipeline.commitBatch`, committed by [[VersionedTable]] as a
  * complete new copy per merge) is correct and atomic but writes
  * the FULL target per batch. At 100 TB with a 10 GB nightly batch that is
  * a 10,000× write amplification. The reference's Postgres target never
  * paid it (`ON CONFLICT` touches only conflicting heap pages,
  * `scripts/lambda_handler_warehouse.py:95-101`); this layout restores the
  * property on an object store:
  *
  *  - rows live under `root/__graft_bucket=B/`, `B = pmod(xxhash64(keys),
  *    nBuckets)` — a stable function of the natural key, so a key's row can
  *    only ever live in one partition;
  *  - a merge computes the update batch's touched buckets (≤ nBuckets ints
  *    — driver-bounded by construction), reads ONLY those partitions
  *    (partition pruning on the scan), merges with [[Merge.upsert]], and
  *    writes back with dynamic partition overwrite — untouched partitions'
  *    files are never read, rewritten, or deleted.
  *
  * Per-merge cost is therefore O(touched partitions), not O(table): with
  * well-spread natural keys a batch touching k × rowsPerBucket rows reads
  * and rewrites ~k buckets. Size `nBuckets` so one bucket ≈ one comfortable
  * task (hundreds of MB at production scale); more buckets = finer pruning
  * but more files.
  *
  * Commit discipline: the merged frame is eagerly materialized (local
  * checkpoint — bounded by the touched partitions, the same barrier the
  * iterative kernels use) before the overwrite, so the write never reads
  * the files it is replacing; Spark's dynamic-overwrite commit then stages
  * new partition dirs and swaps them at job commit. The swap is atomic per
  * partition, not across partitions — ONE writer at a time per table
  * (the [[VersionedTable]] contract), and a production deployment swaps
  * this file-level commit for a table format's transactional MERGE while
  * keeping the identical bucket-pruned plan.
  */
object PartitionedTable {

  /** Partition column name (never visible through [[read]]). */
  val BucketCol = "__graft_bucket"

  private val MetaFile = "_graft_partitioned_table"

  /** The bucket of a key tuple: stable, null-tolerant (xxhash64 folds only
    * non-null inputs; Merge.upsert's null-keys-never-match semantics are
    * unaffected — bucketing only needs determinism). */
  def bucketExpr(keys: Seq[String], nBuckets: Int): Column =
    pmod(xxhash64(keys.map(col): _*), lit(nBuckets.toLong)).cast("int")

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def writeMeta(spark: SparkSession, root: String,
                        keys: Seq[String], nBuckets: Int): Unit = {
    // Staged-then-renamed (the VersionedTable/HttpIngest discipline): a
    // direct create at the final path makes a crash between create and
    // close observable as an EMPTY marker — exists()==true, meta() throws —
    // permanently failing every later merge. The dot prefix keeps the
    // staging file invisible to parquet dir scans while it's in flight.
    val p = new Path(root, MetaFile)
    val tmp = new Path(root, s".$MetaFile.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val f = fs(spark, p)
    val out = f.create(tmp, true)
    try out.write(s"nBuckets=$nBuckets\nkeys=${keys.mkString(",")}\n".getBytes("UTF-8"))
    finally out.close()
    // HDFS/local rename is atomic; object stores emulate with copy+delete,
    // where the worst crash outcome is a stale .tmp sibling — never a
    // half-written marker at the final path.
    if (!f.rename(tmp, p)) {
      f.delete(tmp, false)
      throw new java.io.IOException(s"could not publish table meta at $p")
    }
  }

  private def parseMeta(text: String): Option[(Seq[String], Int)] = {
    val kv = text.linesIterator.filter(_.contains('=')).map { l =>
      val Array(k, v) = l.split("=", 2); k -> v
    }.toMap
    for {
      keys <- kv.get("keys").map(_.split(",").toIndexedSeq)
      n <- kv.get("nBuckets").flatMap(_.toIntOption)
    } yield (keys, n)
  }

  /** Whether a table (its meta marker FILE) exists at `root`. The marker is
    * written AFTER the initial data and published by atomic rename, so a
    * crashed half-created table has NO marker, reads as absent, and the
    * retrying creator's static overwrite wipes it. A PRESENT marker counts
    * as existing even if unreadable: treating corruption as absence would
    * let a writer's exists→create branch silently wipe an ESTABLISHED
    * table whose marker was damaged externally — corruption must fail the
    * loud way, in [[meta]]. */
  def exists(spark: SparkSession, root: String): Boolean = {
    val p = new Path(root, MetaFile)
    fs(spark, p).exists(p)
  }

  /** (keys, nBuckets) recorded at [[create]] time. Throws (rather than
    * pretending absence) on a present-but-unparseable marker: the atomic
    * rename in [[writeMeta]] means our own writer cannot produce one, so an
    * unreadable marker is external damage to a table that presumably still
    * holds data — an operator decision, never an automatic overwrite. */
  def meta(spark: SparkSession, root: String): (Seq[String], Int) = {
    val p = new Path(root, MetaFile)
    val f = fs(spark, p)
    if (!f.exists(p))
      throw new IllegalStateException(s"no $MetaFile marker under $root — table absent")
    val in = f.open(p)
    val text =
      try new String(in.readAllBytes(), "UTF-8")
      finally in.close()
    parseMeta(text).getOrElse(throw new IllegalStateException(
      s"unreadable $MetaFile marker under $root — the table's data may be intact; " +
        "refusing to treat corruption as absence (re-create deliberately to rebuild)"))
  }

  /** Initial full materialization of `df` as a bucket-partitioned table.
    * One shuffle on the bucket (so each bucket lands as one coherent file
    * set, not #tasks fragments). `df` must be unique on `keys`. */
  def create(spark: SparkSession, root: String, df: DataFrame,
             keys: Seq[String], nBuckets: Int): Unit = {
    require(nBuckets > 0, "nBuckets must be positive")
    require(keys.nonEmpty, "at least one merge key")
    require(!df.columns.contains(BucketCol), s"$BucketCol is reserved")
    // The marker serializes keys as k=v / comma-separated lines; a key name
    // containing the delimiters would round-trip corrupted.
    require(keys.forall(k => !k.exists(c => c == ',' || c == '=' || c == '\n')),
      s"merge key names must not contain ',', '=' or newline: $keys")
    // Explicit partition count: a bare repartition(col) lets AQE coalesce
    // the write shuffle down to ONE partition whenever the table is under
    // the advisory size — a SERIAL write of all nBuckets files (measured
    // 0.53 s of q202's wall at sf0.1). Each bucket still lands wholly in
    // one task (hash partitioning of the bucket value), so the
    // one-file-per-bucket invariant is unchanged. Note the width is
    // APPROXIMATE: partitions receive hash(bucketId) % nBuckets, not
    // bucketId itself, so ~1/e of the nBuckets tasks are expected empty
    // and the fullest writes ~3 buckets serially — still ~0.6·nBuckets
    // effective writers vs AQE's one.
    df.withColumn(BucketCol, bucketExpr(keys, nBuckets))
      .repartition(nBuckets, col(BucketCol))
      .write.mode(SaveMode.Overwrite).partitionBy(BucketCol).parquet(root)
    writeMeta(spark, root, keys, nBuckets)
  }

  /** Current table contents (bucket column hidden). */
  def read(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(root).drop(BucketCol)

  /** Last-write-wins merge of `updates` (unique on the table's keys, same
    * data schema) — reads and rewrites ONLY the partitions the update
    * batch's keys hash into. Idempotent: re-merging the same batch leaves
    * the same table. */
  def merge(spark: SparkSession, root: String, updates: DataFrame): Unit = {
    val (keys, nBuckets) = meta(spark, root)
    // Materialize the update batch ONCE: it feeds the touched-bucket
    // collect, the upsert's anti-join probe, and the upsert's union — an
    // uncached lazy frame (e.g. a transform + window dedup)
    // would re-run its whole upstream chain three times per commit.
    // Batch-sized by contract, so the checkpoint is the cheap side.
    val up = graft.JobStage.named(spark, "partitioned-table: update batch checkpoint") {
      // Null-key update rows are dropped, not merged: Merge.upsert's
      // anti-join never matches null keys (SQL semantics), so such a row
      // would be UNIONED IN alongside any existing copy — every
      // re-delivery of the batch appending one more duplicate, breaking
      // this method's idempotence contract. A keyed warehouse row with a
      // null key is unaddressable by definition; producers that need such
      // rows key them with a sentinel.
      Materialize(updates.filter(keys.map(col(_).isNotNull).reduce(_ && _))
        .withColumn(BucketCol, bucketExpr(keys, nBuckets)))
    }
    // Touched-bucket set: ≤ nBuckets ints, driver-bounded by construction.
    val touched = graft.JobStage.named(spark, "partitioned-table: touched-bucket collect") {
      up.select(BucketCol).distinct().collect().map(_.getInt(0))
    }
    if (touched.isEmpty) return
    val target = spark.read.parquet(root)
      .filter(col(BucketCol).isin(touched.map(Integer.valueOf).toIndexedSeq: _*))
    val merged = graft.JobStage.named(spark, s"partitioned-table: merge ${touched.length} touched buckets") {
      // Materialization barrier (bounded by the touched partitions): the
      // overwrite below replaces the very files the merge reads, so the
      // result must exist before the first old file is deleted — and a
      // lineage-truncated frame is also what lets Spark accept a write
      // onto a path the original plan scanned.
      Materialize(Merge.upsert(target, up.select(target.columns.map(col): _*), keys))
    }
    graft.JobStage.named(spark, s"partitioned-table: dynamic overwrite ${touched.length} buckets") {
      merged
        // touched-bucket-wide write parallelism, approximate for the same
        // hash-collision reason as create's (same rationale too: AQE would
        // coalesce the sub-advisory shuffle to one serial writer)
        .repartition(touched.length, col(BucketCol))
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(BucketCol)
        .parquet(root)
    }
  }
}
