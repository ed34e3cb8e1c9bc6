package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.ops.{EmissionsEtl, Merge}

/** The reference's complete event-driven pipeline (SURVEY.md §3.1+§3.2) as
  * one Structured Streaming job: file lands in a watched directory → P1-P8
  * transform → keyed last-write-wins merge into a versioned parquet
  * warehouse table.
  *
  * Semantics preserved from the reference:
  *  - at-least-once delivery + idempotent merge ⇒ effectively-once results
  *    (`scripts/lambda_handler_warehouse.py:95-101`);
  *  - later-arriving files win on key conflict (the sequential per-file loop
  *    at `:79`) — ARRIVAL order is imposed explicitly via
  *    `_metadata.file_modification_time` (path as tiebreak); stored rows
  *    arrive before every file, and ONE window resolves them with the batch
  *    (one shuffle, one write per micro-batch, as in [[runOnceCdc]]);
  *  - the warehouse table is readable at every point (versioned directories,
  *    latest-complete wins; a real deployment swaps in a table format's
  *    atomic commit, but the merge operator is identical).
  */
object UpsertPipeline {

  /** Arrival order of a batch row: its landing file's modification time,
    * then its path. Stored rows carry nulls, which sort last on `desc`. */
  private val Arrival = Seq("__file_ts", "__file")

  /** Latest row per merge key by arrival, arrival columns dropped. */
  private def latestByArrival(df: DataFrame): DataFrame =
    Merge.latestPerKey(df, EmissionsEtl.mergeKeys, Arrival).drop(Arrival: _*)

  /** Next version: stored rows (null arrival) and `batch` in one window. */
  private def commitArrivals(spark: SparkSession, warehouseDir: String, batch: DataFrame): Unit =
    latestByArrival(currentTable(spark, warehouseDir)
        .unionByName(batch, allowMissingColumns = true))
      .write.mode(SaveMode.Overwrite)
      .parquet(graft.ops.VersionedTable.nextVersionPath(spark, warehouseDir))

  /** Latest committed warehouse state (empty with the warehouse schema if
    * nothing has been committed yet). Resolution and the `_SUCCESS`-gated
    * commit discipline live in [[graft.ops.VersionedTable]]. */
  def currentTable(spark: SparkSession, warehouseDir: String): DataFrame =
    graft.ops.VersionedTable.read(spark, warehouseDir, EmissionsEtl.warehouseSchema)

  /** Merge one key-unique batch into the warehouse (new version dir) by
    * [[runOnce]]'s one window: `updates` get a constant non-null arrival, so
    * each beats its key's stored row (null arrival, which sorts last).
    * Keys are non-null after P2/P3; the window would resolve null-key rows
    * as one key, where `Merge.upsert` keeps them side by side. */
  def commitBatch(spark: SparkSession, warehouseDir: String, updates: DataFrame): Unit =
    commitArrivals(spark, warehouseDir,
      updates.select(col("*"), current_timestamp().as("__file_ts"), lit("").as("__file")))

  /** Merge one transformed batch into a HASH-BUCKET-PARTITIONED warehouse
    * ([[graft.ops.PartitionedTable]]): first batch creates the layout,
    * every later batch reads and rewrites ONLY the partitions its keys
    * hash into — per-batch write cost is O(touched buckets), not O(table).
    * This is the 100 TB form of [[commitBatch]], whose versioned commit
    * rewrites the full target per merge; the reference's Postgres
    * `ON CONFLICT` had the touched-pages-only property natively
    * (`scripts/lambda_handler_warehouse.py:95-101`). */
  def commitBatchPartitioned(spark: SparkSession, warehouseRoot: String,
                             transformed: DataFrame, nBuckets: Int = 16): Unit =
    if (!graft.ops.PartitionedTable.exists(spark, warehouseRoot))
      graft.ops.PartitionedTable.create(spark, warehouseRoot, transformed,
        EmissionsEtl.mergeKeys, nBuckets)
    else graft.ops.PartitionedTable.merge(spark, warehouseRoot, transformed)

  /** [[runOnce]] with the partitioned warehouse sink: identical pipeline
    * semantics (at-least-once delivery + idempotent LWW merge ⇒
    * effectively-once), touched-partition-only write amplification. */
  def runOncePartitioned(spark: SparkSession, landingDir: String,
                         warehouseRoot: String, checkpointDir: String,
                         nBuckets: Int = 16): Unit =
    runEtlPipeline(spark, landingDir, checkpointDir) { batch =>
      commitBatchPartitioned(spark, warehouseRoot, latestByArrival(batch), nBuckets)
    }

  /** Same event-driven pipeline, but the sink is the JDBC warehouse — the
    * reference's actual target (Postgres RDS; embedded Derby in tests).
    * `foreachBatch` + the transactional staged upsert give the same
    * at-least-once + idempotent ⇒ effectively-once contract as the parquet
    * path: a re-delivered batch MERGEs to the same state. */
  def runOnceJdbc(spark: SparkSession, landingDir: String, jdbcUrl: String,
                  checkpointDir: String): Unit =
    runEtlPipeline(spark, landingDir, checkpointDir) { batch =>
      graft.sinks.JdbcWarehouse.upsertBatch(latestByArrival(batch), jdbcUrl)
    }

  /** The shared CSV-landing → P1-P8 transform core of the upsert
    * pipelines, which differ only in the sink. The sink gets the batch with
    * its [[Arrival]] columns and resolves it by [[latestByArrival]].
    *
    * "Later file wins" means ARRIVAL order, so the conflict rule orders by
    * the file's modification time with the path as a pure tiebreak —
    * ordering by path alone made "file_9.csv" beat a later-landed
    * "file_10.csv" lexicographically. */
  private def runEtlPipeline(spark: SparkSession, landingDir: String,
                             checkpointDir: String)
                            (sink: DataFrame => Unit): Unit = {
    val raw = spark.readStream
      .schema(EmissionsEtl.rawSchema)
      .option("header", "true")
      .option("delimiter", ",")
      .csv(landingDir)
      .withColumn("__file_ts", col("_metadata.file_modification_time"))
      .withColumn("__file", col("_metadata.file_path"))
    val q = raw.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.JobStage.named(spark, s"upsert-pipeline: transform+merge commit (batch $batchId)") {
          sink(EmissionsEtl.transform(batch, carryCols = Arrival))
        }
        ()
      }
      .start()
    q.awaitTermination()
  }

  /** CDC variant of the pipeline: the landing directory receives operation
    * logs (data columns + a monotone sequence + an I/U/D op), and each
    * micro-batch is resolved into the versioned warehouse by per-key
    * max-sequence-wins — merge-with-deletes, the Debezium/DMS consumption
    * shape.
    *
    * The warehouse stores the FULL resolution state: data columns plus the
    * per-key winning (seq, op), TOMBSTONES INCLUDED — the compacted-log
    * layout. An earlier form stripped seq/op and physically dropped deleted
    * keys, which made cross-run resolution impossible under out-of-order
    * delivery: a late-landing file carrying OLDER sequence numbers rolled a
    * committed key back (the stored row's seq read as -infinity), and a
    * re-delivered pre-delete update resurrected a deleted key (nothing
    * recorded the delete). With stored seq + tombstones, the table is a
    * pure function of the SET of delivered ops in any arrival order — so
    * at-least-once, out-of-order file delivery yields effectively-once
    * state. Consumers read [[currentCdcTable]] (tombstones filtered,
    * bookkeeping dropped). Tombstone retention is the standard price;
    * a deployment compacts them out once the producer's lateness horizon
    * has provably passed. */
  def runOnceCdc(spark: SparkSession, landingDir: String, warehouseDir: String,
                 checkpointDir: String,
                 logSchema: org.apache.spark.sql.types.StructType,
                 keys: Seq[String], seqCol: String, opCol: String): Unit = {
    val raw = spark.readStream
      .schema(logSchema)
      .option("header", "true")
      .csv(landingDir)
    val q = raw.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val state = graft.ops.VersionedTable.read(spark, warehouseDir, logSchema)
        graft.JobStage.named(spark, s"cdc-pipeline: resolve+commit (batch $batchId)") {
          Merge.latestPerKey(state.unionByName(batch), keys, Seq(seqCol))
            .write.mode(SaveMode.Overwrite)
            .parquet(graft.ops.VersionedTable.nextVersionPath(spark, warehouseDir))
        }
        ()
      }
      .start()
    q.awaitTermination()
  }

  /** Consumer view of a [[runOnceCdc]] warehouse: live rows only (delete
    * tombstones filtered out), log bookkeeping columns dropped. */
  def currentCdcTable(spark: SparkSession, warehouseDir: String,
                      logSchema: org.apache.spark.sql.types.StructType,
                      seqCol: String, opCol: String): DataFrame =
    graft.ops.VersionedTable.read(spark, warehouseDir, logSchema)
      .filter(col(opCol) =!= "D")
      .drop(seqCol, opCol)

  /** Incremental-view maintenance over the event stream (the streaming form
    * of q92's refresh algebra): each micro-batch folds its PARTIAL
    * aggregate state (count, raw sum) per (day, event_type) into a
    * CUMULATIVE partial, and the maintained rollup is that cumulative
    * state finalized — the event history is never rescanned (partials are
    * rollup-sized: bounded by days × types, not by events).
    *
    * Cumulative dirs are batchId-KEYED (micro_batch=N, overwritten on
    * replay) — the KmeansMonitor device — because foreachBatch is
    * at-least-once: folding a replayed batch's partial into state that
    * already contains it would double-count (an earlier form did exactly
    * that on crash-resume: additive folds are NOT replay-idempotent).
    * Batch N reads ONLY the newest dir strictly below N (so a replayed
    * attempt's own half-written dir is never its input) and writes dir N
    * = that state + its own partial; per-batch cost is therefore O(rollup
    * size), not O(#batches) — the pre-round-13 form re-read EVERY
    * micro_batch=* dir per batch and never pruned, so a long-running
    * deployment accrued one dir per batch forever. Dirs strictly below
    * the fold source are garbage: every future read (including a replay
    * of N) needs at most the newest-below-N dir, so they are deleted
    * after the fold — a crash mid-delete just leaves stragglers for the
    * next batch's sweep. */
  def runOnceRollup(spark: SparkSession, landingDir: String, warehouseDir: String,
                    checkpointDir: String): Unit = {
    import org.apache.spark.sql.types._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rollupSchema = StructType(Seq(
      StructField("day", TimestampType), StructField("event_type", StringType),
      StructField("n_events", LongType), StructField("sum_value", DoubleType)))
    val raw = spark.readStream
      .schema(EventsStream.rawSchema)
      .parquet(landingDir)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    val partialsDir = s"$warehouseDir/_partials"
    val q = raw.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val root = new org.apache.hadoop.fs.Path(partialsDir)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // Cumulative dirs strictly below this batch (a half-written dir
        // from a crashed attempt of THIS batch id must not feed itself).
        val existing: Seq[Long] =
          if (!fs.exists(root)) Seq.empty
          else fs.listStatus(root).toSeq.map(_.getPath.getName)
            .collect { case s if s.startsWith("micro_batch=") =>
              s.stripPrefix("micro_batch=").toLong }
            .filter(_ < batchId)
        val batchPartial = batch
          .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
          .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
        val foldFrom = existing.maxOption
        val cumulative = foldFrom match {
          case None => batchPartial
          case Some(m) =>
            spark.read.schema(rollupSchema)
              .parquet(s"$partialsDir/micro_batch=$m")
              .unionByName(batchPartial)
              .groupBy(col("day"), col("event_type"))
              .agg(sum(col("n_events")).as("n_events"),
                sum(col("sum_value")).as("sum_value"))
        }
        cumulative.write.mode(SaveMode.Overwrite)
          .parquet(s"$partialsDir/micro_batch=$batchId")
        spark.read.schema(rollupSchema)
          .parquet(s"$partialsDir/micro_batch=$batchId")
          .write.mode(SaveMode.Overwrite)
          .parquet(graft.ops.VersionedTable.nextVersionPath(spark, warehouseDir))
        // GC below the fold source; the source itself must survive until
        // this batch's checkpoint commit (a replay of batchId reads it).
        foldFrom.foreach { m =>
          existing.filter(_ < m).foreach { k =>
            fs.delete(new org.apache.hadoop.fs.Path(s"$partialsDir/micro_batch=$k"), true)
          }
        }
        ()
      }
      .start()
    q.awaitTermination()
  }

  /** Run the pipeline over everything currently in `landingDir`, then stop
    * (Trigger.AvailableNow). Call repeatedly as new files land — or swap the
    * trigger for a continuous schedule; checkpointing makes either safe. */
  def runOnce(spark: SparkSession, landingDir: String, warehouseDir: String,
              checkpointDir: String): Unit =
    runEtlPipeline(spark, landingDir, checkpointDir) { batch =>
      commitArrivals(spark, warehouseDir, batch)
    }
}
