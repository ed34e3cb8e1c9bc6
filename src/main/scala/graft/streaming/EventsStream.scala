package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.ops.Materialize

/** Structured Streaming superset of the reference's event-driven micro-batch
  * pipeline (SURVEY.md §2 O1): file-arrival source → event-time windowed
  * aggregation with watermark → sink. `Trigger.AvailableNow` + memory sink
  * make it synchronously testable on static parquet; in production the same
  * query runs continuously with checkpointing (exactly-once via idempotent
  * foreachBatch merge — see graft.ops.Merge).
  */
object EventsStream {

  /** Upper bound on input-derived streaming state partitions
    * ([[pinnedPartitionsFor]]). Default 32 = the single-JVM run-once
    * bound; a continuous cluster deployment raises it toward 2-3× its
    * core count. */
  val MaxStatePartitionsKey = "spark.graft.streaming.maxStatePartitions"

  /** Raw parquet schema of events (ns timestamps read as long). */
  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Hourly per-type counts/sums computed as a streaming query — identical
    * result (and DuckDB oracle) to the batch q22. Complete output mode: every
    * window is emitted at termination regardless of watermark position. */
  def q23StreamingHourly(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val name = s"graft_stream_${System.nanoTime()}"
    // The file stream source wants a directory to watch; the static fixture
    // is staged as a normalized single-file copy (ts = INT64 epoch-nanos,
    // shared, memoized — see Staged.eventsWatchDir) so the same code serves
    // a live landing dir and rawSchema holds across fixture generations.
    val watchDir = graft.sources.Staged.eventsWatchDir(spark, dir)
    val stream = spark.readStream
      .schema(rawSchema)
      .parquet(watchDir)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n_events"), round(sum($"value"), 2).as("sum_value"))
    val q = startPinned(spark, pinnedPartitionsFor(spark, watchDir)) {
      stream.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    q.awaitTermination()
    drainMemorySink(spark, name) { t =>
      t.select($"w.start".as("bucket_start"), $"event_type", $"n_events", $"sum_value")
        .orderBy($"bucket_start", $"event_type")
    }
  }

  /** Materialize a run-once query's memory-sink table into a
    * lineage-truncated frame and DROP the sink's temp view: each run
    * registers a uniquely-named view holding its full result set in driver
    * memory, and without the drop every invocation (bench reps, sweeps)
    * leaks one more result-sized copy for the session's lifetime. */
  private def drainMemorySink(spark: SparkSession, name: String)
                             (shape: DataFrame => DataFrame): DataFrame =
    // finally, not success-path-only: if shape() or the checkpoint throws,
    // leaving the view registered pins the full result set in driver
    // memory for the session's lifetime — the exact leak this drain exists
    // to prevent, just on the failure path.
    try Materialize(shape(spark.table(name)))
    finally spark.catalog.dropTempView(name)

  /** Start a stateful run-once query with its shuffle partitioning pinned
    * low, restoring the session setting afterwards: a streaming aggregation
    * runs one state-store instance per shuffle partition per micro-batch,
    * and at the session's CPU-count partitioning that fixed overhead dwarfs
    * the data at bench scale. State volume for these queries is bounded by
    * windows/watermarks, not by parallelism; a continuous production run
    * sizes this to the live key cardinality instead. (The partition count
    * is captured at query start and persisted in the checkpoint, so the
    * restore cannot affect the running query.) */
  private def startPinned[A](spark: SparkSession, partitions: Int = 4,
                             noSettle: Boolean = false)
                            (start: => A): A = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val prevNoData = spark.conf.get(NoDataBatchesKey, "true")
    spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    if (noSettle) spark.conf.set(NoDataBatchesKey, "false")
    try start
    finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      spark.conf.set(NoDataBatchesKey, prevNoData)
    }
  }

  /** `spark.sql.streaming.noDataMicroBatches.enabled` — whether the engine
    * runs data-less micro-batches so stateful operators can act on
    * watermark advancement alone. [[startPinned]]'s `noSettle = true` turns
    * it OFF for run-once queries whose DECLARED RESULT provably does not
    * depend on the settling batch (r19, the streaming driver floor —
    * a per-job profile measured 0.3-0.8 s of state-store commit + planning per
    * settling batch):
    *
    *  - append-mode dedup (q157) and update-mode MV maintenance (q162):
    *    `dropDuplicatesWithinWatermark` emits rows in the batch they
    *    arrive; the settling batch exists only to EVICT state (and, update
    *    mode, emits nothing — no key was touched). Output rows identical;
    *    StreamingSpec pins settle-on ≡ settle-off for both shapes.
    *
    * q134 (stream-stream LEFT OUTER) must KEEP the settling batch: the
    * withheld outer-null rows are emitted exactly when the watermark passes
    * their window — that emission IS the settling batch's output. The
    * complete-mode aggregations (q23, q82) need no pin: their state save
    * never asks for a data-less batch (same task counts either way). A
    * continuous production deployment keeps the default on any watermark-
    * acting pipeline; this knob is the run-once replay's economy, applied
    * query-by-query with the dependence argument written next to it. */
  private val NoDataBatchesKey = "spark.sql.streaming.noDataMicroBatches.enabled"

  /** State partitioning sized to the landing dir, for [[startPinned]]:
    * design rule #6 ("partitions scale with data volume") applied to
    * streaming state. The fixed pin of 4 is right at bench scale (the
    * fixture stages ~2 MB and per-partition state-store overhead dwarfs
    * the data), but a 64× replay through the same 4 state instances
    * serializes tens of millions of state rows — the round-13 full-suite
    * octave read q82 at 24× from exactly that. One metadata probe (a
    * recursive listing on object stores — O(files), fine for a landing dir,
    * not for a data lake root), no data read; bench-scale dirs still
    * resolve to 4, so pinned-partition results and timings are unchanged
    * there. */
  private[graft] def pinnedPartitionsFor(spark: SparkSession, watchDir: String): Int = {
    // Shared probe ([[graft.Tuning.probeDirBytes]]): per-call, NonFatal
    // only, failure logged — a silent floor of 4 would re-create exactly
    // the serialized-state pathology this function exists to prevent.
    val bytes = graft.Tuning.probeDirBytes(spark, watchDir, "graft-stream")
    // The cap is CONF-derived, not a hard-coded cluster assumption: 32 is
    // the single-JVM run-once default; a continuous cluster deployment
    // raises it toward its core count (state instances parallelize across
    // executors there, and the per-instance overhead amortizes over a
    // long-lived query instead of a two-micro-batch replay).
    val cap = try spark.conf.get(MaxStatePartitionsKey, "32").toInt
      catch { case scala.util.control.NonFatal(_) => 32 }
    math.max(4, math.min(cap, (bytes / (8L << 20)).toInt))
  }

  /** Sessionization as a streaming query — session windows (30-minute gap)
    * over the same file-arrival source, identical result (and DuckDB oracle)
    * to the batch q24. Session state is merged across micro-batches by the
    * session-window state store. Complete output mode is what makes the
    * run-once parity check possible (every session emitted at termination);
    * it retains all window state, so a CONTINUOUS production run would use
    * append/update mode instead, where the watermark evicts closed
    * sessions and bounds state.
    *
    * The sink is `foreachBatch` → overwrite-parquet, NOT a memory sink:
    * this result is CORPUS-SIZED (one row per user-session), and a memory
    * sink funnels it through a single-threaded driver collect — the
    * round-13 64× octave read q82 at ~50 s with the collect dominating.
    * foreachBatch receives the complete result per trigger and writes it
    * distributed; the bounded-result streams (q23's hourly grid) keep the
    * memory sink. */
  def q82StreamingSessions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val outDir = graft.sources.TempDirs.create("graft_sessions_out_").toString
    val watchDir = graft.sources.Staged.eventsWatchDir(spark, dir)
    val stream = spark.readStream
      .schema(rawSchema)
      .parquet(watchDir)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ts", "1 hour")
      // Boundary semantics: session_window merges on delta ≤ gap (touching
      // sessions merge — pinned by SessionBoundarySpec), identical to the
      // shared q24 oracle's strictly-greater-than-30-minutes break rule, so
      // the plain 30-minute gap is exact.
      .groupBy(session_window($"ts", "30 minutes").as("w"), $"user_id")
      .agg(count(lit(1)).as("n_events"), round(sum($"value"), 2).as("sum_value"))
    val q = startPinned(spark, pinnedPartitionsFor(spark, watchDir)) {
      stream.writeStream
        .outputMode("complete")
        .option("checkpointLocation",
          graft.sources.TempDirs.create("graft_sessions_ck_").toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          // Complete mode hands each trigger the FULL result; overwrite
          // makes the last trigger's write the final answer (and a
          // replayed trigger idempotent).
          b.write.mode("overwrite").parquet(outDir)
        }
        .start()
    }
    q.awaitTermination()
    spark.read.parquet(outDir)
      .select($"user_id", unix_timestamp($"w.start").as("session_start_s"),
        $"n_events", $"sum_value")
      .orderBy($"user_id", $"session_start_s")
  }

  /** q134: stream-stream LEFT OUTER interval join as a run-once query with
    * a batch oracle — "did each click convert to a purchase within 30
    * minutes" where the unmatched side must still surface (with nulls), the
    * semantics append-mode outer joins exist for. State is bounded by the
    * 30-minute join window + 10-minute watermark on BOTH inputs; matched
    * pairs emit immediately, unmatched clicks emit exactly once when the
    * global watermark passes their window.
    *
    * Two mechanics make run-once parity with a batch LEFT JOIN exact:
    * (1) a far-future sentinel click+purchase pair (user −1, filtered from
    * the output) pushes BOTH watermarks past every real window — the
    * production analogue is the heartbeat event every watermarked pipeline
    * ships so quiet sources cannot stall eviction; (2) AvailableNow's
    * watermark-settling no-data batch then evicts the join state and emits
    * every withheld outer-null row before termination (the emission
    * mechanics are pinned batch-by-batch in StreamingSpec's left-outer
    * test). Slicing the landing dir into per-file micro-batches adds
    * NOTHING semantically: the late-row filter applies the PREVIOUS
    * batch's watermark, so however many staged files land in one batch,
    * no row can be dropped as late — matched pairs join within the batch
    * and unmatched clicks emit at the watermark exactly as in a sliced
    * replay. One data batch + one settling batch is therefore the minimal
    * exact replay, and each avoided micro-batch saves a fixed state-store
    * round (~1.2 s of pure overhead here). */
  def q134StreamingLeftJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val outDir = graft.sources.TempDirs.create("graft_ssjoin_out_").toString
    // Slice staging (TWO data slices + the far-future sentinel, stamped
    // with increasing mtimes) lives in the memoized registry — see
    // [[graft.sources.Staged.ssjoinWatchDir]]. The staged dir is
    // read-only, so repeated runs and other sessions share it. No
    // maxFilesPerTrigger: all slices land in ONE data batch (exactness
    // argued in the scaladoc above), so the run is two micro-batches
    // total instead of four.
    val watch = graft.sources.Staged.ssjoinWatchDir(spark, dir)
    def src() = spark.readStream
      .schema(rawSchema)
      .parquet(watch)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    val clicks = src().filter($"event_type" === "click")
      .select($"user_id", $"ts".as("click_ts"))
      .withWatermark("click_ts", "10 minutes")
    val purchases = src().filter($"event_type" === "purchase")
      .select($"user_id".as("p_user"), $"ts".as("p_ts"))
      .withWatermark("p_ts", "10 minutes")
    val joined = clicks.join(purchases,
      $"user_id" === $"p_user" &&
        $"p_ts" >= $"click_ts" &&
        $"p_ts" <= $"click_ts" + expr("INTERVAL 30 MINUTES"),
      "left_outer")
    // Stream-stream join state runs one store instance per shuffle
    // partition per side PER MICRO-BATCH — see [[startPinned]].
    // State provider trial (sf0.1, local[32], warm): HDFS-backed default
    // 7.2 s vs RocksDB 10.8 s — RocksDB's native-store open/commit cost per
    // (partition × micro-batch) store instance outweighs any benefit when
    // the 40-minute window bounds state to a few thousand rows, so the
    // default stays. On a CONTINUOUS deployment with millions of in-flight
    // keys, RocksDB is the right provider (off-heap state, incremental
    // snapshots, changelog checkpointing) — set
    // spark.sql.streaming.stateStore.providerClass on that session (the
    // same conf StreamingSpec's RocksDB equality test pins).
    // foreachBatch → batchId-keyed overwrite-parquet, NOT a memory sink:
    // the join result is CORPUS-SIZED (one-plus rows per click) and a
    // memory sink funnels it through a single-threaded driver collect —
    // the q82 pathology, removed there this round. Append mode emits each
    // row exactly once across batches, so per-batch dirs union to the full
    // result and a replayed batch overwrites only its own dir.
    val q = startPinned(spark, pinnedPartitionsFor(spark, watch)) {
      joined.writeStream
        .outputMode("append")
        .option("checkpointLocation",
          graft.sources.TempDirs.create("graft_ssjoin_ck_").toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, batchId: Long) =>
          b.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
        }
        .start()
    }
    q.awaitTermination()
    spark.read.parquet(outDir)
      .filter($"user_id" =!= -1L)
      .select($"user_id", unix_micros($"click_ts").as("click_us"),
        coalesce(unix_micros($"p_ts"), lit(-1L)).as("purchase_us"))
      .orderBy($"user_id", $"click_us", $"purchase_us")
  }

  /** q157: streaming exact deduplication under at-least-once delivery —
    * `dropDuplicatesWithinWatermark` on the event id over a landing dir
    * whose second delivery RE-SHIPS every 7th first-half event
    * ([[graft.sources.Staged.dedupWatchDir]]). The dedup state retains one
    * tiny (id, first-seen-ts) entry per event inside the watermark horizon
    * and evicts everything older — the bounded-state shape that makes
    * exactly-once semantics from an at-least-once source affordable on a
    * 100 TB/day feed, where `dropDuplicates` (unbounded state) would OOM
    * and a batch `distinct` would re-shuffle the full history every run.
    *
    * Here the delay (45 days) exceeds the fixture's 30-day span, so the
    * run-once result is EXACTLY the batch distinct and the shared
    * per-type rollup oracle holds; a production feed sets the delay to its
    * real re-delivery horizon (hours), trading state for how late a
    * duplicate can arrive and still be caught. Output: per-type counts over
    * the deduplicated stream — identical to the same rollup over the
    * duplicate-free events table. */
  def q157StreamingDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val watch = graft.sources.Staged.dedupWatchDir(spark, dir)
    val outDir = graft.sources.TempDirs.create("graft_dedup_out_").toString
    // No maxFilesPerTrigger: both deliveries land in one micro-batch.
    // `dropDuplicatesWithinWatermark` dedups WITHIN a batch with the same
    // first-seen-wins state it uses across batches, so the result is
    // byte-identical however the landing dir slices into batches — the
    // cross-batch absorption is pinned by StreamingSpec's MemoryStream
    // dedup test; the bench path skips the extra fixed state-store round.
    val deduped = spark.readStream
      .schema(rawSchema)
      .parquet(watch)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ts", "45 days")
      .dropDuplicatesWithinWatermark("event_id")
    val q = startPinned(spark, pinnedPartitionsFor(spark, watch),
        noSettle = true) {
      deduped.writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation",
          graft.sources.TempDirs.create("graft_dedup_ck_").toString)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    q.awaitTermination()
    spark.read.parquet(outDir)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        count_distinct($"user_id").as("n_users"),
        round(sum($"value"), 2).as("sum_value"))
      .orderBy($"event_type")
  }

  /** q162: streaming MATERIALIZED-VIEW maintenance — the continuously-kept
    * rollup table every serving layer wants, maintained end-to-end from an
    * AT-LEAST-ONCE landing dir (the q157 re-delivery staging): stream →
    * `dropDuplicatesWithinWatermark` → event-time (type, day) aggregation
    * in UPDATE mode → `foreachBatch` LWW merge into a versioned parquet
    * table. Update mode emits a key's new RUNNING total whenever a batch
    * touches it, and the merge overwrites that key's row — so after any
    * prefix of batches the table is the exact rollup of the events
    * delivered (and deduplicated) so far, and at termination it equals the
    * batch rollup over unique events: the incremental-MV contract, with
    * exactly-once effect from an at-least-once source.
    *
    * At 100 TB/day: per-batch work is proportional to the BATCH (touched
    * keys), never the table — the aggregation state carries the running
    * totals, the merge ships only updated (type, day) rows, and the
    * versioned dirs swap for a table format's atomic MERGE commit. */
  def q162StreamingMv(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val watch = graft.sources.Staged.dedupWatchDir(spark, dir)
    val mvDir = graft.sources.TempDirs.create("graft_smv_").toString
    val mvSchema = StructType(Seq(
      StructField("event_type", StringType),
      StructField("day", DateType),
      StructField("n_events", LongType),
      StructField("sum_value", DoubleType)))
    // No maxFilesPerTrigger (same argument as q157): update-mode emission
    // + LWW merge make the final table identical for ANY batch slicing —
    // one micro-batch means one state round and one version commit.
    val updates = spark.readStream
      .schema(rawSchema)
      .parquet(watch)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ts", "45 days")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("n_events"), round(sum($"value"), 2).as("sum_value"))
    val q = startPinned(spark, pinnedPartitionsFor(spark, watch),
        noSettle = true) {
      updates.writeStream
        .outputMode("update")
        .option("checkpointLocation",
          graft.sources.TempDirs.create("graft_smv_ck_").toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val cur = graft.ops.VersionedTable.read(spark, mvDir, mvSchema)
          graft.ops.VersionedTable.commit(spark, mvDir,
            graft.ops.Merge.upsert(cur, b, Seq("event_type", "day")))
          ()
        }
        .start()
    }
    q.awaitTermination()
    graft.ops.VersionedTable.read(spark, mvDir, mvSchema)
      .orderBy($"event_type", $"day")
  }
}
