package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Keyed upsert / merge — the reference's central warehouse semantic
  * (SURVEY.md §2 K4): `INSERT ... ON CONFLICT (key...) DO UPDATE SET ...`
  * (`scripts/lambda_handler_warehouse.py:95-101`), i.e. last-write-wins on a
  * natural key, idempotent under re-delivery.
  *
  * Two physical strategies, both shuffle-frugal:
  *  - [[upsert]]: anti-join + union. When `updates` is small (the common
  *    incremental-load case) the anti-join broadcasts the update keys, so the
  *    100 TB target side is never shuffled — this is the scale path.
  *  - [[latestPerKey]]: one window over a union, for merging many batches
  *    in one pass with an explicit priority (file ordinal in the reference's
  *    sequential loop, `scripts/lambda_handler_warehouse.py:79`). One
  *    shuffle on the merge keys. [[upsertVersioned]] and [[applyCdc]] are
  *    this window with a version or sequence column as the priority.
  *
  * Ties on the priority go to the larger value of the remaining columns
  * (see [[latestPerKey]]), so a batch that repeats a key resolves the same
  * way whatever its row order, for every sink, the JDBC one included.
  */
object Merge {

  /** Last-write-wins merge of `updates` into `target` on `keys`.
    * Requires `updates` unique on `keys` (enforce upstream with
    * [[latestPerKey]] if needed). Schema of both sides must match.
    *
    * Null keys: SQL join semantics — a null key never matches, so null-key
    * rows on both sides are retained side-by-side. This mirrors the
    * reference warehouse, where the Postgres UNIQUE constraint treats NULLs
    * as distinct (`scripts/lambda_handler_warehouse.py:63`); the reference
    * additionally drops null-key rows upstream (P2), as does our pipeline. */
  def upsert(target: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame = {
    val keyCols = keys.map(updates(_))
    val updateKeys = updates.select(keyCols: _*)
    // Broadcast the update-key set only when the optimizer's own size
    // estimate says it fits the session broadcast threshold — a forced hint
    // would OOM the driver on a large batch (e.g. an initial full load)
    // regardless of autoBroadcastJoinThreshold. Unknown/huge stats fall back
    // to a shuffle anti-join, which AQE can still convert at runtime.
    val threshold = org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
    val probe =
      if (threshold > 0 &&
          updateKeys.queryExecution.optimizedPlan.stats.sizeInBytes <= threshold)
        broadcast(updateKeys)
      else updateKeys
    target.join(probe, keys, "left_anti")
      // using-column joins hoist the keys to the front; restore the
      // target's column order so merge is schema-stable.
      .select(target.columns.toIndexedSeq.map(col): _*)
      .unionByName(updates)
  }

  /** Merge a union of versioned rows: highest `versionCol` wins per key,
    * ties resolved as in [[latestPerKey]]; the version column is dropped. */
  def upsertVersioned(all: DataFrame, keys: Seq[String], versionCol: String): DataFrame =
    latestPerKey(all, keys, Seq(versionCol)).drop(versionCol)

  /** Apply a CDC operation log to a table — the merge-with-deletes the plain
    * upsert cannot express (Debezium/DMS-style change streams: each log row
    * is an I/U/D operation with a monotone sequence). Per key, the
    * highest-sequence operation wins; if it is a delete the key vanishes,
    * otherwise the row carries the operation's values. Existing target rows
    * participate as inserts from before every log entry (`Long.MinValue`
    * sequence), so one [[latestPerKey]] pass resolves target-vs-log and
    * log-vs-log conflicts together: exactly one shuffle on the key, state
    * per key is one row. Idempotent — re-applying any suffix of the log is
    * a no-op.
    *
    * `log` must carry the target's columns plus `seqCol` (numeric, monotone
    * per key) and `opCol` ('I' | 'U' | 'D'; D rows only need the keys). */
  def applyCdc(target: DataFrame, log: DataFrame, keys: Seq[String],
               seqCol: String, opCol: String): DataFrame = {
    val dataCols = target.columns.toIndexedSeq
    val asLog = target
      .withColumn(seqCol, lit(Long.MinValue))
      .withColumn(opCol, lit("I"))
    val all = asLog.unionByName(log.select((dataCols ++ Seq(seqCol, opCol)).map(col): _*))
    latestPerKey(all, keys, Seq(seqCol))
      .filter(col(opCol) =!= "D")
      .select(dataCols.map(col): _*)
  }

  /** Keep the winning row per key: the highest `orderCols`, descending in
    * turn. A tie on every order column is broken by the remaining ORDERABLE
    * columns descending, so the larger value wins and the result never
    * depends on row order or on which row the shuffle delivered first.
    * Unorderable columns (maps, arrays of maps) are skipped from the
    * tiebreak rather than failing analysis; only rows that differ SOLELY in
    * one resolve arbitrarily, which no ordering could fix. The one
    * last-write-wins window of the engine: [[upsertVersioned]],
    * [[applyCdc]] and every [[graft.streaming.UpsertPipeline]] sink resolve
    * through it. */
  def latestPerKey(df: DataFrame, keys: Seq[String], orderCols: Seq[String]): DataFrame = {
    val tiebreak = df.columns.toIndexedSeq
      .filterNot(c => keys.contains(c) || orderCols.contains(c))
      .filter(c => RowOrdering.isOrderable(df.schema(c).dataType))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((orderCols ++ tiebreak).map(col(_).desc): _*)
    df.withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") === 1)
      .drop("__graft_rn")
  }
}
