package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The one way a frame becomes a materialized, lineage-truncated leaf, and
  * the one way to free it.
  *
  * Policy: when the session's SparkContext has a checkpoint dir, the leaf is
  * a reliable `checkpoint()` — its rows are written to that dir, so losing
  * an executor (a cluster with dynamic allocation) costs a re-read, not the
  * job. Without one it is a `localCheckpoint()`: rows live as executor
  * blocks with no recompute path, which is fine on one machine. The
  * checkpoint dir is the only input; a cluster deployment sets it.
  *
  * Freeing: `Dataset.unpersist` is a no-op on a leaf, because its blocks
  * belong to the checkpointed RDD, not to the CacheManager. [[release]]
  * unpersists that RDD instead. Unreleased leaves are freed by the
  * ContextCleaner once the frame is garbage; an iterative or
  * repeatedly-invoked builder releases a superseded leaf as soon as its
  * last consumer is materialized, so dead blocks do not pile up.
  */
object Materialize {

  /** Eagerly materialize `df` as a leaf under the policy above. */
  def apply(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()

  /** The RDD behind a frame that IS a leaf (its analyzed plan is the
    * `LogicalRDD` [[apply]] returned). A projection or join over a leaf is
    * not the leaf: matching deeper in the plan would hand back an RDD that
    * other frames still read. */
  def leafRdd(df: DataFrame): Option[RDD[_]] = df.queryExecution.analyzed match {
    case l: LogicalRDD => Some(l.rdd)
    case _ => None
  }

  /** Free leaves and persisted frames. A reliable leaf's RDD holds no
    * blocks, so releasing it is a no-op; its files belong to the cleaner
    * (`spark.cleaner.referenceTracking.cleanCheckpoints`, set by
    * `GraftSession`). */
  def release(dfs: DataFrame*): Unit = dfs.foreach { df =>
    leafRdd(df) match {
      case Some(rdd) => rdd.unpersist(blocking = false)
      case None => df.unpersist(blocking = false)
    }
  }
}
