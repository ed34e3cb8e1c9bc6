package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VecSumAggregator
import graft.sources.Tables

/** q166: distributed Lloyd's k-means over the FULL embeddings table — the
  * clustering primitive behind cluster-based curation (SemDeDup's cluster
  * stage, DoReMi-style domain discovery, cluster-balanced sampling). The
  * IVF trainer (`ext/Similarity.scala:147`) clusters a bounded SAMPLE on
  * the driver to build an index; this is the complementary full-corpus
  * operator: every vector participates in every iteration, and only the
  * k×d model state ever reaches the driver. The reference has no ML path
  * (`etl_process.py:71-102`).
  *
  * Determinism across engines (the house fixed-point discipline,
  * `ext/Quality`): vectors are quantized once to 1e-6 fixed-point longs,
  * so distances are exact integer sums (64 dims × (2e6)² ≪ 2⁶³),
  * assignment ties break to the lowest cluster id via lexicographic
  * struct-min, and centroid updates are floor(exact-long-sum / n) — every
  * arithmetic step is either exact or a single correctly-rounded double
  * op, so Spark and the DuckDB oracle (3 unrolled iterations) agree
  * bit-for-bit. Empty clusters keep their previous centroid.
  *
  * Scale shape: per iteration ONE map-side-combined aggregation — the
  * `VecSumAggregator` folds each partition's vectors into k length-d
  * buffers, so the shuffle per iteration is k×d longs per partition and
  * the driver holds k×d model state (the same contract as a parameter
  * server round). Assignment is a scan-local expression against literal
  * centroids (broadcast with the task binary); nothing corpus-sized is
  * ever collected, joined, or exploded. The quantized input is cached
  * across the iters+1 passes (n×d longs — at 100 TB you would persist to
  * DISK_ONLY or re-scan; the passes are the algorithm, not an accident).
  */
object KMeans {

  private val Fp = 1000000L

  /** 1e-6 fixed-point quantization (shared with the streaming monitor). */
  private[graft] def quant(emb: Column): Column =
    transform(emb, x => round(x.cast("double") * Fp).cast("long"))

  /** Squared L2 distance between the fixed-point vector column and a
    * literal centroid, as an exact long fold. */
  private def distSq(xfp: Column, cent: Array[Long]): Column =
    aggregate(
      zip_with(xfp, typedlit(cent.toSeq), (a, b) => (a - b) * (a - b)),
      lit(0L), (acc, v) => acc + v)

  /** (cluster, dist) assignment against literal centroids: struct-min is
    * lexicographic, so ties go to the lowest cluster id. */
  private[graft] def assign(xfp: Column, cents: Array[Array[Long]]): Column =
    array_min(array(cents.zipWithIndex.map { case (c, i) =>
      struct(distSq(xfp, c).as("dist"), lit(i).as("cl"))
    }: _*))

  /** The q166 training loop alone: returns the final k×d fixed-point
    * centroids (model state). Shared by the batch query and the streaming
    * monitor (q176), which scores micro-batches against this model. */
  private[graft] def trainCentroids(spark: SparkSession, dir: String,
                                    k: Int, iters: Int): Array[Array[Long]] = {
    import spark.implicits._
    val vecsum = udaf(new VecSumAggregator.VecSum,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]())
    val pts = Tables.embeddings(spark, dir)
      .select($"vec_id", quant($"embedding").as("xfp"))
      .cache()
    try {
      // Deterministic init: the k lowest vec_ids (k rows to the driver).
      // Precondition: the corpus has at least k vectors — checked on the
      // already-collected init rows, no extra count job.
      var cents: Array[Array[Long]] = pts.orderBy($"vec_id").limit(k)
        .select($"xfp").as[Array[Long]].collect()
      require(cents.length == k,
        s"k-means init needs >= $k vectors, corpus has ${cents.length}")
      for (_ <- 1 to iters) {
        // One aggregation: per-cluster exact component sums + counts
        // (k rows × d longs back to the driver — model state, not data).
        val upd = pts
          .select(assign($"xfp", cents).getField("cl").as("cl"), $"xfp")
          .groupBy($"cl")
          .agg(count(lit(1)).as("n"), vecsum($"xfp").as("s"))
          .as[(Int, Long, Array[Long])].collect()
          .map { case (cl, n, s) =>
            cl -> s.map(v => math.floor(v.toDouble / n).toLong)
          }.toMap
        cents = cents.zipWithIndex.map { case (old, cl) =>
          upd.getOrElse(cl, old) // empty cluster keeps its centroid
        }
      }
      cents
    } finally graft.ops.Materialize.release(pts) // the model is on the driver
  }

  /** Per-cluster (n, inertia, checksum) report for literal centroids over
    * a frame of quantized vectors — the final q166 pass, also the shape
    * each q176 micro-batch reduces to. */
  private[graft] def checksumFrame(spark: SparkSession,
                                   cents: Array[Array[Long]]): DataFrame = {
    import spark.implicits._
    cents.zipWithIndex.map { case (c, cl) => (cl, c.sum) }.toSeq
      .toDF("cluster", "centroid_checksum")
  }

  /** q179: simplified-silhouette audit of the q166 clustering — per
    * cluster, the mean of s = (b − a)/max(a, b) where a is the squared
    * distance to the assigned (nearest) centroid and b to the second-
    * nearest (the centroid-based silhouette of Hruschka et al.; s near 0
    * flags points sitting on a cluster boundary, i.e. an unstable
    * clustering that cluster-based curation shouldn't trust).
    *
    * Scale shape: one scan — the FULL sorted (dist, cl) array against the
    * k literal centroids is scan-local (k=4 structs per row), and the only
    * shuffle is the k-bounded-key aggregate. Cross-engine: a and b are
    * exact integer distances, each point's s is ONE division chain
    * ((b−a)/max·1e6) rounded to fixed point BEFORE the mean, so the
    * reduction is exact integer math (the house discipline).
    */
  def q179Silhouette(spark: SparkSession, dir: String, k: Int = 4,
                     iters: Int = 3): DataFrame = {
    import spark.implicits._
    // A second-nearest centroid must exist: k = 1 would make m2 null and
    // silently yield null silhouettes instead of a clear error.
    require(k >= 2, s"silhouette needs k >= 2 clusters, got $k")
    val cents = trainCentroids(spark, dir, k, iters)
    val sorted = array_sort(array(cents.zipWithIndex.map { case (c, i) =>
      struct(distSq(col("xfp"), c).as("dist"), lit(i).as("cl"))
    }: _*))
    Tables.embeddings(spark, dir)
      .select(quant($"embedding").as("xfp"))
      .select(element_at(sorted, 1).as("m1"), element_at(sorted, 2).as("m2"))
      .select($"m1.cl".as("cluster"),
        when(greatest($"m1.dist", $"m2.dist") === 0, 0L)
          .otherwise(round(($"m2.dist" - $"m1.dist").cast("double")
            / greatest($"m1.dist", $"m2.dist") * lit(1000000L)).cast("long"))
          .as("sfp"))
      .groupBy($"cluster")
      .agg(count(lit(1)).as("n_points"),
        round(sum($"sfp") / (lit(1000000.0) * count(lit(1))), 6)
          .as("mean_silhouette"))
      .orderBy($"cluster")
  }

  def q166KMeans(spark: SparkSession, dir: String, k: Int = 4,
                 iters: Int = 3): DataFrame = {
    import spark.implicits._
    val cents = trainCentroids(spark, dir, k, iters)
    val pts = Tables.embeddings(spark, dir)
      .select($"vec_id", quant($"embedding").as("xfp"))
    val checksums = checksumFrame(spark, cents)
    pts
      .select(assign($"xfp", cents).as("m"))
      .groupBy($"m.cl".as("cluster"))
      // Per-point squared distance can reach ~2.6e14 (64 dims × (2e6)²), so
      // a LONG sum would wrap silently past ~3.6e4 extreme points while
      // DuckDB's sum(BIGINT) promotes to HUGEINT. Sum as decimal(38,0):
      // exact to 10³⁸ (headroom for ~10²³ points), matching the oracle's
      // exact wide sum before the one rounded division.
      .agg(count(lit(1)).as("n_points"),
        round(sum($"m.dist".cast("decimal(38,0)")) / lit(Fp.toDouble * Fp), 6)
          .as("inertia"))
      .join(broadcast(checksums), Seq("cluster"))
      .select($"cluster", $"n_points", $"inertia", $"centroid_checksum")
      .orderBy($"cluster")
  }
}
