package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory with the engine's scale-oriented defaults.
  *
  * local[N] here, but every knob is chosen to survive a 1000-executor
  * cluster: AQE on (runtime coalesce + skew-join splitting), shuffle
  * partitions sized to cores locally (cluster: 2-3x total cores),
  * auto-broadcast enabled so dimension joins never shuffle the fact side.
  */
object GraftSession {

  /** Scratch root for shuffle/spill block files (`spark.local.dir`).
    *
    * Shuffle files are create-write-read-delete churn, and their cost is
    * bounded by the LOCAL filesystem, not the data (guide §2.1/§6): on this
    * sandbox the default `/tmp` is a slow overlay mount — a 32-map-task
    * shuffle stage measured 3-8 s of summed shuffle-write time for a few
    * thousand KB-sized records, and moving the local dir to the RAM-backed
    * `/dev/shm` cut q114's wall 2.55 s → 1.40 s with identical plans (the
    * "CPU" the overlay burned in write() syscalls disappeared too).
    * Production guidance is the same idea at cluster scale: point
    * `spark.local.dir` at the fastest ephemeral storage available (NVMe on
    * real nodes — tmpfs is only sane where shuffle volume ≪ RAM, as here:
    * bench shuffles are MBs against a 128 GiB box).
    *
    * `SPARK_GRAFT_LOCAL_DIR` overrides (empty string = keep Spark's
    * default); otherwise `/dev/shm/graft_local` when writable AND big
    * enough, else the platform default. Applied by [[build]], so every
    * entry point's measurements and production defaults agree. */
  def localDir: Option[String] = scratchRoot("SPARK_GRAFT_LOCAL_DIR", "graft_local")

  /** Shared scratch-root policy (this and [[graft.sources.TempDirs]]):
    * env override wins (empty/blank = platform default); otherwise
    * /dev/shm/<dirName> when writable and with >= 4 GiB usable — a plain
    * writability check would happily adopt the 64 MB tmpfs default Docker
    * mounts, and a full scratch device fails far worse than a slow one. */
  private[graft] def scratchRoot(envVar: String, dirName: String): Option[String] =
    sys.env.get(envVar).map(_.trim) match {
      case Some("") => None
      case Some(d) =>
        val f = new java.io.File(d); f.mkdirs(); Some(f.getAbsolutePath)
      case None =>
        val shm = new java.io.File("/dev/shm")
        val bigEnough =
          try shm.isDirectory && shm.canWrite &&
            java.nio.file.Files.getFileStore(shm.toPath)
              .getUsableSpace >= 4L * 1024 * 1024 * 1024
          catch { case scala.util.control.NonFatal(_) => false }
        if (bigEnough) {
          val d = new java.io.File(shm, dirName)
          d.mkdirs()
          Some(d.getAbsolutePath)
        } else None
    }

  /** JVM-static session defaults every engine entry point wants: the
    * [[localDir]] (when set), the codegen cache size and the fork-free
    * local filesystem.
    *
    * `spark.sql.codegen.cache.maxEntries` (STATIC conf — must be set before
    * the first session builds): the 208-query suite generates ~1600 distinct
    * whole-stage/expression codegen sources, and the default 100-entry cache
    * thrashes — every query's FIRST rep after a suite pass re-compiles its
    * generated sources (~50-400 ms measured per query via
    * `graft.tools.Profile tasks`). 2048 holds the whole suite; entries are
    * compiled-class references, so the cost is metaspace, not heap. A
    * long-lived production cluster wants the same headroom for the same
    * reason (one JVM serving many distinct plans).
    *
    * `file:` goes through the fork-free local filesystem:
    * [[graft.sources.ForklessLocalFileSystem]] for the `FileSystem` API and
    * [[graft.sources.ForklessLocalFs]] for `FileContext`, which the
    * streaming checkpoint logs use (see there for why). */
  def withStatics(b: SparkSession.Builder): SparkSession.Builder =
    localDir.fold(b)(d => b.config("spark.local.dir", d))
      .config("spark.sql.codegen.cache.maxEntries", "2048")
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.sources.ForklessLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.sources.ForklessLocalFs].getName)

  /** The one session profile every entry point builds through (Main,
    * Bench, Verify, the tools, the test suites): [[withStatics]], the
    * engine's extensions ([[graft.functions.GraftExtensions]]: native SQL
    * functions, approx/MV rewrite rules, as-of planner strategy) and the
    * engine pins below. */
  def build(appName: String = "graft",
            cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val spark = withStatics(SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName))
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // The engine's bucketed tables (MinHash signatures, dedup history
      // hashes) exist solely for their bucketing-aware merge joins; Spark's
      // DisableUnnecessaryBucketedScan heuristic drops the bucketed read in
      // exactly those plans when the probe side's stats are unknown (a
      // Materialize leaf boundary), reintroducing the table-side exchange
      // the layout was built to avoid — measured 1.5-3× slower on q139/q143
      // at sf0.1, worse with data. No other scans are bucketed, so forcing
      // bucketed reads session-wide costs nothing.
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      // Reliable Materialize leaves rely on the context cleaner to delete
      // their checkpoint files once the leaf's RDD is unreferenced — that
      // cleanup is OFF by default, and without it a checkpoint-dir
      // deployment leaks every leaf (one label generation per CC round)
      // for the app's lifetime. No-op under local checkpoints.
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    muteBenignWarns()
    spark
  }

  /** Loggers whose WARNs are benign by design here, raised to ERROR so the
    * chatter does not drown a run's bounded log tail:
    *  - `execution.window`: "No Partition Defined" — every unpartitioned
    *    window in this repo is a bounded frame (month/day grids, a 25-row
    *    nation rank — audited in VERDICT r09);
    *  - `MapPartitionsRDD`: "RDD N was locally checkpointed … cannot be
    *    recomputed after unpersisting" — a builder releases a leaf only
    *    AFTER its successor is materialized;
    *  - `ResolveWriteToStream`: "AQE is not supported in streaming" — AQE
    *    is pinned session-wide and Spark turns it off per streaming query,
    *    once per `UpsertPipeline.runOnce`;
    *  - `MicroBatchExecution`: "Disabling AQE … stateful workloads" — the
    *    same session-wide pin, once per stateful streaming start. */
  private val MutedLoggers = Seq(
    "org.apache.spark.sql.execution.window",
    "org.apache.spark.rdd.MapPartitionsRDD",
    "org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream",
    "org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution")

  private def muteBenignWarns(): Unit =
    try MutedLoggers.foreach(org.apache.logging.log4j.core.config.Configurator
      .setLevel(_, org.apache.logging.log4j.Level.ERROR))
    catch { case _: Throwable => () } // logging impl absent: keep the noise
}
