package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** Input-size-derived session tuning — design rule #6 ("partitions scale
  * with data volume") applied to the batch engine, the same rule
  * `EventsStream.pinnedPartitionsFor` applies to streaming state.
  *
  * Why this exists: a fixed `spark.sql.shuffle.partitions` is correct only
  * at one data scale. The round-13 full-suite 64× sweep's worst non-scan
  * rows (q75 15.3×, q122 14.8×, the q15/q89/q10/q05 9–10× cluster) were all
  * shuffle volume through a core-count-pinned 32 partitions, and all
  * recovered with more (q122 measured 53.9 → 32.6 s at 256) — but only via
  * an env override, i.e. the 100 TB plan was opt-in. [[sessionFor]] makes it
  * the default plan: every `SparkEntry.queries` invocation builds its frame
  * on a session whose conf carries the value derived from the corpus
  * directory's bytes.
  *
  * The rule: `clamp(defaultParallelism, dirBytes / 4 MiB, 4096)`.
  *  - Floor = the session's core count: below it a shuffle leaves cores
  *    idle; bench-scale dirs (sf0.1 ≈ 17 MB → 4) therefore resolve to the
  *    session default and every sf0.01/sf0.1 plan, hash, and timing is
  *    unchanged.
  *  - 4 MiB of compressed parquet per shuffle partition ≈ 30–50 MB of
  *    in-flight row data at this fixture's observed ~10× decode expansion —
  *    comfortable task size, and it reproduces the measured-good 256 at the
  *    sweep's 64× dir (~1.1 GB).
  *  - The cap bounds scheduler pressure (a 100 TB dir would otherwise
  *    derive 26M partitions). 4096 is the single-JVM bound; AQE (enabled
  *    in [[GraftSession]]) coalesces the overshoot at runtime — the
  *    derived value is the AQE *initial* partitioning in spirit.
  *
  * Overshoot is cheap (AQE coalesces empty/small partitions); undershoot is
  * the 64×-measured pathology. Derivation costs one memoized FS
  * content-summary per (dir) — a recursive listing on object stores, fine
  * for a corpus dir read thousands of times, and cached for the JVM's
  * lifetime (fixture dirs are immutable; a live deployment re-tunes per
  * session, not per file arrival).
  *
  * The same rule sizes the scan side: [[graft.sources.Staged.tableDir]]
  * re-stages each fixture table into this many files (floored by a minimum
  * file size), so scans and shuffles share one derivation.
  */
object Tuning {

  /** Master switch: set false to leave `spark.sql.shuffle.partitions`
    * entirely to the session owner (perf tools setting an explicit
    * partition count — `tools.Profile`'s `SPARK_GRAFT_XCONF`,
    * `tools.ScaleProbe`'s `SPARK_GRAFT_SHUFFLE_PARTITIONS` — must not have
    * their setting silently re-derived out from under them). */
  val EnabledKey = "spark.graft.tuning.enabled"

  /** Compressed input bytes one partition should carry. */
  private val BytesPerPartition: Long = 4L << 20

  /** Upper bound on derived partitions. */
  private val MaxPartitions = 4096

  private val dirBytesCache = new ConcurrentHashMap[String, java.lang.Long]()

  /** One content-summary probe, shared with the streaming state-partition
    * rule ([[graft.streaming.EventsStream]] calls this) so the
    * probe-with-visible-fallback behavior cannot diverge between the two
    * partition-scaling sites. Per-call, never cached: 0 on failure, with
    * the failure logged (a silent fallback would pin partitions at the
    * floor — the q82-class degradation — with no signal). NOTE: a
    * recursive listing on object stores — fine for a corpus/landing dir,
    * not for a data-lake root. */
  def probeDirBytes(spark: SparkSession, dir: String, tag: String): Long =
    try {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"[$tag] input size probe failed for $dir " +
            s"(${e.getClass.getSimpleName}: ${e.getMessage}); " +
            "partitions stay at the floor")
        0L
    }

  /** Total bytes under `dir`, memoized for the JVM's lifetime — but ONLY
    * successful probes are cached: memoizing a transient failure (object
    * store credential refresh, dir created a moment later) would pin that
    * dir's queries at the floor for the driver's lifetime; retrying a
    * failing probe per query costs one metadata call and recovers as soon
    * as the filesystem does. */
  private def dirBytes(spark: SparkSession, dir: String): Long = {
    val cached = dirBytesCache.get(dir)
    if (cached != null) cached.longValue()
    else {
      val bytes = probeDirBytes(spark, dir, "graft-tuning")
      if (bytes > 0L) dirBytesCache.put(dir, bytes)
      bytes
    }
  }

  /** The derivation, pure and spec-testable. */
  private[graft] def partitionsForBytes(bytes: Long, floor: Int): Int =
    math.max(floor, math.min(MaxPartitions.toLong, bytes / BytesPerPartition).toInt)

  // Memoized tuned clones, one per (parent session, derived value): the
  // population is bounded by the distinct derivations a JVM actually sees
  // (same cardinality as the dirBytes cache), and reusing one clone across
  // every query at a given scale keeps the per-session memoizations
  // (Tables.load frames, catalog stagings) effective.
  private val tunedSessions =
    new ConcurrentHashMap[(String, Int), SparkSession]()

  /** Evict the tuned clones derived from one parent session, handing each
    * to `dropOne` so the caller can purge the clone's own per-session
    * state — the Tuning half of `Tables.dropSession` teardown (a clone
    * pins its parent, so dropping a session without dropping its clones
    * would keep the parent reachable). */
  private[graft] def dropClonesOf(parentKey: String)
                                 (dropOne: SparkSession => Unit): Unit = {
    val it = tunedSessions.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 == parentKey) {
        dropOne(e.getValue)
        it.remove()
      }
    }
  }

  /** The session a query over `dir` should be BUILT with — which, because
    * `spark.sql.shuffle.partitions` is read at frame EXECUTION, is also the
    * session it executes under. Returns the parent itself when its current
    * setting already equals the derivation (the bench/verify shape: both
    * driver SFs floor at core count == the session default, so those paths
    * see zero change); otherwise a memoized CLONE of the parent carrying
    * the derived value in its own SQLConf.
    *
    * Why a clone and not a conf mutation (the pre-round-16 shape): the old
    * `tuneFor` mutated the PARENT's session-global conf at build time, so a
    * caller that built frames for SEVERAL dirs before acting on any — or
    * two threads tuning different dirs — executed every frame under the
    * LAST build's partitioning. A frame built on its own tuned session
    * carries its partitioning WITH it; interleaved and concurrent callers
    * cannot inherit each other's settings (pinned in TuningSpec).
    *
    * Clone cost: one SessionState copy — same SparkContext, same shared
    * state, same staged table layouts ([[graft.sources.Staged]] disk keys
    * are corpus-scoped). Parent PERFORMANCE-conf changes made AFTER a clone
    * exists do not propagate to it (the conf of record for an above-floor
    * dir is the derivation itself), but SEMANTICS-bearing confs
    * ([[SemanticsConfs]]: ANSI mode, session timezone, case sensitivity)
    * are re-synced from the parent on every memoized hit — a query must
    * never change meaning based on whether its dir floors at the default.
    *
    * Never throws: tuning is an optimization — a failed probe or clone
    * returns the parent unchanged. Disabled via [[EnabledKey]]=false.
    *
    * Concurrency contract: the semantics re-sync mutates the SHARED
    * memoized clone's conf on every hit, and SQLConf is read at frame
    * execution — so two callers running queries over same-clone dirs
    * CONCURRENTLY, under a parent whose ANSI/timezone conf differs between
    * their calls, could flip one query's semantics mid-flight. Every
    * in-repo caller (bench, verify, the query registries) executes
    * serially per session, and callers that never touch [[SemanticsConfs]]
    * between calls are unaffected; a deployment that wants concurrent
    * per-query semantics divergence should pass distinct PARENT sessions
    * (each gets its own clone key via `Tables.sessionKey`), which is the
    * supported isolation boundary. */
  def sessionFor(spark: SparkSession, dir: String): SparkSession =
    try {
      if (!spark.conf.get(EnabledKey, "true").toBoolean) return spark
      val target = partitionsForBytes(dirBytes(spark, dir), spark.sparkContext.defaultParallelism)
      if (spark.conf.get("spark.sql.shuffle.partitions").toInt == target) spark
      else {
        val key = (graft.sources.Tables.sessionKey(spark), target)
        var created = false
        val tuned = tunedSessions.computeIfAbsent(key, _ => {
          val clone = org.apache.spark.sql.graftshim.cloneSessionOf(spark)
          clone.conf.set("spark.sql.shuffle.partitions", target.toString)
          created = true
          clone
        })
        // One line per clone CREATION (same-scale workloads log once): the
        // derived plan scale should be visible in operational logs, not
        // inferred from timings.
        if (created) System.err.println(
          s"[graft-tuning] shuffle partitions -> $target (tuned session) for $dir")
        // Memoized clones snapshot the parent's conf at first derivation;
        // without this, a parent conf change made AFTER the clone exists
        // (ANSI mode, session timezone) would silently not apply to queries
        // over above-floor dirs — the same query running under different
        // SEMANTICS depending on whether its dir floors at the default.
        // Re-sync the semantics-bearing allowlist on every hit; the tuned
        // shuffle partitioning stays the clone's own.
        if (!created) syncSemanticsConfs(spark, tuned)
        tuned
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[graft-tuning] sessionFor($dir) failed: ${e.getMessage}")
        spark
    }

  /** Confs that change query SEMANTICS (not performance) and must therefore
    * track the parent session even on memoized-clone hits. Deliberately
    * small: performance confs staying snapshot-stable on a clone is the
    * point of the clone; semantics diverging is a correctness bug. */
  private[graft] val SemanticsConfs: Seq[String] = Seq(
    "spark.sql.ansi.enabled",
    "spark.sql.session.timeZone",
    "spark.sql.caseSensitive")

  private def syncSemanticsConfs(parent: SparkSession, tuned: SparkSession): Unit =
    SemanticsConfs.foreach { k =>
      // getOption resolves defaults too, so parent-unset falls back to the
      // same global default on both sessions — set only on real divergence.
      val pv = parent.conf.getOption(k)
      if (pv != tuned.conf.getOption(k)) pv match {
        case Some(v) => tuned.conf.set(k, v)
        case None => tuned.conf.unset(k)
      }
    }
}
