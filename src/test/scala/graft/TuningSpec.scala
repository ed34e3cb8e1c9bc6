package graft

/** Pins the input-derived shuffle-partitioning rule (design rule #6 in the
  * engine, not an env override): small dirs floor at core count — so every
  * bench/verify plan at sf0.01/sf0.1 is unchanged — and big dirs scale
  * linearly to the measured-good 64× setting, bounded by the cap. Since
  * round 16 the derivation is EXECUTION-scoped: `sessionFor` hands back a
  * tuned session (the parent when already right, a memoized clone
  * otherwise), so a frame carries its partitioning with it instead of
  * racing a session-global conf.
  */
class TuningSpec extends SparkSpec {

  private def shufflePartitionsOf(s: org.apache.spark.sql.SparkSession): Int =
    s.conf.get("spark.sql.shuffle.partitions").toInt

  private def bigDir(prefix: String, mb: Int = 48): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "blob.bin"),
      new Array[Byte](mb << 20)) // 48 MB -> 12 partitions > floor 4
    dir
  }

  test("derivation floors at core count for bench-scale dirs") {
    // sf0.1 is ~17 MB — under any plausible core count × 4 MiB
    assert(Tuning.partitionsForBytes(17L << 20, floor = 32) == 32)
    assert(Tuning.partitionsForBytes(0L, floor = 32) == 32)
    // empty/missing dir probe (0 bytes) keeps the session floor
    assert(Tuning.partitionsForBytes(0L, floor = 4) == 4)
  }

  test("derivation scales with bytes: the 64x sweep dir lands near the measured-good 256") {
    // the sweep's 64× dir is ~1.1 GB: 1.1 GB / 4 MiB ≈ 280
    val p = Tuning.partitionsForBytes(1100L << 20, floor = 32)
    assert(p >= 256 && p <= 320, s"expected ~256-320 partitions, got $p")
  }

  test("derivation is capped") {
    // a 100 TB dir must not demand 26M partitions from the scheduler
    assert(Tuning.partitionsForBytes(100L << 40, floor = 32) == 4096)
  }

  test("sessionFor returns the parent untouched when the derivation equals its setting") {
    // sf0.001 (~0.5 MB) floors at defaultParallelism (4 in tests) — the
    // bench/verify shape: tuning must be a no-op object-identity-wise so
    // the driver paths run on the caller's own session
    assert(Tuning.sessionFor(spark, sf0001) eq spark)
    // a missing dir keeps the floor instead of throwing
    assert(Tuning.sessionFor(spark, "/nonexistent/graft/dir") eq spark)
  }

  test("an above-floor dir gets a tuned clone; the parent's conf is never mutated") {
    val dir = bigDir("graft_tune_clone_")
    val before = shufflePartitionsOf(spark)
    val tuned = Tuning.sessionFor(spark, dir)
    assert(tuned ne spark)
    assert(shufflePartitionsOf(tuned) == 12,
      s"48 MB / 4 MiB must derive 12, got ${shufflePartitionsOf(tuned)}")
    assert(shufflePartitionsOf(spark) == before,
      "the parent session's conf must never be written")
    // same (parent, derivation) → the SAME memoized clone, so per-session
    // memoizations (table frames, catalog stagings) stay effective
    assert(Tuning.sessionFor(spark, dir) eq tuned)
  }

  test("a failed size probe is not memoized: the dir re-probes once it exists") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tune_retry_")
      .resolve("later").toString
    // first probe fails (dir absent) — must not poison the cache
    assert(Tuning.sessionFor(spark, dir) eq spark)
    // dir appears with enough bytes to out-derive the floor
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "blob.bin"),
      new Array[Byte](48 << 20)) // 48 MB -> 12 partitions > floor 4
    assert(shufflePartitionsOf(Tuning.sessionFor(spark, dir)) == 12,
      "transient probe failure must not pin the dir at the floor forever")
  }

  test("tuning.enabled=false leaves the caller's session and setting alone") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set(Tuning.EnabledKey, "false")
      spark.conf.set("spark.sql.shuffle.partitions", "77")
      val frame = SparkEntry.queries("q02_project_filter")(spark, sf0001)
      assert(frame.sparkSession eq spark)
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "77",
        "disabled tuner must not clobber an explicitly-set partition count")
    } finally {
      spark.conf.unset(Tuning.EnabledKey)
      spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
  }

  test("interleaved dirs: each frame executes under ITS OWN derived partitioning") {
    import org.apache.spark.sql.functions.col
    // The round-15 hazard this fix closes: build for the small dir, then
    // the big one, THEN act on both — under the session-global tuneFor the
    // small frame executed at the big dir's setting. Now each frame's
    // session carries its own derivation.
    val dir = bigDir("graft_tune_multi_")
    val small = SparkEntry.queries("q02_project_filter")(spark, sf0001)
    val bigSession = Tuning.sessionFor(spark, dir)
    // any readable table; the frame just needs to be built on the tuned session
    val big = bigSession.read.parquet(sf0001 + "/nation.parquet")
    assert(shufflePartitionsOf(small.sparkSession) ==
      spark.sparkContext.defaultParallelism,
      "small-dir frame must execute at the floor")
    assert(shufflePartitionsOf(big.sparkSession) == 12,
      "big-dir frame must execute at its derived partitioning")
    // acting on the small frame AFTER the big tune still runs at the floor:
    // the executed plan's shuffle partitioning comes from the frame's own
    // session conf
    val shuffled = small.groupBy(col(small.columns.head)).count()
    shuffled.collect()
    val exchanges = shuffled.queryExecution.executedPlan.toString
    assert(shufflePartitionsOf(shuffled.sparkSession) ==
      spark.sparkContext.defaultParallelism, exchanges)
  }

  test("custom-strategy and injected-rule queries execute correctly on a tuned clone") {
    // The riskiest part of clone-scoped tuning: queries that register
    // planner strategies (q19's NativeAsOfJoin) or optimizer rules (q21's
    // ApproxDistinctRewrite) at BUILD time must register on the CLONE's
    // experimental methods and produce parent-identical results.
    val clone = Tuning.sessionFor(spark, bigDir("graft_tune_ext_"))
    assert(clone ne spark)
    val asof = RelationalRegistry.queries("q19_asof_join")(clone, sf0001)
    assert(asof.sparkSession eq clone)
    val fromClone = asof.collect().toSeq
    assert(fromClone.nonEmpty)
    assert(fromClone ==
      RelationalRegistry.queries("q19_asof_join")(spark, sf0001).collect().toSeq,
      "clone execution must match parent execution")
    assert(RelationalRegistry.queries("q21_approx_distinct")(clone, sf0001)
      .count() > 0)
  }

  test("semantics confs re-sync from parent to a memoized clone on every hit") {
    val dir = bigDir("graft_tune_sync_")
    val tuned = Tuning.sessionFor(spark, dir)
    assert(tuned ne spark)
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    val prevAnsi = spark.conf.getOption("spark.sql.ansi.enabled")
    try {
      // Parent conf changed AFTER the clone exists: a memoized hit must
      // carry the new semantics — a query must never change meaning based
      // on whether its dir floors at the default.
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      spark.conf.set("spark.sql.ansi.enabled", "true")
      val hit = Tuning.sessionFor(spark, dir)
      assert(hit eq tuned, "same (parent, derivation) must stay memoized")
      assert(hit.conf.get("spark.sql.session.timeZone") == "America/New_York",
        "session timezone must re-sync on a memoized hit")
      assert(hit.conf.get("spark.sql.ansi.enabled") == "true",
        "ANSI mode must re-sync on a memoized hit")
      // the tuned shuffle partitioning is the clone's own — never re-synced
      assert(shufflePartitionsOf(hit) == 12,
        "re-sync must not clobber the clone's derived partitioning")
    } finally {
      spark.conf.set("spark.sql.session.timeZone", prevTz)
      prevAnsi match {
        case Some(v) => spark.conf.set("spark.sql.ansi.enabled", v)
        case None => spark.conf.unset("spark.sql.ansi.enabled")
      }
      // drain the parent change back into the clone so later suites see
      // the restored semantics too
      Tuning.sessionFor(spark, dir)
    }
  }

  test("every SparkEntry query passes through the tuner") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "999")
      // building any registered query must hand the frame a session whose
      // conf carries the dir's derivation — and leave the caller's alone
      val frame = SparkEntry.queries("q02_project_filter")(spark, sf0001)
      assert(shufflePartitionsOf(frame.sparkSession) ==
        spark.sparkContext.defaultParallelism,
        "SparkEntry wrapper did not tune the session for the query dir")
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "999",
        "the caller's session conf must not be mutated")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("staged tables: the raw fixture exactly when the rule gives one file, else that many part files") {
    import graft.sources.{Staged, Tables}
    val cores = spark.sparkContext.defaultParallelism
    for (t <- Tables.all) {
      val raw = s"$sf0001/$t.parquet"
      val bytes = Tuning.probeDirBytes(spark, raw, "tuning-spec")
      val n = math.min(Tuning.partitionsForBytes(bytes, cores).toLong, bytes / (16L << 10)).toInt
      val path = Staged.tableDir(spark, sf0001, t)
      if (n <= 1) assert(path == raw, s"$t: $n file(s) must read the raw fixture")
      else {
        val parts = new java.io.File(path).listFiles().count(_.getName.endsWith(".parquet"))
        assert(parts == n, s"$t: staged $parts part files, the rule gives $n")
      }
    }
  }
}
