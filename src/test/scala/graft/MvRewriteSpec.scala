package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.MvRewrite

/** Materialized-view rewrite: subsumed aggregates must be answered from the
  * rollup (plan-verified), non-derivable shapes must be left alone, and the
  * rewrite must never change results — including null-measure AVG/COUNT
  * semantics.
  */
class MvRewriteSpec extends SparkSpec {

  private def scans(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        MvRewrite.rootPaths(lr).toSeq.flatten
    }.flatten

  private def withMv[A](factDir: String, groupCols: Seq[String],
                        measures: Seq[String])(body: String => A): A = {
    val mvDir = Files.createTempDirectory("graft_mv_").toString + "/rollup"
    MvRewrite.defineRollup(spark, "t", factDir, mvDir, groupCols, measures)
    spark.conf.set(MvRewrite.EnabledKey, "true")
    try body(mvDir)
    finally spark.conf.set(MvRewrite.EnabledKey, "false")
  }

  private def sorted(df: DataFrame): Seq[org.apache.spark.sql.Row] =
    df.collect().toSeq.sortBy(_.toString)

  test("subsumed aggregate is answered from the rollup and matches the fact-table answer") {
    val fact = s"$sf0001/lineitem.parquet"
    withMv(fact, Seq("l_returnflag", "l_linestatus"),
      Seq("l_quantity", "l_extendedprice")) { mvDir =>
      def q = spark.read.parquet(fact)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("sq"),
          min(col("l_quantity")).as("mn"),
          max(col("l_extendedprice")).as("mx"),
          round(avg(col("l_quantity")), 6).as("av"))
      val rewritten = q
      assert(scans(rewritten).exists(_.contains(mvDir)),
        s"expected a rollup scan, got ${scans(rewritten)}")
      assert(!scans(rewritten).exists(_.contains("lineitem.parquet")),
        "fact table must not be scanned after the rewrite")
      val fromMv = sorted(rewritten)
      spark.conf.set(MvRewrite.EnabledKey, "false")
      assert(fromMv == sorted(q), "rewrite changed the result")
    }
  }

  test("filter on a grouping column is applied to rollup rows; coarser grouping re-aggregates") {
    val fact = s"$sf0001/lineitem.parquet"
    withMv(fact, Seq("l_returnflag", "l_linestatus"), Seq("l_quantity")) { mvDir =>
      def q = spark.read.parquet(fact)
        .filter(col("l_linestatus") === "F")
        .groupBy(col("l_returnflag"))
        .agg(round(sum(col("l_quantity")), 2).as("sq"))
      assert(scans(q).exists(_.contains(mvDir)))
      val fromMv = sorted(q)
      spark.conf.set(MvRewrite.EnabledKey, "false")
      assert(fromMv == sorted(q))
    }
  }

  test("non-derivable shapes are left on the fact table: distinct, derived-expression sum, filter on a measure, sum of a group column") {
    val fact = s"$sf0001/lineitem.parquet"
    withMv(fact, Seq("l_returnflag", "l_linestatus"), Seq("l_quantity")) { _ =>
      val distinctAgg = spark.read.parquet(fact).groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_quantity")).as("d"))
      val exprSum = spark.read.parquet(fact).groupBy(col("l_returnflag"))
        .agg(sum(col("l_quantity") * 2).as("s"))
      val measureFilter = spark.read.parquet(fact)
        .filter(col("l_quantity") > 10)
        .groupBy(col("l_returnflag")).agg(sum(col("l_quantity")).as("s"))
      // sum over a GROUP column is not sum over rows — must stay on the fact
      val groupColSum = spark.read.parquet(fact).groupBy(col("l_returnflag"))
        .agg(sum(col("l_linestatus").substr(lit(1), lit(1)).cast("string").isNotNull
          .cast("long")).as("s"))
      // a non-deterministic filter is row-granular; re-applying it to
      // rollup rows would keep whole GROUPS, not rows
      val randomFilter = spark.read.parquet(fact).filter(rand(42) < 0.5)
        .groupBy(col("l_returnflag")).agg(sum(col("l_quantity")).as("s"))
      for ((q, what) <- Seq((distinctAgg, "distinct"), (exprSum, "derived sum"),
        (measureFilter, "measure filter"), (groupColSum, "group-col sum"),
        (randomFilter, "non-deterministic filter")))
        assert(scans(q).forall(_.contains("lineitem.parquet")),
          s"$what must not be rewritten, scans=${scans(q)}")
    }
  }

  test("min/max over a grouping column ARE derivable (extrema over distinct values)") {
    val fact = s"$sf0001/orders.parquet"
    withMv(fact, Seq("o_orderstatus", "o_orderpriority"), Seq("o_totalprice")) { mvDir =>
      def q = spark.read.parquet(fact)
        .groupBy(col("o_orderstatus"))
        .agg(min(col("o_orderpriority")).as("mn"), max(col("o_orderpriority")).as("mx"))
      assert(scans(q).exists(_.contains(mvDir)))
      val fromMv = sorted(q)
      spark.conf.set(MvRewrite.EnabledKey, "false")
      assert(fromMv == sorted(q))
    }
  }

  test("answer(): explicit one-query rewrite, session flag stays off (q108's path)") {
    val fact = s"$sf0001/lineitem.parquet"
    val mvDir = Files.createTempDirectory("graft_mvans_").toString + "/rollup"
    MvRewrite.defineRollup(spark, "t_ans", fact, mvDir,
      Seq("l_returnflag", "l_linestatus"), Seq("l_quantity"))
    assert(spark.conf.getOption(MvRewrite.EnabledKey).forall(_ == "false"))
    def q = spark.read.parquet(fact).groupBy(col("l_returnflag"))
      .agg(round(sum(col("l_quantity")), 2).as("sq"))
    val answered = MvRewrite.answer(spark, q)
    assert(scans(answered).exists(_.contains(mvDir)),
      s"answer() must return a rollup-backed plan, got ${scans(answered)}")
    // the un-answered query still scans the fact table (flag off)
    assert(scans(q).forall(_.contains("lineitem.parquet")))
    assert(sorted(answered) == sorted(q))
  }

  test("incremental refresh: folding an appended batch equals querying the grown fact; commits are versioned") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_mvinc_").toString
    val (factDir, deltaDir, mvRoot) = (s"$base/fact", s"$base/delta", s"$base/mv")
    val rows = (1 to 300).map(i => (s"g${i % 7}", i.toDouble, i.toLong % 13))
    val (head, tail) = rows.splitAt(200)
    head.toDF("g", "x", "y").write.parquet(factDir)
    MvRewrite.defineRollup(spark, "t_inc", factDir, mvRoot, Seq("g"), Seq("x", "y"))
    // the batch lands in the fact table AND feeds the refresh — history is
    // never rescanned
    tail.toDF("g", "x", "y").write.mode("append").parquet(factDir)
    tail.toDF("g", "x", "y").write.parquet(deltaDir)
    MvRewrite.refreshIncremental(spark, "t_inc", deltaDir)
    def q = spark.read.parquet(factDir).groupBy(col("g"))
      .agg(count(col("x")).as("c"), sum(col("x")).as("s"), avg(col("y")).as("a"),
        min(col("x")).as("mn"), max(col("y")).as("mx"), count(lit(1)).as("n"))
    val answered = MvRewrite.answer(spark, q)
    assert(scans(answered).exists(_.contains(mvRoot)),
      s"post-refresh answer must come from the rollup, got ${scans(answered)}")
    assert(sorted(answered) == sorted(q), "refreshed rollup diverged from the fact table")
    assert(graft.ops.VersionedTable.committedVersions(spark, mvRoot).map(_._1) == Seq(0, 1),
      "define + refresh must leave two committed versions")
  }

  test("refresh GC: retention knob honored; uncommitted version dirs are never deleted") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_mvgc_").toString
    val (factDir, deltaDir, mvRoot) = (s"$base/fact", s"$base/delta", s"$base/mv")
    (1 to 50).map(i => (s"g${i % 3}", i.toDouble)).toDF("g", "x").write.parquet(factDir)
    (51 to 60).map(i => (s"g${i % 3}", i.toDouble)).toDF("g", "x").write.parquet(deltaDir)
    spark.conf.set(MvRewrite.RetainVersionsKey, "3")
    try {
      MvRewrite.defineRollup(spark, "t_gc", factDir, mvRoot, Seq("g"), Seq("x"))
      // a concurrent writer's in-flight (uncommitted — no _SUCCESS) attempt:
      // GC must leave it alone even though it sorts below every retained one
      val inflight = new java.io.File(s"$mvRoot/v=900")
      assert(inflight.mkdirs())
      for (_ <- 1 to 4) MvRewrite.refreshIncremental(spark, "t_gc", deltaDir)
      val kept = graft.ops.VersionedTable.committedVersions(spark, mvRoot).map(_._1)
      assert(kept == Seq(2, 3, 4), s"retain=3 after 5 commits must keep 2..4, got $kept")
      assert(inflight.isDirectory, "uncommitted version dir was deleted by MV GC")
    } finally {
      spark.conf.unset(MvRewrite.RetainVersionsKey)
      MvRewrite.dropRollup(spark, "t_gc")
    }
  }

  test("registration canonicalizes column case; colliding generated names and unknown columns are rejected") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_mvcase_").toString
    val factDir = s"$base/fact"
    (1 to 40).map(i => (s"g${i % 2}", i.toDouble)).toDF("g", "x").write.parquet(factDir)
    // Case-mismatched registration must still REWRITE (it used to build a
    // rollup that silently never matched the stored lower-case attributes).
    MvRewrite.defineRollup(spark, "t_case", factDir, s"$base/mv", Seq("G"), Seq("X"))
    try {
      val q = spark.read.parquet(factDir).groupBy(col("g"))
        .agg(sum(col("x")).as("s"))
      val answered = MvRewrite.answer(spark, q)
      assert(scans(answered).exists(_.contains(s"$base/mv")),
        s"case-mismatched registration must still rewrite, got ${scans(answered)}")
      assert(sorted(answered) == sorted(q))
    } finally MvRewrite.dropRollup(spark, "t_case")
    // A measure named "star" would generate a second cnt_star — reject at
    // the require(), not with an opaque parquet duplicate-column error.
    (1 to 10).map(i => (s"g$i", i.toDouble)).toDF("g", "star")
      .write.parquet(s"$base/fact2")
    val collide = intercept[IllegalArgumentException] {
      MvRewrite.defineRollup(spark, "t_star", s"$base/fact2", s"$base/mv2",
        Seq("g"), Seq("star"))
    }
    assert(collide.getMessage.contains("collide"))
    // Unknown columns name themselves in the error
    val missing = intercept[IllegalArgumentException] {
      MvRewrite.defineRollup(spark, "t_miss", factDir, s"$base/mv3",
        Seq("nope"), Seq("x"))
    }
    assert(missing.getMessage.contains("nope"))
  }

  test("slow reader's resolved version survives rapid refreshes; malformed knob never fails a refresh") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_mvslow_").toString
    val (factDir, deltaDir, mvRoot) = (s"$base/fact", s"$base/delta", s"$base/mv")
    (1 to 50).map(i => (s"g${i % 3}", i.toDouble)).toDF("g", "x").write.parquet(factDir)
    (51 to 60).map(i => (s"g${i % 3}", i.toDouble)).toDF("g", "x").write.parquet(deltaDir)
    spark.conf.set(MvRewrite.RetainVersionsKey, "3")
    try {
      MvRewrite.defineRollup(spark, "t_slow", factDir, mvRoot, Seq("g"), Seq("x"))
      MvRewrite.refreshIncremental(spark, "t_slow", deltaDir)
      // A slow reader plans against the version current NOW (v=1)...
      val (v, path) = graft.ops.VersionedTable.latest(spark, mvRoot).get
      val reader = spark.read.parquet(path.toString)
      val expected = reader.agg(sum($"cnt_star")).collect().head.getLong(0)
      // ...then two rapid refreshes land while it is still executing.
      // retain=3 keeps v alongside the two newer commits, so the reader's
      // re-scan still resolves every file it planned against.
      MvRewrite.refreshIncremental(spark, "t_slow", deltaDir)
      MvRewrite.refreshIncremental(spark, "t_slow", deltaDir)
      assert(reader.agg(sum($"cnt_star")).collect().head.getLong(0) == expected,
        s"slow reader's version v=$v was vacuumed out from under it")
      // Malformed knob: the refresh's data commit must succeed and GC must
      // fall back to the default instead of throwing after the commit.
      spark.conf.set(MvRewrite.RetainVersionsKey, "not-a-number")
      MvRewrite.refreshIncremental(spark, "t_slow", deltaDir)
      assert(graft.ops.VersionedTable.latest(spark, mvRoot).get._1 == v + 3,
        "refresh under a malformed retention knob must still commit")
    } finally {
      spark.conf.unset(MvRewrite.RetainVersionsKey)
      MvRewrite.dropRollup(spark, "t_slow")
    }
  }

  test("decimal sum overflow on refresh fails loudly instead of committing a nulled sum") {
    import spark.implicits._
    // The stored sum type is define-time-fixed, but incremental refreshes
    // ACCUMULATE: once the cumulative sum exceeds the stored precision, a
    // non-ANSI cast-back silently nulls the MV's sum while the fact table
    // still answers correctly — the refresh must abort instead of
    // committing that. (Under ANSI the cast itself throws; this pins the
    // engine's own guard on the silent path.)
    val prevAnsi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      def rollup(v: String) = {
        val d = new java.math.BigDecimal(v)
        Seq(("a", 1L, d, 1L, d, d), ("a", 1L, d, 1L, d, d))
          .toDF("g", "cnt_star", "sum_m", "cnt_m", "min_m", "max_m")
          .select($"g", $"cnt_star", $"sum_m".cast("decimal(12,0)").as("sum_m"),
            $"cnt_m", $"min_m".cast("decimal(12,0)").as("min_m"),
            $"max_m".cast("decimal(12,0)").as("max_m"))
      }
      // 9e11 + 9e11 = 1.8e12 exceeds decimal(12,0): must throw, not null
      val ex = intercept[Exception] {
        MvRewrite.combineRollups(rollup("900000000000"), Seq("g"), Seq("m")).collect()
      }
      val chain = Iterator.iterate[Throwable](ex)(_.getCause)
        .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
      assert(chain.contains("overflowed its stored type"), s"wrong failure: $chain")
      // a fitting fold still narrows back to the stored type, value intact
      val ok = MvRewrite.combineRollups(rollup("400000000000"), Seq("g"), Seq("m"))
      assert(ok.schema("sum_m").dataType.sql == "DECIMAL(12,0)")
      assert(ok.select($"sum_m".cast("string")).as[String].head() == "800000000000")
    } finally spark.conf.set("spark.sql.ansi.enabled", prevAnsi)
  }

  test("overflow of the WIDENED accumulator itself also fails loudly") {
    import spark.implicits._
    // At stored decimal(38,0) the widened sum cannot widen further (38 is
    // the cap), so under non-ANSI the AGGREGATE overflows straight to null
    // — `wide.isNotNull` never sees it. Non-null inputs present
    // (sum(cnt_m) > 0) with a null widened sum is that signature; the
    // refresh must abort, not commit a silently-nulled sum.
    val prevAnsi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val d = new java.math.BigDecimal("9" + "0" * 37) // 9e37; 2x > 38-digit cap
      val rollup = Seq(("a", 1L, d, 1L, d, d), ("a", 1L, d, 1L, d, d))
        .toDF("g", "cnt_star", "sum_m", "cnt_m", "min_m", "max_m")
        .select($"g", $"cnt_star", $"sum_m".cast("decimal(38,0)").as("sum_m"),
          $"cnt_m", $"min_m".cast("decimal(38,0)").as("min_m"),
          $"max_m".cast("decimal(38,0)").as("max_m"))
      val ex = intercept[Exception] {
        MvRewrite.combineRollups(rollup, Seq("g"), Seq("m")).collect()
      }
      val chain = Iterator.iterate[Throwable](ex)(_.getCause)
        .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
      assert(chain.contains("WIDENED accumulator"), s"wrong failure: $chain")
      // an all-null measure column still folds to a legitimate null sum
      val allNull = Seq(("a", 1L, null: java.math.BigDecimal, 0L,
          null: java.math.BigDecimal, null: java.math.BigDecimal))
        .toDF("g", "cnt_star", "sum_m", "cnt_m", "min_m", "max_m")
        .select($"g", $"cnt_star", $"sum_m".cast("decimal(38,0)").as("sum_m"),
          $"cnt_m", $"min_m".cast("decimal(38,0)").as("min_m"),
          $"max_m".cast("decimal(38,0)").as("max_m"))
      val folded = MvRewrite.combineRollups(allNull, Seq("g"), Seq("m")).collect()
      assert(folded.length == 1 && folded(0).isNullAt(folded(0).fieldIndex("sum_m")),
        "an all-null measure must fold to null, not raise")
    } finally spark.conf.set("spark.sql.ansi.enabled", prevAnsi)
  }

  test("null measures: AVG/COUNT/SUM rollup algebra matches Spark's ignore-null semantics") {
    import spark.implicits._
    val factDir = Files.createTempDirectory("graft_mvnull_").toString + "/fact"
    Seq(("a", Some(1.0)), ("a", None), ("a", Some(3.0)),
      ("b", None), ("b", None), // all-null group: avg/sum null, count 0
      ("c", Some(5.0)))
      .toDF("g", "x").write.parquet(factDir)
    withMv(factDir, Seq("g"), Seq("x")) { mvDir =>
      def q = spark.read.parquet(factDir).groupBy(col("g"))
        .agg(count(col("x")).as("c"), sum(col("x")).as("s"), avg(col("x")).as("a"),
          count(lit(1)).as("n"))
      assert(scans(q).exists(_.contains(mvDir)))
      val fromMv = sorted(q)
      spark.conf.set(MvRewrite.EnabledKey, "false")
      assert(fromMv == sorted(q), s"null-measure algebra diverged: $fromMv vs ${sorted(q)}")
    }
  }
}
