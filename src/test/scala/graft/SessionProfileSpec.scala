package graft

import org.apache.spark.sql.SparkSession

import graft.functions.GraftFunctions
import graft.plans.{ApproxDistinctRewrite, AsOfJoinStrategy, MvRewriteRule}

/** The one session profile: [[GraftSession.build]] carries the engine's
  * functions, rules, planner strategy and static pins at build time, so a
  * session derived from it (here `newSession()`, which starts with no temp
  * functions and no experimental rules) has them with no live-session
  * registration; and the two staged-suite drivers run one SQL conf. */
class SessionProfileSpec extends SparkSpec {

  private def state(s: SparkSession) =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState

  test("the 8 native SQL functions resolve on a session from the profile") {
    val fresh = spark.newSession()
    val names = GraftFunctions.builders.map(_._1)
    assert(names.size == 8)
    names.foreach(n => assert(fresh.catalog.functionExists(n), n))
    val fp = fresh.sql("SELECT rolling_hash_min('profile session', 4) AS fp").head().getLong(0)
    assert(fp == graft.functions.RollingHashKernel.minRollingHash(
      org.apache.spark.unsafe.types.UTF8String.fromString("profile session"), 4))
  }

  test("approx and MV rewrite rules and the as-of strategy are injected at build time") {
    val fresh = spark.newSession()
    assert(fresh.experimental.extraOptimizations.isEmpty)
    assert(fresh.experimental.extraStrategies.isEmpty)
    val rules = state(fresh).optimizer.extendedOperatorOptimizationRules
    assert(rules.contains(ApproxDistinctRewrite))
    assert(rules.exists(_.isInstanceOf[MvRewriteRule]))
    assert(state(fresh).planner.strategies.contains(AsOfJoinStrategy))
  }

  test("the codegen cache holds 2048 entries") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2048")
  }

  /** The `spark.sql.*` conf an entry point's session sets, cores aside. The
    * builder reuses the live context and applies its settings to the ACTIVE
    * session, so a fresh active session isolates what one entry point sets
    * from the shared suite session. */
  private def sqlConfOf(entry: => SparkSession): Map[String, String] = {
    val fresh = spark.newSession()
    SparkSession.setActiveSession(fresh)
    try {
      val s = entry
      assert(s eq fresh)
      s.conf.getAll.filter(_._1.startsWith("spark.sql.")) - "spark.sql.shuffle.partitions"
    } finally SparkSession.setActiveSession(spark)
  }

  test("Bench and Verify sessions have equal SQL conf except core count") {
    val bench = sqlConfOf(Bench.session("8"))
    val verify = sqlConfOf(Verify.session("3"))
    assert(bench == verify)
    assert(bench("spark.sql.files.maxPartitionBytes") == (4L * 1024 * 1024).toString)
    assert(bench("spark.sql.autoBroadcastJoinThreshold") == (64L * 1024 * 1024).toString)
    assert(bench("spark.sql.sources.bucketing.autoBucketedScan.enabled") == "false")
  }

  test("the benign-WARN loggers are at ERROR after a build") {
    assert(spark.sparkContext.isLocal) // forces the profile build
    for (name <- Seq("org.apache.spark.sql.execution.window",
        "org.apache.spark.rdd.MapPartitionsRDD",
        "org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream"))
      assert(org.apache.logging.log4j.LogManager.getLogger(name).getLevel ==
        org.apache.logging.log4j.Level.ERROR, name)
  }
}
