package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{ChecksumFs, FileContext, FileSystem, LocalFileSystem}
import org.apache.spark.sql.SparkSession

import graft.functions.GraftFunctions
import graft.plans.{ApproxDistinctRewrite, AsOfJoinStrategy, MvRewriteRule}
import graft.sources.{ForklessLocalFileSystem, ForklessLocalFs, ForklessRawLocalFileSystem, ForklessRawLocalFs}

/** The one session profile: [[GraftSession.build]] carries the engine's
  * functions, rules, planner strategy and static pins at build time, so a
  * session derived from it (here `newSession()`, which starts with no temp
  * functions and no experimental rules) has them with no live-session
  * registration; every entry point runs one SQL conf; and
  * `file:` I/O goes through the fork-free local filesystem. */
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
    val plain = sqlConfOf(GraftSession.build("graft-plain", "2"))
    assert(bench == verify)
    assert(bench == plain)
    assert(!bench.contains("spark.sql.files.maxPartitionBytes"),
      "split size is Spark's default on every entry point")
    assert(bench("spark.sql.autoBroadcastJoinThreshold") == (64L * 1024 * 1024).toString)
    assert(bench("spark.sql.sources.bucketing.autoBucketedScan.enabled") == "false")
  }

  test("the benign-WARN loggers are at ERROR after a build") {
    assert(spark.sparkContext.isLocal) // forces the profile build
    for (name <- Seq("org.apache.spark.sql.execution.window",
        "org.apache.spark.rdd.MapPartitionsRDD",
        "org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream",
        "org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution"))
      assert(org.apache.logging.log4j.LogManager.getLogger(name).getLevel ==
        org.apache.logging.log4j.Level.ERROR, name)
  }

  test("file: resolves to the fork-free local filesystem for FileSystem and FileContext") {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(new URI("file:///"), conf)
    assert(fs.isInstanceOf[ForklessLocalFileSystem], fs.getClass)
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[ForklessRawLocalFileSystem])
    val afs = FileContext.getFileContext(conf).getDefaultFileSystem
    assert(afs.getUri.getScheme == "file")
    assert(afs.isInstanceOf[ForklessLocalFs], afs.getClass)
    assert(afs.asInstanceOf[ChecksumFs].getRawFs.isInstanceOf[ForklessRawLocalFs])
  }

  test("a parquet write under the profile leaves the permissions the stock local filesystem leaves") {
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("graft_perms_")
    def write(name: String): Unit =
      spark.range(100).repartition(2).write.parquet(root.resolve(name).toString)
    // relative path (part-file UUIDs masked) -> rwx string, dirs included
    def perms(name: String): Map[String, String] = {
      val dir = root.resolve(name)
      val walk = Files.walk(dir)
      try walk.iterator().asScala.map { p =>
        dir.relativize(p).toString.replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "U") ->
          PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
      }.toMap
      finally walk.close()
    }
    write("forkless")
    // The session's own conf overrides the context's for its writes: an
    // uncached stock LocalFileSystem (plain RawLocalFileSystem underneath).
    spark.conf.set("fs.file.impl", classOf[LocalFileSystem].getName)
    spark.conf.set("fs.file.impl.disable.cache", "true")
    try {
      assert(FileSystem.get(new URI("file:///"), state(spark).newHadoopConf())
        .getClass == classOf[LocalFileSystem])
      write("stock")
    } finally {
      spark.conf.unset("fs.file.impl")
      spark.conf.unset("fs.file.impl.disable.cache")
    }
    val forkless = perms("forkless")
    assert(forkless.keys.exists(_.endsWith(".parquet")) && forkless.contains("_SUCCESS"))
    assert(forkless == perms("stock"))
  }
}
