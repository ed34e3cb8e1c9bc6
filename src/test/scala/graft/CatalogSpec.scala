package graft

import org.apache.spark.sql.execution.ExplainMode

/** Catalog + bucketing surface (SURVEY.md §1 catalog row, §2 K6): databases,
  * managed tables, and bucketed co-located joins — the zero-shuffle join
  * layout for repeated 100 TB fact⋈fact joins. */
class CatalogSpec extends SparkSpec {

  test("bucketed tables join without a shuffle exchange") {
    import spark.implicits._
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.sql("CREATE DATABASE IF NOT EXISTS graftdb")
    graft.sources.Tables.orders(spark, sf0001)
      .write.mode("overwrite")
      .bucketBy(4, "o_custkey").sortBy("o_custkey")
      .saveAsTable("graftdb.orders_b")
    graft.sources.Tables.customer(spark, sf0001)
      .write.mode("overwrite")
      .bucketBy(4, "c_custkey").sortBy("c_custkey")
      .saveAsTable("graftdb.customer_b")
    // disable broadcast so the join would otherwise shuffle both sides
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("graftdb.orders_b")
        .join(spark.table("graftdb.customer_b"), $"o_custkey" === $"c_custkey")
      val plan = joined.queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
      assert(joined.count() == 1500)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
    }
  }

  test("q159: mergeSchema surfaces the post-migration column; pre-migration rows null-fill") {
    import spark.implicits._
    val root = graft.sources.Staged.evolvedOrdersDir(spark, sf0001)
    val merged = spark.read.option("mergeSchema", "true").parquet(root)
    assert(merged.columns.contains("o_channel"),
      "migration-added column must appear in the merged schema")
    assert(merged.columns.contains("delivery"),
      "generation id must surface as a partition column")
    // Every pre-migration row (delivery 0) null-fills the new column;
    // every post-migration row carries a value.
    assert(merged.filter($"delivery" === 0 && $"o_channel".isNotNull).count() == 0)
    assert(merged.filter($"delivery" === 1 && $"o_channel".isNull).count() == 0)
    // Nothing lost across generations: merged row count = source rows.
    assert(merged.count() ==
      graft.sources.Tables.orders(spark, sf0001).count())
  }

  test("ANALYZE TABLE statistics drive broadcast selection without a hint (CBO)") {
    import spark.implicits._
    spark.sql("CREATE DATABASE IF NOT EXISTS graftdb")
    graft.sources.Tables.nation(spark, sf0001)
      .write.mode("overwrite").saveAsTable("graftdb.nation_s")
    spark.sql("ANALYZE TABLE graftdb.nation_s COMPUTE STATISTICS")
    val stats = spark.sql("DESCRIBE EXTENDED graftdb.nation_s")
      .filter($"col_name" === "Statistics").collect()
    assert(stats.nonEmpty, "ANALYZE must record table statistics in the catalog")
    // No broadcast() hint anywhere: the planner must pick BroadcastHashJoin
    // from the catalog statistics alone.
    val joined = graft.sources.Tables.customer(spark, sf0001)
      .join(spark.table("graftdb.nation_s"), $"c_nationkey" === $"n_nationkey")
    val plan = joined.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("BroadcastHashJoin"),
      s"stats-known small table must broadcast without a hint:\n$plan")
    assert(joined.count() ==
      graft.sources.Tables.customer(spark, sf0001).count())
  }

  test("cached table: second access reads the InMemoryRelation, result unchanged") {
    import spark.implicits._
    val uncached = graft.sources.Tables.orders(spark, sf0001)
      .groupBy($"o_orderstatus").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    graft.sources.Tables.orders(spark, sf0001).createOrReplaceTempView("orders_cache_t")
    spark.sql("CACHE TABLE orders_cache_t")
    try {
      val df = spark.table("orders_cache_t").groupBy($"o_orderstatus").count()
      val plan = df.queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      assert(plan.contains("In-memory table"),
        s"cached table must be served from the in-memory relation:\n$plan")
      val cached = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(cached == uncached)
    } finally spark.sql("UNCACHE TABLE orders_cache_t")
  }

  test("Tables.dropSession evicts one session's memoized frames; others untouched") {
    import graft.sources.Tables
    // A session-per-request driver churns sessions; without the teardown
    // hook each discarded session leaks its registration entry plus cached
    // table frames (which pin the session) for the JVM's lifetime.
    val s2 = org.apache.spark.sql.graftshim.cloneSessionOf(spark)
    val a = Tables.nation(s2, sf0001)
    assert(Tables.nation(s2, sf0001) eq a, "frames memoize per session")
    Tables.registerAll(s2, sf0001)
    val keep = Tables.nation(spark, sf0001)
    Tables.dropSession(s2)
    assert(Tables.nation(s2, sf0001) ne a,
      "dropSession must evict the session's cached frames")
    assert(Tables.nation(spark, sf0001) eq keep,
      "dropping one session must not evict another's frames")
    // re-registration after a drop works (state entry rebuilt)
    Tables.registerAll(s2, sf0001)
    assert(s2.sql("SELECT count(*) FROM nation").head().getLong(0) == 25L)
    // tuned clones derived from the dropped session are evicted with it
    // (a clone pins its parent — leaving it cached would keep the dropped
    // session reachable)
    val dir = java.nio.file.Files.createTempDirectory("graft_drop_clone_")
    java.nio.file.Files.write(dir.resolve("blob.bin"), new Array[Byte](48 << 20))
    val cloneA = Tuning.sessionFor(s2, dir.toString)
    assert(cloneA ne s2)
    assert(Tuning.sessionFor(s2, dir.toString) eq cloneA)
    Tables.dropSession(s2)
    assert(Tuning.sessionFor(s2, dir.toString) ne cloneA,
      "dropSession must evict the session's tuned clones")
  }
}
