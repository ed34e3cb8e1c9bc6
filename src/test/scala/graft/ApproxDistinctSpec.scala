package graft

import org.apache.spark.sql.DataFrame
import graft.plans.ApproxDistinct

/** The injected "approx mode" optimizer rule: flag off → plans and results
  * are exactly what Spark produces; flag on → exact distinct counts become
  * HLL++ sketches (visible in the optimized plan), results land within the
  * sketch's error bound, and shapes the rewrite must not touch stay exact. */
class ApproxDistinctSpec extends SparkSpec {

  private def optimized(df: DataFrame): String =
    df.queryExecution.optimizedPlan.toString

  private def withApprox[A](on: Boolean)(f: => A): A = {
    spark.conf.set(ApproxDistinct.EnabledKey, on.toString)
    try f finally spark.conf.unset(ApproxDistinct.EnabledKey)
  }

  private def custDistinct(): DataFrame = {
    val o = graft.sources.Tables.orders(spark, sf001)
    o.selectExpr("count(DISTINCT o_custkey) AS n")
  }

  // Ground truth, computed with the rewrite off.
  private lazy val exactN: Long = withApprox(on = false) {
    custDistinct().collect()(0).getLong(0)
  }

  test("malformed flag/rsd values degrade to defaults instead of failing every query") {
    // The rule runs on EVERY plan in the session: "1" or "yes" used to
    // throw from String.toBoolean inside the optimizer, failing unrelated
    // queries. Malformed enabled → treated as disabled; malformed rsd with
    // enabled=true → default 0.05, query still runs.
    spark.conf.set(ApproxDistinct.EnabledKey, "yes")
    try {
      assert(!optimized(custDistinct()).contains("approx_count_distinct"))
      assert(custDistinct().collect()(0).getLong(0) == exactN)
      spark.conf.set(ApproxDistinct.EnabledKey, "true")
      spark.conf.set(ApproxDistinct.RsdKey, "5%")
      assert(optimized(custDistinct()).contains("approx_count_distinct"))
      assert(custDistinct().collect()(0).getLong(0) > 0)
    } finally {
      spark.conf.unset(ApproxDistinct.EnabledKey)
      spark.conf.unset(ApproxDistinct.RsdKey)
    }
  }

  test("flag off: plan keeps the exact distinct") {
    withApprox(on = false) {
      assert(!optimized(custDistinct()).contains("approx_count_distinct"))
      assert(exactN > 0)
    }
  }

  test("flag on: plan rewrites to HLL++ and the estimate is inside 3*rsd") {
    withApprox(on = true) {
      val df = custDistinct()
      val plan = optimized(df)
      assert(plan.contains("approx_count_distinct"), s"no HLL++ in:\n$plan")
      assert(!plan.contains("count(distinct"), s"exact distinct survived:\n$plan")
      val est = df.collect()(0).getLong(0)
      assert(math.abs(est - exactN) <= 3 * 0.05 * exactN, s"estimate $est vs $exactN")
    }
  }

  test("flag on: SQL surface is rewritten too, and the alias/schema survive") {
    withApprox(on = true) {
      graft.sources.Tables.orders(spark, sf001).createOrReplaceTempView("adr_orders")
      val df = spark.sql(
        "SELECT o_orderstatus, count(DISTINCT o_custkey) AS nd FROM adr_orders GROUP BY 1")
      assert(optimized(df).contains("approx_count_distinct"))
      assert(df.columns.toSeq === Seq("o_orderstatus", "nd"))
      assert(df.schema("nd").dataType.typeName === "long")
      assert(df.count() === 3)
    }
  }

  test("flag on: multi-argument count(DISTINCT a, b) stays exact") {
    withApprox(on = true) {
      val df = graft.sources.Tables.orders(spark, sf001)
        .selectExpr("count(DISTINCT o_custkey, o_orderstatus) AS n")
      assert(!optimized(df).contains("approx_count_distinct"))
    }
  }

  test("flag on: tighter rsd is honored") {
    withApprox(on = true) {
      spark.conf.set(ApproxDistinct.RsdKey, "0.01")
      try {
        val est = custDistinct().collect()(0).getLong(0)
        assert(math.abs(est - exactN) <= 3 * 0.01 * exactN, s"estimate $est vs $exactN at rsd=0.01")
      } finally spark.conf.unset(ApproxDistinct.RsdKey)
    }
  }
}
