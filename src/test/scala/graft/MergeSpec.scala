package graft

import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.ops.Merge

/** K4 upsert semantics: last-write-wins, key uniqueness, idempotence,
  * batch-order determinism — the invariants the reference enforces via the
  * Postgres UNIQUE constraint + ON CONFLICT
  * (`scripts/lambda_handler_warehouse.py:53-101`). */
class MergeSpec extends SparkSpec {

  private def df(rows: Seq[(String, Int, Double)]): DataFrame = {
    import spark.implicits._
    rows.toDF("k1", "k2", "v")
  }

  private def canon(d: DataFrame): Set[(String, Int, Double)] =
    d.collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2))).toSet

  val keys = Seq("k1", "k2")

  test("upsert: updates win, unmatched target rows survive") {
    val target = df(Seq(("a", 1, 1.0), ("b", 2, 2.0)))
    val updates = df(Seq(("a", 1, 10.0), ("c", 3, 3.0)))
    assert(canon(Merge.upsert(target, updates, keys)) ==
      Set(("a", 1, 10.0), ("b", 2, 2.0), ("c", 3, 3.0)))
  }

  test("upsert is idempotent: re-applying the same batch is a no-op") {
    val target = df(Seq(("a", 1, 1.0), ("b", 2, 2.0)))
    val updates = df(Seq(("a", 1, 10.0)))
    val once = Merge.upsert(target, updates, keys)
    assert(canon(Merge.upsert(once, updates, keys)) == canon(once))
  }

  test("upsertVersioned: highest version wins per key regardless of union order") {
    val b0 = df(Seq(("a", 1, 1.0), ("b", 2, 2.0))).withColumn("__v", org.apache.spark.sql.functions.lit(0))
    val b1 = df(Seq(("a", 1, 5.0))).withColumn("__v", org.apache.spark.sql.functions.lit(1))
    val fwd = Merge.upsertVersioned(b0.unionByName(b1), keys, "__v")
    val rev = Merge.upsertVersioned(b1.unionByName(b0), keys, "__v")
    assert(canon(fwd) == Set(("a", 1, 5.0), ("b", 2, 2.0)))
    assert(canon(fwd) == canon(rev))
    // latestPerKey, the window under upsertVersioned: a tie on the version
    // goes to the larger value, in any row order.
    Seq(1.0, 3.0, 2.0).permutations.foreach { vs =>
      val tied = df(vs.map(v => ("a", 1, v)) :+ (("b", 2, 2.0)))
        .withColumn("__v", org.apache.spark.sql.functions.lit(0))
      assert(canon(Merge.latestPerKey(tied, keys, Seq("__v")).drop("__v")) ==
        Set(("a", 1, 3.0), ("b", 2, 2.0)), vs.toString)
    }
  }

  test("upsertVersioned accepts unorderable data columns (maps) — tiebreak skips them") {
    import spark.implicits._
    // Map columns are not orderable; a tiebreak that blindly ordered by
    // every data column failed ANALYSIS for any frame carrying one, even
    // when versions alone resolve every key (the normal, contract-honoring
    // case). The unorderable column must ride along, not break the merge.
    val rows = Seq(
      ("a", 0, Map("x" -> 1), 1.0), ("a", 1, Map("x" -> 2), 5.0),
      ("b", 0, Map("y" -> 3), 2.0))
      .toDF("k1", "__v", "attrs", "v")
    val out = Merge.upsertVersioned(rows, Seq("k1"), "__v")
      .collect().map(r => (r.getString(0), r.getMap[String, Int](1).toMap, r.getDouble(2))).toSet
    assert(out == Set(("a", Map("x" -> 2), 5.0), ("b", Map("y" -> 3), 2.0)))
  }

  test("null keys never match: both sides' null-key rows are retained (Postgres UNIQUE NULL semantics)") {
    import spark.implicits._
    val target = Seq((Option("a"), 1, 1.0), (Option.empty[String], 1, 2.0))
      .toDF("k1", "k2", "v")
    val updates = Seq((Option.empty[String], 1, 9.0)).toDF("k1", "k2", "v")
    val out = Merge.upsert(target, updates, keys).collect()
      .map(r => (if (r.isNullAt(0)) null else r.getString(0), r.getDouble(2))).toSet
    assert(out == Set(("a", 1.0), (null, 2.0), (null, 9.0)))
  }

  test("upsert with an over-threshold batch takes the shuffle path (no BroadcastExchange) and LWW holds") {
    val target = df((1 to 200).map(i => (s"k$i", i, i.toDouble)))
    val updates = df((1 to 150).map(i => (s"k$i", i, i + 0.5)))
    val expected = canon(Merge.upsert(target, updates, keys))
    val conf = spark.conf
    val saved = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // Any realistic batch exceeds a 1-byte threshold — the guard must NOT
      // plant a broadcast hint, and AQE (same threshold) must not convert.
      conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
      val merged = Merge.upsert(target, updates, keys)
      assert(canon(merged) == expected, "LWW result must not depend on join strategy")
      val plan = merged.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange"),
        s"over-threshold update batch must not be broadcast:\n$plan")
    } finally conf.set("spark.sql.autoBroadcastJoinThreshold", saved)

    // sanity: with a normal threshold the same small batch IS broadcast
    val small = Merge.upsert(target, updates, keys)
    small.collect() // finalize the adaptive plan before inspecting it
    val broadcastPlan = small.queryExecution.executedPlan.toString
    assert(broadcastPlan.contains("BroadcastExchange"),
      s"small update batch should broadcast under the default threshold:\n$broadcastPlan")
  }

  val rowGen: Gen[(String, Int, Double)] = for {
    k1 <- Gen.oneOf("a", "b", "c", "d")
    k2 <- Gen.choose(0, 3)
    v <- Gen.choose(0, 1000).map(_.toDouble)
  } yield (k1, k2, v)

  test("applyCdc: deletes erase keys, updates win by sequence, target rows predate the log") {
    import spark.implicits._
    val target = df(Seq(("a", 1, 1.0), ("b", 2, 2.0), ("d", 4, 4.0)))
    val log = Seq(
      ("a", 1, 10.0, 1L, "U"),  // update existing
      ("b", 2, 0.0, 2L, "D"),   // delete existing
      ("c", 3, 3.0, 3L, "I"),   // insert new
      ("c", 3, 30.0, 4L, "U"),  // then update it
      ("e", 5, 5.0, 5L, "I"),
      ("e", 5, 0.0, 6L, "D"))   // insert then delete: never surfaces
      .toDF("k1", "k2", "v", "seq", "op")
    val out = Merge.applyCdc(target, log, keys, "seq", "op")
    assert(out.columns.toSeq == Seq("k1", "k2", "v"))
    assert(canon(out) == Set(("a", 1, 10.0), ("c", 3, 30.0), ("d", 4, 4.0)))
  }

  test("applyCdc is idempotent: re-applying the log (or any suffix) is a no-op") {
    import spark.implicits._
    val target = df(Seq(("a", 1, 1.0), ("b", 2, 2.0)))
    val log = Seq(
      ("a", 1, 10.0, 1L, "U"),
      ("b", 2, 0.0, 2L, "D"),
      ("c", 3, 3.0, 3L, "I"))
      .toDF("k1", "k2", "v", "seq", "op")
    val once = Merge.applyCdc(target, log, keys, "seq", "op")
    val again = Merge.applyCdc(once, log, keys, "seq", "op")
    assert(canon(again) == canon(once))
    val suffix = log.filter($"seq" >= 2L)
    assert(canon(Merge.applyCdc(once, suffix, keys, "seq", "op")) == canon(once))
  }

  test("property: merged table is unique on keys and upsert is idempotent") {
    val prop = Prop.forAll(Gen.listOf(rowGen), Gen.listOf(rowGen)) {
      (t: List[(String, Int, Double)], u: List[(String, Int, Double)]) =>
        // make both sides key-unique first (the operator's precondition)
        val tu = Merge.latestPerKey(df(t), keys, Seq("v"))
        val uu = Merge.latestPerKey(df(u), keys, Seq("v"))
        val merged = Merge.upsert(tu, uu, keys)
        val rows = merged.collect()
        val keyset = rows.map(r => (r.getString(0), r.getInt(1)))
        keyset.distinct.length == keyset.length &&
          canon(Merge.upsert(merged, uu, keys)) == canon(merged)
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(result.passed, result.status.toString)
  }
}
