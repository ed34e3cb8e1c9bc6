package graft

import graft.ops.AsOfJoin
import graft.functions.{RollingHash, RollingHashKernel, VectorOps}
import org.apache.spark.unsafe.types.UTF8String

/** As-of join semantics and native-expression kernels. */
class OpsSpec extends SparkSpec {

  test("as-of join picks latest right row at or before left time, per key") {
    import spark.implicits._
    val left = Seq((1L, 100L, "l1"), (1L, 200L, "l2"), (2L, 100L, "l3"))
      .toDF("k", "t", "payload")
    val right = Seq((1L, 50L, 5.0), (1L, 150L, 15.0), (1L, 200L, 20.0), (2L, 300L, 30.0))
      .toDF("k", "t", "v")
    val out = AsOfJoin.lookup(left, right, Seq("k"), "t", Seq("v"))
      .select("payload", "asof_v").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(out("l1") == 5.0)   // latest right at t<=100 is t=50
    assert(out("l2") == 20.0)  // right at exactly t=200 counts (ties: right first)
    assert(out("l3") == null)  // no right row at or before t=100 for k=2
  }

  test("rolling-hash fingerprint: codegen result equals kernel; equal text equal hash") {
    import spark.implicits._
    val texts = Seq("the quick brown fox jumps over the lazy dog",
      "the quick brown fox jumps over the lazy dog",
      "a completely different document body here")
    val out = texts.toDF("text")
      .select(RollingHash.rollingHashMin($"text", 8)).collect().map(_.getLong(0))
    assert(out(0) == out(1))
    assert(out(0) != out(2))
    assert(out(0) == RollingHashKernel.minRollingHash(UTF8String.fromString(texts.head), 8))
  }

  test("native as-of join exec equals the composed formulation (handcrafted + events)") {
    import spark.implicits._
    val left = Seq((1L, 100L, "l1"), (1L, 200L, "l2"), (2L, 100L, "l3"))
      .toDF("k", "t", "payload")
    val right = Seq((1L, 50L, 5.0), (1L, 150L, 15.0), (1L, 200L, 20.0), (2L, 300L, 30.0))
      .toDF("k", "t", "v")
    val composed = AsOfJoin.lookup(left, right, Seq("k"), "t", Seq("v"))
      .select("k", "t", "payload", "asof_v").collect().map(_.toSeq).toSet
    val native = graft.plans.NativeAsOfJoin.lookup(left, right, Seq("k"), "t", Seq("v"))
      .select("k", "t", "payload", "asof_v").collect().map(_.toSeq).toSet
    assert(native == composed)

    // real events data: clicks pick up the latest prior view value
    val ev = graft.sources.Tables.events(spark, sf0001)
    val clicks = ev.filter(org.apache.spark.sql.functions.col("event_type") === "click")
      .select("user_id", "ts_ns", "event_id", "value")
    val views = ev.filter(org.apache.spark.sql.functions.col("event_type") === "view")
      .selectExpr("user_id", "ts_ns", "value AS view_value")
    val c2 = AsOfJoin.lookup(clicks, views, Seq("user_id"), "ts_ns", Seq("view_value"))
      .select("event_id", "asof_view_value").collect().map(_.toSeq).toSet
    val n2 = graft.plans.NativeAsOfJoin.lookup(clicks, views, Seq("user_id"), "ts_ns", Seq("view_value"))
      .select("event_id", "asof_view_value").collect().map(_.toSeq).toSet
    assert(n2 == c2)

    // Mismatched-but-comparable types must be REJECTED, not silently
    // wrong: the node has no analyzer coercion, so an int-vs-long key
    // would hash-partition the sides differently and null every lookup.
    val intKeyLeft = left.selectExpr("CAST(k AS int) AS k", "t", "payload")
    val eKey = intercept[IllegalArgumentException] {
      graft.plans.NativeAsOfJoin.lookup(intKeyLeft, right, Seq("k"), "t", Seq("v"))
    }
    assert(eKey.getMessage.contains("type mismatch"))
    val intTimeLeft = left.selectExpr("k", "CAST(t AS int) AS t", "payload")
    val eTime = intercept[IllegalArgumentException] {
      graft.plans.NativeAsOfJoin.lookup(intTimeLeft, right, Seq("k"), "t", Seq("v"))
    }
    assert(eTime.getMessage.contains("time column"))
  }

  test("as-of join: null right-times are dropped, null left-time matches nothing (both impls)") {
    import spark.implicits._
    // Null right rows interleaved among valid ones: they must neither stall
    // the merge advance nor be selected as the as-of value; a null left time
    // must yield a row with null asof_* (DuckDB ASOF comparison semantics:
    // NULL <= t is never true).
    val left = Seq(
      (1L, Option(100L), "l1"),
      (1L, Option(200L), "l2"),
      (1L, Option.empty[Long], "lnull"),
      (2L, Option(100L), "l3")).toDF("k", "t", "payload")
    val right = Seq(
      (1L, Option(50L), Option(5.0)),
      (1L, Option.empty[Long], Option(99.0)),  // null time: must be ignored
      (1L, Option(150L), Option(15.0)),
      (1L, Option.empty[Long], Option(77.0)),  // and again, interleaved
      (2L, Option.empty[Long], Option(42.0)),  // k=2 has ONLY null-time rows
      (2L, Option(300L), Option(30.0))).toDF("k", "t", "v")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("payload", "asof_v").collect()
        .map(r => r.getString(0) ->
          (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    val expected = Map(
      "l1" -> Some(5.0),   // t=50 wins; null-time 99.0 ignored
      "l2" -> Some(15.0),  // t=150 wins; null-time 77.0 ignored
      "lnull" -> None,     // null left time matches nothing
      "l3" -> None)        // k=2: only a null-time and a later right row
    val composed = canon(AsOfJoin.lookup(left, right, Seq("k"), "t", Seq("v")))
    val native = canon(graft.plans.NativeAsOfJoin.lookup(left, right, Seq("k"), "t", Seq("v")))
    assert(composed == expected)
    assert(native == expected)
  }

  test("as-of join: null KEYS never match — left null-key rows get null asof values (both impls)") {
    import spark.implicits._
    // SQL equi-join semantics: `l.k = r.k` is UNKNOWN for null, so a
    // null-key left row matches NO right row — but a window PARTITION BY
    // (composed form) and the interpreted key ordering (native merge)
    // both treat null == null as equal, which used to hand null-key left
    // rows values from null-key right rows. DuckDB ASOF (the cited
    // semantics reference) returns NULL there.
    val left = Seq(
      (Option(1L), 100L, "l1"),
      (Option.empty[Long], 100L, "lnullkey")).toDF("k", "t", "payload")
    val right = Seq(
      (Option(1L), 50L, 5.0),
      (Option.empty[Long], 40L, 99.0)).toDF("k", "t", "v")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("payload", "asof_v").collect()
        .map(r => r.getString(0) ->
          (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    val expected = Map("l1" -> Some(5.0), "lnullkey" -> None)
    val composed = canon(AsOfJoin.lookup(left, right, Seq("k"), "t", Seq("v")))
    val native = canon(graft.plans.NativeAsOfJoin.lookup(left, right, Seq("k"), "t", Seq("v")))
    assert(composed == expected, s"composed: $composed")
    assert(native == expected, s"native: $native")
  }

  test("as-of join: a genuine null in the most recent right row survives (multi rightVals)") {
    import spark.implicits._
    // The winning right row (t=150) has v2 = null. Per-column
    // last(ignoreNulls) would reach back to t=50's v2=1.0 — the struct-packed
    // carry must instead report (15.0, null) from the single winning row.
    val left = Seq((1L, 200L, "l1")).toDF("k", "t", "payload")
    val right = Seq(
      (1L, 50L, Option(5.0), Option(1.0)),
      (1L, 150L, Option(15.0), Option.empty[Double])).toDF("k", "t", "v1", "v2")
    for (impl <- Seq(
        AsOfJoin.lookup(left, right, Seq("k"), "t", Seq("v1", "v2")),
        graft.plans.NativeAsOfJoin.lookup(left, right, Seq("k"), "t", Seq("v1", "v2")))) {
      val r = impl.select("asof_v1", "asof_v2").collect().head
      assert(r.getDouble(0) == 15.0)
      assert(r.isNullAt(1), "null v2 from the winning row must survive, not back-fill")
    }
  }

  test("as-of join: rightVals column names with dots resolve via struct getField") {
    import spark.implicits._
    val left = Seq((1L, 100L)).toDF("k", "t")
    val right = Seq((1L, 50L, 5.0)).toDF("k", "t", "v.dotted")
    val out = AsOfJoin.lookup(left, right, Seq("k"), "t", Seq("v.dotted"))
    assert(out.columns.contains("asof_v.dotted"))
    assert(out.select(out("`asof_v.dotted`")).collect().head.getDouble(0) == 5.0)
  }

  test("property: both as-of implementations equal a naive reference on random inputs") {
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val rowGen = for {
      k <- Gen.choose(0L, 3L); t <- Gen.choose(0L, 50L); v <- Gen.choose(0, 99)
    } yield (k, t, v.toDouble)
    val prop = Prop.forAll(Gen.listOfN(12, rowGen), Gen.listOfN(12, rowGen)) { (l, r) =>
      // right side unique on (k,t): equal-time ties between right rows are
      // undefined order in every implementation
      val rs = r.groupBy(x => (x._1, x._2)).map(_._2.head).toList
      val left = l.toDF("k", "t", "payload")
      val right = rs.toDF("k", "t", "v")
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.select("k", "t", "payload", "asof_v").collect()
          .map(row => (row.getLong(0), row.getLong(1), row.getDouble(2),
            if (row.isNullAt(3)) None else Some(row.getDouble(3))))
          .sortBy(x => (x._1, x._2, x._3)).toSeq
      val composed = canon(AsOfJoin.lookup(left, right, Seq("k"), "t", Seq("v")))
      val native = canon(graft.plans.NativeAsOfJoin.lookup(left, right, Seq("k"), "t", Seq("v")))
      val naive = l.map { case (k, t, p) =>
        val m = rs.filter(x => x._1 == k && x._2 <= t)
        (k, t, p, if (m.isEmpty) None else Some(m.maxBy(_._2)._3))
      }.sortBy(x => (x._1, x._2, x._3)).toSeq
      composed == naive && native == naive
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("native kernels equal their HOF reference formulations on real data") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val emb = graft.sources.Tables.embeddings(spark, sf0001).limit(50)
    val pair = emb.select($"vec_id", $"embedding")
      .crossJoin(emb.select($"embedding".as("e2")).limit(3))
    val cosDiff = pair.select(
        abs(VectorOps.cosine($"embedding", $"e2") -
          VectorOps.cosineHof($"embedding", $"e2")).as("d"))
      .agg(max($"d")).collect().head.getDouble(0)
    assert(cosDiff == 0.0)

    val lshEq = emb.select(
        (graft.ext.Similarity.lshSignatures($"embedding") ===
         graft.ext.Similarity.lshSignaturesHof($"embedding")).as("eq"))
      .collect().forall(_.getBoolean(0))
    assert(lshEq)

    val normEq = emb.select(
        (graft.ext.Similarity.normalizeArr($"embedding") ===
         graft.ext.Similarity.normalizeArrHof($"embedding")).as("eq"))
      .collect().forall(_.getBoolean(0))
    assert(normEq)

    val docs = graft.sources.Tables.documents(spark, sf0001).limit(50)
      .withColumn("hs", graft.ext.Dedup.hashedShingles(
        graft.ext.Dedup.wordShingles($"text", 3)))
    val mhEq = docs.select(
        (graft.ext.Dedup.minhashSignature($"hs") ===
         graft.ext.Dedup.minhashSignatureHof($"hs")).as("eq"))
      .collect().forall(_.getBoolean(0))
    assert(mhEq)

    // Fused sorted-merge jaccard ≡ the array_intersect/array_union
    // formulation on real shingle sets (plus the empty/empty edge = 0.0,
    // the verify paths' zero-token rule).
    val pairs = docs.select($"doc_id", sort_array($"hs").as("ha"))
      .crossJoin(docs.select(sort_array($"hs").as("hb")).limit(7))
    val jacEq = pairs.select(
        (graft.functions.NativeKernels.jaccardSortedLongs($"ha", $"hb") ===
          when(size(array_union($"ha", $"hb")) === 0, 0.0)
            .otherwise(size(array_intersect($"ha", $"hb")).cast("double") /
              size(array_union($"ha", $"hb")))).as("eq"))
      .collect().forall(_.getBoolean(0))
    assert(jacEq)
    val empty = docs.sparkSession.sql(
      "SELECT CAST(array() AS array<bigint>) AS a").select(
      graft.functions.NativeKernels.jaccardSortedLongs($"a", $"a"))
      .collect().head.getDouble(0)
    assert(empty == 0.0)
  }

  test("property: bucketized range join equals the naive non-equi join on random inputs") {
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val pointGen = Gen.choose(-50, 150)
    val intervalGen = for {
      lo <- Gen.choose(-60, 140); span <- Gen.choose(0, 40)
    } yield (lo, lo + span)
    val prop = Prop.forAll(Gen.listOfN(30, pointGen), Gen.listOfN(8, intervalGen),
        Gen.oneOf(1.0, 7.0, 16.0, 100.0)) { (ps, ivs, step) =>
      val points = ps.zipWithIndex.map { case (p, i) => (i.toLong, p) }.toDF("pid", "x")
      val intervals = ivs.zipWithIndex.map { case ((lo, hi), i) => (i.toLong, lo, hi) }
        .toDF("iid", "lo", "hi")
      val naive = points.join(intervals, $"x" >= $"lo" && $"x" < $"hi")
        .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val bucketed = graft.ops.RangeJoin
        .pointInInterval(points, intervals, "x", "lo", "hi", step)
        .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      naive == bucketed
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: interval-overlap join equals the naive theta join, with no duplicate pairs") {
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val ivGen = for {
      lo <- Gen.choose(-40, 120); span <- Gen.choose(0, 35)
    } yield (lo, lo + span)
    val prop = Prop.forAll(Gen.listOfN(12, ivGen), Gen.listOfN(12, ivGen),
        Gen.oneOf(1.0, 8.0, 33.0, 200.0)) { (ls, rs, step) =>
      val left = ls.zipWithIndex.map { case ((lo, hi), i) => (i.toLong, lo, hi) }
        .toDF("lid", "a_lo", "a_hi")
      val right = rs.zipWithIndex.map { case ((lo, hi), i) => (i.toLong, lo, hi) }
        .toDF("rid", "b_lo", "b_hi")
      val naive = left.join(right, $"a_lo" < $"b_hi" && $"b_lo" < $"a_hi")
        .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1)))
      val bucketed = graft.ops.RangeJoin
        .intervalOverlap(left, right, "a_lo", "a_hi", "b_lo", "b_hi", step)
        .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1)))
      // set equality AND no duplicates from multi-cell co-occurrence
      bucketed.toSet == naive.toSet && bucketed.length == naive.length
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("vector ops: cosine of identical vectors is 1, orthogonal is 0") {
    import spark.implicits._
    val df = Seq((Seq(1.0f, 0.0f), Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)))
      .toDF("a", "b", "c")
    val r = df.select(
      VectorOps.cosine($"a", $"b"), VectorOps.cosine($"a", $"c")).collect().head
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1)) < 1e-12)
  }

  test("distributed rank equals single-partition window functions, remainder sizes included") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import graft.ops.DistributedRank
    // n = 150 with k = 4 exercises fractional base bucket sizes (the
    // boundary class where float division once shifted every 38th row);
    // scrambled values + 8 input partitions exercise real range movement.
    val df = (1 to 150).map(i => (i.toLong, (i * 7919 % 151).toLong))
      .toDF("id", "v").repartition(8)
    val w = Window.orderBy($"v", $"id")
    val expected = df
      .select($"id", ntile(4).over(w).as("q"),
        percent_rank().over(w).as("pr"), row_number().over(w).as("rn"),
        coalesce(sum($"v").over(w.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)).as("run"))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getDouble(2), r.getInt(3), r.getLong(4))).toMap
    val ranked = DistributedRank.withRowNumber(df, Seq($"v", $"id"), "rn", "n")
      .select($"id", DistributedRank.ntileOf($"rn", $"n", 4).as("q"),
        DistributedRank.percentRankOf($"rn", $"n").as("pr"), $"rn")
    val cum = DistributedRank.withRunningSum(df, Seq($"v", $"id"), $"v", "run")
      .select($"id", $"run")
    ranked.join(cum, "id").collect().foreach { r =>
      val (q, pr, rn, run) = expected(r.getLong(0))
      assert(r.getInt(1) == q, s"ntile mismatch for id ${r.getLong(0)}")
      assert(math.abs(r.getDouble(2) - pr) < 1e-12)
      assert(r.getLong(3) == rn.toLong)
      assert(r.getLong(4) == run, s"running sum mismatch for id ${r.getLong(0)}")
    }
  }
}
