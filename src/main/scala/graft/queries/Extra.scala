package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.ops.Materialize
import graft.sources.Tables

/** Round-4 query surface: interval-range window frames, TF-IDF scoring,
  * EXISTS/NOT EXISTS decorrelation, equi-depth histograms, FILTER-style
  * conditional aggregation, and time-series OHLC — each with a DuckDB
  * oracle twin in [[graft.SparkEntry.oracleSql]]. */
object Extra {

  /** Rolling 30-day order totals per customer via a RANGE frame over a
    * day-index ordering column — the interval-window idiom (DuckDB/Postgres
    * `RANGE BETWEEN INTERVAL`) expressed portably: a calendar-day ordinal
    * makes the frame `[day-29, day]`, including ALL same-day rows regardless
    * of row position (what a ROWS frame gets wrong). One shuffle on the
    * customer key; frame state is bounded by the 30-day span. */
  def q73RollingInterval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"day_idx")
      .rangeBetween(-29, 0)
    Tables.orders(spark, dir)
      .filter($"o_custkey" <= 200)
      .withColumn("day_idx",
        datediff($"o_orderdate", lit("1990-01-01").cast("date")).cast("long"))
      .withColumn("rolling_30d_total", round(sum($"o_totalprice").over(w), 2))
      .withColumn("n_orders_30d", count(lit(1)).over(w))
      .select($"o_custkey", $"o_orderkey", $"o_orderdate",
        $"rolling_30d_total", $"n_orders_30d")
      .orderBy($"o_custkey", $"o_orderdate", $"o_orderkey")
  }

  /** TF-IDF top-5 terms per document over a bounded corpus slice — the
    * classic relevance score as pure relational ops: tokenize → tf →
    * document frequency → join → rank. The corpus-size scalar rides along
    * as a broadcast one-row frame, not a driver-side collect. */
  def q74Tfidf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).filter($"doc_id" < 50)
    val tf = docs
      .select($"doc_id", explode(split(lower($"text"), "[^a-z]+")).as("term"))
      .filter($"term" =!= "")
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    // document frequency as a whole-partition window over tf — ONE
    // tokenize+aggregate pass feeding both tf and df (a groupBy+self-join
    // would recompute the expensive explode chain; no exchange reuse fires
    // across an aggregate boundary)
    val byTerm = Window.partitionBy($"term")
    val n = docs.agg(count_distinct($"doc_id").as("n_docs")) // doc_id-only scan
    val w = Window.partitionBy($"doc_id").orderBy($"score".desc, $"term".asc)
    tf.withColumn("df", count(lit(1)).over(byTerm))
      .crossJoin(broadcast(n))
      .withColumn("score",
        round($"tf" * log(($"n_docs" + 1.0) / ($"df" + 1.0)), 6))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 5)
      .select($"doc_id", $"rank", $"term", $"tf", $"df", $"score")
      .orderBy($"doc_id", $"rank")
  }

  /** EXISTS + correlated NOT EXISTS (TPC-H Q21 shape on the available
    * columns): suppliers that were the ONLY slow shipper (>60 days after
    * order date) in a multi-supplier order.
    *
    * The oracle keeps the quantified-subquery SQL ([[q75Sql]], runnable
    * verbatim on DuckDB; Catalyst's decorrelation of that form stays
    * exercised by q57/q16). The ENGINE plan is the single-pass grouped
    * form: Catalyst decorrelates each EXISTS into its own lineitem
    * semi/anti join — three scans and three orderkey shuffles of the fact
    * table, which the 64× octave measured at 15.3× (fixed partitions) and
    * ~2× the scan floor even after the partition rule. But both
    * quantifiers are per-ORDER set predicates, so one orderkey-clustered
    * pass computes them exactly:
    *
    *  - ⋈ orders, flag slow rows;
    *  - groupBy(orderkey, suppkey) counting each supplier's slow rows;
    *  - groupBy(orderkey) yields per-order distinct-supplier and
    *    slow-supplier counts;
    *  - EXISTS ≡ n_supp > 1, NOT-EXISTS ≡ exactly one slow supplier (the
    *    row's own); its qualifying row count is that supplier's slow-row
    *    count. A result-bounded re-key by supplier + broadcast supplier
    *    dim finishes.
    *
    * Exchange count by regime (PLANS.md): at bench scale orders
    * BROADCASTS, so the two aggregations each shuffle — two fact-sized
    * exchanges. At production scale orders outgrows the broadcast
    * threshold and the join becomes a sort-merge on orderkey — whose
    * hash partitioning then satisfies BOTH aggregations' clustering
    * (orderkey ⊆ the grouping keys), so the aggregates run exchange-free
    * and the plan's only fact shuffles are the join's two sides. Either
    * regime: one scan of lineitem instead of three, ≤2 fact-sized
    * exchanges instead of six. PlanSpec pins both forms' scan counts AND
    * their result equality. */
  def q75OnlySlowSupplier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_suppkey", $"l_shipdate")
    val o = Tables.orders(spark, dir).select($"o_orderkey", $"o_orderdate")
    val perSupp = li.join(o, $"l_orderkey" === $"o_orderkey")
      .withColumn("slow",
        when($"l_shipdate" > date_add($"o_orderdate", 60), 1L).otherwise(0L))
      .groupBy($"l_orderkey", $"l_suppkey")
      .agg(sum($"slow").as("n_slow_rows"))
    val qualified = perSupp.groupBy($"l_orderkey")
      .agg(count(lit(1)).as("n_supp"),
        count(when($"n_slow_rows" > 0, 1)).as("n_slow_supp"),
        max(when($"n_slow_rows" > 0, $"l_suppkey")).as("slow_supp"),
        max(when($"n_slow_rows" > 0, $"n_slow_rows")).as("slow_rows"))
      .filter($"n_supp" > 1 && $"n_slow_supp" === 1)
    qualified.groupBy($"slow_supp")
      .agg(sum($"slow_rows").as("n_slow"))
      .join(broadcast(Tables.supplier(spark, dir).select($"s_suppkey", $"s_name")),
        $"slow_supp" === $"s_suppkey")
      .select($"s_suppkey", $"s_name", $"n_slow")
      .orderBy($"n_slow".desc, $"s_suppkey")
  }

  /** The quantified-subquery form of q75 — the DuckDB oracle text, and the
    * equality baseline for the grouped plan above. */
  private[graft] def q75QuantifiedForm(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(q75Sql)
  }

  private[graft] val q75Sql =
    """SELECT s_suppkey, s_name, count(*) AS n_slow
      |FROM supplier
      |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      |JOIN orders ON o_orderkey = l1.l_orderkey
      |WHERE l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      |  AND EXISTS (
      |    SELECT 1 FROM lineitem l2
      |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (
      |    SELECT 1 FROM lineitem l3
      |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      |      AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY s_suppkey, s_name
      |ORDER BY n_slow DESC, s_suppkey""".stripMargin

  /** Equi-depth (decile) histogram of order values: global ntile over a
    * deterministic total order, then per-bucket bounds/mass. The global
    * position comes from [[graft.ops.DistributedRank]]'s two-pass range
    * rank — every partition ranks locally in parallel and a broadcast
    * offset cumsum globalizes — NOT a single-partition window, so the
    * exact histogram scales like the approx-percentile path (q26). */
  def q76EquiDepthHistogram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.ops.DistributedRank
    val ranked = DistributedRank.withRowNumber(Tables.orders(spark, dir),
      Seq($"o_totalprice", $"o_orderkey"), "rn", "n_total")
    ranked
      .withColumn("decile", DistributedRank.ntileOf($"rn", $"n_total", 10))
      .groupBy($"decile")
      .agg(count(lit(1)).as("n_orders"),
        min($"o_totalprice").as("lo"),
        max($"o_totalprice").as("hi"),
        round(avg($"o_totalprice"), 4).as("avg_price"))
      .orderBy($"decile")
  }

  /** Conditional aggregation matrix (SQL `FILTER (WHERE …)` semantics) per
    * order priority: one scan, many masked aggregates — the shape every
    * report query uses instead of N self-joins. */
  def q77FilteredAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .groupBy($"o_orderpriority")
      .agg(
        count(lit(1)).as("n_total"),
        count(when($"o_orderstatus" === "F", 1)).as("n_f"),
        count(when($"o_orderstatus" === "O", 1)).as("n_o"),
        count(when($"o_orderstatus" === "P", 1)).as("n_p"),
        round(sum(when($"o_totalprice" > 200000.0, $"o_totalprice")), 2)
          .as("sum_large"),
        round(avg(when($"o_orderstatus" === "F", $"o_totalprice")), 4)
          .as("avg_f_price"))
      .orderBy($"o_orderpriority")
  }

  /** Corpus-curation funnel — the composed pre-training data pass: raw →
    * quality gate (length + has-letters) → exact dedup on content → 30%
    * deterministic sample, reported per language. Each stage is a count in
    * ONE aggregation pass over flags, not four scans. */
  def q79CorpusCuration(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val flagged = docs
      .withColumn("ok_quality",
        $"n_chars".between(100L, 20000L) && $"text".rlike("[a-z]"))
      // exact-dedup winner: lowest doc_id per distinct content; partition on
      // the 256-bit content hash so the window shuffles 32-byte keys, not
      // whole documents (same groups — see Dedup.q32ExactDedup)
      .withColumn("dedup_rn", row_number().over(
        Window.partitionBy(sha2($"text", 256), $"ok_quality").orderBy($"doc_id")))
      .withColumn("ok_dedup", $"ok_quality" && $"dedup_rn" === 1)
      .withColumn("ok_sampled", $"ok_dedup" && $"doc_id" % 10 < 3)
    flagged.groupBy($"lang")
      .agg(count(lit(1)).as("n_raw"),
        count(when($"ok_quality", 1)).as("n_quality"),
        count(when($"ok_dedup", 1)).as("n_deduped"),
        count(when($"ok_sampled", 1)).as("n_sampled"))
      .orderBy($"lang")
  }

  /** Greedy sequence packing for a 4096-token context window: documents in
    * doc_id order are assigned to the bin where their running token offset
    * starts (no doc splitting — a straddling doc belongs to its start bin).
    * The global running offset is [[graft.ops.DistributedRank]]'s two-pass
    * range cumsum (parallel local prefix sums + broadcast partition
    * offsets) — not a single-partition window — so corpus-wide packing
    * scales; per-shard offsets remain the alternative when bins may be
    * shard-local. Reports per-bin fill. */
  def q80SequencePacking(spark: SparkSession, dir: String,
                         contextLen: Int = 4096): DataFrame = {
    import spark.implicits._
    import graft.ops.DistributedRank
    val sized = Tables.documents(spark, dir)
      .select($"doc_id",
        size(split(lower($"text"), "\\s+")).cast("long").as("n_tokens"))
    DistributedRank.withRunningSum(sized, Seq($"doc_id"), $"n_tokens", "offset")
      .withColumn("bin", ($"offset" / contextLen).cast("long"))
      .groupBy($"bin")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("n_tokens"),
        round(sum($"n_tokens") / lit(contextLen.toDouble), 4).as("fill_rate"))
      .orderBy($"bin")
  }

  /** Token-repetition report (training-data quality: high repetition ⇒
    * boilerplate/degenerate text) via gaps-and-islands: consecutive equal
    * tokens form an island under `idx − row_number() per (doc, term)`;
    * the longest island is the max run. */
  def q81Repetition(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tokens = Tables.documents(spark, dir)
      .filter($"doc_id" < 100)
      .select($"doc_id",
        posexplode(split(lower($"text"), "\\s+")).as(Seq("idx", "term")))
      .filter($"term" =!= "")
    val islands = tokens
      .withColumn("grp", $"idx" - row_number().over(
        Window.partitionBy($"doc_id", $"term").orderBy($"idx")))
      .groupBy($"doc_id", $"term", $"grp")
      .agg(count(lit(1)).as("run_len"))
    val runs = islands.groupBy($"doc_id").agg(max($"run_len").as("max_run"))
    val stats = tokens.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        count_distinct($"term").as("n_distinct"))
      .withColumn("rep_ratio",
        round(lit(1.0) - $"n_distinct" / $"n_tokens".cast("double"), 4))
    stats.join(runs, "doc_id")
      .select($"doc_id", $"n_tokens", $"n_distinct", $"rep_ratio", $"max_run")
      .orderBy($"doc_id")
  }

  /** q18's size-band classification through the bucketized
    * [[graft.ops.RangeJoin.pointInInterval]] — identical result (same
    * oracle), but as a hash equi-join on grid cells instead of a broadcast
    * nested loop: the form that still works when the interval side is far
    * past broadcast size. Plan-guarded NLJ-free in PlanSpec. */
  def q84RangeJoinBucketed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bands = Seq((0, 10, "S"), (10, 25, "M"), (25, 40, "L"), (40, 100, "XL"))
      .toDF("lo", "hi", "band")
    graft.ops.RangeJoin.pointInInterval(
        Tables.part(spark, dir), bands, "p_size", "lo", "hi", step = 16.0)
      .select($"p_partkey", $"p_size", $"band")
      .orderBy($"p_partkey")
  }

  /** Semi-structured data via the VARIANT type (Spark 4): `parse_json` once
    * into a binary variant, then typed `variant_get` path extraction — the
    * modern schema-flexible path beside q50's `from_json` (which needs the
    * schema up front). Variant parsing is a one-time cost at ingest; the
    * extraction is a binary-offset read, not a re-parse. */
  def q90Variant(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .withColumn("k",
        variant_get(parse_json($"props"), "$.k", "int"))
      .groupBy(($"k" % 2).as("k_parity"))
      .agg(count(lit(1)).as("n_events"),
        sum($"k").as("sum_k"),
        min($"k").as("min_k"), max($"k").as("max_k"))
      .orderBy($"k_parity")
  }

  /** Ratio-to-report: each nation's share of global revenue plus its rank —
    * the aggregate-then-window composition (a window over a grouped result,
    * not over raw rows; the whole-frame sum is one extra lightweight pass
    * over 25 aggregated rows, not over the fact table). */
  def q89RatioToReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val revenue = li
      .join(o, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(c), $"o_custkey" === $"c_custkey")
      .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(sum($"l_extendedprice" * (lit(1) - $"l_discount")).as("rev"))
    // all downstream arithmetic runs on the 2dp-rounded revenue so the
    // share and ranking are insensitive to cross-engine sum association
    val all = Window.partitionBy()
    revenue.withColumn("revenue", round($"rev", 2))
      .withColumn("share", round($"revenue" / sum($"revenue").over(all), 6))
      .withColumn("rev_rank",
        rank().over(Window.orderBy($"revenue".desc, $"n_name".asc)))
      .select($"n_name", $"revenue", $"share", $"rev_rank")
      .orderBy($"rev_rank", $"n_name")
  }

  /** Temporal overlap join via [[graft.ops.RangeJoin.intervalOverlap]]:
    * pairs of customers whose 30-day order windows overlapped, counted per
    * pair. A self-overlap join has no equi key at all — the cell-bucketed
    * form keeps it a hash join (plan-guarded) where the naive formulation
    * is a cartesian comparison. */
  def q85IntervalOverlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir).filter($"o_custkey" <= 20)
      .select($"o_custkey", $"o_orderkey",
        datediff($"o_orderdate", lit("1990-01-01").cast("date"))
          .cast("long").as("lo"))
      .withColumn("hi", $"lo" + 30)
    val a = o.select($"o_custkey".as("a_cust"), $"o_orderkey".as("a_order"),
      $"lo".as("a_lo"), $"hi".as("a_hi"))
    val b = o.select($"o_custkey".as("b_cust"), $"o_orderkey".as("b_order"),
      $"lo".as("b_lo"), $"hi".as("b_hi"))
    graft.ops.RangeJoin.intervalOverlap(a, b, "a_lo", "a_hi", "b_lo", "b_hi",
        step = 32.0)
      .filter($"a_order" < $"b_order" && $"a_cust" =!= $"b_cust")
      .groupBy($"a_cust", $"b_cust").agg(count(lit(1)).as("n_overlaps"))
      .orderBy($"a_cust", $"b_cust")
  }

  /** The shared q83/q148 sketch build: count-min over `l_partkey` with the
    * published parameters (ε = 1e-4, δ = 0.01, seed 42), built by the
    * CODEGEN `count_min_sketch` aggregate instead of
    * `df.stat.countMinSketch` (r19, guide §4 interpreted-path removal): the
    * stat helper converts every InternalRow to an external Row and runs an
    * RDD treeAggregate outside codegen, while the aggregate expression
    * reads the long straight off the scan inside WholeStageCodegen with
    * map-side partial sketches. Both paths addLong(v) into
    * CountMinSketch.create(eps, confidence, seed), and CMS merge is a
    * cell-wise sum (associative, commutative, exact), so the resulting
    * sketch — every estimate and totalCount — is identical however the
    * partitions split (FunctionsSpec pins agg-built ≡ stat-built bytes). */
  private def cmsOver(li: DataFrame): org.apache.spark.util.sketch.CountMinSketch =
    org.apache.spark.util.sketch.CountMinSketch.readFrom(
      li.select(expr("count_min_sketch(l_partkey, 0.0001d, 0.99d, 42)"))
        .head.getAs[Array[Byte]](0))

  /** Heavy hitters via count-min sketch: estimated frequencies of the
    * top-visited part keys, the one-pass bounded-memory companion to the
    * HLL cardinality path (q21). The sketch merges associatively across
    * partitions — at 100 TB it is the only way to get per-key frequency
    * estimates without shuffling the raw keys. No DuckDB oracle (sketch
    * internals differ); the ε-bound vs exact counts is unit-tested. */
  def q83HeavyHitters(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import spark.implicits._
    import org.apache.spark.util.sketch.CountMinSketch
    val li = Tables.lineitem(spark, dir)
    // one distributed pass builds the sketch — via the codegen'd
    // count_min_sketch aggregate (see [[cmsOver]]), not the RDD path
    val sketch: CountMinSketch = cmsOver(li)
    // exact top-k keys come from a normal aggregation; the sketch then
    // reports its estimate for each — the point of the query is comparing
    // the two paths, which is also exactly what a production heavy-hitter
    // monitor does (sketch online, exact offline).
    val topExact = li.groupBy($"l_partkey").agg(count(lit(1)).as("exact_n"))
      .orderBy($"exact_n".desc, $"l_partkey".asc).limit(k)
    val est = udf((pk: Long) => sketch.estimateCount(pk))
    topExact
      .withColumn("sketch_n", est($"l_partkey"))
      .withColumn("overcount", $"sketch_n" - $"exact_n")
      .orderBy($"exact_n".desc, $"l_partkey".asc)
  }

  /** Guarantee COMPANION ORACLE for q83's count-min sketch (VERDICT r09 #4
    * pattern). q83 stays `no_oracle` (DuckDB has no CMS), but the sketch's
    * two published guarantees are SQL-statable without computing it: a CMS
    * NEVER undercounts (hard, deterministic — every cell the key hashes to
    * counted every occurrence), and overcounts by at most ε·N with
    * probability 1−δ (ε = 10⁻⁴, δ = 0.01 here; the fixed seed makes the
    * realized overcount deterministic per fixture, and a 10× slack on the
    * ε·N band puts the check far inside the tail). DuckDB states the exact
    * top-k domain, counts, and the required TRUEs. The total-count scalar
    * rides the same exact aggregation (one extra grand-total row via
    * rollup-free union would cost a pass; a window sum over the 10-row
    * limit result is free). */
  def q148CmsGuarantees(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import spark.implicits._
    import org.apache.spark.util.sketch.CountMinSketch
    val li = Tables.lineitem(spark, dir)
    val eps = 0.0001
    val sketch: CountMinSketch = cmsOver(li)
    val totalN = sketch.totalCount() // N rode along with the sketch pass
    val slack = math.ceil(eps * totalN).toLong * 10L + 1L
    val topExact = li.groupBy($"l_partkey").agg(count(lit(1)).as("exact_n"))
      .orderBy($"exact_n".desc, $"l_partkey".asc).limit(k)
    val est = udf((pk: Long) => sketch.estimateCount(pk))
    topExact
      .withColumn("sketch_n", est($"l_partkey"))
      .select($"l_partkey", $"exact_n",
        ($"sketch_n" >= $"exact_n").as("no_undercount"),
        ($"sketch_n" - $"exact_n" <= slack).as("overcount_bounded"))
      .orderBy($"exact_n".desc, $"l_partkey".asc)
  }

  /** Daily OHLC over the events stream: open/close picked by deterministic
    * (µs, event_id) ordering via `min_by`/`max_by` over the time struct —
    * ONE partial-aggregating pass, no per-day window sort (a day of events
    * at corpus scale must never need a total order). Time is compared at µs
    * on both engines (ns-native Spark side truncates) so ordering ties
    * resolve identically; the oracle states the same semantics as
    * row_number over (ts_us, event_id). */
  def q78DailyOhlc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select(date_trunc("day", $"ts").as("day"),
        expr("ts_ns div 1000").as("ts_us"), $"event_id", $"value")
      .groupBy($"day")
      .agg(count(lit(1)).as("n_events"),
        min($"value").as("low"),
        max($"value").as("high"),
        min_by($"value", struct($"ts_us", $"event_id")).as("open"),
        max_by($"value", struct($"ts_us", $"event_id")).as("close"))
      .orderBy($"day")
  }

  /** q92: incremental aggregate maintenance — the materialized-view refresh
    * algebra. A warehouse at 100 TB never recomputes a monthly rollup from
    * scratch; it keeps partial states (count, raw sum) and folds each new
    * batch's partials in: combine(old, delta) = groupBy key, sum the states,
    * finalize (round) only at the edge. Here the "old" side is the rollup of
    * everything before a mid-month cutoff and the "delta" is the batch after
    * it, so the cutoff month genuinely exercises the cross-batch merge. The
    * oracle is the from-scratch recompute — the refresh must be
    * indistinguishable from it. */
  def q92IncrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cutoff = lit("1999-06-15").cast("timestamp")
    def partials(df: DataFrame): DataFrame = df
      .groupBy(date_trunc("month", $"o_orderdate").as("month"))
      .agg(count(lit(1)).as("n_orders"), sum($"o_totalprice").as("rev_raw"))
    val orders = Tables.orders(spark, dir)
    val base = partials(orders.filter($"o_orderdate" < cutoff))
    val delta = partials(orders.filter($"o_orderdate" >= cutoff))
    base.unionByName(delta)
      .groupBy($"month")
      .agg(sum($"n_orders").as("n_orders"), round(sum($"rev_raw"), 2).as("revenue"))
      .orderBy($"month")
  }

  /** q100: CDC apply — merge-with-deletes over an I/U/D operation log
    * ([[graft.ops.Merge.applyCdc]]). The log is synthesized deterministically
    * from lineitem: key = orderkey, sequence = per-key row_number over a
    * total order (linenumber alone is NOT unique per order in this data —
    * the ordering includes the value column so even fully-tied rows yield a
    * deterministic winner), op cycling D/U/I by sequence. Applied to an
    * empty target, the survivors are exactly the keys whose final operation
    * isn't a delete, carrying that operation's values — which is what the
    * windowed oracle states. */
  def q100CdcApply(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val seqW = Window.partitionBy($"l_orderkey").orderBy(
      $"l_linenumber", $"l_partkey", $"l_suppkey", $"l_extendedprice", $"l_quantity")
    val log = Tables.lineitem(spark, dir)
      .withColumn("seq", row_number().over(seqW).cast("long"))
      .select(
        $"l_orderkey".as("key"),
        $"l_extendedprice".as("val"),
        $"seq",
        when($"seq" % 3 === 0, "D")
          .when($"seq" % 3 === 1, "U").otherwise("I").as("op"))
    val target = log.select($"key", $"val").limit(0)
    graft.ops.Merge.applyCdc(target, log, Seq("key"), "seq", "op")
      .orderBy($"key")
  }

  /** q101: recursive CTE (Spark 4 WITH RECURSIVE) — ancestry walk over a
    * synthetic key hierarchy (parent = ⌊k/4⌋, a 4-ary tree rooted at 0):
    * per-node depth-to-root and path length. The SAME SQL text is the DuckDB
    * oracle. Recursion depth is log₄(maxKey) — each iteration is one
    * distributed join+union, the standard iterative-plan shape. */
  def q101RecursiveHierarchy(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(q101Sql)
  }

  private[graft] val q101Sql =
    """WITH RECURSIVE chain AS (
      |  SELECT c_custkey AS id, c_custkey AS node, 0 AS depth
      |  FROM customer WHERE c_custkey < 100
      |  UNION ALL
      |  SELECT id, CAST(floor(node / 4.0) AS BIGINT) AS node, depth + 1
      |  FROM chain WHERE node > 0
      |)
      |SELECT id, max(depth) AS depth_to_root, count(*) AS path_len
      |FROM chain GROUP BY id ORDER BY id""".stripMargin

  /** q102: correlated LATERAL subquery with ORDER BY + LIMIT — top-3
    * customers by balance per nation as a lateral join (the SQL:2016 form of
    * per-group top-k; Catalyst decorrelates it to the same windowed plan as
    * q11). Same SQL text on both engines. */
  def q102LateralTopN(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(q102Sql)
  }

  private[graft] val q102Sql =
    """SELECT n_name, t.c_custkey, t.c_acctbal
      |FROM nation, LATERAL (
      |  SELECT c_custkey, c_acctbal FROM customer
      |  WHERE c_nationkey = n_nationkey
      |  ORDER BY c_acctbal DESC, c_custkey LIMIT 3) t
      |ORDER BY n_name, t.c_acctbal DESC, t.c_custkey""".stripMargin

  /** q103: fuzzy entity matching — best Levenshtein match per probe against
    * the part-name dictionary. Probes are deterministic corruptions (first
    * character rotated to the end) of known names, so expected distances are
    * small and cross-engine checkable. The probe side is bounded and
    * broadcast — the dictionary scans once, no shuffle of the big side. At
    * corpus scale the edit-distance kernel runs AFTER a blocking stage
    * (q-gram/LSH banding, the `ext/Dedup` machinery) has cut candidates to
    * near-linear; this query is that verify kernel in isolation. */
  def q103FuzzyMatch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val part = Tables.part(spark, dir)
    val probes = part.filter($"p_partkey" < 20).select(
      $"p_partkey".as("probe_id"),
      concat(expr("substring(p_name, 2)"), substring($"p_name", 1, 1)).as("probe_name"))
    val w = Window.partitionBy($"probe_id").orderBy($"dist", $"p_partkey")
    part.crossJoin(broadcast(probes))
      .withColumn("dist", levenshtein($"probe_name", $"p_name"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"probe_id", $"p_partkey".as("match_key"), $"dist")
      .orderBy($"probe_id")
  }

  /** q104: column profiling (the ANALYZE/data-catalog pass): per column,
    * row/null/distinct counts and min/max — ONE scan producing one
    * aggregate row (the multi-distinct Expand), then `stack` unpivots it to
    * a profile table. Profiled columns are the exact-typed ones (bigint,
    * varchar) so min/max stringification is engine-stable. */
  def q104ColumnProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
    val aggs = count(lit(1)).as("n_rows") +: cols.flatMap { c =>
      Seq(count(col(c)).as(s"nn_$c"), count_distinct(col(c)).as(s"nd_$c"),
        min(col(c)).cast("string").as(s"min_$c"),
        max(col(c)).cast("string").as(s"max_$c"))
    }
    val stackArgs = cols.map { c =>
      s"'$c', n_rows, n_rows - nn_$c, nd_$c, min_$c, max_$c"
    }.mkString(", ")
    Tables.orders(spark, dir)
      .agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${cols.size}, $stackArgs) AS " +
        "(col_name, n_rows, n_nulls, n_distinct, min_s, max_s)")
      .orderBy($"col_name")
  }

  /** q110: FULL OUTER join — the reconciliation shape (two independently
    * aggregated sides, keys present in either survive, COALESCE stitches
    * the key). Side filters (nations <20 vs ≥5) make the asymmetry
    * deterministic at every SF: keys 0–4 are left-only, 5–19 matched,
    * 20–24 right-only, so all three outer-join row classes are exercised.
    * Plans as a shuffle join on the key; both sides pre-aggregated, so the
    * shuffle moves one row per key — the 100 TB reconciliation pattern. */
  def q110FullOuter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.customer(spark, dir)
      .filter($"c_nationkey" < 20)
      .groupBy($"c_nationkey")
      .agg(count(lit(1)).as("n_cust"), round(sum($"c_acctbal"), 2).as("cust_bal"))
    val supp = Tables.supplier(spark, dir)
      .filter($"s_nationkey" >= 5)
      .groupBy($"s_nationkey")
      .agg(count(lit(1)).as("n_supp"), round(sum($"s_acctbal"), 2).as("supp_bal"))
    cust.join(supp, $"c_nationkey" === $"s_nationkey", "full_outer")
      .select(coalesce($"c_nationkey", $"s_nationkey").as("nationkey"),
        coalesce($"n_cust", lit(0L)).as("n_cust"), $"cust_bal",
        coalesce($"n_supp", lit(0L)).as("n_supp"), $"supp_bal")
      .orderBy($"nationkey")
  }

  /** q111: z-score outlier detection — flag the rows most anomalous
    * relative to their group (per-priority order totals). Mean/stddev come
    * from one aggregate broadcast back onto the rows (the classic
    * two-pass-as-one-shuffle shape; a window over the whole group would
    * materialize per-partition state for no benefit). Scores are rounded
    * to 4 dp BEFORE ranking so both engines rank identical keys
    * (orderkey breaks the remaining ties deterministically), and top-k
    * avoids a threshold cliff. */
  def q111Outliers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir)
    val stats = o.groupBy($"o_orderpriority".as("p"))
      .agg(avg($"o_totalprice").as("mu"), stddev_samp($"o_totalprice").as("sigma"))
    o.join(broadcast(stats), $"o_orderpriority" === $"p")
      .select($"o_orderkey", $"o_orderpriority",
        round(($"o_totalprice" - $"mu") / $"sigma", 4).as("z"))
      .withColumn("abs_z", abs($"z"))
      .orderBy($"abs_z".desc, $"o_orderkey".asc)
      .limit(10)
      .select($"o_orderkey", $"o_orderpriority", $"z")
  }

  /** q109: PageRank — iterative weighted graph analytics beyond the
    * connected-components pass (`ext/Dedup.connectedComponents` is pure
    * label propagation; PageRank adds out-degree-split mass and damping).
    * Graph: customer keys with deterministic edges id→id/2 and id→id/3 — a
    * scale-free-ish DAG whose hubs are the small ids. Three damped
    * iterations (d = 0.85), each a join + re-aggregation — the standard
    * distributed formulation (no driver-side state; at depth >> 3 add
    * a `Materialize` leaf per generation exactly as the CC loop does).
    *
    * All arithmetic is integer fixed-point at scale 1e9 (`div`, matching
    * DuckDB `//` on positives), so the DuckDB oracle — the same three
    * iterations unrolled as CTEs — is bit-identical by construction, the
    * q106 cross-engine trick. Dangling nodes (ids 0 and 1 have no
    * out-edges) simply contribute nothing, the damping term keeps them
    * ranked. */
  def q109Pagerank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scale = 1000000000L
    val nodes = Tables.customer(spark, dir)
      .select($"c_custkey".cast("long").as("id"))
    val edges = nodes.filter($"id" >= 2)
      .select($"id".as("src"), expr("id div 2").as("dst"))
      .unionAll(nodes.filter($"id" >= 3)
        .select($"id".as("src"), expr("id div 3").as("dst")))
    val outdeg = edges.groupBy($"src").agg(count(lit(1)).as("od"))
    var rank = nodes.withColumn("rank", lit(scale))
    for (_ <- 1 to 3) {
      val contrib = edges
        .join(rank, edges("src") === rank("id"))
        .join(outdeg, "src")
        .select($"dst", expr("rank div od").as("c"))
        .groupBy($"dst").agg(sum($"c").as("contrib"))
      rank = nodes.join(contrib, nodes("id") === contrib("dst"), "left")
        .select(nodes("id"),
          (lit(15L * scale / 100) + expr("(85 * coalesce(contrib, 0L)) div 100"))
            .as("rank"))
    }
    rank.orderBy($"rank".desc, $"id".asc).limit(20)
  }

  /** q113: Pareto frontier (skyline) of suppliers on revenue x quantity —
    * "no other supplier ships both more value and more volume". The
    * per-supplier aggregate is exact integer space (revenue in cents via
    * the q106 fixed-point trick, quantity in whole units) so dominance has
    * no float ambiguity, then [[graft.ops.Skyline]] runs the two-phase
    * distributed sweep: exact per-partition frontiers (narrow, no shuffle)
    * and one final sweep over the few survivors. The oracle is the
    * quadratic NOT EXISTS dominance query — O(n^2) and fine for DuckDB at
    * test scale, exactly what the two-phase sweep replaces at corpus
    * scale. */
  def q113Skyline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pts = Tables.lineitem(spark, dir)
      .groupBy($"l_suppkey")
      .agg(
        expr("CAST(round(sum(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)")
          .as("rev_c"),
        sum($"l_quantity").cast("long").as("qty"))
      .select($"l_suppkey".cast("long").as("key"), $"rev_c".as("x"), $"qty".as("y"))
      .as[graft.ops.SkyPoint]
    graft.ops.Skyline.skyline(pts).toDF()
      .select($"key".as("suppkey"), $"x".as("rev_c"), $"y".as("qty"))
      .orderBy($"rev_c".desc, $"suppkey")
  }

  /** q117: triangle counting — the third classic distributed-graph kernel
    * next to connected components (q62) and PageRank (q109), and the core
    * of clustering-coefficient / community-structure analysis. Graph: the
    * deterministic part-key graph with path edges (i-1, i) and tree edges
    * (i div 2, i); every odd id ≥ 5 (plus id 4) closes a triangle
    * (i div 2, i-1, i), so the count is ~|V|/2 and verifiable.
    *
    * The plan is the standard two-join formulation over canonically
    * oriented edges (u < v stored once): edges(a,b) ⋈ edges(b,c) builds
    * open wedges, then ⋈ edges(a,c) closes them — each triangle counted
    * exactly once, no post-hoc dedup. Both joins are hash equi-joins on a
    * node key; wedge volume is Σ deg² of LOW-endpoint orientation, the same
    * bound degree-ordering gives on skewed graphs (this graph is
    * near-regular, degree ≤ 5, so intermediates stay linear). No driver
    * state; counts fold map-side. */
  def q117Triangles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nodes = Tables.part(spark, dir).select($"p_partkey".cast("long").as("id"))
    val src = nodes.filter($"id" >= 2)
    val edges = src.select(($"id" - 1).as("u"), $"id".as("v"))
      .unionAll(src.select(expr("id div 2").as("u"), $"id".as("v")))
      .distinct()
    val wedges = edges.select($"u".as("a"), $"v".as("b"))
      .join(edges.select($"u".as("b"), $"v".as("c")), "b")
    val tri = wedges
      .join(edges.select($"u".as("a"), $"v".as("c")), Seq("a", "c"))
      .agg(count(lit(1)).as("n_triangles"))
    nodes.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(edges.agg(count(lit(1)).as("n_edges")))
      .crossJoin(tri)
  }

  /** q122: market-basket association mining — pairwise co-occurrence with
    * support, confidence and lift over order baskets, the first level of the
    * Apriori lattice and the classic "frequently bought together" query.
    *
    * Baskets are aggregated into arrays in ONE shuffle (`collect_set`
    * dedups within-basket repeats map-side) and the pair expansion is a
    * scan-local native kernel over each array, so its output is
    * Σ basket·(basket−1)/2 — bounded by basket size (single digits here),
    * NOT N² — and it aggregates by (part_a, part_b) with map-side partials
    * before anything wide moves. Item supports and the basket total ride
    * along as bounded frames. Confidence and lift divide exact longs
    * (lift's numerator/denominator stay in long range by construction), so
    * the DuckDB oracle hash-matches after 1e-6 rounding.
    *
    * Apriori level-1 support pushdown: n_ab ≤ min(n_a, n_b), so an item in
    * fewer than `minSupport` baskets cannot contribute a pair with
    * n_ab ≥ minSupport — such items drop BEFORE the pair expansion,
    * where the superlinear mass lives (the long tail of rare items
    * dominates the raw pair count). The prune branch engages only when
    * the support aggregate shows it removes at least one item (a no-op
    * prune would rebuild the identical basket table through an extra
    * join). The pruned run is provably exact when
    * every returned pair has n_ab ≥ minSupport (pruning only ever removes
    * sub-threshold pairs, which sort strictly after them); the guard
    * checks exactly that on the ≤ topK result rows and falls back to the
    * unpruned expansion otherwise, so degenerate corpora stay bit-equal
    * to the oracle too. */
  def q122MarketBasket(spark: SparkSession, dir: String, topK: Int = 20,
                       minSupport: Long = 2L): DataFrame = {
    import spark.implicits._
    // Baskets as arrays, ONE shuffle (round 18): the pre-r18 shape built a
    // DISTINCT (order, part) table and self-joined it on the order key —
    // three corpus-sized exchanges (distinct, join re-shuffle of both
    // sides, pair aggregation) before any support math. `collect_set`
    // dedups within-basket repeats map-side in the SAME aggregation that
    // groups the basket, and the pair expansion becomes a scan-local
    // native kernel over each basket array (SortedLongPairs: sort once,
    // emit value-ordered (a, b) structs — identical semantics to the
    // self-join's `part_a < part_b` over distinct items). Pair mass is
    // unchanged (Σ b(b−1)/2, bounded by basket size); what disappears is
    // two of the three wide exchanges. Same-window A/B at sf0.1
    // (q121 as the weather control): 1.36× → 0.91× of the control —
    // ~30% relative — with the no-op-prune skip below contributing the
    // larger half. The irreducible mass is the pair aggregation itself:
    // 1.196M of the fixture's 1.2M pairs are distinct (n_ab = 1 tail).
    val flat = Tables.lineitem(spark, dir).select($"l_orderkey", $"l_partkey")
    def baskets(src: DataFrame): DataFrame =
      src.groupBy($"l_orderkey")
        .agg(collect_set($"l_partkey".cast("long")).as("items"))
    // The basket table feeds three sinks (n_orders, item supports, the
    // pair expansion) and the pruned pipeline materializes inside this
    // call (the candidate leaf + guard count below) — cache it and drop the
    // cache before returning, or when that materialization throws. The minSupport<=1 path stays UNcached: it
    // returns a lazy plan, so a cache would linger unpersisted.
    val full = if (minSupport <= 1L) baskets(flat) else baskets(flat).cache()
    val nOrders = full.agg(count(lit(1)).as("n_orders"))
    // Item supports always come from the FULL basket table: the pushdown
    // narrows the pair expansion only, never the reported n_a/n_b (and so
    // never confidence or lift).
    val itemN = full.select(explode($"items").as("l_partkey"))
      .groupBy($"l_partkey").agg(count(lit(1)).as("n_item"))
    // `minAb`: pair-count floor applied right after the pair aggregation.
    // On the pruned path the exactness guard ALREADY requires every
    // returned pair to clear minSupport, so dropping sub-threshold pairs
    // early is free — and they are the mass (the n_ab = 1 long tail), so
    // the support joins and the top-K sort see a fraction of the pairs.
    def report(src: DataFrame, minAb: Long, packed: Boolean): DataFrame = {
      // Packed pair keys (r18, guide §2.3): when every item id fits an
      // unsigned 32-bit slot (checked below from the SAME stats action the
      // prune decision reads — true of any real part-key domain), the pair
      // expansion emits (a << 32) | b longs instead of 2-long structs: no
      // per-pair row allocation, an 8-byte aggregation key instead of 16,
      // and the unpack is two bit ops AFTER the minAb filter has dropped
      // the n_ab = 1 tail. Identical pair set and counts — packing is
      // injective on the guarded range and value order is preserved.
      val pairs = (if (packed)
        src
          .select(explode(
            graft.functions.NativeKernels.packedLongPairs($"items")).as("p"))
          .groupBy($"p").agg(count(lit(1)).as("n_ab"))
          .filter($"n_ab" >= minAb)
          .select(shiftrightunsigned($"p", 32).as("part_a"),
            ($"p".bitwiseAND(lit(0xFFFFFFFFL))).as("part_b"), $"n_ab")
      else
        src
          .select(explode(graft.functions.NativeKernels.sortedLongPairs($"items")).as("p"))
          .select($"p.part_a".as("part_a"), $"p.part_b".as("part_b"))
          .groupBy($"part_a", $"part_b").agg(count(lit(1)).as("n_ab"))
          .filter($"n_ab" >= minAb))
      pairs
        .join(itemN.select($"l_partkey".as("part_a"), $"n_item".as("n_a")), "part_a")
        .join(itemN.select($"l_partkey".as("part_b"), $"n_item".as("n_b")), "part_b")
        .crossJoin(broadcast(nOrders))
        .select($"part_a", $"part_b", $"n_ab",
          round($"n_ab" / $"n_a".cast("double"), 6).as("confidence"),
          round(($"n_ab" * $"n_orders") / ($"n_a" * $"n_b").cast("double"), 6).as("lift"))
        .orderBy($"n_ab".desc, $"part_a", $"part_b")
        .limit(topK)
    }
    if (minSupport <= 1L) return report(full, 1L, packed = false)
    // Engage the Apriori item-prune only when it REMOVES something: one
    // aggregate over the (cached-input, |items|-row) support table decides
    // — and the same action reads the item-id range so the packed pair
    // path can engage without an extra job.
    // On a corpus whose every item is frequent — this fixture at sf0.1:
    // 20,000 of 20,000 items clear minSupport=2 — the pruned path used to
    // rebuild the identical basket table through an extra join and
    // aggregation just to expand the same pairs; the long-tail corpus the
    // pushdown is FOR (most items in one basket only) still takes the
    // pruned branch, where the join pays for itself by shrinking the
    // superlinear pair mass.
    try {
      val statsRow = itemN.agg(
        sum(when($"n_item" < minSupport, 1L).otherwise(0L)).as("n_infrequent"),
        min($"l_partkey").as("min_k"), max($"l_partkey").as("max_k")).collect().head
      val nInfrequent = if (statsRow.isNullAt(0)) 0L else statsRow.getLong(0)
      // A/B seam: spark.graft.q122.packedPairs=false forces the struct path
      // (measurement tooling; the stats guard is the production decision).
      val packed = spark.conf.get("spark.graft.q122.packedPairs", "auto") != "false" &&
        !statsRow.isNullAt(1) && statsRow.getLong(1) >= 0L &&
        statsRow.getLong(2) <= 0xFFFFFFFFL
      // Result-sized leaf: the exactness guard reads it here AND the caller
      // materializes it — without the checkpoint the pipeline would execute
      // twice.
      val candidate = Materialize(if (nInfrequent == 0L) report(full, minSupport, packed)
        else {
          val frequent = itemN.filter($"n_item" >= minSupport).select($"l_partkey")
          report(baskets(flat.join(frequent, "l_partkey")), minSupport, packed)
        })
      // Exactness guard: the minAb floor already guarantees every surviving
      // row has n_ab >= minSupport, so a FULL top-K means no pruned-away
      // (necessarily sub-threshold) pair could have placed — only a short
      // result can hide one, and that falls back to the unpruned expansion.
      if (candidate.count() >= topK) candidate
      else Materialize(report(full, 1L, packed))
    } finally Materialize.release(full)
  }

  /** q124: key-skew profile — the distribution report a shuffle planner (or
    * the engineer choosing salting factors for `ops/SkewJoin`) reads before
    * keying a join or aggregation: key cardinality, per-key row-count
    * quantiles, the heaviest key's mass, and how much of the table the top
    * 1% of keys own. Complements q104's per-column profile (nulls/distincts)
    * with the per-KEY view that predicts partition imbalance.
    *
    * One aggregation builds the key→count table (map-side partial), one
    * more folds it to the report. The top-1%-share rank runs through
    * [[graft.ops.DistributedRank]] over the COUNT table (|keys| rows, not
    * |rows|): range-partitioned parallel local ranks + a broadcast offset
    * cumsum, so even at billions of keys no single task ever sorts the
    * whole count table — the rank is exact, not an approx-quantile
    * threshold, so ties at the top-1% boundary resolve identically to the
    * oracle. Exact percentiles follow the q26 parity pattern. */
  def q124SkewReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = Tables.lineitem(spark, dir)
      .groupBy($"l_partkey").agg(count(lit(1)).as("cnt"))
    // Exact global rank over the key-count table (NOT the fact table),
    // distributed: rk + the key total in one two-pass decomposition.
    val ranked = graft.ops.DistributedRank.withRowNumber(
      counts, Seq($"cnt".desc, $"l_partkey"), "rk", "n_keys")
    ranked.agg(
        max($"n_keys").as("n_keys"),
        sum($"cnt").as("n_rows"),
        max($"cnt").as("max_cnt"),
        round(expr("percentile(cnt, 0.5)"), 4).as("p50_cnt"),
        round(expr("percentile(cnt, 0.99)"), 4).as("p99_cnt"),
        round(sum(when($"rk" <= ceil($"n_keys" / lit(100.0)), $"cnt").otherwise(lit(0L)))
          / sum($"cnt").cast("double"), 6).as("top1pct_share"))
  }

  /** q126: percentile winsorization — clip each order's price to its
    * status-group [p1, p99] band and report the clipped-tail mass and the
    * robust mean, the standard outlier-tolerant cleaning step before any
    * mean-based aggregate or model feature. Two passes over the group key
    * (percentiles, then the clipped fold), bounds broadcast back — never a
    * per-row sort.
    *
    * All arithmetic runs in integer cents (q106 fixed-point discipline):
    * prices enter as exact longs, the interpolated percentile bounds are
    * rounded back to whole cents before clipping, and the clipped sum is
    * an exact integer — one final division produces the reported mean, so
    * both engines agree bit-for-bit. */
  def q126Winsorize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir)
      .select($"o_orderstatus",
        round($"o_totalprice" * 100).cast("long").as("c"))
    val bounds = o.groupBy($"o_orderstatus").agg(
      round(expr("percentile(c, 0.01)")).cast("long").as("lo"),
      round(expr("percentile(c, 0.99)")).cast("long").as("hi"))
    o.join(broadcast(bounds), "o_orderstatus")
      .withColumn("clipped", least(greatest($"c", $"lo"), $"hi"))
      .groupBy($"o_orderstatus")
      .agg(
        count(lit(1)).as("n"),
        sum(when($"c" < $"lo", 1L).otherwise(0L)).as("n_clipped_low"),
        sum(when($"c" > $"hi", 1L).otherwise(0L)).as("n_clipped_high"),
        max($"lo").as("lo_c"),
        max($"hi").as("hi_c"),
        round(sum($"clipped") / (lit(100.0) * count(lit(1))), 4).as("mean_winsorized"))
      .orderBy($"o_orderstatus")
  }

  /** q127: per-group least-squares trend — nation revenue regressed on order
    * year. `regr_slope`/`regr_intercept`/`regr_r2` are algebraic aggregates
    * (sums of x, y, xy, x², y² with partial/final decomposition), so the
    * trend of a 100 TB fact table costs exactly one aggregate shuffle on the
    * group key — no per-group sort, no iteration, no driver math. The
    * per-(nation, year) rollup it runs over is itself one shuffle; the
    * nation dim is broadcast.
    *
    * Numerical conditioning for the cross-engine compare: the regression
    * runs on revenue in $M against a 2000-centered year. Raw (yr≈2000,
    * rev≈1e9) inputs make the covariance a cancellation of ~1e13 sums,
    * leaving engine-order fp noise ~1e-2 on the slope — no output rounding
    * is boundary-safe against that. Centered/rescaled, the sums are ~1e4
    * and both engines agree to ~1e-9, far inside the 1e-4 quantization. */
  def q127GroupTrend(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val yearly = Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)),
        $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(spark, dir)),
        $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name", (year($"o_orderdate") - 2000).as("yr_c"))
      .agg((round(sum($"o_totalprice"), 2) / 1e6).as("rev_musd"))
    yearly.groupBy($"n_name")
      .agg(
        count(lit(1)).as("n_years"),
        round(expr("regr_slope(rev_musd, yr_c)"), 4).as("slope_musd_per_yr"),
        round(expr("regr_intercept(rev_musd, yr_c)"), 4).as("level_2000_musd"),
        round(expr("regr_r2(rev_musd, yr_c)"), 4).as("r2"))
      .orderBy($"n_name")
  }

  /** q136: per-basket value concentration (Herfindahl index) via
    * higher-order array functions — collect each order's line prices once,
    * then `aggregate` lambdas compute count/total/sum-of-squares INSIDE the
    * array without re-shuffling or exploding it back out: the idiom for
    * per-group math too irregular for plain aggregates but too small for a
    * second shuffle. Everything stays integral (cents) until the final
    * ratio, so the HOF path and the oracle's scalar-SQL path agree exactly;
    * fp stays exact because Σc² ≤ items·(1e7)² ≪ 2⁵³ at any basket size
    * the schema allows. One shuffle on the basket key. */
  def q136BasketConcentration(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .filter($"l_orderkey" <= 2000)
      .select($"l_orderkey", round($"l_extendedprice" * 100).cast("long").as("c"))
      .groupBy($"l_orderkey").agg(collect_list($"c").as("cs"))
      .select($"l_orderkey",
        size($"cs").as("n_items"),
        expr("aggregate(cs, 0L, (a, x) -> a + x)").as("total_cents"),
        round(
          expr("aggregate(cs, 0D, (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")
            / (expr("aggregate(cs, 0L, (a, x) -> a + x)")
               * expr("aggregate(cs, 0L, (a, x) -> a + x)")).cast("double"),
          6).as("hhi"))
      .orderBy($"l_orderkey")
  }

  /** q118: re-aggregable sketch rollup — the approximate twin of the exact
    * incremental-MV algebra (q92/`plans/MvRewrite`): per-(event_type, day)
    * HLL sketches are the persisted partials, and ANY coarser distinct-user
    * count (per type, per month, global) is answered by hll_union_agg over
    * the stored sketches — the raw events are never rescanned. This is the
    * property COUNT(DISTINCT) lacks (it is not re-aggregable: distinct
    * users per day cannot be summed into distinct users per month) and the
    * reason sketch columns, not distinct counts, are what a 100 TB rollup
    * stores. Datasketches HLL union is lossless over sketches of the same
    * lgK, so the rollup path is exactly as accurate as a direct one-pass
    * sketch; QualitySpec asserts merged == direct and <2% error vs exact.
    * No SQL oracle (DuckDB has no persistable sketch type) — rows-only,
    * like q21. */
  def q118SketchRollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val daily = ev
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(hll_sketch_agg($"user_id", lit(14)).as("sk"))
    daily
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_days"),
        hll_sketch_estimate(hll_union_agg($"sk", lit(false))).as("est_users"))
      .orderBy($"event_type")
  }

  /** q159: schema-evolution merge read — one dataset whose deliveries span
    * a column-add migration ([[graft.sources.Staged.evolvedOrdersDir]]:
    * delivery 0 predates `o_channel`, delivery 1 carries it), scanned as a
    * SINGLE table via `mergeSchema` so pre-migration rows surface the new
    * column as null. The per-channel revenue rollup proves old and new
    * generations aggregate together without a backfill rewrite — the
    * read-side answer to schema drift every long-lived lake needs.
    *
    * At 100 TB, `mergeSchema` footer-merging across every file is the
    * expensive generality; a production table pins the CURRENT schema
    * explicitly (`spark.read.schema(latest)`) and gets the same
    * null-fill-per-old-file semantics from the parquet reader with zero
    * extra planning cost — the merge here also folds in the `delivery=N`
    * partition column, which prunes generation-scoped reads for free. */
  def q159SchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = graft.sources.Staged.evolvedOrdersDir(spark, dir)
    spark.read.option("mergeSchema", "true").parquet(root)
      .withColumn("channel", coalesce($"o_channel", lit("unknown")))
      .groupBy($"channel")
      .agg(count(lit(1)).as("n_orders"),
        count_distinct($"delivery").as("n_deliveries"),
        round(sum($"o_totalprice"), 2).as("revenue"))
      .orderBy($"channel")
  }

  /** q203: TYPE-WIDENING schema evolution read — q159's sibling for the
    * harder drift: `o_qty` was INT32 in delivery 0 and BIGINT in delivery 1
    * ([[graft.sources.Staged.widenedOrdersDir]]; the new values genuinely
    * exceed Int.MaxValue). `mergeSchema` refuses conflicting primitive
    * types by design, and that is the RIGHT production posture anyway: the
    * table of record pins its CURRENT schema explicitly, and the parquet
    * reader upcasts each old file's int32 pages to the declared BIGINT
    * losslessly — same per-file adaptation, zero footer-merge planning
    * cost. This is the scan-path twin of the hazard
    * `BloomIndex.recordedType` defends on the index path: a reader that
    * instead re-hashed/read old files AT the widened type without upcast
    * would corrupt exactly those rows. min/max/sum straddling both
    * generations prove the upcast is value-exact. */
  def q203WidenedRead(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = graft.sources.Staged.widenedOrdersDir(spark, dir)
    val widened = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("o_orderkey",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("o_qty",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("delivery",
        org.apache.spark.sql.types.IntegerType)))
    spark.read.schema(widened).parquet(root)
      .groupBy($"delivery")
      .agg(count(lit(1)).as("n_orders"),
        sum($"o_qty").as("sum_qty"),
        min($"o_qty").as("min_qty"),
        max($"o_qty").as("max_qty"))
      .orderBy($"delivery")
  }
}
