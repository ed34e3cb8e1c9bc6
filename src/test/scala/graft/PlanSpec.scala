package graft

import org.apache.spark.sql.execution.ExplainMode
import graft.queries.{Flagship, Parity}
import graft.ops.SkewJoin

/** Plan-shape regression guards: the properties PERFORMANCE.md claims must
  * stay true — filters reach the scan, projections prune columns, dimension
  * joins broadcast, salting balances skew without changing results. */
class PlanSpec extends SparkSpec {

  /** Run `body` with broadcast joins off, then restore the session's own
    * threshold (the engine profile's 64 MB; `unset` would drop the shared
    * suite session to Spark's 10 MB default for every later suite). */
  private def withoutBroadcast[A](body: => A): A = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q02: predicate pushdown and column pruning reach the parquet scan") {
    val plan = planOf(Parity.q02ProjectFilter(spark, sf0001))
    assert(plan.contains("EqualTo(l_returnflag,R)"), "filter not pushed")
    assert(plan.contains("In(l_linestatus, [F,O])"), "IN-list not pushed")
    assert(!plan.contains("l_extendedprice"), "untouched column not pruned")
  }

  test("q10: all dimension joins broadcast; no sort-merge join") {
    val plan = planOf(Flagship.q10RevenueByNation(spark, sf0001))
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("q10 at sf0.001 on the bench session runs no stage with more tasks than cores") {
    // Staged file counts come from bytes and cores (Staged.tableDir), so
    // a 6,000-row lineitem is not split into a 32-task scan.
    val fresh = spark.newSession()
    org.apache.spark.sql.SparkSession.setActiveSession(fresh)
    val bench = try Bench.session("4") finally
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
    assert(bench eq fresh)
    val listener = new graft.tools.MetricsListener
    spark.sparkContext.addSparkListener(listener)
    try {
      listener.settled(spark)
      listener.clear()
      SparkEntry.queries("q10_revenue_by_nation")(bench, sf0001)
        .write.mode("overwrite").format("noop").save()
      listener.settled(spark)
      val tasks = listener.stages.values.map(_.tasks)
      assert(tasks.nonEmpty)
      assert(tasks.max <= spark.sparkContext.defaultParallelism,
        s"stage task counts: ${tasks.toSeq.sorted.mkString(", ")}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("with broadcast disabled the big join falls back to sort-merge (both strategies live)") {
    withoutBroadcast {
      val li = graft.sources.Tables.lineitem(spark, sf0001)
      val o = graft.sources.Tables.orders(spark, sf0001)
      val plan = planOf(li.join(o, li("l_orderkey") === o("o_orderkey")))
      assert(plan.contains("SortMergeJoin"))
    }
  }

  test("correlated scalar subquery is decorrelated into an aggregate + join") {
    val plan = planOf(graft.queries.Advanced.q57CorrelatedSubquery(spark, sf0001))
    assert(!plan.toLowerCase.contains("subquery") || plan.contains("Join"),
      "expected decorrelation into a join")
    assert(plan.contains("Join"))
  }

  test("q75 quantified form: EXISTS/NOT EXISTS decorrelate into hash semi/anti joins, no nested loop") {
    val plan = planOf(graft.queries.Extra.q75QuantifiedForm(spark, sf0001))
    assert(plan.contains("LeftSemi"), "EXISTS must become a semi join")
    assert(plan.contains("LeftAnti"), "NOT EXISTS must become an anti join")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "correlated predicates must not plan as a nested loop")
  }

  test("q75 grouped form: ONE lineitem scan (vs three in the quantified plan) and equal results") {
    // Count scan NODES in the formatted plan — the executed plan hides
    // scans inside AdaptiveSparkPlanExec from a tree collect.
    def scanNodes(df: org.apache.spark.sql.DataFrame): Int =
      planOf(df).linesIterator.count(_.matches("^\\(\\d+\\) Scan parquet.*"))
    val grouped = graft.queries.Extra.q75OnlySlowSupplier(spark, sf0001)
    val quantified = graft.queries.Extra.q75QuantifiedForm(spark, sf0001)
    assert(scanNodes(grouped) == 3,
      s"grouped q75 must plan exactly 3 scans (lineitem+orders+supplier), found ${scanNodes(grouped)}")
    assert(scanNodes(quantified) >= 5,
      s"quantified q75 plans 3 lineitem scans (5+ total); found ${scanNodes(quantified)} — " +
        "if Catalyst learned to collapse them, retire the grouped rewrite")
    assert(grouped.collect().toSeq == quantified.collect().toSeq,
      "grouped per-order set-predicate form diverged from the quantified SQL form")
  }

  test("q75 at scale (orders too big to broadcast): both aggregations reuse the join's orderkey partitioning") {
    // The production regime: orders outgrows the broadcast threshold, the
    // join becomes a sort-merge on orderkey, and BOTH groupBys' clustering
    // (orderkey ⊆ keys) is satisfied by that partitioning — the aggregates
    // must run exchange-free, leaving the join's two sides plus the
    // result-bounded supplier re-key and final sort as the only shuffles.
    withoutBroadcast {
      val plan = planOf(graft.queries.Extra.q75OnlySlowSupplier(spark, sf0001))
      assert(plan.contains("SortMergeJoin"), "big-orders regime should sort-merge")
      val exchanges = plan.linesIterator
        .count(_.matches("^\\(\\d+\\) Exchange.*"))
      // li-side + orders-side + supplier-rekey + final sort (+1 slack for a
      // planner-version wobble); 6+ means an aggregate re-shuffled the fact
      assert(exchanges <= 5,
        s"expected ≤5 exchanges (join sides + bounded rekey + sort), got $exchanges — " +
          "an aggregation stopped reusing the join's orderkey partitioning")
    }
  }

  test("q102: LATERAL with ORDER BY + LIMIT decorrelates to WindowGroupLimit + hash join, no nested loop") {
    val plan = planOf(graft.queries.Extra.q102LateralTopN(spark, sf0001))
    assert(plan.contains("WindowGroupLimit"),
      "lateral top-k must take the rank-pushdown path, not a per-row subquery")
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "correlated lateral must not plan as a nested loop")
  }

  test("q104: the column profile is ONE scan of orders (multi-distinct Expand, no self-union)") {
    val df = graft.queries.Extra.q104ColumnProfile(spark, sf0001)
    val plan = planOf(df)
    assert(plan.contains("Expand"), "multi-distinct must take the Expand path")
    // count detail headers "(n) Scan parquet" — the tree section repeats the
    // operator name with the id trailing, so a raw substring count doubles
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(plan).size
    assert(scans == 1, s"profile must scan the table once, saw $scans scans")
  }

  test("q77: conditional aggregation matrix is one scan, no join, one aggregate pair") {
    val plan = planOf(graft.queries.Extra.q77FilteredAgg(spark, sf0001))
    assert(!plan.contains("Join"), "masked aggregates must not become self-joins")
    assert(plan.contains("HashAggregate"))
    // partial + final of ONE aggregation — not one aggregation per mask
    val exec = graft.queries.Extra.q77FilteredAgg(spark, sf0001)
      .queryExecution.executedPlan.toString
    val scans = "FileScan".r.findAllIn(exec).length
    assert(scans == 1, s"expected a single scan, saw $scans")
  }

  test("q73: interval rolling window runs as a RANGE frame, single window exchange") {
    val plan = planOf(graft.queries.Extra.q73RollingInterval(spark, sf0001))
    assert(plan.contains("RANGE BETWEEN 29 PRECEDING AND CURRENT ROW")
      || plan.toLowerCase.contains("specifiedwindowframe(rangeframe"),
      s"expected a RANGE frame in:\n$plan")
    assert(plan.contains("Window"))
  }

  test("partition-column filter prunes directories at planning (q28 layout)") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.FileSourceScanExec
    val tmp = java.nio.file.Files.createTempDirectory("graft_prune_").toString
    graft.sources.Tables.orders(spark, sf0001)
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(tmp)
    val q = spark.read.parquet(tmp).filter(col("o_orderstatus") === "O")
    q.collect()
    val scan = q.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case s: FileSourceScanExec => s }
    assert(scan.isDefined)
    assert(scan.get.metadata("PartitionFilters").contains("o_orderstatus"),
      "filter on the partition column must become a partition filter")
    // only the o_orderstatus=O directory is read, not all three
    assert(scan.get.metrics("numPartitions").value == 1,
      s"expected 1 pruned partition, read ${scan.get.metrics("numPartitions").value}")
  }

  test("dynamic partition pruning: a filtered dim prunes fact partitions at runtime") {
    import org.apache.spark.sql.functions.{col, count, lit}
    import org.apache.spark.sql.execution.FileSourceScanExec
    // The static test above prunes on a literal; at 100 TB the common shape
    // is a date/tenant-partitioned fact joined to a filtered dim, where the
    // partition values to keep are only known once the dim side runs. Spark
    // plants a dynamicpruning subquery in the fact scan's partition filters
    // (free when it reuses the broadcast) — without it this query reads all
    // 25 nation partitions to keep one.
    val tmp = java.nio.file.Files.createTempDirectory("graft_dpp_").toString
    graft.sources.Tables.customer(spark, sf0001)
      .write.mode("overwrite").partitionBy("c_nationkey").parquet(tmp)
    val dim = graft.sources.Tables.nation(spark, sf0001)
      .filter(col("n_name") === "NATION_7")
    // AQE hides scans inside leaf query stages; DPP is orthogonal to AQE, so
    // plan without it to keep the scan inspectable.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = spark.read.parquet(tmp)
        .join(dim, col("c_nationkey") === col("n_nationkey"))
        .agg(count(lit(1)).as("n"))
      val n = q.collect().head.getLong(0)
      val scan = q.queryExecution.executedPlan.collectLeaves()
        .collectFirst { case s: FileSourceScanExec
          if s.metadata("Location").contains("graft_dpp_") => s }
      assert(scan.isDefined, "fact scan not found")
      assert(scan.get.metadata("PartitionFilters").contains("dynamicpruning"),
        s"expected a dynamicpruning filter, got ${scan.get.metadata("PartitionFilters")}")
      assert(scan.get.metrics("numPartitions").value == 1,
        s"runtime pruning should read 1 of 25 partitions, read ${scan.get.metrics("numPartitions").value}")
      // and pruning never changes the answer
      assert(n == graft.sources.Tables.customer(spark, sf0001)
        .join(dim, col("c_nationkey") === col("n_nationkey")).count())
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q84: bucketized range join plans as a hash equi-join, never a nested loop") {
    val exec = graft.queries.Extra.q84RangeJoinBucketed(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!exec.contains("BroadcastNestedLoopJoin") && !exec.contains("CartesianProduct"),
      s"bucketized form must not nested-loop:\n$exec")
    assert(exec.contains("HashJoin") || exec.contains("SortMergeJoin"),
      s"expected an equi-join on the cell key:\n$exec")
  }

  test("q85: interval-overlap join plans as a hash equi-join, never a nested loop") {
    val exec = graft.queries.Extra.q85IntervalOverlap(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!exec.contains("BroadcastNestedLoopJoin") && !exec.contains("CartesianProduct"),
      s"bucketized overlap join must not nested-loop:\n$exec")
    assert(exec.contains("HashJoin") || exec.contains("SortMergeJoin"))
  }

  test("runtime bloom filter prunes the probe side of a selective shuffle join") {
    import org.apache.spark.sql.functions.col
    // At 100 TB this is the difference between scanning the whole fact table
    // and scanning only rows that can possibly join: Spark injects a
    // bloom_filter_agg over the selective build side and a might_contain
    // pre-filter on the probe side. Thresholds are lowered because the local
    // fixtures are far under the production defaults.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10GB")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // shuffle join path
      val li = graft.sources.Tables.lineitem(spark, sf001)
      val o = graft.sources.Tables.orders(spark, sf001)
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = li.join(o, col("l_orderkey") === col("o_orderkey"))
      val optimized = joined.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain") && optimized.contains("bloom_filter_agg"),
        s"expected a runtime bloom filter on the probe side:\n$optimized")
      // and the filter must not change the result
      val n = joined.count()
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      val nNoBloom = li.join(o, col("l_orderkey") === col("o_orderkey")).count()
      assert(n == nNoBloom)
    } finally {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      saved.foreach { case (k, v) =>
        v.fold(conf.unset(k))(conf.set(k, _)) }
    }
  }

  test("AQE splits a skewed sort-merge join partition at runtime (skew=true)") {
    import org.apache.spark.sql.functions.{col, lit, when}
    import spark.implicits._
    // One key owns ~all rows: the classic hot-tenant shape. Salting
    // (SkewJoin, below) is the explicit fix; this guard pins the engine's
    // built-in one — AQE must detect the oversized shuffle partition and
    // split it, which at 100 TB is the difference between one straggler
    // task and an even stage. Thresholds are shrunk because local fixtures
    // are far below the 256 MB production default.
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val left = spark.range(200000)
        .select(when(col("id") % 100 =!= 0, lit(7L)).otherwise(col("id")).as("k"),
          col("id").as("v"))
      val right = spark.range(100).select(col("id").as("k"), (col("id") * 10).as("w"))
      val joined = left.join(right, "k")
      // execute THIS frame (count() would plan a separate query and leave
      // joined.queryExecution un-finalized)
      val n = joined.collect().length
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), "join was not executed")
      assert(plan.contains("skew=true"),
        s"expected AQE to mark the hot partition skew=true:\n${plan.take(2000)}")
      // splitting never changes the result
      conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      assert(n == left.join(right, "k").collect().length)
    } finally {
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
    }
  }

  test("q115: LM scoring plan — unigram model broadcast, no sort-merge join, bigram count as one window") {
    val plan = planOf(graft.ext.Quality.q115LmQuality(spark, sf0001))
    assert(plan.contains("BroadcastHashJoin"), "unigram/vocab join not broadcast")
    assert(!plan.contains("SortMergeJoin"),
      "corpus-sized shuffle join crept back into the LM scoring path")
    assert(plan.contains("Window"), "bigram count should be a window aggregate")
    assert("count\\(1\\) windowspecdefinition\\(w1".r.findFirstIn(plan).isDefined
      || plan.contains("windowspecdefinition(w1"),
      "the window must be the (w1,w2)-partitioned bigram count, not some other window")
  }

  test("q116: weighted-sample rank bound is pushed into the shuffle (WindowGroupLimit)") {
    val plan = planOf(graft.ext.Quality.q116WeightedSample(spark, sf0001))
    assert(plan.contains("WindowGroupLimit"),
      "per-lang top-k not pushed below the window — full groups would shuffle")
  }

  test("q122: basket pair expansion is scan-local explode; support joins hash-equi, never nested-loop") {
    // minSupport = 1 exercises the report pipeline directly: the default
    // guarded path returns a checkpointed result leaf whose plan is just a
    // scan (the pipeline shape is identical plus the support-floor filter).
    val plan = planOf(graft.queries.Extra.q122MarketBasket(spark, sf0001, 20, 1L))
    // round 18: pairs come from the SortedLongPairs kernel exploded over
    // basket arrays — a Generate over the one basket aggregation, not a
    // basket self-join
    assert(plan.contains("Generate"),
      "pair expansion must be the scan-local explode, not a self-join")
    // The ONLY non-equi join allowed is the broadcast cross with the 1-row
    // totals frame; a second nested-loop/cartesian means the pair expansion
    // or an item-support join lost its equi key. Count node-detail headers
    // ("(N) OpName") — the formatted explain also repeats ops in the tree
    // sketch, which would double-count.
    val nlj = "\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(plan).size +
      "\\(\\d+\\) CartesianProduct".r.findAllIn(plan).size
    assert(nlj <= 1, s"$nlj nested-loop/cartesian joins in the basket plan — only the 1-row totals cross is allowed")
    assert(plan.contains("HashAggregate"),
      "pair counts should partial-aggregate map-side")
  }

  test("q133: one events scan feeds both arms (no filtered-branch self-join duplicating the pipeline)") {
    val plan = planOf(graft.queries.EventAnalytics.q133AbExperiment(spark, sf0001))
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"$scans events scans — the arm pivot must not re-read the fact table")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("SortMergeJoin"),
      "the two-arm readout needs no join at all")
  }

  test("q135: rolling-window expansion is explode + broadcast equi-join, never a nested loop") {
    val plan = planOf(graft.queries.EventAnalytics.q135RollingWau(spark, sf0001))
    assert(plan.contains("Generate"), "7-day expansion should be a narrow explode")
    assert(plan.contains("BroadcastHashJoin"), "grid trim should broadcast the tiny day dim")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "a range-join formulation against the grid would nested-loop over every row")
  }

  test("q146: sketch-vs-exact audit pre-dedups — no Expand, no per-branch row duplication") {
    // The duplicate-insensitive measures (exact distinct, ACD, HLL sketch)
    // must aggregate the DEDUPED (segment, custkey) pairs; the naive
    // mixed-distinct form plans an Expand that duplicates every source row
    // per aggregate branch with a 2^14-register sketch update each
    // (measured 33 s vs ~1 s at sf0.1).
    val plan = planOf(graft.queries.Analytics.q146HllErrorBound(spark, sf0001))
    assert(!plan.contains("Expand"),
      "q146 must pre-dedup keys, not Expand rows per aggregate branch")
    // dedup partial+final (HashAggregate) then sketch partial+final (the
    // DataSketches agg is TypedImperative → ObjectHashAggregate)
    val aggs = """\(\d+\) (ObjectHashAggregate|HashAggregate)""".r.findAllIn(plan).size
    assert(aggs == 4, s"dedup partial+final then sketch partial+final, saw $aggs")
  }

  test("q147: the rank re-scan joins the 3-row percentile table by broadcast, never shuffle") {
    val plan = planOf(graft.queries.Analytics.q147PercentileRankBound(spark, sf0001))
    assert(plan.contains("BroadcastHashJoin"),
      "per-group percentiles must broadcast onto the lineitem re-scan")
    assert(!plan.contains("SortMergeJoin"),
      "a shuffle join here would re-shuffle the fact table to rank 9 scalars")
  }

  test("q149: recall audit plans no cartesian product and no shuffle join") {
    // Broadcast nested-loops ARE expected (the 8-query broadcast against
    // the corpus scan, the 1-row scalar crosses); what must never appear is
    // an unbroadcast cartesian or a shuffle join of the 40-row result sets.
    val plan = planOf(graft.ext.Similarity.q149AnnRecallFloors(spark, sf0001))
    assert(!plan.contains("CartesianProduct"), "unbroadcast cartesian in the audit")
    assert(!plan.contains("SortMergeJoin"),
      "shuffle join where every side is bounded (queries, top-k, scalars)")
  }

  test("q112 full-scale path: bucketed history hashes confirm-join with no history-side exchange") {
    import org.apache.spark.sql.functions._
    val history = graft.sources.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
    val batch = history.filter(col("doc_id") < 40)
      .select((col("doc_id") + 500000L).as("doc_id"), col("text"))
      .unionByName(history.filter(col("doc_id") < 20)
        .select((col("doc_id") + 600000L).as("doc_id"),
          concat(col("text"), lit(" v2")).as("text")))
    spark.sql("DROP TABLE IF EXISTS graft_hist_hashes_spec")
    graft.ext.Dedup.writeHistoryHashes(history, "graft_hist_hashes_spec", 8)
    try {
      // Layout guard: ONE file per bucket. Without the pre-write
      // repartition, every input partition writes its own file per bucket
      // (p×b tiny files), and each downstream scan pays p× the tasks, file
      // opens, and per-task aggregate buffers (Spark's runtime bloom filter
      // allocates ~1 MB per scan task — measured 7-14 s vs ~1 s for the
      // q143 probe join on the fragmented vs compact layout at sf0.1).
      val loc = java.nio.file.Paths.get(new java.net.URI(
        spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier("graft_hist_hashes_spec"))
          .location.toString))
      // Files.list holds a directory handle until closed (same discipline
      // as Staged.eventsWatchDir's listing).
      val listing = java.nio.file.Files.list(loc)
      val nFiles =
        try listing.filter(p => p.getFileName.toString.endsWith(".parquet")).count()
        finally listing.close()
      assert(nFiles <= 8, s"bucketed table fragmented: $nFiles files for 8 buckets")
      // Force the confirm join to sort-merge (in production history is far
      // beyond any broadcast threshold) so the plan assert is meaningful.
      withoutBroadcast {
        val out = graft.ext.Dedup.newAgainstHistoryTable(
          spark, "graft_hist_hashes_spec", batch, expectedHistory = 10000L)
        // Walk the physical plan BEFORE any action: once AQE materializes
        // stages, the join subtree hides behind QueryStageExec wrappers.
        // The anti-join's history (right) branch
        // must contain a bucketed file scan and NO shuffle — that branch is
        // the 100 TB side, and one exchange there is the whole cost model.
        import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
        import org.apache.spark.sql.execution.joins.SortMergeJoinExec
        import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
        import org.apache.spark.sql.execution.FileSourceScanExec
        val phys = out.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
        val smj = phys.collectFirst {
          case j: SortMergeJoinExec if j.joinType.sql == "LEFT ANTI" => j
        }
        assert(smj.nonEmpty, "confirm join should be a sort-merge anti join")
        val historySide = smj.get.right
        assert(historySide.collect { case e: ShuffleExchangeLike => e }.isEmpty,
          "history side of the confirm join must not shuffle")
        assert(historySide.collect {
            case s: FileSourceScanExec if s.bucketedScan => s
          }.nonEmpty,
          "history hashes must be read as a bucketed scan")
        // Result parity with the inline-hash path (oracle-checked via q112).
        val plain = graft.ext.Dedup.newAgainstHistory(history, batch,
          expectedHistory = 10000L)
        assert(out.collect().sortBy(_.getLong(0)).toSeq ==
          plain.collect().sortBy(_.getLong(0)).toSeq)
      }
    } finally spark.sql("DROP TABLE IF EXISTS graft_hist_hashes_spec")
  }

  test("q55/q76/q80: global rank runs as range-partitioned parallel windows, never a single-partition pass over data") {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeLike}
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    // Plain (non-adaptive) plans so the whole tree is walkable up front.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val dfs = Seq(
        "q55" -> graft.queries.Advanced.q55Ntile(spark, sf0001),
        "q76" -> graft.queries.Extra.q76EquiDepthHistogram(spark, sf0001),
        "q80" -> graft.queries.Extra.q80SequencePacking(spark, sf0001),
        "q124" -> graft.queries.Extra.q124SkewReport(spark, sf0001))
      for ((name, df) <- dfs) {
        val plan = df.queryExecution.executedPlan
        // The data path must range-repartition (parallel local ranks)...
        assert(plan.collect {
            case e: ShuffleExchangeLike
              if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
          }.nonEmpty, s"$name: expected a range repartition for the local ranks")
        // ...and any window WITHOUT a partition spec may only consume the
        // per-partition count/sum aggregate (≤ shuffle-partitions rows —
        // the broadcast offset cumsum), never table-scale input. Chained
        // windows over that same bounded frame are fine.
        def feeds(p: SparkPlan): SparkPlan = p match {
          case c: WholeStageCodegenExec => feeds(c.child)
          case i: InputAdapter => feeds(i.child)
          case s: SortExec => feeds(s.child)
          case e: Exchange => feeds(e.child)
          case pr: ProjectExec => feeds(pr.child)
          case w: WindowExec => feeds(w.child)
          case other => other
        }
        plan.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
          .foreach { w =>
            assert(feeds(w.child).isInstanceOf[BaseAggregateExec],
              s"$name: single-partition window over non-aggregate input:\n$w")
          }
      }
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("q125: hybrid retrieval ranks via bounded top-k aggregation — no ranking window at all") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = graft.ext.Corpus.q125HybridRetrieval(spark, sf0001)
        .queryExecution.executedPlan
      // Both arms' ranks come from the TopKAggregator partial aggregate
      // (map-side bounded buffers), so the corpus-scale single-partition
      // ranking windows this query used to carry must be gone entirely.
      assert(plan.collect { case w: WindowExec => w }.isEmpty,
        "q125 must not rank through a window")
      assert(plan.collect { case a: ObjectHashAggregateExec => a }.nonEmpty,
        "q125's arms should aggregate through the typed top-k buffers")
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("q185: sketch components aggregate partially before the exchange — one 64-long vector per (source, partition) shuffles") {
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.functions.udaf
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      import spark.implicits._
      val vecMin = udaf(new graft.functions.VecSumAggregator.VecMin,
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]())
      val plan = graft.ext.Dedup.sourceSpans(spark, sf0001, 8)
        .select($"source",
          graft.functions.NativeKernels.md5U32Components($"h", 64).as("vc"))
        .groupBy($"source").agg(vecMin($"vc").as("mvs"))
        .queryExecution.executedPlan
      // The typed VecMin buffer must fold map-side (partial
      // ObjectHashAggregate BELOW the final exchange): the shuffle then
      // carries one 64-long vector per (source × partition) instead of a
      // row per span — the whole point of replacing the 64-way posexplode.
      val aggs = plan.collect { case a: ObjectHashAggregateExec => a }
      assert(aggs.size >= 2, s"expected partial+final vector aggregate, got ${aggs.size}")
      val partialBelowExchange = plan.collect {
        case e: ShuffleExchangeLike
          if e.collectFirst { case a: ObjectHashAggregateExec => a }.nonEmpty => e
      }
      assert(partialBelowExchange.nonEmpty,
        "the vector-min partial aggregate must sit below the exchange (map-side combine)")
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("q143: materialized signature table — zero shingle kernels in the query, bucketed hs probe with no table-side exchange, result parity with q34") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // Plain (non-adaptive) plan so the whole tree is walkable up front
    // (AdaptiveSparkPlanExec is a leaf — collect would see nothing).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = graft.ext.Dedup.q143MinhashNearDupMaterialized(spark, sf0001)
      val plan = df.queryExecution.executedPlan
      // The corpus-wide shingle pass lives in the one-time table write; the
      // QUERY must never re-shingle (its only shingling is the bounded
      // string-set verify, which is a HOF, not the kernel).
      val kernels = plan.flatMap(_.expressions)
        .flatMap(_.collect { case s: graft.functions.ShingleHashes => s })
      assert(kernels.isEmpty,
        s"q143 must not re-shingle the corpus (found ${kernels.size} kernels)")
      // The hs prefilter probe consumes the table's doc_id bucketing: the
      // signature-table scan must reach its merge join with NO exchange on
      // the JOIN→SCAN path — that side is the 100 TB side, and one exchange
      // there is the whole cost model. Exchanges ELSEWHERE in the join's
      // subtree are expected and allowed (the candidate-id side's
      // pair-bounded hash-exchange sits under the outer verify joins), so
      // the guard walks the path to the scan, not the whole subtree.
      def exchangeFreeToBucketedScan(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
        p match {
          case s: FileSourceScanExec => s.bucketedScan
          case _: ShuffleExchangeLike => false
          case other => other.children.exists(exchangeFreeToBucketedScan)
        }
      val probeJoins = plan.collect {
        case j: SortMergeJoinExec
            if exchangeFreeToBucketedScan(j.left) ||
              exchangeFreeToBucketedScan(j.right) => j
      }
      assert(probeJoins.nonEmpty,
        "hs probe must merge-join the bucketed signature-table scan with no exchange on the scan path")
      // Layout invisible in the result: parity with the inline q34 path.
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val want = graft.ext.Dedup.q34MinhashNearDup(spark, sf0001)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(got.sameElements(want))
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("q150: incremental near-dup candidates — corpus side reaches the broadcast band join with no exchange, shingle kernel on the batch side only") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = graft.sources.Tables.documents(spark, sf0001)
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text"))
      val table = graft.sources.Staged.minhashSignatureTable(spark, sf0001)
      val cand = graft.ext.Dedup.incrementalNearDupCandidates(
        spark, table, graft.ext.Dedup.incrementalNearDupBatch(docs))
      val plan = cand.queryExecution.executedPlan
      // The history side is the 100 TB side: its band stream must flow
      // scan→project→generate into the broadcast join with NO exchange.
      def exchangeFreeToScan(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
        p match {
          case _: FileSourceScanExec => true
          case _: ShuffleExchangeLike => false
          case other => other.children.nonEmpty &&
            other.children.exists(exchangeFreeToScan)
        }
      val bandJoins = plan.collect {
        case j: BroadcastHashJoinExec if exchangeFreeToScan(j.left) => j
      }
      assert(bandJoins.nonEmpty,
        "corpus band stream must reach the broadcast join with no exchange")
      // Shingle kernels only on the batch side: the planner pushes the
      // kernel into each of the batch union's two branches (near + reversed)
      // — two instances, both consuming batch text. The corpus was shingled
      // once, at signature-table write time, so any MORE instances would
      // mean a corpus re-shingle crept in.
      val kernels = plan.flatMap(_.expressions)
        .flatMap(_.collect { case s: graft.functions.ShingleHashes => s })
      assert(kernels.size == 2,
        s"expected the two batch-branch shingle kernels only, found ${kernels.size}")
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("q151: embedding-ingest candidates — sig-table side reaches the broadcast join with no exchange, LSH kernel on the batch side only") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = graft.ext.Similarity.q151IncrementalEmbeddingNearDup(spark, sf0001)
      val plan = df.queryExecution.executedPlan
      def exchangeFreeToScan(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
        p match {
          case _: FileSourceScanExec => true
          case _: ShuffleExchangeLike => false
          case other => other.children.nonEmpty &&
            other.children.exists(exchangeFreeToScan)
        }
      val bandJoins = plan.collect {
        case j: BroadcastHashJoinExec if exchangeFreeToScan(j.left) => j
      }
      assert(bandJoins.nonEmpty,
        "signature-table stream must reach the broadcast join with no exchange")
      // The corpus was LSH-hashed once, at table-write time: any kernel in
      // the QUERY must consume batch vectors (the optimizer may or may not
      // push it into the batch union's two branches — 1 or 2 instances).
      val kernels = plan.flatMap(_.expressions)
        .flatMap(_.collect { case s: graft.functions.LshSigsCfg => s })
      assert(kernels.nonEmpty && kernels.size <= 2,
        s"expected only the batch-side LSH kernel(s), found ${kernels.size}")
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("salted join equals plain join and spreads a hot key across salts") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val fact = (1 to 1000).map(i => (if (i <= 900) 1L else i.toLong, i.toDouble))
      .toDF("k", "v") // key 1 owns 90% of rows
    val dim = Seq((1L, "hot"), (950L, "cold")).toDF("k", "name")
    val plain = fact.join(dim, "k").agg(count(lit(1)), sum($"v")).collect().head
    val salted = SkewJoin.saltedJoin(fact, dim, "k", 8, Seq("k", "v"))
      .agg(count(lit(1)), sum($"v")).collect().head
    assert(plain == salted)
    val nSalts = fact.withColumn("s",
        pmod(xxhash64($"k", $"v"), lit(8)).cast("int"))
      .filter($"k" === 1L).select("s").distinct().count()
    assert(nSalts == 8, s"hot key only spread over $nSalts salts")
  }

  test("q156: the detected-header flag-back join broadcasts; no corpus-sized sort-merge") {
    // The header set is |sources| × |site chrome| — metadata, not corpus —
    // so flagging documents must never shuffle the document side.
    val plan = planOf(graft.ext.Corpus.q156BoilerplateStrip(spark, sf0001))
    assert(plan.contains("BroadcastHashJoin"), "header flag-back not broadcast")
    assert(!plan.contains("SortMergeJoin"),
      "document side must not shuffle for the header join")
  }
}
