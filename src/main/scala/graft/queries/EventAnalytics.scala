package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.ops.Materialize

/** Event-pipeline analytics over the events stream table: funnel conversion
  * and weekly retention — the queries a product/event warehouse answers
  * daily, here over exact ns ordering.
  */
object EventAnalytics {

  /** Session funnel: per 30-minute-gap session, did a view precede a click
    * precede a purchase? Output: global funnel counts. Sessionization mirrors
    * q24 (lag + cumulative break sum) so the oracle can reproduce it exactly. */
  def q60Funnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val gapNs = 30L * 60 * 1000 * 1000 * 1000
    val byUser = Window.partitionBy($"user_id").orderBy($"ts_ns")
    val sessions = Tables.events(spark, dir)
      .withColumn("prev_ns", lag($"ts_ns", 1).over(byUser))
      .withColumn("brk",
        when($"prev_ns".isNull || $"ts_ns" - $"prev_ns" > gapNs, 1).otherwise(0))
      .withColumn("sid", sum($"brk").over(
        byUser.rowsBetween(Window.unboundedPreceding, 0)))
    val perSession = sessions.groupBy($"user_id", $"sid").agg(
      min(when($"event_type" === "view", $"ts_ns")).as("v_ns"),
      min(when($"event_type" === "click", $"ts_ns")).as("c_ns"),
      min(when($"event_type" === "purchase", $"ts_ns")).as("p_ns"))
    perSession.agg(
      count(lit(1)).as("n_sessions"),
      count($"v_ns").as("n_with_view"),
      sum(when($"c_ns" > $"v_ns", 1).otherwise(0)).as("n_view_then_click"),
      sum(when($"c_ns" > $"v_ns" && $"p_ns" > $"c_ns", 1).otherwise(0))
        .as("n_full_funnel"))
  }

  /** Weekly retention: for each signup-week cohort (first event week), how
    * many users were active 1 and 2 weeks later. */
  def q61Retention(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"user_id", date_trunc("week", $"ts").as("week"))
      .distinct()
    val cohorts = ev.groupBy($"user_id").agg(min($"week").as("cohort_week"))
    ev.join(cohorts, "user_id")
      .groupBy($"cohort_week")
      .agg(
        countDistinct($"user_id").as("cohort_size"),
        countDistinct(when($"week" === $"cohort_week" + expr("INTERVAL 7 DAYS"),
          $"user_id")).as("retained_w1"),
        countDistinct(when($"week" === $"cohort_week" + expr("INTERVAL 14 DAYS"),
          $"user_id")).as("retained_w2"))
      .orderBy($"cohort_week")
  }

  /** q119: event-type Markov transition matrix — P(next event type | current
    * event type) over each user's exactly-ordered stream, the input to
    * next-action models and anomaly scoring (a transition with near-zero
    * probability is the anomaly). Ordering uses the exact ns timestamp with
    * an event_id tiebreak, so both engines see identical successor pairs.
    *
    * One window pass (lead over the user partition — state is one row) and
    * one bounded aggregation: the transition matrix is |types|² rows, so the
    * per-source normalizing sum is a window over a broadcast-sized frame.
    * Probabilities round at 1e-6 from exact integer counts — both engines
    * divide the same longs. */
  def q119MarkovTransitions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"ts_ns", $"event_id")
    Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"ts_ns", $"event_type")
      .withColumn("next", lead($"event_type", 1).over(w))
      .filter($"next".isNotNull)
      .groupBy($"event_type", $"next")
      .agg(count(lit(1)).as("n"))
      .withColumn("p",
        round($"n" / sum($"n").over(Window.partitionBy($"event_type")), 6))
      .orderBy($"event_type", $"next")
  }

  /** q123: first-touch / last-touch conversion attribution — for every
    * purchase, which marketing touch (view or click) opened the user's path
    * and which one immediately preceded the conversion. The attribution
    * matrix (first × last × count) is what campaign-ROI reports aggregate.
    *
    * One window pass over the exactly-ordered per-user stream: both touches
    * are ignoreNulls first/last over the unbounded-preceding frame (state
    * is one value per frame, not the group), then a |types|²-bounded
    * aggregate. Purchases with no prior touch report 'none' — kept, since
    * un-attributable conversion mass is exactly what the report must not
    * silently drop. */
  def q123Attribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"ts_ns", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when($"event_type".isin("view", "click"), $"event_type")
    Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"ts_ns", $"event_type")
      .withColumn("first_touch", first(touch, ignoreNulls = true).over(w))
      .withColumn("last_touch", last(touch, ignoreNulls = true).over(w))
      .filter($"event_type" === "purchase")
      .groupBy(
        coalesce($"first_touch", lit("none")).as("first_touch"),
        coalesce($"last_touch", lit("none")).as("last_touch"))
      .agg(count(lit(1)).as("n_purchases"))
      .orderBy($"first_touch", $"last_touch")
  }

  /** q128: gaps-and-islands — per user, maximal runs of consecutive active
    * calendar days (the streak metric behind engagement dashboards and
    * "activity droughts"). The classic anchor trick: `day - row_number()` is
    * constant exactly within a consecutive run, so islands fall out of two
    * hash aggregates — no self-join, no iteration. Shuffle cost is one
    * exchange on user_id for the row_number window (the two aggregates reuse
    * that clustering via AQE); per-partition window state is one counter. */
  def q128ActivityIslands(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"day")
    val days = Tables.events(spark, dir)
      .select($"user_id", to_date($"ts").as("day")).distinct()
    val islands = days
      .withColumn("anchor", date_sub($"day", row_number().over(w)))
      .groupBy($"user_id", $"anchor")
      .agg(count(lit(1)).as("len"))
    islands.groupBy($"user_id")
      .agg(
        sum($"len").as("n_active_days"),
        count(lit(1)).as("n_islands"),
        max($"len").as("longest_streak"))
      .orderBy($"user_id")
  }

  /** q129: time-weighted average (TWAP) — per user, the mean of `value`
    * weighted by how long each reading was "current" (until the next event).
    * The honest average for irregularly-sampled series, where a plain mean
    * over-weights bursts. One lead() window pass (state: one row), one
    * aggregate. All arithmetic stays integral until the final division —
    * cent-quantized values × ms durations summed as longs — so Spark and
    * DuckDB agree bit-for-bit regardless of summation order (a double
    * value×duration product would make the compare order-sensitive).
    * Timestamps are µs-quantized first: µs is the resolution every engine
    * in the compare loop shares (DuckDB reads the parquet NANOS column at
    * µs), and per-interval ms flooring makes the span sum sensitive to
    * sub-µs differences that would otherwise flip single rows. */
  def q129Twap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    Tables.events(spark, dir)
      .select($"user_id", $"event_id", expr("ts_ns div 1000").as("us"),
        round($"value" * 100).cast("long").as("cents"))
      .withColumn("next_us", lead($"us", 1).over(w))
      .filter($"next_us".isNotNull)
      .withColumn("dur_ms", expr("(next_us - us) div 1000"))
      .groupBy($"user_id")
      .agg(
        count(lit(1)).as("n_intervals"),
        sum($"dur_ms").as("span_ms"),
        round(sum($"cents" * $"dur_ms") / (sum($"dur_ms") * 100.0), 6)
          .as("twap"))
      .orderBy($"user_id")
  }

  /** q133: A/B experiment analysis — deterministic hash assignment (the
    * md5-parity trick every experimentation platform uses: pure function of
    * user_id, stable under reruns/appends, no RNG state), per-variant
    * activity metrics, and the lift + Welch t-statistic between arms.
    * Scale shape: one aggregate to per-user metrics (shuffle on user_id),
    * one to the two-arm summary (shuffle on 2 keys) — the t-test is
    * algebraic (n, mean, variance), so a 100 TB experiment readout is two
    * hash aggregates, no window, no collect. Per-user value sums are
    * cent-quantized before the variance math and the final stats round at
    * 1e-6 from identical inputs, so both engines agree. */
  def q133AbExperiment(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Assignment via the repo's portable md5 idiom (two hex chars mixed —
    // same bytes in every engine, q93's bucket rule).
    val h = md5($"user_id".cast("string"))
    val perUser = Tables.events(spark, dir)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(round($"value" * 100).cast("long")).as("cents"))
      .withColumn("variant",
        when((ascii(substring(h, 1, 1)) * 31 + ascii(substring(h, 2, 1))) % 2 === 0,
          lit("control")).otherwise(lit("treatment")))
    val arms = perUser.groupBy($"variant")
      .agg(count(lit(1)).as("n_users"),
        round(avg($"cents" / 100.0), 6).as("mean_value"),
        round(var_samp($"cents" / 100.0), 6).as("var_value"))
    // Pivot the two arms into one row with a conditional aggregate over the
    // 2-row arms frame — NOT a self-join of two filtered branches, which
    // would duplicate the events scan and the per-user shuffle end to end.
    arms.agg(
        max(when($"variant" === "control", $"n_users")).as("n_c"),
        max(when($"variant" === "treatment", $"n_users")).as("n_t"),
        max(when($"variant" === "control", $"mean_value")).as("m_c"),
        max(when($"variant" === "treatment", $"mean_value")).as("m_t"),
        max(when($"variant" === "control", $"var_value")).as("v_c"),
        max(when($"variant" === "treatment", $"var_value")).as("v_t"))
      .select(
        $"n_c", $"n_t",
        round($"m_t" - $"m_c", 6).as("lift"),
        round(($"m_t" - $"m_c")
          / sqrt($"v_t" / $"n_t" + $"v_c" / $"n_c"), 6).as("welch_t"))
  }

  /** q135: rolling 7-day active users (WAU) per calendar day — the sliding
    * distinct count no partial aggregate can maintain (distinct is not
    * re-aggregable across overlapping windows; q118's sketch rollup is the
    * approximate escape hatch, this is the exact one). Shape: distinct
    * (user, day) — the one big shuffle — then each surviving pair joins to
    * at most 7 grid days (a broadcast of the tiny day dimension), and the
    * per-grid-day distinct recount runs over the ≤7× expansion, never the
    * raw events. The expansion is generated NARROW (explode of the 7-day
    * sequence per active pair — no nested-loop join against the grid); a
    * broadcast semi-join against the observed-day grid then trims window
    * ends. Output days are restricted to the observed range. */
  def q135RollingWau(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Pinned: both the grid branch and the explode branch read this frame,
    // and without the checkpoint each consumer re-runs the events-wide
    // distinct shuffle (the dominant cost) from scratch.
    val ud = Materialize(Tables.events(spark, dir)
      .select($"user_id", to_date($"ts").as("day")).distinct())
    val grid = ud.select($"day".as("grid_day")).distinct()
    ud.withColumn("grid_day",
        explode(expr("sequence(day, date_add(day, 6))")))
      .join(broadcast(grid), "grid_day")
      .groupBy($"grid_day")
      .agg(countDistinct($"user_id").as("wau"),
        count(lit(1)).as("active_user_days"))
      .orderBy($"grid_day")
  }

  /** q138: rolling 7-day WAU from per-day HLL sketches — the 100 TB path
    * whose exact twin is [[q135RollingWau]]: q135's distinct recount pays a
    * ≤7× expansion of (user, day) pairs every day; here the raw events
    * collapse ONCE into ~365 day-sketch rows and every trailing window is a
    * lossless sketch union over ≤7 of them — the window slide costs
    * metadata, not data, exactly like q118's rollup algebra but over
    * overlapping windows (which plain distinct counts cannot do at all).
    * No SQL oracle (engine-specific sketch, like q21/q118); QualitySpec
    * bounds the per-day error against the exact q135. */
  def q138RollingWauSketch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Pinned for the same reason as q135's ud: the grid branch and the
    // explode branch would each re-run the events-wide sketch aggregation.
    val daily = Materialize(Tables.events(spark, dir)
      .groupBy(to_date($"ts").as("day"))
      .agg(hll_sketch_agg($"user_id", lit(14)).as("sk")))
    val grid = daily.select($"day".as("grid_day"))
    daily
      .withColumn("grid_day",
        explode(expr("sequence(day, date_add(day, 6))")))
      .join(broadcast(grid), "grid_day")
      .groupBy($"grid_day")
      .agg(hll_sketch_estimate(hll_union_agg($"sk", lit(false)))
        .as("wau_est"))
      .orderBy($"grid_day")
  }

  /** q130: daily active + cumulative-distinct users — the DAU/"total users
    * ever" pair every growth dashboard plots. Cumulative distinct is NOT
    * re-aggregable from daily distincts; the scalable identity is
    * first-seen-day: cumulative users at day D = count of users whose min
    * day ≤ D. Two hash aggregates (per-user min, per-day counts) and a
    * running sum over the day grid — the unpartitioned window is over ~365
    * rows/year, not the events, so the single-partition frame is free at
    * any corpus size. */
  def q130CumulativeUsers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir).select($"user_id", to_date($"ts").as("day"))
    val active = ev.distinct()
      .groupBy($"day").agg(count(lit(1)).as("active_users"))
    val newUsers = ev.groupBy($"user_id").agg(min($"day").as("day"))
      .groupBy($"day").agg(count(lit(1)).as("new_users"))
    active.join(newUsers, Seq("day"), "left")
      .na.fill(0L, Seq("new_users"))
      .withColumn("cum_users", sum($"new_users")
        .over(Window.orderBy($"day").rowsBetween(Window.unboundedPreceding, 0)))
      .orderBy($"day")
  }

  /** q160: out-of-order delivery audit — the measurement that SIZES a
    * watermark delay before anyone deploys one. Arrival is simulated with a
    * bounded deterministic transport delay (md5-derived, < 1 hour, a pure
    * function of event_id — reproducible in any engine); within each
    * user's shard the event-time high-watermark is the running max over
    * earlier ARRIVALS, and an event's lateness is how far it trails that
    * mark. Per type: how many events a 15/30-minute watermark would drop,
    * and the worst lateness — read the delay off the report.
    *
    * Per-USER-shard watermarks are deliberate, mirroring per-partition
    * watermarks on a user-keyed source (the global watermark is their min):
    * the running-max window partitions on user_id, so state is one max per
    * user and nothing global ever serializes — the shape that still plans
    * at 100 TB where a single global arrival order cannot exist. All
    * arithmetic is integer µs; lateness of each user's first arrival is
    * defined 0 (nothing preceded it). */
  def q160LatenessAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val jitterUs = conv(substring(md5($"event_id".cast("string")), 1, 8), 16, 10)
      .cast("long") % lit(3600000000L)
    val w = Window.partitionBy($"user_id").orderBy($"arrival_us", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(spark, dir)
      .select($"event_id", $"user_id", $"event_type",
        expr("ts_ns div 1000").as("ts_us"))
      .withColumn("arrival_us", $"ts_us" + jitterUs)
      .withColumn("hw_us", max($"ts_us").over(w))
      .withColumn("late_us",
        when($"hw_us".isNull || $"hw_us" <= $"ts_us", 0L)
          .otherwise($"hw_us" - $"ts_us"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when($"late_us" > 15L * 60 * 1000000, 1L).otherwise(0L))
          .as("n_late_15m"),
        sum(when($"late_us" > 30L * 60 * 1000000, 1L).otherwise(0L))
          .as("n_late_30m"),
        expr("max(late_us) div 1000000").as("max_late_s"))
      .orderBy($"event_type")
  }

  /** q188: daily-volume anomaly detection — per event type, the z-score
    * of each day's event count against its trailing 7 OBSERVED days (the
    * ops monitor that flags traffic spikes/outages; gaps in the day grid
    * simply shorten history, and days without a full 7-day trail emit no
    * score). Flagged = |z| ≥ 2.
    *
    * Cross-engine exactness: counts are exact longs, the trailing Σx and
    * Σx² are exact ROWS-window integer sums, and
    * z = ((7x − Σx)/7) / √((7Σx² − (Σx)²)/42) is one shape-mirrored
    * double chain over those exact ints (√ is correctly rounded IEEE);
    * zero-variance windows yield NULL in both engines. Scale shape: one
    * (type, day) aggregate (map-side combined), then windows over the
    * types×days-bounded daily table.
    */
  /** q191: time-decayed activity mass — each event weighted by
    * 2^(−⌊age_days/7⌋) relative to the corpus's newest day (weekly
    * halving), the recency scoring behind freshness-weighted dashboards
    * and decayed feature stores. The decayed share vs the raw share shows
    * which event types are growing or fading.
    *
    * Exactness WITHOUT fixed point: weekly halving makes every weight a
    * dyadic rational 2^−w (exactly representable), so count·2^−w and
    * their sums are EXACT doubles in any summation order — no rounding
    * discipline needed until the final share divisions. Scale shape: the
    * corpus-wide max day is a broadcast scalar; events collapse to
    * (type, week-bucket) counts map-side (≤ types × weeks rows) before
    * any weighting.
    */
  def q191DecayedActivity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"event_type", to_date($"ts").as("day"))
    val maxDay = ev.agg(max($"day").as("max_day"))
    val bucketed = ev.crossJoin(broadcast(maxDay))
      .select($"event_type",
        floor(datediff($"max_day", $"day") / 7).cast("int").as("w"))
      .groupBy($"event_type", $"w").agg(count(lit(1)).as("c"))
    val agg = bucketed
      .groupBy($"event_type")
      .agg(sum($"c").as("n_events"),
        sum($"c" * pow(lit(0.5), $"w")).as("decayed"))
    val tot = agg.agg(sum($"n_events").as("tn"), sum($"decayed").as("td"))
    agg.crossJoin(broadcast(tot))
      .select($"event_type", $"n_events",
        round($"decayed", 6).as("decayed_mass"),
        round($"n_events".cast("double") / $"tn", 6).as("raw_share"),
        round($"decayed" / $"td", 6).as("decayed_share"))
      .orderBy($"event_type")
  }

  /** q192: purchase attribution — first-touch and last-touch models over
    * a 7-day lookback: for every purchase, which non-purchase event type
    * opened (first) and closed (last) the path to it. The classic
    * marketing-attribution pair, here as exact counts per (model, touch
    * type); ties at identical timestamps break on event_id so both
    * engines pick the same touch.
    *
    * Scale shape: the prior-event join is keyed by user_id (co-partition
    * both sides on the user, per-user event lists are short), the
    * interval predicate is exact µs timestamp arithmetic, and the two
    * argmin/argmax windows key on the purchase id — per-purchase state is
    * its own lookback events. Output is the types×2 bounded aggregate.
    */
  def q192Attribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"event_type", $"ts")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("p_id"), $"ts".as("p_ts"))
    val prior = ev.filter($"event_type" =!= "purchase")
      .select($"user_id", $"event_id".as("e_id"),
        $"event_type".as("touch"), $"ts".as("e_ts"))
    val joined = prior.join(purchases, Seq("user_id"))
      .filter($"e_ts" < $"p_ts"
        && $"e_ts" >= $"p_ts" - expr("INTERVAL 7 DAYS"))
    val wLast = Window.partitionBy($"p_id").orderBy($"e_ts".desc, $"e_id".desc)
    val wFirst = Window.partitionBy($"p_id").orderBy($"e_ts".asc, $"e_id".asc)
    val last = joined.withColumn("rk", row_number().over(wLast))
      .filter($"rk" === 1).select(lit("last_touch").as("model"), $"touch")
    val first = joined.withColumn("rk", row_number().over(wFirst))
      .filter($"rk" === 1).select(lit("first_touch").as("model"), $"touch")
    last.unionByName(first)
      .groupBy($"model", $"touch")
      .agg(count(lit(1)).as("n_purchases"))
      .orderBy($"model", $"touch")
  }

  /** q193: Benford first-digit audit of the event values — the classic
    * numeric-data forensic: natural multiplicative quantities follow
    * P(d) = log10(1+1/d); fabricated or synthetic values usually don't.
    * Reports, per leading digit, the observed count/share against the
    * Benford expectation and the χ² contribution.
    *
    * Cross-engine exactness: values convert ONCE to exact integer cents
    * (round(value·100) — the first significant digit is invariant under
    * ×100), and the leading digit comes from an exact integer-division
    * CASE ladder — no log10 in the extraction path, whose last-ulp
    * behavior differs across math libraries. The Benford probabilities
    * are embedded as identical decimal literals in both engines, so each
    * χ² term is one shape-mirrored double chain over exact counts.
    * Scale shape: scan-local digit extraction, one 9-key aggregate.
    */
  def q193BenfordAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val benford = Seq(
      1 -> 0.3010299956639812, 2 -> 0.17609125905568124,
      3 -> 0.12493873660829992, 4 -> 0.09691001300805642,
      5 -> 0.07918124604762482, 6 -> 0.06694678963061322,
      7 -> 0.05799194697768673, 8 -> 0.05115252244738129,
      9 -> 0.04575749056067514).toDF("digit", "benford_share")
    val cents = Tables.events(spark, dir)
      .filter($"value" > 0)
      .select(round($"value" * 100).cast("long").as("n"))
      .filter($"n" > 0)
    val digit = when($"n" >= 100000000L, expr("n div 100000000"))
      .when($"n" >= 10000000L, expr("n div 10000000"))
      .when($"n" >= 1000000L, expr("n div 1000000"))
      .when($"n" >= 100000L, expr("n div 100000"))
      .when($"n" >= 10000L, expr("n div 10000"))
      .when($"n" >= 1000L, expr("n div 1000"))
      .when($"n" >= 100L, expr("n div 100"))
      .when($"n" >= 10L, expr("n div 10"))
      .otherwise($"n")
    val obs = cents.select(digit.cast("int").as("digit"))
      .groupBy($"digit").agg(count(lit(1)).as("observed"))
    val tot = obs.agg(sum($"observed").as("n_values"))
    // Every Benford digit survives, so `benford` is the preserved side and
    // cannot be built; the ≤9-row observed counts are the build side.
    benford.join(broadcast(obs), Seq("digit"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("observed", coalesce($"observed", lit(0L)))
      .select($"digit", $"observed", $"benford_share",
        round($"observed".cast("double") / $"n_values", 6)
          .as("observed_share"),
        round(($"observed" - $"n_values" * $"benford_share")
          * ($"observed" - $"n_values" * $"benford_share")
          / ($"n_values" * $"benford_share"), 6).as("chi2_term"))
      .orderBy($"digit")
  }

  /** q195: CUPED-adjusted experiment readout — the variance-reduction
    * technique production A/B systems run on top of the plain q133
    * comparison: each user's post-period metric is adjusted by their
    * PRE-period covariate (θ = Cov(post, pre)/Var(pre)), removing
    * between-user variance that randomization already balanced. Variant
    * assignment is the deterministic user_id parity; the post period is
    * the last 15 days, pre is everything before.
    *
    * Exactness: metrics are exact integer CENTS (value·100); every
    * covariance/variance sum (Σx, Σy, Σx², Σxy) and the θ cross-products
    * run in exact decimal(38,0) (the q166 inertia device — int64 wrapped
    * at the 32× scale probe: n·Σxy crossed 2⁶³; 10³⁸ covers 10⁹ users of
    * 10⁸-cent totals with room); θ is one double ratio of exact integers
    * (the q175 regression device) and each adjusted mean is a
    * shape-mirrored chain of exact-sum divisions. In-range values are
    * bit-identical to the int64 form, so the DuckDB oracle (BIGINT at
    * gate SF) is unchanged.
    * Scale shape: events collapse to per-user (pre, post) cents map-side;
    * θ's sums and the per-variant aggregates are user-keyed one-pass
    * reductions; output is 2 rows.
    */
  def q195CupedReadout(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dec = "decimal(38,0)"
    val ev = Tables.events(spark, dir)
      .select($"user_id", $"ts", round($"value" * 100).cast("long").as("cents"))
    val cut = ev.agg(max(to_date($"ts")).as("max_day"))
    val perUser = ev.crossJoin(broadcast(cut))
      .select($"user_id",
        when(datediff($"max_day", to_date($"ts")) < 15, $"cents")
          .otherwise(lit(0L)).as("post"),
        when(datediff($"max_day", to_date($"ts")) >= 15, $"cents")
          .otherwise(lit(0L)).as("pre"))
      .groupBy($"user_id")
      .agg(sum($"post").as("y"), sum($"pre").as("x"))
    val stats = perUser.agg(count(lit(1)).cast(dec).as("n"),
      sum($"x").cast(dec).as("sx"), sum($"y").cast(dec).as("sy"),
      sum($"x".cast(dec) * $"x").as("sxx"),
      sum($"x".cast(dec) * $"y").as("sxy"))
    perUser
      .withColumn("variant", pmod($"user_id", lit(2L)).cast("int"))
      .groupBy($"variant")
      .agg(count(lit(1)).as("n_users"),
        sum($"y").as("vy"), sum($"x").as("vx"))
      .crossJoin(broadcast(stats))
      .select($"variant", $"n_users",
        round($"vy".cast("double") / $"n_users" / 100, 6).as("mean_post"),
        round(($"n" * $"sxy" - $"sx" * $"sy").cast("double")
          / ($"n" * $"sxx" - $"sx" * $"sx").cast("double"), 6).as("theta"),
        round(($"vy".cast("double") / $"n_users"
          - (($"n" * $"sxy" - $"sx" * $"sy").cast("double")
            / ($"n" * $"sxx" - $"sx" * $"sx").cast("double"))
            * ($"vx".cast("double") / $"n_users"
              - $"sx".cast("double") / $"n".cast("double"))) / 100, 6)
          .as("mean_adjusted"))
      .orderBy($"variant")
  }

  def q188DailyAnomaly(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, dir)
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("n_events"))
    val w7 = Window.partitionBy($"event_type").orderBy($"day")
      .rowsBetween(-7, -1)
    // Squares and their cross-products in exact decimal(38,0) (q166/q195
    // device): a 100 TB feed's 10¹²-events day squares past 2⁶³; in-range
    // values are bit-identical to the int64 form (oracle unchanged).
    val dec = "decimal(38,0)"
    daily
      .withColumn("hist", count(lit(1)).over(w7))
      .withColumn("sx", sum($"n_events").over(w7))
      .withColumn("sxx", sum($"n_events".cast(dec) * $"n_events").over(w7))
      .filter($"hist" === 7)
      .withColumn("var7",
        lit(7) * $"sxx" - $"sx".cast(dec) * $"sx")
      .withColumn("z", when($"var7" === 0, lit(null))
        .otherwise(round((lit(7) * $"n_events" - $"sx").cast("double") / 7
          / sqrt($"var7".cast("double") / 42), 6)))
      .select($"event_type", $"day", $"n_events", $"z",
        coalesce(abs($"z") >= 2.0, lit(false)).as("flagged"))
      .orderBy($"event_type", $"day")
  }
}
