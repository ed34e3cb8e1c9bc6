package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import graft.ops.Materialize

/** Corpus quality-control operators the big training-data pipelines run
  * after dedup and before tokenization: statistical language-model scoring
  * (the CCNet/Gopher perplexity-filter idea) and weighted sampling
  * (Efraimidis–Spirakis A-ES), both expressed as pure relational plans.
  *
  * Cross-engine exactness follows the house fixed-point discipline
  * (q106/q109/q114): every float-producing step is rounded to integer
  * micro-units BEFORE any order-dependent reduction, so Spark and the
  * DuckDB oracle are bit-identical by construction.
  */
object Quality {

  private val Fp = 1000000L // 1e6 fixed-point scale for log contributions

  /** Adjacent-bigram structs over a token-array column — ONE definition:
    * q198's holdout perplexity is documented as evaluating exactly the
    * bigram stream q115's LM filter scores, which only holds while both
    * derive bigrams identically. */
  private def bigramStructs(tokCol: String): String =
    s"transform(sequence(1, size($tokCol)-1), " +
      s"i -> struct($tokCol[i-1] AS w1, $tokCol[i] AS w2))"

  /** q115: bigram language-model quality scoring — train an add-one-smoothed
    * word-bigram LM on the corpus itself, then score every document by its
    * average per-bigram negative log-likelihood (the perplexity proxy the
    * CCNet-style quality filters threshold on; here the 15 most surprising
    * documents are returned).
    *
    * Shape, and why it holds at 100 TB:
    *   - The global bigram count C(w1,w2) is a window count over the
    *     exploded bigram stream — ONE shuffle of narrow rows keyed by the
    *     bigram, with no corpus-sized model table to join back (a join
    *     would shuffle the same rows once per side and, unpersisted,
    *     recompute the whole tokenize chain; measured 6× slower).
    *   - The unigram table is vocabulary-bounded and broadcast (at a
    *     100M-term vocabulary, flip to a shuffle join on w1); |V| rides
    *     along as a broadcast one-row frame, never a driver collect.
    *   - Per-bigram-occurrence log contributions are rounded to 1e-6
    *     fixed-point integers before the per-document sum, making the
    *     float formula order-independent (same trick as q114's BM25 sum).
    *
    * P(w2|w1) = (C(w1,w2) + 1) / (C(w1) + |V|); score(doc) =
    * mean over bigram occurrences of -ln P. Documents with < 2 tokens have
    * no bigrams and drop out in both engines. */
  def q115LmQuality(spark: SparkSession, dir: String, topK: Int = 15): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id",
        expr("filter(split(lower(text), '[^a-z]+'), x -> x <> '')").as("lst"))
    val tok = docs.select(explode($"lst").as("term"))
    // Vocabulary-bounded: unigram counts broadcast, |V| as a 1-row frame.
    val cuni = tok.groupBy($"term").agg(count(lit(1)).as("c1"))
    val vocab = cuni.agg(count(lit(1)).as("v"))
    val big = docs
      .filter(size($"lst") >= 2)
      .select($"doc_id", explode(expr(bigramStructs("lst"))).as("b"))
      .select($"doc_id", $"b.w1", $"b.w2")
    val wBi = Window.partitionBy($"w1", $"w2")
    big
      .withColumn("c12", count(lit(1)).over(wBi))
      .join(broadcast(cuni.withColumnRenamed("term", "w1")), Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("fp",
        round(-log(($"c12" + lit(1.0)) / ($"c1" + $"v")) * lit(Fp)).cast("long"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum($"fp") / (lit(Fp.toDouble) * count(lit(1))), 6).as("avg_nll"))
      .orderBy($"avg_nll".desc, $"doc_id")
      .limit(topK)
  }

  /** q116: deterministic weighted sampling without replacement, per language
    * — the Efraimidis–Spirakis A-ES scheme (each row gets key ln(u)/w; the
    * top-k keys ARE a weighted sample). Weight = n_chars, so the sample is
    * char-mass-proportional: exactly the "sample big documents more often"
    * draw a corpus-balancing pipeline wants, and — unlike naive
    * weight-ordered top-k — still randomized among equal weights.
    *
    * u is derived from md5(doc_id) (first 8 hex chars → uint32 → (x+0.5)/2^32,
    * exact in double), so the draw is reproducible across engines, runs and
    * cluster sizes, and appending documents never changes an existing
    * document's key — the q93 stability property, extended to sampling.
    * Keys are rounded to 1e-12 fixed-point BEFORE ranking so both engines
    * rank identical integers (doc_id breaks exact ties).
    *
    * Scale shape: one window per language with a row_number cutoff —
    * WindowGroupLimit pushes the top-k bound into the shuffle, so per-group
    * state is k rows, never the group. */
  def q116WeightedSample(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import spark.implicits._
    val u32 = conv(substring(md5($"doc_id".cast("string")), 1, 8), 16, 10).cast("long")
    val key = log((u32.cast("double") + lit(0.5)) / lit(4294967296.0)) / $"n_chars"
    val w = Window.partitionBy($"lang")
      .orderBy($"key_fp".desc, $"doc_id".asc)
    Tables.documents(spark, dir)
      // A-ES requires a POSITIVE weight: n_chars = 0 makes the key
      // log(u)/0 = -Infinity, and the 1e-12 fixed-point cast aborts under
      // ANSI. Weight-0 documents have sampling probability 0 anyway —
      // excluded, matching the oracle's WHERE (no such row in the fixture).
      .filter($"n_chars" > 0)
      .select($"lang", $"doc_id", $"n_chars",
        round(key * lit(1000000000000L)).cast("long").as("key_fp"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= k)
      .select($"lang", $"doc_id", $"n_chars", $"key_fp", $"rk")
      .orderBy($"lang", $"rk")
  }

  /** q120: character-level Shannon entropy per document — the
    * repetition/gibberish quality signal orthogonal to the LM score (q115):
    * low entropy flags "aaaa…"-style degenerate text the bigram LM may still
    * rate as probable, high entropy flags binary-garbage/base64 spans. The
    * 15 lowest-entropy documents are returned.
    *
    * Algebra: H = ln L − Σ(cᵢ·ln cᵢ)/L, so no per-row c/L is needed and the
    * plan is two CASCADED aggregations on the same doc_id key (the second
    * reuses the first's partitioning — one shuffle total, no window).
    * Per-distinct-char ln factors are rounded to 1e-6 fixed point, the
    * weighted sum is then exact integer arithmetic (order-independent), and
    * both engines divide the same longs — the house cross-engine
    * discipline. Per-doc state is the ≤ alphabet-size count vector. */
  def q120CharEntropy(spark: SparkSession, dir: String, topK: Int = 15): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", explode(split($"text", "")).as("ch"))
      .groupBy($"doc_id", $"ch").agg(count(lit(1)).as("c"))
      .withColumn("cfp", $"c" * round(log($"c") * lit(Fp)).cast("long"))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_chs"), sum($"cfp").as("s"))
      .withColumn("entropy",
        round((round(log($"n_chs") * lit(Fp)).cast("long") * $"n_chs" - $"s")
          / (lit(Fp.toDouble) * $"n_chs"), 6))
      .select($"doc_id", $"n_chs", $"entropy")
      .orderBy($"entropy".asc, $"doc_id")
      .limit(topK)
  }

  /** q158: composed quality-filter funnel — the FineWeb/Gopher-style rule
    * cascade every pretraining pipeline runs as ONE pass, with each document
    * attributed to its FIRST failing rule (so the per-rule counts read as a
    * funnel: what each rule would remove from what survived the rules above
    * it). Rules, in order:
    *   1. too_short    — fewer than `minTok` whitespace tokens;
    *   2. too_long     — more than `maxTok` tokens (truncation candidates);
    *   3. weird_tokens — mean token length outside [4.0, 9.0] chars
    *                     (gibberish / base64 / char-soup detector);
    *   4. low_stopword — stopword tokens < 2% of all tokens (the classic
    *                     "not natural prose" signal);
    *   5. pass.
    * Reported per (lang, verdict) with doc and token mass, so the cost of
    * each rule per language is visible before anyone commits to it.
    *
    * Every signal is SCAN-LOCAL (token count, non-space char count, a
    * stopword scan over the token array — no explode, no join) and the
    * only shuffle is the final hash aggregate on the tiny
    * (lang, verdict) key: the one-pass shape that turns a 100 TB corpus
    * audit into a single bounded-output scan. Mean token length is compared
    * in 1e-3 fixed point (exact integer division in both engines), the
    * house cross-engine discipline. */
  def q158FilterFunnel(spark: SparkSession, dir: String,
                       minTok: Int = 15, maxTok: Int = 5000): DataFrame =
    filterFunnel(Tables.documents(spark, dir), minTok, maxTok)

  /** The shared quality-rule columns over any text frame: token array `t`,
    * non-space char count `nsp`, token count `n_tok`, case-folded stopword
    * count `stop_n` (sentence-initial "The"/"In" ARE stopwords), and the
    * exact integer fixed-point mean token length `mfp` (×1000). ONE
    * definition consumed by both q158's funnel and q200's curation stage —
    * they were two hand-synced copies whose comments promised they "cannot
    * drift apart" with nothing enforcing it. */
  private[ext] val Stopwords = Seq("the", "a", "of", "and", "to", "in")
  private[ext] def qualityRuleCols(docs: DataFrame): DataFrame =
    docs
      .withColumn("t", split(col("text"), "\\s+"))
      .withColumn("nsp", length(regexp_replace(col("text"), "\\s+", "")))
      .withColumn("n_tok", size(col("t")).cast("long"))
      .withColumn("stop_n", size(filter(split(lower(col("text")), "\\s+"),
        x => x.isInCollection(Stopwords))))
      .withColumn("mfp", expr("nsp * 1000L div n_tok"))

  /** The rule cascade's verdict over [[qualityRuleCols]] output. */
  private[ext] def qualityVerdict(minTok: Int, maxTok: Int): Column =
    when(col("n_tok") < minTok, "too_short")
      .when(col("n_tok") > maxTok, "too_long")
      .when(col("mfp") < 4000L || col("mfp") > 9000L, "weird_tokens")
      .when(col("stop_n") * 100 < col("n_tok") * 2, "low_stopword")
      .otherwise("pass")

  /** The q158 rule cascade over any (lang, text) frame — split out so specs
    * can feed hand-built documents with a known verdict per rule. */
  def filterFunnel(docs: DataFrame,
                   minTok: Int = 15, maxTok: Int = 5000): DataFrame =
    qualityRuleCols(docs)
      .withColumn("verdict", qualityVerdict(minTok, maxTok))
      .groupBy(col("lang"), col("verdict"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .orderBy(col("lang"), col("verdict"))

  /** q181: per-source KL divergence from the corpus token distribution —
    * the plug-in estimate of KL(P_src ‖ P_corpus), the domain-skew audit
    * that quantifies how far each source's language drifts from the mix
    * (the per-source complement of q172's two-corpus contrast). High-KL
    * sources are candidates for separate mixture treatment (q154/q171).
    * No smoothing is needed: every source term occurs in the corpus by
    * construction, so the plug-in KL is finite and exact.
    *
    * Cross-engine discipline (the q172 device): KL·ns = Σ cs·ln((cs·nc)/
    * (cc·ns)) — the ln argument is an exact-BIGINT ratio, the integer
    * weight cs stays inside, and the 1/ns factor moves OUTSIDE the sum,
    * so each summand rounds to 1e-6 fixed point and the reduction is
    * exact integer math; one final division per source. Scale shape:
    * term-level counts aggregate map-side; the corpus unigram table
    * broadcasts; the per-source sum's key space is bounded by sources.
    */
  def q181SourceKl(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tok = Tables.documents(spark, dir)
      .select($"source",
        explode(
          expr("filter(split(lower(text), '[^a-z]+'), x -> x <> '')"))
          .as("term"))
    val perTerm = tok.groupBy($"source", $"term").agg(count(lit(1)).as("cs"))
    val corpus = tok.groupBy($"term").agg(count(lit(1)).as("cc"))
    val totals = corpus.agg(sum($"cc").as("nc"))
    val perSource = perTerm.groupBy($"source").agg(sum($"cs").as("ns"))
    perTerm
      .join(broadcast(corpus), Seq("term"))
      .join(broadcast(perSource), Seq("source"))
      .crossJoin(broadcast(totals))
      // Products and the corpus-mass fp sum in exact decimal(38,0)
      // (q166/q195 device): cs·nc and the per-source Σfp grow with token
      // mass squared-ish and cross 2⁶³ at 100 TB; in-range values are
      // bit-identical (one double rounding either way), oracle unchanged
      // (DuckDB BIGINT sums are HUGEINT-backed and never overflowed).
      .withColumn("fp", round($"cs" * log(
        ($"cs".cast("decimal(38,0)") * $"nc").cast("double")
          / ($"cc".cast("decimal(38,0)") * $"ns").cast("double"))
        * lit(1000000L)).cast("decimal(38,0)"))
      .groupBy($"source")
      .agg(max($"ns").as("n_tokens"), count(lit(1)).as("n_terms"),
        round(sum($"fp").cast("double")
          / (lit(1000000.0) * max($"ns")), 6).as("kl_nats"))
      .orderBy($"source")
  }

  /** q194: per-source distribution drift via the two-sample
    * Kolmogorov–Smirnov statistic — D = max |F_src − F_rest| over the
    * document-length distribution, the nonparametric drift test that
    * catches a source whose SHAPE changed even when its mean didn't
    * (the monitoring complement of q181's KL on token content).
    *
    * Exactness by construction: D = max |c1·n2 − c2·n1| / (n1·n2) — the
    * argmax runs entirely on exact integer cross-products (cumulative
    * counts × opposite sample sizes), so there is no float in the
    * comparison path at all, and the single final division is correctly
    * rounded. Scale shape: one (source, len) aggregate; the CDF grid is
    * sources × distinct-lens bounded (built by a broadcast cross join),
    * and the cumulative windows partition by source over that grid.
    */
  def q194KsDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lens = Tables.documents(spark, dir)
      .select($"source", size(split($"text", "\\s+")).as("len"))
    val bySrcLen = lens.groupBy($"source", $"len").agg(count(lit(1)).as("c1"))
    val byLen = lens.groupBy($"len").agg(count(lit(1)).as("cg"))
    val totals = lens.groupBy($"source").agg(count(lit(1)).as("n1"))
      .crossJoin(broadcast(lens.agg(count(lit(1)).as("nt"))))
      .select($"source", $"n1", ($"nt" - $"n1").as("n2"))
    val grid = totals.select($"source", $"n1", $"n2")
      .crossJoin(broadcast(byLen))
      .join(bySrcLen, Seq("source", "len"), "left")
      .withColumn("c1", coalesce($"c1", lit(0L)))
      .withColumn("c2", $"cg" - $"c1")
    val w = Window.partitionBy($"source").orderBy($"len")
      .rowsBetween(Window.unboundedPreceding, 0)
    // Cross-products in exact decimal(38,0), not int64 (q166/q195 device —
    // the 245a55a audit missed this one): cum1·n2 grows ~N²/4 with corpus
    // mass and crosses 2⁶³ at ~6e9 docs, where the wrapped abs corrupts
    // the argmax silently. In-range values are bit-identical, so the
    // BIGINT oracle is unchanged; d_num is cast back for the report
    // (re-widen the report column the day a corpus actually exceeds it —
    // the argmax and ks_d stay exact regardless).
    val dec = "decimal(38,0)"
    grid
      .withColumn("cum1", sum($"c1").over(w).cast(dec))
      .withColumn("cum2", sum($"c2").over(w).cast(dec))
      .withColumn("dnum",
        abs($"cum1" * $"n2".cast(dec) - $"cum2" * $"n1".cast(dec)))
      .groupBy($"source")
      .agg(max($"n1").as("n_docs"),
        max($"dnum").cast("long").as("d_num"),
        round(max($"dnum").cast("double")
          / (max($"n1").cast(dec) * max($"n2").cast(dec)).cast("double"), 6)
          .as("ks_d"))
      .orderBy($"source")
  }

  /** q196: cross-source score calibration — each document's quality proxy
    * (1e-6 fixed-point mean token length, the scan-local q158 signal) is
    * mapped to its GLOBAL percentile, then summarized per source: a mean
    * percentile far from 0.5 flags a source the raw score systematically
    * favors or punishes — exactly the bias a single threshold applied
    * across heterogeneous sources inflicts, and the reason calibrated
    * (per-source quantile) cutoffs exist.
    *
    * Scale shape: the global ranking uses [[graft.ops.DistributedRank]] —
    * a range shuffle + per-partition windows + a ≤32-row offsets frame,
    * never a single-partition total sort. Exactness: the score is a
    * fixed-point long (ties broken by doc_id), and the per-source mean
    * percentile sums the exact INTEGER ranks — never per-doc float
    * percentiles, whose summation order would differ across engines —
    * dividing once at the end: mean_pctile = (Σrank/n − 1)/(N−1).
    */
  def q196ScoreCalibration(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scored = Tables.documents(spark, dir)
      .select($"source", $"doc_id",
        expr("filter(split(lower(text), '[^a-z]+'), x -> x <> '')").as("tk"))
      .filter(size($"tk") > 0)
      .select($"source", $"doc_id",
        round(aggregate($"tk", lit(0L), (acc, x) => acc + length(x))
          .cast("double") / size($"tk") * 1000000).cast("long").as("score"))
    val ranked = graft.ops.DistributedRank.withRowNumber(
      scored, Seq($"score", $"doc_id"), "rk", "n_total")
    ranked
      .groupBy($"source")
      // rank sums grow ~n²/2 with corpus size — exact decimal(38,0)
      // (q166/q195 device; in-range identical, oracle unchanged)
      .agg(count(lit(1)).as("n_docs"),
        sum($"rk".cast("decimal(38,0)")).as("sum_rank"),
        max($"n_total").as("nt"))
      .select($"source", $"n_docs",
        round(($"sum_rank".cast("double") / $"n_docs" - 1)
          / ($"nt" - 1), 6).as("mean_pctile"))
      .orderBy($"source")
  }

  /** q198: holdout language-model evaluation — train the add-one-smoothed
    * bigram LM on the q93 TRAIN split only and score the held-out val and
    * test splits' bigrams: the honest train/eval loop (q115 scores the
    * corpus with a model trained on itself — fine for filtering, not for
    * measuring). Out-of-vocabulary mass is handled by the +1-extended
    * vocabulary: an unseen history or bigram falls back to the smoothing
    * floor instead of blowing up.
    *
    * Cross-engine discipline (q115/q172 device): each test bigram's NLL
    * is ONE ln of the exact-BIGINT ratio (c1 + V + 1)/(c12 + 1), rounded
    * to 1e-6 fixed point before the per-split integer sum; one division
    * per split at the end. Scale shape: train tables are vocab-bounded
    * and broadcast onto the held-out bigram stream; the per-split
    * aggregate has 2 keys.
    */
  def q198HoldoutPerplexity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select(Corpus.splitOf($"doc_id").as("split"),
        expr("filter(split(lower(text), '[^a-z]+'), x -> x <> '')").as("tk"))
      .filter(size($"tk") >= 2)
    // ONE corpus scan (r18): the occurrence-level form re-tokenized the
    // corpus in every consumer (cuni, cbi, vocab, heldout — 4 scans) and
    // joined the models onto every bigram OCCURRENCE. A bigram's NLL
    // depends only on (w1, w2), so aggregate (split, w1, w2) → n first:
    // one scan, one bigram-keyed shuffle, and every model table plus the
    // holdout scoring derives from the bounded count table (weighting each
    // distinct bigram's fp by n — exact integer arithmetic, bit-identical
    // to the per-occurrence sum). One leaf: four consumers, broadcast
    // subtrees race a lazy plan (the q121 device).
    val bc = Materialize(docs.select($"split",
        explode(expr(bigramStructs("tk"))).as("b"))
      .groupBy($"split", $"b.w1".as("w1"), $"b.w2".as("w2"))
      .agg(count(lit(1)).as("n")))
    val train = bc.filter($"split" === "train")
    val cuni = train.groupBy($"w1").agg(sum($"n").as("c1"))
    val cbi = train.select($"w1", $"w2", $"n".as("c12"))
    val vocab = train.select($"w1".as("w")).union(train.select($"w2"))
      .distinct().agg(count(lit(1)).as("v"))
    bc.filter($"split" =!= "train")
      .join(broadcast(cuni), Seq("w1"), "left")
      .join(broadcast(cbi), Seq("w1", "w2"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("fp", round(log(
        (coalesce($"c1", lit(0L)) + $"v" + 1).cast("double")
          / (coalesce($"c12", lit(0L)) + 1).cast("double")) * lit(1000000L))
        .cast("long"))
      .groupBy($"split")
      // per-split Σ n·fp scales with holdout bigram mass — exact
      // decimal(38,0) sum (q166/q195 device; in-range identical)
      .agg(sum($"n").as("n_bigrams"),
        round(sum($"fp".cast("decimal(38,0)") * $"n").cast("double")
          / (lit(1000000.0) * sum($"n")), 6)
          .as("avg_nll"))
      .orderBy($"split")
  }

  /** q172: DSIR-style importance-ratio data selection (Xie et al. 2023,
    * "Data Selection via Importance Resampling") — score every
    * out-of-domain document by the mean per-token log-likelihood ratio
    * between a TARGET unigram LM (here the `src0` slice standing in for
    * the in-domain corpus) and the RAW unigram LM (everything else), both
    * add-one smoothed over the shared vocabulary; the top-scoring raw
    * documents are the ones importance sampling pulls toward the target
    * domain. This is the selection step upstream of fine-tune/pretrain
    * mixing — the contrastive complement of q115's self-perplexity filter.
    *
    * Cross-engine discipline (the q115 device): each token's ratio is ONE
    * ln of an exact-BIGINT ratio — ln(((c_t+1)·(N_r+V)) / ((c_r+1)·(N_t+V)))
    * — rounded to 1e-6 fixed point BEFORE the per-document sum, so the
    * reduction is exact integer math and both engines emit identical
    * scores. Scale shape: both unigram tables are vocabulary-bounded and
    * BROADCAST onto the token stream (one corpus scan feeds both counts
    * and the scoring pass); the per-document aggregate is the only
    * corpus-sized shuffle, and top-k bounds the output.
    */
  def q172DsirSelection(spark: SparkSession, dir: String,
                        targetSource: String = "src0",
                        topK: Int = 15): DataFrame = {
    import spark.implicits._
    // ONE corpus tokenize (r18): the occurrence-level form scanned the
    // corpus twice (model counts + scoring) and joined the model onto
    // every token OCCURRENCE. A token's log-ratio depends only on the
    // term, so aggregate (doc, term) → n in the tokenize pass's own
    // shuffle: the model tables derive from the SAME (doc, term) count
    // table (one scan total) and scoring weights each distinct pair's fp
    // by n — exact integer arithmetic, bit-identical to the
    // per-occurrence sum. One leaf: three consumers, broadcast subtrees
    // race a lazy plan (the q121 device).
    val dt = Materialize(Tables.documents(spark, dir)
      .select($"doc_id", ($"source" === targetSource).as("is_target"),
        explode(
          expr("filter(split(lower(text), '[^a-z]+'), x -> x <> '')"))
          .as("term"))
      .groupBy($"doc_id", $"is_target", $"term")
      .agg(count(lit(1)).as("n")))
    val counts = dt.groupBy($"term").agg(
      sum(when($"is_target", $"n").otherwise(0L)).as("ct"),
      sum(when(!$"is_target", $"n").otherwise(0L)).as("cr"))
    // Vocabulary-bounded model state: |V| and the two token masses ride
    // along as a broadcast one-row frame, never a driver collect.
    val stats = counts.agg(count(lit(1)).as("v"),
      sum($"ct").as("nt"), sum($"cr").as("nr"))
    dt.filter(!$"is_target")
      .join(broadcast(counts), Seq("term"))
      .crossJoin(broadcast(stats))
      // exact decimal(38,0) products: (c+1)·(N+V) crosses 2⁶³ once both
      // factors carry 100 TB token mass (q166/q195 device; in-range the
      // double cast sees the same exact integer, oracle unchanged)
      .withColumn("fp", round(
        log((($"ct" + 1).cast("decimal(38,0)") * ($"nr" + $"v")).cast("double")
          / (($"cr" + 1).cast("decimal(38,0)") * ($"nt" + $"v")).cast("double"))
          * lit(1000000L))
        .cast("long"))
      .groupBy($"doc_id")
      // Σ fp·n in exact decimal(38,0), same guard as q198's per-split sum
      // (VERDICT r18 #3): fp·n is long×long and a hot term's n at 100 TB
      // times a large |fp| silently wraps 2⁶³; in-range the double cast
      // sees the same exact integer, oracle unchanged.
      .agg(sum($"n").as("n_tokens"),
        round(sum($"fp".cast("decimal(38,0)") * $"n").cast("double")
          / (lit(1000000.0) * sum($"n")), 6)
          .as("dsir_score"))
      .orderBy($"dsir_score".desc, $"doc_id")
      .limit(topK)
  }
}
