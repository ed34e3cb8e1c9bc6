package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import graft.ops.Materialize

/** Corpus-preparation operators a training-data pipeline runs between raw
  * ingest and tokenization: deterministic split assignment, overlapping-chunk
  * segmentation, per-group quota sampling, inverted-index construction, and
  * PII masking. All are single-scan, shuffle-minimal shapes that hold at
  * 100 TB: nothing here collects to the driver, every grouping key is either
  * bounded (lang, split, term) or the document id itself.
  *
  * Each query has a DuckDB oracle twin in [[graft.SparkEntry.oracleSql]];
  * expressions are chosen for cross-engine determinism (md5 over engine
  * hash functions, explicit tiebreak orderings, integer casts at the edges).
  */
object Corpus {

  /** THE canonical train/val/test assignment — a scan-local pure function
    * of the stable document id (two md5 hex chars mixed, 80/10/10 by
    * bucket), so the split is reproducible across engines, runs, and
    * cluster sizes, and a re-run after appending documents never moves an
    * existing document between splits — the property that matters for
    * decontaminated evals. ONE definition on purpose: q93 reports it, the
    * q200 funnel stages by it, q198 holds out by it, and q186 audits
    * leakage ACROSS it — a private copy drifting in any one of them would
    * silently audit or evaluate a split that no longer exists. */
  def splitOf(id: Column): Column = {
    val h = md5(id.cast("string"))
    val bucket =
      (ascii(substring(h, 1, 1)) * 31 + ascii(substring(h, 2, 1))) % 100
    when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
  }

  def q93TrainSplit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .withColumn("split", splitOf($"doc_id"))
      .groupBy($"split")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
      .orderBy($"split")
  }

  /** q94: overlapping-window chunking — size 50 tokens, stride 40 (10-token
    * overlap), the segmentation every long-context training pipeline applies
    * before tokenization. One projection: tokenize, explode the chunk-start
    * sequence, slice. Chunk identity is (doc_id, start) plus an md5 of the
    * chunk text so the oracle compares content without shipping it. */
  def q94DocChunks(spark: SparkSession, dir: String,
                   size: Int = 50, stride: Int = 40): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", split($"text", "\\s+").as("t"))
      .select($"doc_id", $"t",
        explode(sequence(lit(1), org.apache.spark.sql.functions.size($"t"),
          lit(stride))).as("start"))
      .select($"doc_id", $"start",
        org.apache.spark.sql.functions.size(slice($"t", $"start", lit(size)))
          .as("n_tok"),
        md5(array_join(slice($"t", $"start", lit(size)), " ")).as("chunk_md5"))
      .orderBy($"doc_id", $"start")
  }

  /** q95: per-language quota sampling (language balancing). Rank inside each
    * language by md5(doc_id) — a deterministic shuffle — and keep the first
    * `quota`. Equivalent to reservoir sampling with a fixed seed but exactly
    * reproducible on any engine; the window partitions by a bounded key so
    * state per group is O(quota) after the WindowGroupLimit pushdown. */
  def q95QuotaSample(spark: SparkSession, dir: String, quota: Int = 50): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"lang")
      .orderBy(md5($"doc_id".cast("string")), $"doc_id")
    Tables.documents(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= quota)
      .select($"lang", $"doc_id")
      .orderBy($"lang", $"doc_id")
  }

  /** q96: inverted index — term → sorted posting list + document frequency,
    * reported for the 20 highest-df terms. The tokenize→distinct→groupBy
    * chain is the retrieval-index build; posting lists stay distributed
    * (collect_list is per-term, bounded by corpus df, never driver-side).
    * The posting list is emitted as a comma-joined string rather than an
    * ARRAY column: same information, but scalar-sortable/hashable by any
    * downstream comparison harness (numeric sort first, then stringify, so
    * doc ids keep their natural order, not a lexicographic one). */
  def q96InvertedIndex(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", explode(split(lower($"text"), "[^a-z]+")).as("term"))
      .filter($"term" =!= "")
      .distinct()
      .groupBy($"term")
      .agg(
        count(lit(1)).as("df"),
        array_join(
          transform(sort_array(collect_list($"doc_id")), _.cast("string")),
          ",").as("postings"))
      .orderBy($"df".desc, $"term")
      .limit(20)
  }

  /** q97: PII/identifier masking — replace digit runs with a placeholder and
    * count the masked runs, the scrub pass training pipelines run over
    * payload fields before the corpus leaves the trust boundary. Pure
    * per-row regexp work at scan speed; group index 0 is explicit because
    * the pattern has no capture group. */
  def q97PiiScrub(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select($"event_id", $"event_type",
        regexp_replace($"props", "[0-9]+", "<NUM>").as("masked_props"),
        org.apache.spark.sql.functions.size(
          regexp_extract_all($"props", lit("[0-9]+"), lit(0))).as("n_masked"))
      .orderBy($"event_id")
  }

  /** q114: BM25 retrieval ranking — the query-time complement of the q96
    * inverted index and the q74 TF-IDF term extractor: score every document
    * against a fixed term set with Robertson/Sparck-Jones BM25
    * (k1 = 1.2, b = 0.75), length-normalized by dl/avgdl.
    *
    * Scale shape: one tokenize pass feeds both the per-document length table
    * and the query-term postings; everything after the `isin` filter is
    * proportional to the documents containing a query term, not the corpus.
    * The per-term df table and the corpus stats row are broadcast.
    *
    * Cross-engine parity: every fractional constant is a double on both
    * sides (DuckDB decimal literals would keep exact decimal arithmetic
    * where Spark rounds through binary doubles), expression shape is
    * mirrored exactly, and each per-(doc, term) contribution is rounded
    * into fixed-point micro-units BEFORE the per-document sum, so the sum
    * is integer — order-independent across partitions — and only one exact
    * division produces the reported score (the q106 discipline applied to
    * a float formula). */
  def q114Bm25(spark: SparkSession, dir: String,
               terms: Seq[String] = Seq("merge", "stream", "window")): DataFrame = {
    import spark.implicits._
    bm25Scores(spark, dir, terms)
      .orderBy($"bm25".desc, $"doc_id")
      .limit(15)
  }

  /** BM25 scores per term-bearing document (the q114 pipeline without the
    * final top-k) — shared by q114 and the hybrid-retrieval fusion (q125). */
  def bm25Scores(spark: SparkSession, dir: String, terms: Seq[String]): DataFrame = {
    import spark.implicits._
    // ONE tokenize kernel pass per consumer (r18): the explode form
    // re-tokenized the corpus in every branch — dl, tf and df each walked
    // their own scan+exchange (4 corpus scans, 3 corpus-keyed shuffles,
    // plus a dl join) — where every number this query needs is a per-ROW
    // statistic: dl = token count, tf = per-term count (term_counts
    // kernel, byte-run tokenization ≡ split(lower,'[^a-z]+') minus
    // empties). Now: one scan feeds the corpus stats aggregate, one scan
    // feeds the (term-bearing docs only) tf stream with dl inline — no
    // (doc,term) shuffle, no dl join; df remains a tiny broadcast agg over
    // tf rows (identical to the distinct-pair count: tf rows ARE one row
    // per (doc, term) present). Values are bit-identical: same tokens,
    // same counts, same double chain, same fixed-point rounding.
    // Distinct terms: the old isin+groupBy form deduplicated a repeated
    // query term by construction (isin matches the VALUE); a per-index
    // count array would give each duplicate its own slot, row and df
    // increment — dedupe at entry so the two forms agree for any caller.
    val qTerms = terms.distinct
    val tc = Tables.documents(spark, dir)
      .select($"doc_id",
        graft.functions.NativeKernels.termCounts(lower($"text"), qTerms).as("tc"))
      .select($"doc_id", $"tc.dl".as("dl"), $"tc.cnt".as("cnt"))
      .filter($"dl" > 0)
    val stats = tc.agg(
      count(lit(1)).as("n_docs"),
      (sum($"dl").cast("double") / count(lit(1))).as("avgdl"))
    val termArr = array(qTerms.map(lit): _*)
    val tf = tc
      .select($"doc_id", $"dl", posexplode($"cnt").as(Seq("ti", "tf")))
      .filter($"tf" > 0)
      .select($"doc_id", $"dl", element_at(termArr, $"ti" + 1).as("term"), $"tf")
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val idf = log(lit(1.0) + (($"n_docs" - $"df" + lit(0.5)) / ($"df" + lit(0.5))))
    val wtf = ($"tf" * lit(2.2)) /
      ($"tf" + lit(1.2) * (lit(1.0) - lit(0.75) + lit(0.75) * $"dl" / $"avgdl"))
    tf.join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .withColumn("c_fp", round(idf * wtf * lit(1000000)).cast("long"))
      .groupBy($"doc_id")
      .agg((sum($"c_fp") / lit(1000000.0)).as("bm25"))
  }

  /** q125: hybrid retrieval — reciprocal-rank fusion (RRF) of the lexical
    * BM25 arm (q114) and a dense cosine arm (q37's scoring), the standard
    * two-tower search composition: rrf(d) = Σ_arms 1/(k₀ + rank_arm(d)),
    * robust to the arms' incomparable score scales. Documents and vectors
    * share the synthetic id space (doc_id = vec_id), the dense query is
    * vector 0; a document absent from one arm's top-n simply contributes
    * nothing for it (rank reported as 0 = absent, keeping the output
    * null-free for the cross-engine compare).
    *
    * Both arms' ranks derive from already-parity-safe scores (BM25's
    * fixed-point sum, cosine rounded at 1e-6) with doc-id tiebreaks, so
    * the fused ordering is identical in both engines. Each arm's top-n is
    * bound by the house [[graft.functions.TopKAggregator]] — a partial
    * aggregate whose map side keeps only its local top-n, so the shuffle
    * moves n rows per partition instead of every scored document, and no
    * corpus-scale frame ever passes through a single-partition ranking
    * window (plan-guarded in PlanSpec). Rank = position in the aggregated
    * list under the same (score desc, id asc) total order the window
    * ranked, so the result is bit-identical to the window formulation. */
  def q125HybridRetrieval(spark: SparkSession, dir: String,
                          terms: Seq[String] = Seq("merge", "stream", "window"),
                          n: Int = 50, k0: Int = 60, topK: Int = 15): DataFrame = {
    import spark.implicits._
    // Document 0 IS the query (docs and vectors share the id space, the
    // dense query is vector 0): excluded from BOTH arms, not just the
    // dense one — ranked lexically it could return itself as a retrieval
    // hit with its dense rank misreported as "absent".
    val lex = globalTopN(
        bm25Scores(spark, dir, terms)
          .filter($"doc_id" =!= 0)
          .select($"doc_id".as("id"), $"bm25".as("score")), n)
      .select($"id".as("doc_id"), $"rank".as("r_lex"))
    val emb = Tables.embeddings(spark, dir)
    val qv = emb.filter($"vec_id" === 0).select($"embedding".as("qe"))
    val vec = globalTopN(
        emb.filter($"vec_id" =!= 0)
          .crossJoin(broadcast(qv))
          .select($"vec_id".as("id"),
            round(graft.functions.VectorOps.cosine($"qe", $"embedding"), 6)
              .as("score")), n)
      .select($"id".as("doc_id"), $"rank".as("r_vec"))
    lex.join(vec, Seq("doc_id"), "full_outer")
      .select($"doc_id",
        coalesce($"r_lex", lit(0)).as("r_lex"),
        coalesce($"r_vec", lit(0)).as("r_vec"),
        round(
          coalesce(lit(1.0) / (lit(k0) + $"r_lex"), lit(0.0)) +
          coalesce(lit(1.0) / (lit(k0) + $"r_vec"), lit(0.0)), 9).as("rrf"))
      .orderBy($"rrf".desc, $"doc_id")
      .limit(topK)
  }

  /** q154: temperature-scaled mixture weights over languages — the
    * multilingual-pretraining sampler (mC4/XLM-R style): natural share
    * pᵢ = charsᵢ/Σchars is flattened to pᵢ^α (α = 0.5 here) and
    * renormalized, upweighting low-resource languages; each language gets
    * a target document count from a fixed budget and an implied sampling
    * rate (> 1 ⇒ upsampling epochs).
    *
    * Cross-engine discipline: α = 0.5 so the flattening is `sqrt` —
    * correctly rounded in IEEE 754 on both engines (a general `pow` is
    * not) — then the scaled shares are pinned to 1e-6 fixed point as longs
    * and ALL downstream arithmetic (the normalizer Σsᵢ, the budget split
    * floor(sᵢ·B/S)) is exact integer math, so Spark and DuckDB cannot
    * diverge. Scale shape: one groupBy on a bounded key (languages), then
    * window math over the |langs|-row aggregate — driver-free, and the
    * expensive side (the corpus scan) aggregates partially map-side. */
  def q154TemperatureMixing(spark: SparkSession, dir: String,
                            budgetDocs: Long = 100000L): DataFrame = {
    import spark.implicits._
    val perLang = Tables.documents(spark, dir)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("n_chars"))
    // The frame below is |langs| rows — the unpartitioned windows are
    // bounded by the language count, never by the corpus.
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    perLang
      .withColumn("s_fp",
        round(sqrt($"n_chars" / sum($"n_chars").over(all)) * lit(1000000L))
          .cast("long"))
      .withColumn("s_tot", sum($"s_fp").over(all))
      // `div` (not `/`): BOTH engines do exact integer division of the
      // fixed-point longs (DuckDB `//`), so the budget split cannot drift.
      .withColumn("target_docs", expr(s"(s_fp * ${budgetDocs}L) div s_tot"))
      .select($"lang", $"n_docs", $"n_chars",
        round($"s_fp".cast("double") / $"s_tot", 6).as("weight"),
        $"target_docs",
        round($"target_docs" / $"n_docs", 6).as("sample_rate"))
      .orderBy($"lang")
  }

  /** q155: deterministic corpus shuffle + shard assignment — the training-
    * order export step after splitting (q93) and packing (q80): every
    * document gets a pseudorandom but reproducible (shard, position) from a
    * pure function of its id, so any engine (and any re-run) derives the
    * same training order without ever materializing a global sort.
    *
    * Scale shape: shard = hash bucket ⇒ ONE hash shuffle on the shard key;
    * position = row_number within shard ordered by the same hash ⇒ a
    * per-shard local sort. Shard count scales with the corpus
    * (shards ∝ N / shardCapacity) so the per-shard sort is bounded — the
    * global order is the concatenation of shard files and never exists on
    * one node. The md5-derived u32 is the q116/q93 device: engine-neutral,
    * append-stable (new docs never reorder existing shards' relative
    * order ... they interleave by hash, which is exactly what a streaming
    * re-shuffle of a grown corpus should do). */
  def q155CorpusShuffle(spark: SparkSession, dir: String,
                        nShards: Int = 8): DataFrame = {
    import spark.implicits._
    val u32 = conv(substring(md5($"doc_id".cast("string")), 1, 8), 16, 10)
      .cast("long")
    val w = Window.partitionBy($"shard").orderBy($"okey".asc, $"doc_id".asc)
    Tables.documents(spark, dir)
      .select($"doc_id", u32.as("okey"))
      .withColumn("shard", pmod($"okey", lit(nShards.toLong)).cast("int"))
      .withColumn("pos", row_number().over(w))
      .select($"doc_id", $"shard", $"pos")
      .orderBy($"shard", $"pos")
  }

  /** q205: sequence PACKING — the complement of q94's chunking: combine
    * (shuffled) short documents into fixed-capacity training sequences,
    * the packed-pretraining batch layout. Policy: contiguous greedy fill
    * in shuffled shard order (q155's md5-u32 order — packing wants
    * decorrelated neighbors), sequence id = floor(tokens-before-this-doc /
    * capacity): deterministic, engine-neutral, and crucially ONE window
    * cumsum per shard — no iterative per-bin state, which is what makes
    * packing distributable (each shard packs independently; parallelism =
    * shard count, which scales with the corpus exactly like q155's). A
    * document may straddle a capacity boundary (its tail tokens spill into
    * the next sequence) — the standard streaming-packing cut-every-C
    * behavior, as opposed to first-fit bin packing, whose per-bin state
    * serializes the shard. Output: one row per (shard, seq_id) with doc
    * count, packed tokens, and utilization vs capacity. */
  def q205SequencePacking(spark: SparkSession, dir: String,
                          nShards: Int = 8, capacity: Int = 2048): DataFrame = {
    import spark.implicits._
    val u32 = conv(substring(md5($"doc_id".cast("string")), 1, 8), 16, 10)
      .cast("long")
    val w = Window.partitionBy($"shard").orderBy($"okey".asc, $"doc_id".asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      .select($"doc_id", size(split($"text", "\\s+")).as("n_tokens"),
        u32.as("okey"))
      .withColumn("shard", pmod($"okey", lit(nShards.toLong)).cast("int"))
      .withColumn("cum_before", coalesce(sum($"n_tokens").over(w), lit(0L)))
      .withColumn("seq_id", floor($"cum_before" / capacity).cast("int"))
      .groupBy($"shard", $"seq_id")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("n_tokens_packed"))
      .withColumn("utilization",
        round($"n_tokens_packed".cast("double") / capacity, 6))
      .orderBy($"shard", $"seq_id")
  }

  /** Global top-n of an (id, score) frame as (id, rank) rows, rank 1-based
    * under (score desc, id asc) — the bounded-buffer replacement for
    * `row_number().over(Window.orderBy(...))` + `filter(rank <= n)`:
    * identical output, but every map task ships at most n rows and the
    * single final task folds ≤ n·partitions rows instead of sorting the
    * whole frame in one task.
    *
    * PRECONDITION: scores must be finite. The typed buffer orders by Scala's
    * `-score` ordering, which ranks NaN LAST, while Spark's `desc` window
    * sort ranks NaN FIRST — so a NaN score would silently diverge from the
    * window formulation this replaces. Both current callers satisfy it by
    * construction (cosine guards zero-norm to 0.0; bm25 is a finite
    * fixed-point sum); a new caller whose score can be NaN must filter
    * `!isnan(score)` first or define its NaN rank explicitly. */
  private def globalTopN(scored: DataFrame, n: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    scored.as[graft.functions.TopKAggregator.Scored]
      .select(new graft.functions.TopKAggregator.TopK(n).toColumn)
      .flatMap(_.zipWithIndex.map { case (s, i) => (s.id, i + 1) })
      .toDF("id", "rank")
  }

  /** Planted-boilerplate fixture for q156: every third document gets a
    * deterministic per-source 6-token navigation header prepended — the
    * scraped-page shape (same site ⇒ same chrome) the boilerplate-strip
    * step exists for. Pure function of (doc_id, source): reproducible in
    * any engine, which is what lets the DuckDB oracle rebuild the identical
    * corpus. */
  def withPlantedHeaders(docs: DataFrame): DataFrame = {
    val planted = pmod(col("doc_id"), lit(3L)) === 0
    docs.withColumn("text",
      when(planted,
        concat(lit("hdr "), col("source"), lit(" nav home login search "),
          col("text")))
        .otherwise(col("text")))
  }

  /** q156: boilerplate-header detection + strip report — the CCNet/
    * RefinedWeb-style step that removes per-site chrome (nav bars, cookie
    * banners) before dedup and tokenization. A header is DISCOVERED, not
    * configured: a leading 6-token prefix shared by ≥ `minDf` documents of
    * the same source cannot be organic text and is classed as boilerplate;
    * flagged documents are stripped of exactly that prefix. Reported per
    * source: document counts, stripped counts, and token mass before/after.
    *
    * Scale shape: the prefix fingerprint is scan-local (md5 of the first 6
    * tokens — never the whole text); detection is one hash aggregate on
    * (source, prefix); the detected-header set is bounded by
    * |sources| × |distinct headers| (site chrome, not corpus size) so the
    * flag-back join BROADCASTS it; the report is one more hash aggregate on
    * the 20-value source key. Two small shuffles, no window, nothing
    * driver-side. */
  def q156BoilerplateStrip(spark: SparkSession, dir: String,
                           width: Int = 6, minDf: Long = 5L): DataFrame = {
    import spark.implicits._
    val docs = withPlantedHeaders(
      Tables.documents(spark, dir).select($"doc_id", $"source", $"text"))
    val pref = docs
      .select($"doc_id", $"source", split($"text", "\\s+").as("t"))
      // Prefix fingerprint only when the doc EXCEEDS the header width:
      // slice() on a shorter doc returns the whole doc, so width-or-less
      // exact duplicates (normal pre-dedup) would register their entire
      // text as a "header" and the strip accounting below would subtract
      // a full width from docs that don't have one (negative tok_after).
      // A sub-width doc's whole-text fingerprint can never equal a longer
      // doc's width-token prefix (different token counts ⇒ different
      // joined strings), so gating the fingerprint IS the pair rule.
      .withColumn("p", when(size($"t") > width,
        md5(array_join(slice($"t", 1, width), " "))))
    val headers = pref.groupBy($"source", $"p")
      .agg(count(lit(1)).as("df"))
      .filter($"df" >= minDf && $"p".isNotNull)
      .select($"source", $"p", lit(1).as("is_hdr"))
    pref
      .join(broadcast(headers), Seq("source", "p"), "left")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        count($"is_hdr").as("n_stripped"),
        sum(size($"t")).as("tok_before"),
        sum(size($"t") - when($"is_hdr".isNotNull, width).otherwise(0))
          .as("tok_after"))
      .orderBy($"source")
  }

  /** q164: windowed token co-occurrence PMI — the association statistic
    * behind collocation mining, word-embedding co-occurrence matrices
    * (GloVe's X_ij), and phrase detection (word2vec's score). Pairs are the
    * unordered (least, greatest) token pairs within a 3-token forward
    * window inside each document; PMI = ln(c_ab·T² / (P·c_a·c_b)) with T =
    * total tokens, P = total pairs. Reported for pairs with support ≥ 5,
    * top-N by support.
    *
    * Scale shape: the pair explode is W× the token stream but every
    * aggregate that follows is vocab-bounded — map-side partial aggregation
    * collapses the exploded pairs into at most |V|² hashmap slots before
    * anything shuffles, and the unigram/total sides broadcast. Cross-engine
    * float parity: numerator and denominator are exact BIGINT products
    * (bounded ≪ 2⁵³), so the single double division is correctly rounded
    * and identical in both engines before the one ln call.
    */
  def q164CooccurrencePmi(spark: SparkSession, dir: String,
                          win: Int = 3, minCount: Long = 5L,
                          topN: Int = 30,
                          forceLnForm: Boolean = false): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select(split($"text", "\\s+").as("tk"))
    val toks = docs.select(explode($"tk").as("tok"))
    val uni = toks.groupBy($"tok").agg(count(lit(1)).as("c"))
    val totTok = toks.agg(count(lit(1)).as("n_tok"))
    // slice(start > size) yields an empty array, so the tail tokens simply
    // contribute fewer forward pairs — no bounds bookkeeping needed.
    val pairs = docs.select(explode(flatten(transform($"tk", (t, i) =>
        transform(slice($"tk", i + lit(2), lit(win)), nb =>
          struct(least(t, nb).as("a"), greatest(t, nb).as("b")))))).as("p"))
      .select($"p.a".as("a"), $"p.b".as("b"))
    val pc = pairs.groupBy($"a", $"b").agg(count(lit(1)).as("c_ab"))
    val totPair = pairs.agg(count(lit(1)).as("n_pair"))
    pc.filter($"c_ab" >= minCount)
      .join(broadcast(uni.select($"tok".as("a"), $"c".as("c_a"))), Seq("a"))
      .join(broadcast(uni.select($"tok".as("b"), $"c".as("c_b"))), Seq("b"))
      .crossJoin(broadcast(totTok))
      .crossJoin(broadcast(totPair))
      // PMI products in exact decimal(38,0) (q166/q195 device — int64
      // wrapped at the 64× fixed-vocab probe: c_ab·T² crosses 2⁶³ once
      // T ~ 2·10⁸). 10³⁸ carries exact products to ~10¹⁴-token corpora
      // (c_ab·T² ≤ 10¹⁰·10²⁸). Past that the LN-SUM form takes over —
      // selected PER ROW, automatically, by a width check on the actual
      // factors (digit counts vs 36, two digits of headroom below the
      // decimal's 38): ln(c_ab)+2ln(T)−ln(P)−ln(c_a)−ln(c_b) has unbounded
      // range at ~1-ulp relative error, trading the exact form's
      // correctly-rounded single division for never overflowing. Every
      // fixture-scale row is in range, so the oracle is untouched; the
      // width guard sits inside when()'s short-circuit, so an out-of-range
      // row never evaluates the decimal product (which would throw under
      // ANSI). CorpusSpec pins ln-form ≡ exact-form on the fixture via
      // `forceLnForm` (test-only escape hatch, never set in the registry).
      .select($"a", $"b", $"c_ab", $"c_a", $"c_b",
        round(
          when(lit(!forceLnForm) &&
              log10($"c_ab".cast("double")) + lit(2.0) * log10($"n_tok".cast("double")) < 36.0 &&
              log10($"n_pair".cast("double")) + log10($"c_a".cast("double"))
                + log10($"c_b".cast("double")) < 36.0,
            log(($"c_ab".cast("decimal(38,0)") * $"n_tok" * $"n_tok").cast("double")
              / ($"n_pair".cast("decimal(38,0)") * $"c_a" * $"c_b").cast("double")))
          .otherwise(
            log($"c_ab".cast("double")) + lit(2.0) * log($"n_tok".cast("double"))
              - log($"n_pair".cast("double")) - log($"c_a".cast("double"))
              - log($"c_b".cast("double"))), 6).as("pmi"))
      .orderBy($"c_ab".desc, $"a", $"b")
      .limit(topN)
  }

  /** q169: vocabulary-growth (Heaps-law) curve — cumulative distinct
    * vocabulary and type–token ratio over fixed 50-document ingestion
    * buckets, in doc_id order. This is the corpus-saturation diagnostic a
    * data team reads before buying more crawl: a flattening new-word curve
    * means additional data is re-treading the same vocabulary.
    *
    * Scale shape: "which bucket saw this word first" is ONE min-aggregate
    * keyed by word (map-side combined, vocabulary-bounded output); all
    * later steps — per-bucket new-word counts, token mass, the cumulative
    * window — run on the #buckets-bounded curve itself, so the running
    * sums never touch corpus-sized data. The type–token ratio is one
    * correctly-rounded BIGINT division, identical in both engines.
    */
  def q169VocabGrowth(spark: SparkSession, dir: String,
                      bucketDocs: Int = 50): DataFrame = {
    import spark.implicits._
    val words = Tables.documents(spark, dir)
      .select(floor($"doc_id" / bucketDocs).cast("long").as("bucket"),
        explode(
          expr("filter(split(lower(text), '[^a-z]+'), x -> x <> '')"))
          .as("word"))
    val firstSeen = words.groupBy($"word")
      .agg(min($"bucket").as("bucket"))
      .groupBy($"bucket").agg(count(lit(1)).as("n_new_words"))
    val mass = words.groupBy($"bucket").agg(count(lit(1)).as("bucket_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    // The unpartitioned window is over the #buckets-bounded curve, not
    // data. Left join: a saturated bucket may contribute ZERO new words.
    mass.join(firstSeen, Seq("bucket"), "left")
      .withColumn("n_new_words", coalesce($"n_new_words", lit(0L)))
      .withColumn("cum_vocab", sum($"n_new_words").over(w))
      .withColumn("cum_tokens", sum($"bucket_tokens").over(w))
      .select($"bucket", $"n_new_words", $"cum_vocab",
        $"bucket_tokens", $"cum_tokens",
        round($"cum_vocab".cast("double") / $"cum_tokens", 6).as("ttr"))
      .orderBy($"bucket")
  }

  /** q178: truncation-loss curve — for each source and each candidate
    * context length L ∈ {128, 512, 2048, 4096}, the fraction of token
    * mass lost if documents truncate at L tokens. This is the decision
    * input for the q80 packing policy: pick the context budget where the
    * marginal loss flattens, per source (web snippets vs books differ by
    * orders of magnitude).
    *
    * Scale shape: per-doc token counts are scan-local; the 4× explode over
    * candidate limits multiplies narrow (source, n) rows only; the one
    * shuffle is the bounded-key (source × limit) aggregate with exact
    * integer sums, and the loss is one shape-mirrored double expression.
    */
  def q178TruncationLoss(spark: SparkSession, dir: String,
                         limits: Seq[Int] = Seq(128, 512, 2048, 4096)): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"source", size(split($"text", "\\s+")).cast("long").as("n"))
      .select($"source", $"n",
        explode(typedlit(limits.map(_.toLong))).as("limit"))
      .groupBy($"source", $"limit")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n").as("tok_mass"),
        sum(least($"n", $"limit")).as("kept"))
      .select($"source", $"limit", $"n_docs", $"tok_mass", $"kept",
        round(lit(1.0) - $"kept".cast("double") / $"tok_mass", 6).as("loss"))
      .orderBy($"source", $"limit")
  }

  /** q199: release manifest — a deterministic, order-independent content
    * fingerprint per source (and the ingredients to recompute it): the
    * mod-2³² SUM of every document's digest lanes, plus doc count and
    * byte mass. Sum, NOT xor: xor cancels even multiplicities, so a
    * corpus whose exact duplicates (normal pre-dedup) were pairwise
    * corrupted the same way could fingerprint identically — a modular
    * multiset sum changes under any doc-multiset change unless a lane
    * contribution collides mod 2³² (2⁻⁶⁴ across the two independent
    * lanes). Commutative, so still independent of partitioning,
    * ordering, and cluster size — the integrity artifact a dataset
    * release ships so a consumer can verify their copy without
    * re-downloading.
    *
    * Scale shape: one scan computes the digest per row; the sum/count
    * aggregate is map-side combined on the bounded source key. Lanes are
    * 32-bit (md5 hex chars 1–8 and 9–16 through the q116 u32 device) and
    * the running sums ride in exact decimal(38,0) (q166/q195 device —
    * 2³²·n_docs crosses 2⁶³ at ~4e9 docs) before the final mod folds
    * them back into BIGINT range for the report. */
  def q199ReleaseManifest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def u32(from: Int): Column =
      conv(substring(md5($"text"), from, 8), 16, 10).cast("long")
    val dec = "decimal(38,0)"
    def lane(c: Column): Column =
      (sum(c.cast(dec)) % lit(4294967296L)).cast("long")
    Tables.documents(spark, dir)
      .select($"source", u32(1).as("hi"), u32(9).as("lo"),
        length($"text").cast("long").as("nb"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        lane($"hi").as("fp_hi"),
        lane($"lo").as("fp_lo"),
        sum($"nb").as("n_chars"))
      .orderBy($"source")
  }

  /** q200: the end-to-end curation funnel as ONE composed plan — the
    * canonical pretraining pipeline chained stage-on-survivors: q158's
    * quality thresholds (with case-folded stopword matching) → exact dedup (min-doc_id canonical per text digest) →
    * span-novelty pruning (q184's criterion: drop docs with < 50% unique
    * 8-token spans among survivors) → the q93 split assignment. Reported
    * as a funnel of (stage, docs, token mass) so the cost of every stage
    * is visible in one result — the report a curation run publishes.
    *
    * Scale shape: each stage adds exactly the shuffles its standalone
    * operator needs (one digest-keyed window, one span-hash aggregate,
    * scan-local split) and the stage summaries are bounded-key unions;
    * nothing is recomputed corpus-wide more than its own stage requires.
    */
  def q200CurationPipeline(spark: SparkSession, dir: String,
                           width: Int = 8): DataFrame = {
    import spark.implicits._
    // The SAME rule columns + verdict as q158's funnel (one shared
    // definition in Quality — the stage-2 survivor set and the funnel's
    // pass set provably cannot drift).
    val raw = graft.ext.Quality.qualityRuleCols(
      Tables.documents(spark, dir).select($"doc_id", $"text"))
    val quality = raw.filter(
      graft.ext.Quality.qualityVerdict(minTok = 15, maxTok = 5000) === "pass")
    val wDup = Window.partitionBy(md5($"text")).orderBy($"doc_id")
    // The dedup survivors feed FOUR branches (their stage row, the span
    // table, the prune join, the split assignment); as a lazy frame each
    // branch re-ran the scan+tokenize+window chain. Materialize the
    // survivors ONCE, narrowed to the columns downstream needs — exactly
    // what a real curation run does between stages (each stage WRITES its
    // survivor set). q185's shared-leaf discipline.
    val exact = Materialize(quality.withColumn("rn", row_number().over(wDup))
      .filter($"rn" === 1)
      .select($"doc_id", $"t", $"n_tok"))
    // Materialized once (r18, the q189 device): the distinct span table
    // feeds the per-span doc count AND the join probe — lazy, each
    // consumer re-ran the explode + md5 + distinct over the survivors.
    val spans = Materialize(exact
      .select($"doc_id",
        explode(transform(Dedup.spanTexts($"t", width), t => md5(t))).as("h"))
      .distinct())
    val shared = spans.groupBy($"h").agg(count(lit(1)).as("nd"))
    val novelty = spans.join(shared, Seq("h"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("ns"),
        sum(when($"nd" === 1, 1L).otherwise(0L)).as("nu"))
      .filter($"nu" * 2 >= $"ns")
      .select($"doc_id")
    val pruned = exact.join(novelty, Seq("doc_id"))
    val assigned = pruned.withColumn("stage",
      concat(lit("5_"), splitOf($"doc_id")))
    def stageOf(df: DataFrame, name: String): DataFrame =
      df.agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"))
        .select(lit(name).as("stage"), $"n_docs", $"n_tokens")
    stageOf(raw, "1_raw")
      .unionByName(stageOf(quality, "2_quality"))
      .unionByName(stageOf(exact, "3_exact_dedup"))
      .unionByName(stageOf(pruned, "4_span_prune"))
      .unionByName(assigned.groupBy($"stage")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens")))
      .orderBy($"stage")
  }

  /** q189: dataset-card generator — the one-row-per-source summary a data
    * team publishes with a corpus release: document and token mass, mean
    * document length, language-mix entropy, and the fraction of the
    * source's distinct 8-token spans that also appear in another source
    * (the q165 cross-source sharing signal, folded to a per-source
    * number). Composes the house devices: exact integer masses, the q120
    * fixed-point entropy algebra (H = ln N − Σc·ln c / N with per-lang
    * ln factors pinned to 1e-6 BEFORE the weighted sum), and the q165
    * distinct-(span, source) hash sets.
    *
    * Scale shape: three independent per-source aggregates (doc/token
    * mass; lang counts; span sharing) joined on the sources-bounded key —
    * each is map-side combined, and only 32-hex digests ever ship on the
    * span path.
    */
  def q189DatasetCard(spark: SparkSession, dir: String,
                      width: Int = 8): DataFrame = {
    import spark.implicits._
    val Fp = 1000000L
    val docs = Tables.documents(spark, dir)
    // ONE scan for mass + language mix (r18): both are aggregates over the
    // (source, lang)-bounded table, so the per-doc token count rides the
    // same groupBy that counts languages — the separate mass scan (and its
    // second corpus tokenize) folds away. One leaf: the tiny table feeds
    // two consumers; lazy it would re-run the corpus scan per consumer.
    val perLang = Materialize(docs
      .select($"source", $"lang",
        size(split($"text", "\\s+")).cast("long").as("n"))
      .groupBy($"source", $"lang")
      .agg(count(lit(1)).as("c"), sum($"n").as("nt")))
    val mass = perLang
      .groupBy($"source")
      .agg(sum($"c").as("n_docs"), sum($"nt").as("n_tokens"))
      .withColumn("mean_doc_tokens",
        round($"n_tokens".cast("double") / $"n_docs", 2))
    val langEnt = perLang
      .withColumn("cfp", $"c" * round(log($"c") * Fp).cast("long"))
      .groupBy($"source")
      .agg(sum($"c").as("nd"), sum($"cfp").as("s"))
      .select($"source", round(
        (round(log($"nd") * Fp).cast("long") * $"nd" - $"s")
          / (lit(Fp.toDouble) * $"nd"), 6).as("lang_entropy"))
    // Materialized once (r18): the distinct span table feeds BOTH the
    // per-span source count and the join probe side — lazy, each consumer
    // re-ran the span explode + distinct over the corpus.
    val spans = Materialize(docs
      .select($"source", split($"text", "\\s+").as("t"))
      .select($"source",
        explode(transform(Dedup.spanTexts($"t", width), t => md5(t))).as("h"))
      .distinct())
    val nSources = spans.groupBy($"h")
      .agg(count(lit(1)).as("ns"))
    val sharing = spans.join(nSources, Seq("h"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_spans"),
        sum(when($"ns" > 1, 1L).otherwise(0L)).as("n_shared"))
      .select($"source", $"n_spans",
        round($"n_shared".cast("double") / $"n_spans", 6)
          .as("shared_span_frac"))
    mass
      .join(langEnt, Seq("source"))
      .join(sharing, Seq("source"))
      .select($"source", $"n_docs", $"n_tokens", $"mean_doc_tokens",
        $"lang_entropy", $"n_spans", $"shared_span_frac")
      .orderBy($"source")
  }

  /** q187: raking / iterative proportional fitting (Deming–Stephan) —
    * post-stratification weights over the (source × lang) contingency
    * table: keep each source's total mass while forcing the LANGUAGE
    * marginal to equal shares, alternating row- and column-scaling for 3
    * rounds. This is the classic survey-statistics reweighting applied to
    * corpus balancing: per-(source, lang) sampling weights that fix the
    * language mix without collapsing any source.
    *
    * Cross-engine discipline: weights live as 1e-9 fixed-point longs and
    * are RE-ROUNDED after every scaling step, so each round's marginal
    * sums are exact integer math and each scale factor is one double
    * ratio of exact longs — the whole 6-step chain is shape-mirrored in
    * the oracle. The per-language target is derived from the corpus's own
    * distinct-language count (a hardcoded count would silently stop
    * preserving source totals on any other corpus): exact integer DIV,
    * so when n_langs ∤ total·1e9 the column targets undershoot the total
    * by < n_langs units of 1e-9 — zero for the 5-language fixture.
    * Scale shape: ONE corpus aggregate builds the sources×langs-bounded
    * table; the IPF rounds are window math over those ~100 rows.
    */
  def q187RakingWeights(spark: SparkSession, dir: String,
                        rounds: Int = 3): DataFrame = {
    import spark.implicits._
    val Fp = 1000000000L
    // The 1e-9 fixed-point carrier is exact decimal(38,0), not int64
    // (q166/q195 device): corpus_total·10⁹ crosses 2⁶³ at ~10¹⁰ docs.
    // In-range values are bit-identical (each rescaling step multiplies
    // the same exact integer by the same double ratio), so the DuckDB
    // oracle — BIGINT at gate SF — is unchanged. The language target is
    // an EXACT integral divide stated as (t − t mod n)/n: the subtraction
    // makes the decimal division exact (no result-scale rounding), which
    // `DIV` itself cannot give here because IntegralDivide returns LONG.
    val dec = "decimal(38,0)"
    val base = Tables.documents(spark, dir)
      .groupBy($"source", $"lang").agg(count(lit(1)).as("n"))
    val bySource = Window.partitionBy($"source")
    val byLang = Window.partitionBy($"lang")
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    var cur = base
      .withColumn("rfp", sum($"n").over(bySource).cast(dec) * Fp)
      .withColumn("tot_fp", sum($"n").over(all).cast(dec) * Fp)
      .withColumn("nlang", size(collect_set($"lang").over(all)).cast("long"))
      .withColumn("cfp",
        (($"tot_fp" - $"tot_fp" % $"nlang") / $"nlang").cast(dec))
      .withColumn("w", $"n".cast(dec) * Fp)
    for (_ <- 1 to rounds) {
      cur = cur
        .withColumn("w", round($"w" *
          ($"rfp".cast("double") / sum($"w").over(bySource))).cast(dec))
        .withColumn("w", round($"w" *
          ($"cfp".cast("double") / sum($"w").over(byLang))).cast(dec))
    }
    cur.select($"source", $"lang", $"n".as("n_docs"),
      round($"w" / lit(Fp.toDouble) / $"n", 6).as("weight"))
      .orderBy($"source", $"lang")
  }

  /** q171: UniMax mixture allocation (Chung et al. 2023) — the
    * epoch-capped complement of q154's temperature sampler: split a token
    * budget (1.5× the corpus) across languages so no language exceeds the
    * epoch cap (2 epochs), and languages too big to cap share the
    * remaining budget equally. The greedy ascending-size water-filling has
    * a closed form: walking languages smallest-first, a language is CAPPED
    * while cap·nᵢ·(remaining languages) still fits the remaining budget,
    * and once one language is budget-limited all larger ones are too
    * (equal share, constant thereafter) — so the whole allocation is two
    * window passes over the |langs|-row aggregate.
    *
    * Cross-engine discipline: budget and cap are held in half-token
    * integer units (budget = 3·total halves, cap = 4·nᵢ halves), so every
    * comparison and prefix sum is exact integer math; the single equal-
    * share division (and the final /2 and epoch divisions) are the only
    * doubles, shape-mirrored in the oracle. Scale shape: one bounded-key
    * corpus aggregate, then |langs|-row window math — same as q154.
    */
  def q171UnimaxMixture(spark: SparkSession, dir: String,
                        capHalf: Int = 4, budgetHalfX: Int = 3): DataFrame = {
    import spark.implicits._
    val perLang = Tables.documents(spark, dir)
      .select($"lang",
        size(expr("filter(split(lower(text), '[^a-z]+'), x -> x <> '')"))
          .cast("long").as("n"))
      .groupBy($"lang").agg(sum($"n").as("n_tokens"))
    // All windows below run over the |langs|-row aggregate, never data.
    val asc = Window.orderBy($"n_tokens", $"lang")
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val prefix = asc.rowsBetween(Window.unboundedPreceding, -1)
    val upto = asc.rowsBetween(Window.unboundedPreceding, 0)
    val flagged = perLang
      .withColumn("idx", row_number().over(asc))
      .withColumn("k", count(lit(1)).over(all))
      .withColumn("th", lit(budgetHalfX) * sum($"n_tokens").over(all))
      .withColumn("p", coalesce(sum($"n_tokens").over(prefix), lit(0L)))
      .withColumn("flag",
        (lit(capHalf) * $"n_tokens" * ($"k" - $"idx" + 1) <=
          $"th" - lit(capHalf) * $"p").cast("int"))
      .withColumn("capped", min($"flag").over(upto) === 1)
    flagged
      .withColumn("s_capped",
        coalesce(sum(when($"capped", $"n_tokens")).over(all), lit(0L)))
      .withColumn("n_capped",
        coalesce(sum($"capped".cast("long")).over(all), lit(0L)))
      .withColumn("alloc_half",
        when($"capped", (lit(capHalf) * $"n_tokens").cast("double"))
          .otherwise(($"th" - lit(capHalf) * $"s_capped").cast("double")
            / ($"k" - $"n_capped")))
      .select($"lang", $"n_tokens", $"capped",
        round($"alloc_half" / 2.0, 2).as("alloc_tokens"),
        round($"alloc_half" / (lit(2.0) * $"n_tokens"), 6).as("epochs"))
      .orderBy($"n_tokens", $"lang")
  }
}
