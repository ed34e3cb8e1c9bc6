package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Materialize
import graft.sources.Tables

/** q167: BPE merge training (Sennrich et al. 2016) — learn the first k
  * byte-pair merges from the corpus, the tokenizer-training step upstream
  * of every LLM data pipeline (q52 only ESTIMATES token counts with a
  * fixed heuristic; this learns the actual merge table). The reference has
  * no text path (`etl_process.py:71-102`).
  *
  * Algorithm (classic): words become space-joined symbol strings
  * (chars + a `</w>` end marker); each round counts adjacent symbol pairs
  * weighted by word frequency, picks the most frequent pair (ties: lowest
  * (lhs, rhs)), and merges every greedy left-to-right occurrence. The
  * merge is a pure string fold — `aggregate(symbols, '', merge-or-append)`
  * — which DuckDB replicates verbatim with `list_reduce`, so the whole
  * k-round loop is oracle-checkable.
  *
  * Scale shape: the ONLY corpus-scale work is the word-count aggregate
  * (one shuffle keyed by word, map-side combined). The entire merge loop
  * runs on the distinct-word table — vocabulary-bounded, cached once —
  * and each round ships exactly one (pair, count) row to the driver (model
  * state, as in q166). Re-deriving round r's symbols re-applies r narrow
  * scan-local folds to the cached vocab; with k ≤ ~32 the O(k²) fold work
  * on a bounded table is cheaper than materializing per-round state.
  */
object Bpe {

  /** One merge application: greedy left-to-right rewrite of the
    * space-joined symbol string, as a string-accumulator fold. Merging
    * extends the accumulator's last token in place (`acc || rhs`), because
    * the last token already IS lhs. */
  private def applyMerge(w: Column, lhs: String, rhs: String): Column =
    aggregate(split(w, " "), lit(""), (acc, x) =>
      when(acc === "", x)
        .when((acc === lhs || acc.endsWith(lit(" " + lhs))) && x === rhs,
          concat(acc, lit(rhs)))
        .otherwise(concat(acc, lit(" "), x)))

  def q167BpeTrain(spark: SparkSession, dir: String,
                   merges: Int = 6): DataFrame =
    train(spark, Tables.documents(spark, dir), merges)

  /** Training core over any frame with a `text` column (spec entry point:
    * the classic four-word corpus pins the learned merge table). */
  def train(spark: SparkSession, docs: DataFrame, merges: Int): DataFrame = {
    import spark.implicits._
    learnMerges(spark, docs, merges)._2
      .toDF("step", "lhs", "rhs", "merged", "pair_count")
      .orderBy($"step")
  }

  /** Exact local twin of [[applyMerge]]'s string fold (pinned in BpeSpec):
    * greedy left-to-right, merging extends the accumulator's last token. */
  private[ext] def applyMergeLocal(w: String, lhs: String, rhs: String): String = {
    var acc = ""
    for (x <- w.split(" ", -1)) {
      if (acc.isEmpty) acc = x
      else if ((acc == lhs || acc.endsWith(" " + lhs)) && x == rhs) acc += rhs
      else acc = acc + " " + x
    }
    acc
  }

  /** Binary UTF-8 comparison — the order Spark's string `orderBy` uses, so
    * the local tie-break picks the same pair the distributed `orderBy(a, b)`
    * would (equal to String.compareTo on the ASCII symbols BPE produces,
    * but pinned to the engine's order for any input). */
  private def utf8Lt(x: String, y: String): Boolean =
    org.apache.spark.unsafe.types.UTF8String.fromString(x)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y)) < 0

  /** Vocabulary-row cap for the in-driver merge loop (conf
    * `spark.graft.bpe.localVocabCap`); above it the distributed per-round
    * loop runs instead. */
  private val LocalVocabCapKey = "spark.graft.bpe.localVocabCap"

  /** Runs the merge loop; returns the FINAL segmented vocabulary
    * (`word`, space-joined symbols `w`, count `c`) and the learned merge
    * list. The final vocabulary IS the trained tokenizer applied to every
    * distinct word — q168 joins it back onto the corpus to encode. */
  def learnMerges(spark: SparkSession, docs: DataFrame, merges: Int)
      : (DataFrame, Seq[(Int, String, String, String, Long)]) = {
    import spark.implicits._
    // Corpus-scale pass: word frequencies (the q115 tokenization, so the
    // symbol alphabet is a–z + </w> and both engines split identically).
    val vocab0 = docs
      .select(explode(
        expr("filter(split(lower(text), '[^a-z]+'), x -> x <> '')")).as("word"))
      .groupBy($"word").agg(count(lit(1)).as("c"))
      .select($"word",
        concat(array_join(split($"word", ""), " "), lit(" </w>")).as("w"),
        $"c")
      .cache()
    // Bounded-model fast path (r18): BPE training state is the distinct-
    // word frequency table, and every production BPE trainer runs the
    // merge loop in memory over exactly that table. Under the cap, collect
    // it ONCE and loop on the driver — 2 jobs total instead of 1-2 per
    // merge round (each round's pair-count job cost ~100 ms of pure
    // scheduling latency on a vocabulary of a few thousand rows). The
    // distributed loop below remains the >cap path (same math, same
    // tie-break, pinned by BpeSpec equality on the classic corpus and by
    // the q167/q168 oracles at both gate SFs).
    val cap = spark.conf.getOption(LocalVocabCapKey).flatMap(_.toIntOption)
      .getOrElse(1 << 20)
    // ONE bounded action decides AND fetches: the limit(cap+1) collect is
    // ROW-bounded (the cap is a sizing assumption — ~100 B/row at the 1M
    // default ≈ 100 MB of driver heap; size it to the driver, the loop
    // itself is vocabulary-bounded either way), and when it returns
    // ≤ cap rows those ARE the whole vocabulary — no separate count job.
    // A count-probe variant (decide first, fetch only under cap — the r18
    // ADVICE suggestion) was MEASURED at +0.2 s per call at bench scale
    // (the decision pays a second job against the still-cold cache), so
    // the one-action fetch stands: the over-cap discarded fetch it was
    // meant to avoid is bounded by the cap's own driver-heap sizing and
    // only occurs on the distributed path, whose cost dwarfs it.
    // cap <= 0 forces the distributed path unconditionally (the spec
    // seam), matching the CC fast path's contract.
    try {
      val fetched =
        if (cap > 0) vocab0.limit(cap + 1).collect() else Array.empty[org.apache.spark.sql.Row]
      if (cap > 0 && fetched.length <= cap) {
        var rows = fetched.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        val learned = Seq.newBuilder[(Int, String, String, String, Long)]
        var exhausted = false
        for (step <- 1 to merges if !exhausted) {
          val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
          for ((_, w, c) <- rows) {
            val syms = w.split(" ", -1)
            var i = 0
            while (i < syms.length - 1) {
              val k = (syms(i), syms(i + 1))
              counts.update(k, counts.getOrElse(k, 0L) + c)
              i += 1
            }
          }
          if (counts.isEmpty) exhausted = true
          else {
            var best: ((String, String), Long) = null
            for ((k, v) <- counts) {
              if (best == null || v > best._2 ||
                (v == best._2 && (utf8Lt(k._1, best._1._1) ||
                  (k._1 == best._1._1 && utf8Lt(k._2, best._1._2)))))
                best = (k, v)
            }
            val ((a, b), n) = best
            learned += ((step, a, b, a + b, n))
            rows = rows.map { case (word, w, c) => (word, applyMergeLocal(w, a, b), c) }
          }
        }
        return (rows.toSeq.toDF("word", "w", "c"), learned.result())
      }
      var vocab = vocab0
      val learned = Seq.newBuilder[(Int, String, String, String, Long)]
      var exhausted = false
      for (step <- 1 to merges if !exhausted) {
        // One (pair, count) row to the driver per round — model state.
        // Adjacent pairs as zip(symbols, symbols.tail) — slice handles the
        // fully-merged single-symbol case with an empty array, where
        // sequence(1, size-1) would DESCEND through [1, 0] and fabricate
        // null pairs.
        val tk = split($"w", " ")
        val bestRows = vocab
          .select(explode(zip_with(
            slice(tk, lit(1), size(tk) - 1),
            slice(tk, lit(2), size(tk) - 1),
            (a, b) => struct(a.as("a"), b.as("b")))).as("p"), $"c")
          .groupBy($"p.a", $"p.b").agg(sum($"c").as("cnt"))
          .orderBy($"cnt".desc, $"a", $"b").limit(1)
          .collect()
        // Pair stream exhausted — every vocab word is already one symbol
        // (tiny corpus, or merges > what the alphabet supports). BPE
        // training is DONE at this point; stop cleanly with the merges
        // learned so far rather than indexing into an empty result.
        if (bestRows.isEmpty) exhausted = true
        else {
          val best = bestRows(0)
          val (a, b, n) = (best.getString(0), best.getString(1), best.getLong(2))
          learned += ((step, a, b, a + b, n))
          vocab = vocab.select($"word", applyMerge($"w", a, b).as("w"), $"c")
        }
      }
      // Checkpoint-and-free (the iterative-kernel discipline): the returned
      // vocabulary is materialized (vocab-sized — distinct words) so the
      // cached word-frequency table can be released NOW, on either path and
      // on failure; without this every learnMerges call (q167, and q168's
      // retrain) left one cached copy pinned for the session's lifetime.
      (Materialize(vocab), learned.result())
    } finally Materialize.release(vocab0)
  }

  /** q168: encode the corpus with the tokenizer q167 just learned —
    * per-language word mass, BPE token mass, and the chars-per-token
    * compression ratio (the statistic tokenizer and data teams actually
    * budget with; q52's heuristic estimate carries no learned vocab).
    *
    * Scale shape: the final segmented vocabulary from `learnMerges` maps
    * every distinct word to its token count, so encoding is a join keyed
    * by word — the same key as the training aggregate, vocabulary-bounded
    * build side (broadcast here; at a 100M-word vocabulary flip to a
    * shuffle join, the probe stays corpus-sized either way) — followed by
    * one bounded-key (lang) aggregate. The one double division
    * (exact char sum / exact token sum) is correctly rounded, so both
    * engines emit identical ratios.
    */
  def q168BpeEncode(spark: SparkSession, dir: String,
                    merges: Int = 6): DataFrame =
    encode(spark, Tables.documents(spark, dir), merges)

  /** Encoding core over any frame with (`lang`, `text`) columns (spec
    * entry point: the classic corpus's segmentation is hand-checkable). */
  def encode(spark: SparkSession, docs: DataFrame, merges: Int): DataFrame = {
    import spark.implicits._
    val (vocab, _) = learnMerges(spark, docs, merges)
    val wordTok = vocab.select($"word",
      size(split($"w", " ")).cast("long").as("n_tok"))
    docs
      .select($"lang", explode(
        expr("filter(split(lower(text), '[^a-z]+'), x -> x <> '')")).as("word"))
      .join(broadcast(wordTok), Seq("word"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_words"),
        sum($"n_tok").as("n_tokens"),
        round(sum(length($"word")).cast("double") / sum($"n_tok"), 6)
          .as("chars_per_token"))
      .orderBy($"lang")
  }
}
