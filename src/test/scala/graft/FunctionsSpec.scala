package graft

import graft.functions.GraftFunctions

/** SQL registration of the native expressions (K7 surface). */
class FunctionsSpec extends SparkSpec {

  test("native kernels are callable from SQL after registration") {
    graft.sources.Tables.registerAll(spark, sf0001)
    val row = spark.sql(
      """SELECT cosine_sim(embedding, embedding) AS self_cos,
        |       size(lsh_sigs(embedding)) AS n_sigs,
        |       aggregate(normalize_l2(embedding), 0.0D, (a, x) -> a + x * x)
        |         AS unit_norm_sq
        |FROM embeddings WHERE vec_id = 0""".stripMargin).collect().head
    assert(math.abs(row.getDouble(0) - 1.0) < 1e-12)
    assert(row.getInt(1) == 6)
    assert(math.abs(row.getDouble(2) - 1.0) < 1e-9, "normalize_l2 must yield a unit vector")

    val doc = spark.sql(
      """SELECT simhash64(transform(split(text, '\\s+'), t -> xxhash64(t))) AS sh,
        |       size(minhash_sig(shingle_hashes(text, 3))) AS n_mh,
        |       rolling_hash_min(text, 16) AS fp
        |FROM documents WHERE doc_id = 0""".stripMargin).collect().head
    assert(doc.getInt(1) == graft.functions.Kernels.MinHashCount)
    assert(doc.getLong(0) != 0L)
  }

  test("kernel input typing: mixed-width cosine rejected, int arrays auto-widen, bad width rejected") {
    // cosine_sim dispatches its raw-memory kernel on the LEFT type; a
    // mixed float/double pair would read the right side at the wrong
    // stride — must fail ANALYSIS, not return garbage.
    val mixed = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(
        """SELECT cosine_sim(array(1.0D, 2.0D), cast(array(1.0, 2.0) AS ARRAY<FLOAT>))"""
      ).collect()
    }
    assert(mixed.getMessage.toLowerCase.contains("cosine_sim"))
    // minhash_sig/simhash64 walk raw LONG slots; ARRAY<INT> literals must
    // auto-cast at analysis (ImplicitCastInputTypes), giving the same
    // signature as the explicit BIGINT form — not a misread.
    val r = spark.sql(
      """SELECT minhash_sig(array(1, 2, 3)) = minhash_sig(array(1L, 2L, 3L)) AS mh_eq,
        |       simhash64(array(7, 8)) = simhash64(array(7L, 8L)) AS sh_eq""".stripMargin)
      .collect().head
    assert(r.getBoolean(0) && r.getBoolean(1))
    // rolling_hash_min width is user-supplied: non-positive must reject
    // loudly (width 0 used to fingerprint EVERY document to the seed).
    val badWidth = intercept[Exception] {
      spark.sql("SELECT rolling_hash_min('abc', 0)").collect()
    }
    assert(badWidth.getMessage.contains("width"))
  }

  test("md5U32Components is bit-identical to the SQL conv/substring/md5 form") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val digests = graft.ext.Dedup.sourceSpans(spark, sf0001, 8).limit(50)
    val k = 64
    val viaSql = digests
      .select($"h", explode(sequence(lit(0), lit(k - 1))).as("j"))
      .select($"h", $"j",
        conv(substring(md5(concat($"j", lit("_"), $"h")), 1, 8), 16, 10)
          .cast("long").as("v"))
    val viaKernel = digests
      .select($"h", posexplode(
        graft.functions.NativeKernels.md5U32Components($"h", k))
        .as(Seq("j", "v")))
    assert(viaSql.exceptAll(viaKernel).isEmpty &&
      viaKernel.exceptAll(viaSql).isEmpty,
      "kernel components must equal the engine-neutral SQL hash family")
  }

  test("custom expressions constant-fold: literal inputs collapse in the optimized plan") {
    val df = spark.sql("SELECT rolling_hash_min('hello world hello', 8) AS fp")
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("rolling_hash_min"),
      s"expected ConstantFolding to collapse the call:\n$optimized")
    assert(df.collect().head.getLong(0) ==
      graft.functions.RollingHashKernel.minRollingHash(
        org.apache.spark.unsafe.types.UTF8String.fromString("hello world hello"), 8))
  }

  test("GraftExtensions injects functions at session build time") {
    // The shared session already exists; what we can check cheaply is that
    // the extension class instantiates and exposes the same builder set.
    val ext = new graft.functions.GraftExtensions
    assert(GraftFunctions.builders.map(_._1).toSet ==
      Set("cosine_sim", "minhash_sig", "simhash64", "normalize_l2", "lsh_sigs",
        "shingle_hashes", "rolling_hash_min", "trigram_stats"))
    assert(ext != null)
  }

  test("trigram_stats SQL surface: one-pass kernel matches a composable recount") {
    // K7 coverage for the q204 kernel, plus a semantics pin independent of
    // the q204 oracle: grams and distinct grams over a hand-built text.
    val r = spark.sql(
      """SELECT trigram_stats(split('a b a b a b c', '\\s+')) AS ts""").head()
    val ts = r.getStruct(0)
    // grams: "a b a","b a b","a b a","b a b","a b c" -> 5 total, 3 distinct
    assert(ts.getInt(0) == 5 && ts.getInt(1) == 3, ts.toString)
    // under-length input: zero grams, not a crash
    val short = spark.sql(
      "SELECT trigram_stats(split('one two', ' ')) AS ts").head().getStruct(0)
    assert(short.getInt(0) == 0 && short.getInt(1) == 0)
    // SQL-surface arrays may carry NULL elements: skipped like concat_ws,
    // never an undefined UnsafeArrayData read. words a,NULL,b,a,NULL,b ->
    // grams "a b","b a"(NULL skipped),"b a","a b" -> 4 total, 2 distinct
    val withNulls = spark.sql(
      "SELECT trigram_stats(array('a', CAST(NULL AS STRING), 'b', 'a', " +
        "CAST(NULL AS STRING), 'b')) AS ts").head().getStruct(0)
    assert(withNulls.getInt(0) == 4 && withNulls.getInt(1) == 2,
      withNulls.toString)
  }

  test("bloom_might_contain: codegen'd probe agrees with the sketch API, null reads false") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val bloom = Seq("a", "b", "c").toDF("content_hash")
      .stat.bloomFilter("content_hash", 100L, 0.01)
    val bc = spark.sparkContext.broadcast(bloom)
    def probe = graft.functions.NativeKernels.bloomMightContainUtf8(bc, col("h"))
    val inputs = Seq(Some("a"), Some("b"), Some("definitely-not-in-history"), None)
    val out = inputs.toDF("h").select(col("h"), probe.as("hit"))
    // non-nullable output: null hash reads FALSE, never null — downstream
    // NOT-filters must not need three-valued-logic care
    assert(!out.schema("hit").nullable)
    val got = out.collect().map(r => Option(r.getString(0)) -> r.getBoolean(1)).toMap
    assert(got(Some("a")) && got(Some("b")))
    assert(got(None) == false)
    // byte-path agreement with the sketch's own String probe (the build
    // inserted via the String path; a divergence here is the silent
    // false-negative failure mode)
    inputs.flatten.foreach(s => assert(got(Some(s)) == bloom.mightContain(s)))
    // and the filter stays inside whole-stage codegen — the entire point.
    // (A local Seq frame constant-folds through ConvertToLocalRelation —
    // which exercises the interpreted eval path — so assert on a range
    // scan, the shape the real batch prefilter has.)
    val exec = spark.range(10)
      .select(org.apache.spark.sql.functions.format_string("h%d", col("id")).as("h"))
      .filter(probe).queryExecution.executedPlan
    val inCodegen = exec.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }.exists(_.exists {
      case f: org.apache.spark.sql.execution.FilterExec =>
        f.condition.exists(_.isInstanceOf[graft.functions.BloomMightContainUtf8])
      case _ => false
    })
    assert(inCodegen, s"probe filter not in a codegen span:\n$exec")
  }

  test("bpe_estimate kernel equals the regex+aggregate formulation it replaced") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // tricky shapes: mixed runs, multi-byte chars (é, ü consume their
    // continuation bytes as ONE piece), caps (lowered upstream), empties
    val texts = Seq("hello world42 a.b.c café", "", "   ", "ALL CAPS 99",
      "aaaaaaaaa 12345", "münchen straße!?", "x", "42", "...", "a é b")
    val df = texts.toDF("text")
    val kernel = df.select(
        graft.functions.NativeKernels.bpeEstimate(lower($"text")).as("bs"))
      .select($"bs.n_pieces", $"bs.bpe_estimate").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    val pieces = regexp_extract_all(lower($"text"),
      lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))
    val ref = df.select(size(pieces).as("n"),
        aggregate(pieces, lit(0L),
          (acc, w) => acc + ceil(length(w) / 4.0).cast("long")).as("est"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(kernel == ref, s"kernel=$kernel ref=$ref")
  }

  test("word_shingles kernel equals the array_distinct+transform formulation it replaced") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = Seq(
      Seq("a", "b", "a", "b", "c"),       // duplicate shingles collapse
      Seq("one", "two"),                   // short doc: one truncated shingle
      Seq("x"), Seq[String](),             // degenerate
      Seq("a", null, "b", "a", null, "b")) // null tokens skipped in-place
    val df = rows.toDF("toks")
    def composable = array_distinct(
      transform(sequence(lit(0), greatest(size($"toks") - 3, lit(0))),
        i => concat_ws(" ", (0 until 3).map(j => get($"toks", i + j)): _*)))
    val kernel = df.select(
        graft.functions.NativeKernels.wordShingles($"toks", 3).as("s"))
      .collect().map(_.getSeq[String](0)).toSeq
    val ref = df.select(composable.as("s"))
      .collect().map(_.getSeq[String](0)).toSeq
    assert(kernel == ref, s"kernel=$kernel ref=$ref")
  }

  test("sorted_long_pairs kernel equals the self-join formulation it replaced") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = Seq(
      (1L, Seq(5L, 2L, 9L)),   // unsorted input: pairs must be value-ordered
      (2L, Seq(7L, 7L, 1L)),   // duplicates (collect_set never yields them,
                               //  but the kernel is on the Column surface)
      (3L, Seq(4L)),           // singleton: no pairs
      (4L, Seq[Long]()),       // empty: no pairs
      (5L, Seq(3L, 1L, 4L, 1L, 5L))) // 5 items -> C(5,2)=10 incl. dup pair
    val df = rows.toDF("id", "items")
    val kernel = df.select($"id",
        explode(graft.functions.NativeKernels.sortedLongPairs($"items")).as("p"))
      .select($"id", $"p.part_a", $"p.part_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    val flat = df.select($"id", explode($"items").as("v"))
    // the strict-< self-join drops equal-VALUE pairs, which distinct
    // basket items never produce; the dup rows are asserted separately
    val ref = flat.as("a").join(flat.as("b"), Seq("id"))
      .where($"a.v" < $"b.v")
      .select($"id", $"a.v".as("pa"), $"b.v".as("pb"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    // compare on the dup-free rows (ids 1, 3, 4, 5 minus the dup pair);
    // dup-pair semantics asserted directly below
    val kernelNoDups = kernel.filter { case (_, a, b) => a != b }
    assert(kernelNoDups == ref, s"kernel=$kernelNoDups ref=$ref")
    // duplicates: i < j over the sorted array emits (v, v) once per
    // duplicated value pair — id 2's [7,7,1] gives (1,7),(1,7)? no:
    // sorted [1,7,7] -> (1,7),(1,7),(7,7)
    assert(kernel.filter(_._1 == 2L) ==
      Seq((2L, 1L, 7L), (2L, 1L, 7L), (2L, 7L, 7L)))
    assert(kernel.count(_._1 == 5L) == 10)
    assert(!kernel.exists(t => t._1 == 3L || t._1 == 4L))
  }

  test("packed_long_pairs equals sorted_long_pairs under the 32-bit guard, rejects out-of-range") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = Seq(
      (1L, Seq(5L, 2L, 9L)),
      (2L, Seq(7L, 7L, 1L)),
      (3L, Seq(4L)),
      (4L, Seq[Long]()),
      (5L, Seq(0L, 0xFFFFFFFFL, 3L))) // full guarded range incl. bounds
    val df = rows.toDF("id", "items")
    val packed = df.select($"id",
        explode(graft.functions.NativeKernels.packedLongPairs($"items")).as("p"))
      .select($"id", shiftrightunsigned($"p", 32).as("a"),
        $"p".bitwiseAND(lit(0xFFFFFFFFL)).as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val struct = df.select($"id",
        explode(graft.functions.NativeKernels.sortedLongPairs($"items")).as("p"))
      .select($"id", $"p.part_a", $"p.part_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(packed == struct)
    val neg = intercept[Exception] {
      Seq((1L, Seq(-1L, 2L))).toDF("id", "items")
        .select(graft.functions.NativeKernels.packedLongPairs($"items")).collect()
    }
    assert(neg.getMessage.contains("packed_long_pairs") ||
      Option(neg.getCause).exists(_.getMessage.contains("packed_long_pairs")))
    val big = intercept[Exception] {
      Seq((1L, Seq(1L, 0x100000000L))).toDF("id", "items")
        .select(graft.functions.NativeKernels.packedLongPairs($"items")).collect()
    }
    assert(big.getMessage.contains("packed_long_pairs") ||
      Option(big.getCause).exists(_.getMessage.contains("packed_long_pairs")))
  }

  test("term_counts kernel equals the split/filter/explode formulation it replaced") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val terms = Seq("merge", "stream", "window")
    val rows = Seq(
      (1L, "Merge the stream; merge the WINDOW, stream-merge!"),
      (2L, "no query terms at all here"),
      (3L, ""),                      // empty text: dl = 0
      (4L, "123 456 --- ..."),       // no [a-z] runs at all
      (5L, "stream"),                // exact single token
      (6L, "xstreamx streams窗口stream"), // embedded runs are NOT the term
      (7L, "mergé merge"),           // unicode neighbor splits the run
      (8L, "MERGESTREAMWINDOW merge1stream2window"))
    val df = rows.toDF("doc_id", "text")
    val kernel = df.select($"doc_id",
        graft.functions.NativeKernels.termCounts(lower($"text"), terms).as("tc"))
      .select($"doc_id", $"tc.dl", $"tc.cnt")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
      .sortBy(_._1).toSeq
    val tok = df.select($"doc_id",
        explode(split(lower($"text"), "[^a-z]+")).as("term"))
      .filter($"term" =!= "")
    val dlRef = tok.groupBy($"doc_id").agg(count(lit(1)).as("dl"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tfRef = tok.filter($"term".isin(terms: _*))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    for ((id, dl, cnt) <- kernel) {
      assert(dl == dlRef.getOrElse(id, 0L), s"dl mismatch for doc $id")
      for ((t, i) <- terms.zipWithIndex)
        assert(cnt(i) == tfRef.getOrElse((id, t), 0L),
          s"tf mismatch for doc $id term $t")
    }
  }

  test("WordShingles rejects k <= 0 at construction, not per-row in the kernel") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    intercept[IllegalArgumentException] { graft.functions.WordShingles(Literal(null), 0) }
    intercept[IllegalArgumentException] { graft.functions.WordShingles(Literal(null), -2) }
  }

  test("TopK rejects k <= 0 at construction, not with an executor-side .last crash") {
    intercept[IllegalArgumentException] { new graft.functions.TopKAggregator.TopK(0) }
    intercept[IllegalArgumentException] { new graft.functions.TopKAggregator.TopK(-3) }
  }
}
