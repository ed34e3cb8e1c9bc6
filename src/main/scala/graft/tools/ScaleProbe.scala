package graft.tools

import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.sources.Tables

/** Scaling-linearity probe: replicate the sf0.1 fact tables 8× (key-offset
  * so join cardinalities scale honestly), run headline queries on both, and
  * report the time ratio. A shuffle- or driver-bound operator shows a ratio
  * well above the data ratio; a scan-bound one tracks it.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build("scale-probe", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    // SPARK_GRAFT_SHUFFLE_PARTITIONS pins one shuffle partitioning on both
    // dirs, with the per-query derivation ([[graft.Tuning]]) off so the
    // probe measures the value it set.
    sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS").foreach { n =>
      spark.conf.set("spark.sql.shuffle.partitions", n)
      spark.conf.set(graft.Tuning.EnabledKey, "false")
    }
    import spark.implicits._
    val base = "/root/testdata/sf0.1"
    // ≥2 octaves of evidence: default 8×; SPARK_GRAFT_REPLICAS=32 (or any
    // N) re-runs the identical harness at the next octave so ratio
    // flattening vs compounding is measured, not argued.
    val replicas = sys.env.getOrElse("SPARK_GRAFT_REPLICAS", "8").toInt
    // SPARK_GRAFT_BIG_DIR: a STABLE replicated dir reused across probe /
    // Profile invocations — staging the 64x tables costs minutes, and a
    // focused attribution session (probe, then profile the outliers on the
    // SAME data) should pay it once. A marker records the replica count the
    // dir was staged at; a mismatched or absent marker re-stages in place.
    // Default (env unset) keeps the self-cleaning JVM-lifetime temp dir.
    val big = sys.env.get("SPARK_GRAFT_BIG_DIR") match {
      case Some(d) =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)); d
      case None => graft.sources.TempDirs.create(s"graft_sf${replicas}x_").toString
    }
    // Layout note (round-17 experiments, both REJECTED — the natural
    // one-file-per-upstream-partition layout below is the recorded one):
    // the direct write lands 64 replicas x 32 splits = 2048 ~400 KB files
    // at 64x, and per-query driver listing/split planning of those files
    // is visible in scan-heavy walls (q10's 64x job profile: 1.8 s of executor
    // jobs under a 6.6 s wall). Two "fixes" were tried and measured WORSE:
    // repartition(64) randomized row order corpus-wide and tripled+ every
    // sort/window/SMJ wall (q02 4.1x -> 42x, q05 8.9x -> 53x — real tables
    // are roughly key/time-ordered and sorters exploit runs); coalesce(64)
    // preserved order but produced single-10-MB-row-group files whose scan
    // parallelism is row-group-bound (64 decode units instead of 2048;
    // q02 steady-state 2.0 -> 3.5 s, probe-context 19 s). The listing
    // overhead is the smaller and better-understood distortion, and the
    // committed OCTAVE_BASELINE was recorded on this layout — keep it.
    // The marker name carries (replica count, base-corpus fingerprint): a
    // reused stable dir staged from a SINCE-REGENERATED base would otherwise
    // pass the replica-count check and silently time stale data under a
    // current-looking label — the same wrong-scale hazard the marker's
    // versioning exists to prevent. The fingerprint hashes the base path
    // plus the size/mtime of every file under base/lineitem.parquet (the
    // largest staged table; any regeneration rewrites it).
    val baseFingerprint: String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.update(base.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val li = java.nio.file.Paths.get(base, "lineitem.parquet")
      if (java.nio.file.Files.exists(li)) {
        val walk = java.nio.file.Files.walk(li)
        try walk.filter(java.nio.file.Files.isRegularFile(_))
          .sorted(java.util.Comparator.comparing[java.nio.file.Path, String](_.toString))
          .forEach { p =>
            val stamp = s"${p.getFileName}:${java.nio.file.Files.size(p)}:" +
              s"${java.nio.file.Files.getLastModifiedTime(p).toMillis}"
            md.update(stamp.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
        finally walk.close()
      }
      md.digest().take(6).map("%02x".format(_)).mkString
    }
    val stagedMarker = java.nio.file.Paths.get(big,
      s"_graft_replicas_ok_${replicas}_${baseFingerprint}_v4")
    val OffsetStep = 100000000L
    val docs = Tables.documents(spark, base)

    if (java.nio.file.Files.exists(stagedMarker))
      System.err.println(s"[probe] reusing staged ${replicas}x dir $big")
    else {
    // Re-staging in place: drop EVERY stale marker first. Only the table
    // subdirs are overwritten below, so a marker from a previous replica
    // count would survive — and a later run at THAT count would then skip
    // staging and silently time wrong-scale data under the right label.
    val dirStream = java.nio.file.Files.list(java.nio.file.Paths.get(big))
    try {
      dirStream.filter(p => p.getFileName.toString.startsWith("_graft_replicas_ok_"))
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
    } finally dirStream.close()
    // Replicate lineitem+orders with orderkey offsets; copy dims as-is.
    val li = Tables.lineitem(spark, base)
    val o = Tables.orders(spark, base)
    (0 until replicas).map(r => li.withColumn("l_orderkey", $"l_orderkey" + r * OffsetStep))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$big/lineitem.parquet")
    (0 until replicas).map(r => o.withColumn("o_orderkey", $"o_orderkey" + r * OffsetStep))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$big/orders.parquet")
    // Only the tables the headline queries touch (events carries ns
    // timestamps a raw copy can't round-trip).
    for (t <- Seq("region", "nation", "customer", "supplier", "part"))
      Tables.load(spark, base, t).write.mode("overwrite").parquet(s"$big/$t.parquet")
    // documents: replicate with doc_id offsets, salting every token in
    // replicas r>0 with the replica id — raw copies would make every doc an
    // 8-way exact dup (shingle sets identical), turning the near-dup probes
    // into a quadratically growing all-dups workload instead of 8× bulk.
    // Salted replicas share no shingles with each other or replica 0, so
    // true-pair structure (the planted dups in replica 0) stays constant.
    (0 until replicas).map { r =>
      val salted = if (r == 0) docs else docs.withColumn("text",
        regexp_replace($"text", "(\\S+)", "$1r" + r))
      salted.withColumn("doc_id", $"doc_id" + r * OffsetStep)
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$big/documents.parquet")
    // embeddings: replicate with vec_id offsets AND a per-replica cyclic
    // dimension shift — raw copies would make every vector an 8-way exact
    // dup, turning the near-dup probes into a different (all-dups) workload;
    // shifted replicas are mutually near-orthogonal, so true-pair structure
    // stays constant while corpus bulk grows. The 64-dim space only has 8
    // distinct 8-step shifts, so replica octaves beyond the first compose
    // the shift with a Walsh-pattern sign flip over the dim index's low 3
    // bits (flip where popcount(g AND i) is odd — any two distinct
    // patterns disagree on exactly half the dims, so same-shift
    // different-octave replicas are as near-orthogonal as the shifts
    // themselves; 8 shifts × 8 Walsh octaves = 64 mutually
    // near-orthogonal transforms).
    val emb = Tables.embeddings(spark, base)
    require(replicas <= 64, "embedding scheme defines 8 shifts x 8 Walsh octaves")
    (0 until replicas).map { r =>
      val k = (r % 8) * 8
      val g = r / 8
      val shifted = if (k == 0) emb else emb.withColumn("embedding",
        concat(slice($"embedding", k + 1, 64 - k), slice($"embedding", 1, k)))
      val signed = if (g == 0) shifted else shifted.withColumn("embedding",
        zip_with($"embedding",
          transform(sequence(lit(0), lit(63)), i =>
            pmod((i % 2) * (g % 2) + ((i / 2) % 2) * ((g / 2) % 2)
              + ((i / 4) % 2) * ((g / 4) % 2), lit(2))),
          (x, flip) => when(flip === 1, -x).otherwise(x)))
      signed.withColumn("vec_id", $"vec_id" + r * OffsetStep)
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$big/embeddings.parquet")
    // events: replicate with user_id + event_id offsets — "8× the users over
    // the same 30-day window", so per-user stream lengths stay constant
    // while the shuffles and distinct counts grow 8×. The adaptive raw read
    // normalizes ts to INT64 epoch-nanos whatever the fixture generation
    // shipped, so the replicated copy round-trips through the loader exactly.
    val ev = graft.sources.Tables.readEventsRaw(spark, s"$base/events.parquet")
    (0 until replicas).map { r =>
      ev.withColumn("user_id", $"user_id" + r * OffsetStep)
        .withColumn("event_id", $"event_id" + r * OffsetStep)
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$big/events.parquet")
    java.nio.file.Files.createFile(stagedMarker)
    }

    val allHeadline = Seq("q01_pricing_summary", "q10_revenue_by_nation",
      "q12_running_totals", "q07_upsert", "q11_top_customers_per_region",
      "q34_minhash_neardup", "q30_text_stats", "q52_bpe_token_estimate",
      "q39_embedding_neardup", "q38_ann_lsh", "q42_ann_ivf", "q62_neardup_corpus",
      "q86_decontamination", "q92_incremental_agg", "q94_doc_chunks",
      "q96_inverted_index", "q98_ann_pq", "q99_ann_ivfpq", "q100_cdc_apply",
      "q104_column_profile", "q107_zonemap_prune", "q108_mv_rewrite",
      "q112_incremental_dedup", "q139_incremental_dedup_bucketed",
      "q114_bm25", "q115_lm_quality",
      "q116_weighted_sample", "q121_setsim_join", "q122_market_basket",
      "q128_activity_islands", "q129_twap", "q131_bloom_lookup",
      "q132_canonical_docs", "q133_ab_experiment", "q135_rolling_wau",
      // sketch-audit companions: linear-scan shapes, probed to prove the
      // audits themselves stay cheap as data grows
      "q146_hll_error_bound", "q147_percentile_rank_bound",
      "q148_cms_guarantees",
      // ingest-shape near-dup: batch work constant, corpus side scan-bound
      "q150_incremental_neardup", "q151_incremental_embedding_neardup",
      // round-11 additions: SemDeDup (nCells scale rule holds per-cell pair
      // work constant), the streaming ingest twin of q150, and the two
      // corpus-export ops (bounded-key agg; shard-window shuffle)
      "q152_semdedup", "q153_streaming_neardup_ingest",
      // learning ingest: q153's shape plus per-batch delta reads — batch
      // work constant, corpus side scan-bound through the sig table
      "q201_learning_ingest",
      "q154_temperature_mixing", "q155_corpus_shuffle",
      // sequence packing: one window cumsum per shard; shard count scales
      // with the corpus so the per-shard sort stays bounded
      "q205_sequence_packing",
      // round-10 additions: header strip (scan + broadcast flag-back),
      // streaming dedup (state ∝ in-horizon ids, micro-batch overhead
      // fixed), filter funnel (pure scan + bounded-key agg)
      "q156_boilerplate_strip", "q157_streaming_dedup", "q158_filter_funnel",
      // schema-evolution merge read (footer merge + null-fill) and the
      // per-user-shard lateness window
      "q159_schema_evolution", "q160_lateness_audit",
      // type-widening read (explicit-schema scan, per-file int32 upcast)
      "q203_widened_read",
      // intra-doc repetition: scan-local array expressions, zero shuffle
      // before the output sort — must track the scan ratio
      "q204_doc_repetition",
      // streaming MV maintenance: 2 micro-batches of dedup+agg state plus
      // per-batch versioned merges — fixed overhead, batch-bounded work
      "q162_streaming_mv",
      // span dedup (one md5-keyed shuffle, dup-group-bounded windows) and
      // co-occurrence PMI (W× explode collapsed map-side into a
      // vocab²-bounded aggregate; note the salted 8× replicas grow the
      // vocab 8×, so the aggregate key space grows with the probe corpus
      // in a way the real corpus' fixed vocab would not)
      "q163_span_dedup", "q164_cooccurrence_pmi",
      // source overlap (distinct (hash, source) aggregate, pair explode
      // bounded by sources² per shared hash) and full-corpus k-means
      // (per-iteration map-side vector-sum aggregation; fixed k×d model
      // state — the probe's 8× corpus runs the same 4 aggregation rounds)
      "q165_source_overlap", "q166_kmeans",
      // BPE training: corpus-scale work is ONE word-count aggregate; the
      // merge loop is vocab-bounded (probe vocab grows 8× with the salted
      // replicas — real corpora hold the word vocabulary nearly fixed)
      "q167_bpe_train", "q168_bpe_encode",
      // vocab-growth (word-keyed min aggregate + bucket-bounded curve) and
      // hard negatives (bounded-heap top-k, query side broadcast)
      "q169_vocab_growth", "q170_hard_negatives",
      // UniMax: one bounded-key corpus aggregate + |langs|-row windows
      "q171_unimax_mixture",
      // DSIR: broadcast vocab-bounded LMs onto the token stream; the only
      // corpus-sized shuffle is the per-doc fixed-point aggregate
      "q172_dsir_selection",
      // JL projection: scan-local literal-matrix arithmetic; audit pairs
      // id-bounded (the probe's 8x corpus adds scan rows only)
      "q173_jl_projection",
      // sketch-then-refine ANN: projected scan + bounded heap; re-rank
      // bounded by shortlist×queries
      "q174_ann_jl",
      // Zipf fit: word-count aggregate + TakeOrdered(1000) + 1000-row math
      "q175_zipf_fit",
      // streaming k-means monitor: fixed micro-batch overhead, batch-
      // bounded scoring work per delivery
      "q176_streaming_kmeans",
      // feature hashing: scan-local md5 buckets + per-doc bounded window
      "q177_feature_hashing",
      // truncation loss: scan-local counts, 4x narrow-row explode,
      // bounded-key aggregate
      "q178_truncation_loss",
      // silhouette: train + one scan-local sorted-distance pass
      "q179_silhouette",
      // distinct-n: per-(source, gram) aggregates, bounded-key collapse
      "q180_lexical_diversity",
      // per-source KL: map-side term counts, broadcast corpus table,
      // source-bounded final aggregate
      "q181_source_kl",
      // edit verify: O(len²) DP bounded by RESULT pairs, broadcast joins
      "q182_edit_verify",
      // burstiness: (doc, term) map-side aggregate + term rollup
      "q183_burstiness",
      // span novelty: hash-keyed distinct + per-doc rollup, digests only
      "q184_span_novelty",
      // source sketch: 64-int per-source min-aggregate + sources²·k pairs
      "q185_source_sketch",
      // split leakage: q121's join + scan-local split fn + 3x3 rollup
      "q186_split_leakage",
      // raking: one corpus aggregate + IPF windows over ~100 rows
      "q187_raking_weights",
      // daily anomaly: (type, day) aggregate + bounded-grid windows
      "q188_daily_anomaly",
      // dataset card: three map-side per-source aggregates, digest-only
      "q189_dataset_card",
      // lexical cosine: bucket-keyed inverted join, broadcast queries
      "q190_lexical_cosine",
      // decayed activity: map-side (type, week) collapse, scalar max day
      "q191_decayed_activity",
      // attribution: user-keyed lookback join + per-purchase windows
      "q192_attribution",
      // Benford: scan-local digit ladder + 9-key aggregate
      "q193_benford_audit",
      // KS drift: (source, len) aggregate + bounded CDF grid windows
      "q194_ks_drift",
      // CUPED: per-user map-side collapse + scalar stats
      "q195_cuped_readout",
      // calibration: DistributedRank (range shuffle, no global sort task)
      "q196_score_calibration",
      // Good-Turing: trigram aggregate + count-keyed fof
      "q197_good_turing",
      // holdout LM eval: broadcast train tables onto held-out bigrams
      "q198_holdout_perplexity",
      // manifest: scan-local digests + source-keyed XOR aggregate
      "q199_release_manifest",
      // curation funnel: each stage's own shuffles, bounded summaries
      "q200_curation_pipeline")
    // SPARK_GRAFT_PROBE_ALL=1 widens the sweep from the annotated headline
    // set to EVERY registered query — the round-13 "entire suite clears
    // the third octave" measurement. The ~110 extra rows are mostly
    // relational/window shapes over the replicated lineitem/orders/events;
    // the graph queries (q109/q117) run against the shared dir whose dims
    // are deliberately held constant, so their all-sweep ratios read ~1×
    // by construction — their honest scaling is the dedicated graph probe
    // below.
    val universe =
      if (sys.env.get("SPARK_GRAFT_PROBE_ALL").contains("1"))
        graft.SparkEntry.queries.keys.toSeq.sorted
      else allHeadline
    // Focused re-probe: pass query names as args to probe only those.
    val headline = if (args.nonEmpty) universe.filter(args.contains) else universe

    // SPARK_GRAFT_PROBE_REPS > 1 (focused re-probes): median of N runs —
    // single-shot 64x walls on this box swing ±50% with host weather
    // (q75 measured 21.1 s and 32.6 s on identical code an hour apart),
    // which is larger than most effects a re-probe is trying to read.
    val probeReps = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "1").toInt.max(1)
    // ONE execution path shared by warm and timed runs: if these diverged
    // (different sink, different session routing), the warm pass would
    // settle a different code path than the one being measured.
    def runOnce(name: String, dir: String): Unit =
      graft.SparkEntry.queries(name)(spark, dir)
        .write.mode("overwrite").format("noop").save()
    def time(name: String, dir: String): Double = {
      val walls = (1 to probeReps).map { _ =>
        val t0 = System.nanoTime()
        runOnce(name, dir)
        (System.nanoTime() - t0) / 1e9
      }
      walls.sorted.apply((walls.size - 1) / 2)
    }
    // Untimed prepare for BOTH dirs, mirroring Bench: the memoized Staged
    // layouts (split-parallel table copies, bucketed/signature tables,
    // stream slices) are one-time ingest writes, and without this the first
    // few big-dir queries pay the 8x re-staging inside their timed window —
    // a full-probe run once read q01 at 35x from exactly that.
    for (d <- Seq(base, big))
      try graft.sources.Staged.prepare(spark, d)
      catch { case e: Throwable => System.err.println(s"[probe-prepare] $d: ${e.getMessage}") }
    val sweep = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double)]
    // Warm BOTH dirs, single-shot and untimed. The big dir's first
    // post-staging executions measure page-cache/writeback settling, not
    // scaling: two independent runs measured their first 1-2 timed rows at
    // 10-25x the settled walls (q01 19.1x vs a settled 1.7x, q100 46.7x vs
    // 13.8x; the round-17 full sweep's first ~15 alphabetical rows were all
    // inflated this way, q05 at 113x vs ~9x settled). Warming base-only —
    // the pre-round-17 shape — left every big-dir first touch inside the
    // timed window.
    def warmOnce(name: String, dir: String): Unit =
      try runOnce(name, dir)
      catch { case e: Throwable =>
        System.err.println(s"[probe-warm] $name on $dir: ${e.getMessage}") }
    headline.foreach(q => warmOnce(q, base))
    headline.foreach(q => warmOnce(q, big))
    println(f"${"query"}%-30s ${"sf0.1"}%8s ${s"${replicas}x"}%8s  ratio (data ${replicas}x)")
    headline.foreach { q =>
      val t1 = time(q, base)
      val t8 = time(q, big)
      sweep(q) = (t1, t8)
      println(f"$q%-30s $t1%8.2f $t8%8.2f  ${t8 / t1}%.1fx")
    }

    // q109 pagerank runs on the customer-key graph, and the shared 8× dir
    // deliberately holds dims constant (q10/q11 join-cardinality honesty) —
    // so the graph probe gets its OWN 8× dir where the customer id range
    // extends contiguously to 1..8N: the id→id/2, id→id/3 DAG over a longer
    // contiguous range is the same scale-free shape at 8× the nodes and
    // edges, the honest scaling for an iterative join+re-agg kernel.
    // (q117_triangles, the part graph, scales the same way — represented
    // by this probe.)
    if (args.isEmpty || args.contains("q109_pagerank")) {
      val bigGraph = graft.sources.TempDirs.create("graft_sf08_graph_").toString
      val cust = Tables.customer(spark, base)
      val n = cust.count()
      val idType = cust.schema("c_custkey").dataType
      (0 until replicas).map(r => cust.withColumn("c_custkey",
          ($"c_custkey".cast("long") + lit(r * n)).cast(idType)))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$bigGraph/customer.parquet")
      // Warm BOTH dirs (bigGraph is re-staged fresh every run, so its
      // first execution pays the same post-staging settling the main
      // sweep's warm pass exists to absorb).
      warmOnce("q109_pagerank", base)
      warmOnce("q109_pagerank", bigGraph)
      val t1 = time("q109_pagerank", base)
      val t8 = time("q109_pagerank", bigGraph)
      sweep("q109_pagerank_graph") = (t1, t8)
      println(f"${s"q109_pagerank (graph ${replicas}x)"}%-30s $t1%8.2f $t8%8.2f  ${t8 / t1}%.1fx")
    }

    // ---- Octave ledger (VERDICT r16 #4): the 64x sweep as an ARTIFACT ----
    // The r16 full-suite sweep caught three interpreted-HOF scale-killers
    // that were invisible at sf0.1; this automates that instrument. The
    // sweep's per-query scaling factors are written to octave_out.json, and
    // when a recorded ledger (OCTAVE_BASELINE.json, committed) exists AT
    // THE SAME REPLICA COUNT, any query whose measured ratio exceeds 1.5x
    // its recorded ratio — with an absolute big-dir delta floor, since
    // single-shot 64x walls swing with host weather — is flagged loudly.
    // Cross-octave compares are meaningless (a 2.2x-at-64x query is not
    // regressed when an 8x probe reads 1.3x), so replica counts must match.
    if (sweep.nonEmpty) {
      val OctaveFactor = 1.5
      val OctaveMinDeltaSec = 1.0
      val recPath = sys.env.getOrElse("SPARK_GRAFT_OCTAVE_BASELINE", "OCTAVE_BASELINE.json")
      // A missing replica count reads as 0: no comparable ledger.
      val recorded: (Int, Map[String, Double]) = try {
        Ledger.read(recPath).fold((0, Map.empty[String, Double])) { doc =>
          (Ledger.num(doc.path("_meta").path("replicas")).fold(0)(_.toInt),
            Ledger.nums(doc.path("queries"), _.path("ratio")))
        }
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[octave] ledger $recPath unreadable: ${e.getMessage}")
        (0, Map.empty)
      }
      val comparable = recorded._1 == replicas && recorded._2.nonEmpty
      val flags = if (!comparable) Seq.empty else sweep.toSeq.flatMap { case (q, (t1, t8)) =>
        recorded._2.get(q).collect {
          case r0 if t1 > 0 && {
            val r1 = t8 / math.max(t1, 0.05)
            r1 > r0 * OctaveFactor && (t8 - t1 * r0) > OctaveMinDeltaSec
          } => (q, t8 / math.max(t1, 0.05), r0)
        }
      }
      flags.foreach { case (q, r1, r0) => System.err.println(
        f"[octave-regression] $q scaling $r1%.1fx vs recorded $r0%.1fx at ${replicas}x data") }
      if (comparable) println(s"[octave] ${flags.size} scaling regressions vs $recPath " +
        s"(factor $OctaveFactor, floor ${OctaveMinDeltaSec}s, ${sweep.size} queries)")
      else println(s"[octave] no comparable ledger at $recPath for replicas=$replicas " +
        s"(recorded replicas=${recorded._1}) — ledger compare skipped")
      val outPath = sys.env.getOrElse("SPARK_GRAFT_OCTAVE_OUT", "octave_out.json")
      val doc = octaveReport(replicas, probeReps, base, sweep.toSeq, flags)
      try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (doc + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case e: Throwable => System.err.println(s"[octave] write $outPath: ${e.getMessage}") }
    }

    // q62's octave-growth question is BYTES PER ROUND, not just wall time:
    // the iterative CC holds two checkpoint generations live; if their
    // size compounded with rounds (or rounds grew with corpus bulk), the
    // loop would be the 100 TB bottleneck. Runs the q62 composition with
    // the roundProbe hook and prints each round's just-materialized label
    // generation's block footprint on both dirs.
    if (args.contains("q62_checkpoint_bytes")) {
      def ccBytes(tag: String, dir: String): Unit = {
        val corpus = graft.ext.Dedup.withPlantedNear(
          Tables.documents(spark, dir), 20)
        val pairs = graft.ext.Dedup.minhashNearDupPairs(corpus)
          .select($"left_id", $"right_id")
        val t0 = System.nanoTime()
        // A caller-supplied roundProbe makes connectedComponents take the
        // distributed loop (the fast path steps aside for observation).
        graft.ext.Dedup.connectedComponents(pairs, roundProbe = (i, next) => {
          val bytes = graft.ops.Materialize.leafRdd(next)
            .flatMap(r => spark.sparkContext.getRDDStorageInfo.find(_.id == r.id))
            .map(si => si.memSize + si.diskSize).getOrElse(-1L)
          val rows = next.count() // cached scan, probe-only
          println(f"[q62-cc] $tag round $i: $rows%7d labels, ${bytes / 1024.0}%9.1f KiB checkpoint")
        }).write.mode("overwrite").format("noop").save()
        println(f"[q62-cc] $tag total ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      ccBytes("base", base)
      ccBytes(s"${replicas}x", big)
    }

    // The partitioned merge target's scaling claim is about the MERGE, not
    // the one-time create (which is O(table) by definition) or the q202
    // read-back: with a CONSTANT update batch (keys <= 8 live only in
    // replica 0 — the replica offsets push all other keys far above; 9
    // dense keys touch <=9 of the 64 buckets), the per-merge cost must
    // track touched buckets, not table size. Times create and merge
    // separately on both dirs and prints both ratios.
    if (args.contains("q202_merge_cost")) {
      def mergeCost(tag: String, dir: String): (Double, Double) = {
        // The exact workload q202 registers (shared builder): a probe that
        // re-stated the predicate independently measured a DIFFERENT batch
        // once already.
        val (target, updates) = graft.queries.Parity.q202Parts(spark, dir)
        val walls = (1 to probeReps).map { rep =>
          val root = graft.sources.TempDirs.create("graft_ptab_probe_").toString + "/t"
          val t0 = System.nanoTime()
          graft.ops.PartitionedTable.create(spark, root, target, Seq("o_orderkey"), 64)
          val t1 = System.nanoTime()
          graft.ops.PartitionedTable.merge(spark, root, updates)
          val t2 = System.nanoTime()
          System.err.println(f"[q202-probe] $tag rep $rep: create ${(t1 - t0) / 1e9}%.2f s, " +
            f"merge ${(t2 - t1) / 1e9}%.2f s")
          ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
        }
        def med(xs: Seq[Double]) = xs.sorted.apply((xs.size - 1) / 2)
        (med(walls.map(_._1)), med(walls.map(_._2)))
      }
      val (c1, m1) = mergeCost("base", base)
      val (cN, mN) = mergeCost(s"${replicas}x", big)
      println(f"${"q202 partitioned create (O(table))"}%-38s $c1%8.2f $cN%8.2f  ${cN / c1}%.1fx")
      println(f"${"q202 partitioned merge (O(touched))"}%-38s $m1%8.2f $mN%8.2f  ${mN / m1}%.1fx")
    }

    // q164's salted-replica probe grows the vocab with the corpus (every
    // replica salts every token), so its aggregate key space scales in a
    // way a real corpus' nearly-fixed vocabulary would not. The separating
    // measurement: replicate documents RAW (vocab fixed, counts xN — the
    // real-corpus shape; exact text dups are irrelevant to a (word, word)
    // count aggregate) and re-probe.
    if (args.contains("q164_fixed_vocab")) {
      val fv = graft.sources.TempDirs.create(s"graft_fv${replicas}x_").toString
      val docs = Tables.documents(spark, base)
      (0 until replicas).map(r => docs.withColumn("doc_id", $"doc_id" + r * OffsetStep))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$fv/documents.parquet")
      def timeQ164(dir: String, mc: Long): Double = {
        val t0 = System.nanoTime()
        graft.ext.Corpus.q164CooccurrencePmi(spark, dir, minCount = mc)
          .write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      timeQ164(base, 5L) // warmup
      val t1 = timeQ164(base, 5L)
      // Raw replication multiplies EVERY pair count by exactly N, so the
      // absolute support filter (>= 5) passes the whole tail — a fixture
      // artifact, not engine scaling. Relative support (5N on an N-times
      // corpus, the standard formulation) keeps the filter's selectivity
      // fixed and isolates the aggregation path.
      val tAbs = timeQ164(fv, 5L)
      val tRel = timeQ164(fv, 5L * replicas)
      println(f"${s"q164 fixed-vocab ${replicas}x abs-support"}%-38s $t1%8.2f $tAbs%8.2f  ${tAbs / t1}%.1fx")
      println(f"${s"q164 fixed-vocab ${replicas}x rel-support"}%-38s $t1%8.2f $tRel%8.2f  ${tRel / t1}%.1fx")
    }
    spark.stop()
  }

  /** The octave ledger document (`octave_out.json`): per-query base/big
    * walls and ratio, and the flagged regressions beside their recorded
    * ratios. Values round half-up to 3 places. */
  private[graft] def octaveReport(replicas: Int, reps: Int, baseDir: String,
                                  sweep: Seq[(String, (Double, Double))],
                                  flags: Seq[(String, Double, Double)]): String = {
    import scala.collection.immutable.ListMap
    def j(d: Double) = java.math.BigDecimal.valueOf(d).setScale(3, java.math.RoundingMode.HALF_UP)
    Ledger.json(ListMap(
      "_meta" -> ListMap("replicas" -> replicas, "reps" -> reps, "base_dir" -> baseDir,
        "n_queries" -> sweep.size, "octave_regressions" -> flags.size),
      "flags" -> ListMap(flags.map { case (q, r1, r0) =>
        q -> ListMap("ratio" -> j(r1), "recorded_ratio" -> j(r0)) }: _*),
      "queries" -> ListMap(sweep.map { case (q, (t1, t8)) =>
        q -> ListMap("base" -> j(t1), "big" -> j(t8), "ratio" -> j(t8 / math.max(t1, 0.05)))
      }: _*)))
  }
}
