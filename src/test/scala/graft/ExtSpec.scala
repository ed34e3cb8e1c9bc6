package graft

import graft.ext.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Dedup / similarity pipelines: the planted duplicates must be found, and
  * the ANN path must agree with the exact baseline on most neighbors. */
class ExtSpec extends SparkSpec {

  test("exact dedup: 30 planted copies collapse, n_copies = 2") {
    val out = Dedup.q32ExactDedup(spark, sf0001).collect()
    val dups = out.filter(_.getLong(1) == 2L)
    assert(dups.length == 30)
    assert(out.length == 500) // 500 distinct texts remain canonical
  }

  test("MinHash band geometry: bands×rows == signature length and the " +
    "J≥0.8 miss bound stays ≤ 1e-6") {
    // Round 12's review caught a silent 128/32 → 64/16 drift that degraded
    // the J=0.8 all-bands-miss probability to ~2.2e-4 (one flaky oracle
    // row per ~150 runs). This pins the two invariants every completeness
    // premise in Dedup.scala states, COMPUTED from the constants so any
    // future band/signature refactor must re-satisfy them or fail here:
    //  - the band layout tiles the signature exactly (integer division in
    //    RowsPerBand would silently drop tail hashes otherwise);
    //  - the implied miss probability (1 − J^r)^b at J = 0.8 is ≤ 1e-6
    //    (the old 64/16 geometry fails this at 2.2e-4).
    assert(Dedup.NumBands * Dedup.RowsPerBand == Dedup.NumHashes,
      s"band layout ${Dedup.NumBands}×${Dedup.RowsPerBand} does not tile " +
        s"the ${Dedup.NumHashes}-hash signature")
    assert(Dedup.NumHashes == graft.functions.Kernels.MinHashCount,
      "Dedup band constants and the codegen'd MinHash kernel width drifted apart")
    val missAtJ08 =
      math.pow(1.0 - math.pow(0.8, Dedup.RowsPerBand), Dedup.NumBands)
    assert(missAtJ08 <= 1e-6,
      f"geometry ${Dedup.NumBands}x${Dedup.RowsPerBand} misses a J=0.8 " +
        f"pair with p=$missAtJ08%.2e > 1e-6")
  }

  test("bloom prefilter survives a stats-less history plan (defaultSizeInBytes sentinel)") {
    // An RDD-backed plan has no real size stats: LogicalRDD reports the
    // spark.sql.defaultSizeInBytes sentinel (Long.MaxValue), so the
    // unclamped sizeInBytes/64 estimate asked bloomFilter for ~1.4e17
    // items. Spark 4.1.2's BloomFilterAggregate silently Math.min-caps
    // that against the runtime bloom-filter confs (4e6 items / 2^26 bits
    // by default), yielding a saturated filter whose realized fpp -> 1 —
    // a prefilter that silently rules nothing out (and an allocation
    // crash on any build where those caps are raised). The clamp keeps
    // the request at a genuinely-broadcastable 2^26 items;
    // expectedHistory stays the floor. Results must equal the
    // stats-backed path's (the exact anti-join guarantees that either
    // way; this pins the sizing path end-to-end).
    import spark.implicits._
    val historyLocal = Seq("alpha", "beta", "gamma").toDF("text")
    val historyNoStats = spark.createDataFrame(
      historyLocal.rdd, historyLocal.schema)
    val batch = Seq((1L, "alpha"), (2L, "delta"), (3L, "delta"))
      .toDF("doc_id", "text")
    def ids(h: org.apache.spark.sql.DataFrame) =
      Dedup.newAgainstHistory(h, batch, expectedHistory = 100L)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(historyNoStats) == Seq(2L), "new-vs-history must dedup exactly")
    assert(ids(historyNoStats) == ids(historyLocal))
  }

  test("q144 companion oracle: planted exact copies fingerprint equal") {
    val out = TextAnalysis.q144FingerprintPlanted(spark, sf0001).collect()
    assert(out.length == 25)
    assert(out.forall(_.getBoolean(2)), "every planted pair must fp-match")
  }

  test("q145 companion oracle: simhash banding recalls planted copies at hamming 0") {
    val out = Dedup.q145SimhashPlantedRecall(spark, sf0001).collect()
    assert(out.length == 25)
    assert(out.forall(_.getInt(2) == 0),
      "every planted exact copy must surface from banding with hamming 0")
  }

  test("q150: ingest batch near-dups flag every near-copy (original + planted twin), reversed docs flag nothing") {
    val out = Dedup.q150IncrementalNearDup(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val off = Dedup.BatchIdOffset
    // Each of the 15 near batch docs must match its original AND the
    // planted ' xtra' copy of that original (ids < 15 < 20 planted).
    for (i <- 0L until 15L) {
      assert(out.exists(p => p._1 == off + i && p._2 == i),
        s"batch near-doc $i must match its original")
      assert(out.exists(p => p._1 == off + i && p._2 == Dedup.NearDupIdOffset + i),
        s"batch near-doc $i must match the planted near-copy of $i")
    }
    // Token-reversed docs are genuinely new: no pair may involve them.
    assert(!out.exists(_._1 >= off + 15), "reversed batch docs must flag nothing")
    assert(out.forall(_._3 >= 0.5))
  }

  test("q151: embedding ingest batch — every exact copy found at cos 1.0, negated vectors flag nothing") {
    val out = Similarity.q151IncrementalEmbeddingNearDup(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val off = Similarity.BatchVecIdOffset
    assert(out.length == 10, s"exactly the 10 planted copies, got ${out.length}")
    for (i <- 0L until 10L)
      assert(out.contains((off + i, i, 1.0)),
        s"batch copy $i must match its original at cos 1.0")
    assert(!out.exists(_._1 >= off + 10), "negated batch vectors must flag nothing")
  }

  test("bloom-prefiltered batch-vs-history dedup equals the exact anti-join at any fpp") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val history = graft.sources.Tables.documents(spark, sf0001)
      .select($"doc_id", $"text")
    // batch: 20 re-delivered history docs (old), 10 genuinely new docs, and
    // a within-batch duplicate pair of one new doc
    val oldDocs = history.orderBy($"doc_id").limit(20)
      .select(($"doc_id" + 1000000L).as("doc_id"), $"text")
    val newDocs = history.orderBy($"doc_id").limit(10)
      .select(($"doc_id" + 2000000L).as("doc_id"),
        concat($"text", lit(" entirely-new-suffix")).as("text"))
    val batchDup = newDocs.orderBy($"doc_id").limit(1)
      .select(($"doc_id" + 1L).as("doc_id"), $"text")
    val batch = oldDocs.unionByName(newDocs).unionByName(batchDup)

    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", $"text").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val expected = {
      val w = batch.join(history.select($"text"), Seq("text"), "left_anti")
      asSet(w.groupBy($"text").agg(min($"doc_id").as("doc_id")))
    }
    // result is fpp-independent (fpp trades exact-confirm cost, not output)
    for (fpp <- Seq(0.5, 0.01)) {
      val got = graft.ext.Dedup.newAgainstHistory(history, batch,
        expectedHistory = 1000L, fpp = fpp)
      assert(asSet(got) == expected, s"fpp=$fpp diverged from exact dedup")
    }
    assert(expected.size == 10, "10 canonical new docs expected")
  }

  test("minhash LSH finds every planted near-dup pair") {
    val pairs = Dedup.q34MinhashNearDup(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 20).foreach { id =>
      assert(pairs.contains((id.toLong, id + Dedup.NearDupIdOffset)),
        s"planted pair $id missing")
    }
  }

  test("minhashNearDupPairs stays corpus-wide (finds pairs beyond q34's oracle window)") {
    import org.apache.spark.sql.functions._
    // (474, 498) is a natural near-dup at sf0.001 with both ids outside the
    // q34 oracle window (base id >= 400): q62's dedup consumes THIS pipeline
    // precisely so windowing q34 for its oracle cannot narrow corpus dedup.
    val corpus = Dedup.withPlantedNear(
      graft.sources.Tables.documents(spark, sf0001), 20)
    val pairs = Dedup.minhashNearDupPairs(corpus)
      .filter(col("left_id") >= 400).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((474L, 498L)),
      "corpus-wide pair (474, 498) missing — pair generation got windowed?")
  }

  test("simhash banding finds planted near-dups within hamming budget") {
    val pairs = Dedup.q35SimhashNearDup(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = (0 until 20).count(id => pairs.contains((id.toLong, id + Dedup.NearDupIdOffset)))
    assert(found >= 18, s"only $found/20 planted simhash pairs found")
  }

  test("embedding near-dup finds all 10 planted copies at cosine 1") {
    val pairs = Similarity.q39EmbeddingNearDup(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    (0 until 10).foreach { id =>
      assert(pairs.exists(p => p._1 == id && p._2 == id + 100000L && p._3 >= 0.999999),
        s"planted embedding copy $id missing")
    }
  }

  test("near-dup LSH candidate set stays linear in corpus size (<= c*N at two sizes)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // The sub-quadratic guarantee of the long-code design: candidates ≈
    // true-pairs + tables·N²/2¹⁷. Locally that bound is ≪ 3·N at both sizes;
    // an accidental return to short codes (Θ(N²/2⁵) background) would blow
    // straight through it.
    val base = graft.sources.Tables.embeddings(spark, sf0001)
    val doubled = base.unionByName(
      base.withColumn("vec_id", $"vec_id" + 500000L))
    for ((corpus, label) <- Seq((base, "N"), (doubled, "2N"))) {
      val n = corpus.count()
      val cands = Similarity.nearDupCandidates(corpus).count()
      assert(cands <= 3 * n,
        s"candidate pairs at $label: $cands > 3*$n — candidate set is not linear")
    }
  }

  test("noisy near-dups (cos 0.99-0.999) are recalled by the long-code LSH path") {
    import spark.implicits._
    // ADVICE r3: the exact-copy test always collides, so it cannot see a
    // recall regression. Plant 50 perturbed copies at controlled cosine:
    // v' = cosφ·v̂ + sinφ·û with û ⟂ v̂, φ from the target cosine.
    val base = graft.sources.Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"embedding")
    val rng = new scala.util.Random(1234L)
    val originals = base.filter($"vec_id" < 50)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val planted = originals.map { case (id, v) =>
      val targetCos = 0.9905 + rng.nextDouble() * 0.008 // [0.9905, 0.9985]
      val vn = math.sqrt(v.map(x => x.toDouble * x).sum)
      val vhat = v.map(_ / vn)
      // random direction, Gram-Schmidt away from v, normalized
      val g = Array.fill(v.length)(rng.nextGaussian())
      val proj = vhat.zip(g).map { case (a, b) => a * b }.sum
      val orth = g.zip(vhat).map { case (b, a) => b - proj * a }
      val on = math.sqrt(orth.map(x => x * x).sum)
      val uhat = orth.map(_ / on)
      val phi = math.acos(targetCos)
      val out = vhat.zip(uhat).map { case (a, u) =>
        (vn * (math.cos(phi) * a + math.sin(phi) * u)).toFloat }
      (id + 200000L, out)
    }
    val corpus = base.unionByName(
      spark.createDataFrame(planted.toSeq).toDF("vec_id", "embedding")
        .select($"vec_id", $"embedding".cast("array<float>")))
    val found = Similarity.nearDupPairs(corpus, minCos = 0.99).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recalled = originals.count { case (id, _) => found.contains((id, id + 200000L)) }
    // expected per-pair miss ≤ ~2% at the hardest cosine; 0.9 is a hard floor
    assert(recalled >= 45, s"noisy near-dup recall $recalled/50 below floor 45/50")
  }

  test("ANN LSH recall vs brute-force top-5 is useful (>= 40%)") {
    val exact = Similarity.q37TopKBruteForce(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ann = Similarity.q38AnnLsh(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & ann).size.toDouble / exact.size
    assert(recall >= 0.4, s"recall $recall")
  }

  test("near-dup corpus dedup removes planted copies via connected components") {
    val row = Dedup.q62NearDupCorpus(spark, sf0001).collect().head
    val (before, after, removed) = (row.getLong(0), row.getLong(1), row.getLong(2))
    assert(before == 520)
    // at least the 20 planted near-copies collapse; organic word-salad
    // near-dups may collapse additional docs
    assert(removed >= 20 && after <= 500)
    assert(before - after == removed)
  }

  test("canonicalSelect composes over CC clusters: keeps the longest member, counts the rest") {
    import spark.implicits._
    val docs = Seq(
      (1L, "short"), (2L, "the longest text in the cluster"), (3L, "medium text"),
      (10L, "solo"), (11L, "twin"), (12L, "twin")).toDF("doc_id", "text")
    // near-dup pairs as CC would emit them: {1,2,3} chained, {11,12}
    val pairs = Seq((1L, 2L), (2L, 3L), (11L, 12L)).toDF("left_id", "right_id")
    val clusters = Dedup.connectedComponents(pairs)
      .toDF("doc_id", "cluster")
      // CC labels only nodes with edges; solo docs are their own cluster
      .unionByName(Seq((10L, 10L)).toDF("doc_id", "cluster"))
    val got = Dedup.canonicalSelect(clusters, docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set(
      (1L, 2L, 3L),   // cluster 1: doc 2 has the longest text
      (10L, 10L, 1L), // singleton keeps itself
      (11L, 11L, 2L)  // equal lengths: smallest doc_id wins
    ))
  }

  test("connected components: chains collapse to the minimum id") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("left_id", "right_id")
    val labels = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(1L) == 1L && labels(2L) == 1L && labels(3L) == 1L)
    assert(labels(10L) == 10L && labels(11L) == 10L)
  }

  test("connected components: pointer jumping converges a 64-node chain in O(log d) rounds") {
    import spark.implicits._
    // A path graph is the worst case for plain min-label propagation: the
    // min id advances one hop per round, so a 63-edge chain would need ~63
    // rounds and blow a maxIters of 15. With the label-of-label jump the
    // effective distance roughly doubles per round — convergence in ~log2(64)
    // rounds. This test FAILS (IllegalStateException) without the jump.
    // cap=0 forces the DISTRIBUTED loop (the r18 in-driver union-find
    // would satisfy this vacuously).
    spark.conf.set("spark.graft.cc.localEdgeCap", "0")
    try {
      val chain = (0L until 63L).map(i => (i, i + 1)).toDF("left_id", "right_id")
      val labels = Dedup.connectedComponents(chain, maxIters = 15).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels.size == 64)
      assert(labels.values.forall(_ == 0L), "all chain nodes must label to the min id")
    } finally spark.conf.unset("spark.graft.cc.localEdgeCap")
  }

  test("in-driver union-find equals the distributed CC loop on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 40 + trial * 30
      val edges = (1 to n).map(_ => (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
        .filter { case (a, b) => a != b }
      val pairs = edges.toDF("left_id", "right_id")
      val local = Dedup.connectedComponents(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      spark.conf.set("spark.graft.cc.localEdgeCap", "0")
      val dist =
        try Dedup.connectedComponents(pairs).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        finally spark.conf.unset("spark.graft.cc.localEdgeCap")
      assert(local == dist, s"trial $trial: local=$local dist=$dist")
    }
  }

  test("connected components: over-cap probe falls through to the distributed loop with identical labels") {
    // r19: the fast path now persists its probe projection and the >cap
    // branch reuses it — this pins the over-cap fall-through (cap small but
    // POSITIVE, so the probe runs and loses) against the under-cap labels.
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L))
      .toDF("left_id", "right_id")
    val local = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.conf.set("spark.graft.cc.localEdgeCap", "2") // 5 edges > cap
    val dist =
      try Dedup.connectedComponents(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally spark.conf.unset("spark.graft.cc.localEdgeCap")
    assert(local == dist)
    assert(dist(4L) == 1L && dist(12L) == 10L)
  }

  test("connected components: a failing probe fetch releases its persisted projection") {
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    // A range source, not a local Seq: the optimizer would evaluate the
    // error over a LocalRelation while planning the persist itself.
    val pairs = spark.range(1, 4).select(col("id").as("left_id"),
      when(col("id") === 3L, raise_error(lit("probe fetch failed")))
        .otherwise(col("id") + 1).as("right_id"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[Exception](Dedup.connectedComponents(pairs))
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }

  test("minhash near-dup pairs: a failing build releases its persisted hash table") {
    import org.apache.spark.sql.functions.{col, concat, lit, raise_error, when}
    // Range-sourced for the same reason as the CC probe test above.
    val corpus = spark.range(0, 40).select(col("id").as("doc_id"),
      when(col("id") === 7L, raise_error(lit("corpus read failed")))
        .otherwise(concat(lit("shared body of text number "), col("id").cast("string")))
        .as("text"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[Exception](Dedup.minhashNearDupPairs(corpus))
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }

  test("with a checkpoint dir, q121's leaves are reliable: losing every block it pinned " +
    "leaves the result intact") {
    val q121 = SparkEntry.queries("q121_setsim_join")
    val expected = q121(spark, sf0001).collect().map(_.toString).sorted
    val sc = spark.sparkContext
    sc.setCheckpointDir(graft.sources.TempDirs.create("graft_ck_").toString)
    try {
      val before = sc.getPersistentRDDs.keySet
      val df = q121(spark, sf0001)
      // Simulates an executor loss without touching other suites' cached
      // state: drop the blocks of every RDD this build persisted.
      for ((id, rdd) <- sc.getPersistentRDDs if !before(id)) rdd.unpersist(blocking = true)
      val got = df.collect().map(_.toString).sorted
      assert(got.nonEmpty && got.sameElements(expected))
    } finally sc.setCheckpointDir(null) // back to None: later suites stay local
  }

  test("q166 releases its training cache: no cached frame or persisted RDD outlives the query") {
    import org.apache.spark.sql.functions.col
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    assert(SparkEntry.queries("q166_kmeans")(spark, sf0001).collect().nonEmpty)
    // The training loop's cached frame, rebuilt: a cache hit would find it.
    val pts = graft.sources.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), graft.ext.KMeans.quant(col("embedding")).as("xfp"))
    assert(pts.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    assert(sc.getPersistentRDDs.keySet.diff(before).isEmpty)
  }

  test("count_min_sketch aggregate builds the identical sketch to df.stat.countMinSketch") {
    // r19 (guide §4): q83/q148 build their CMS with the codegen
    // count_min_sketch aggregate instead of the RDD-backed stat helper.
    // Same create(eps, confidence, seed), same addLong per value, cell-wise
    // exact merge — the serialized sketches must be byte-identical.
    import org.apache.spark.sql.functions._
    import org.apache.spark.util.sketch.CountMinSketch
    val li = graft.sources.Tables.lineitem(spark, sf001)
    val viaAgg = CountMinSketch.readFrom(
      li.select(expr("count_min_sketch(l_partkey, 0.0001d, 0.99d, 42)"))
        .head.getAs[Array[Byte]](0))
    val viaStat = li.stat.countMinSketch(col("l_partkey"),
      eps = 0.0001, confidence = 0.99, seed = 42)
    assert(viaAgg.totalCount() == viaStat.totalCount())
    val out1 = new java.io.ByteArrayOutputStream(); viaAgg.writeTo(out1)
    val out2 = new java.io.ByteArrayOutputStream(); viaStat.writeTo(out2)
    assert(java.util.Arrays.equals(out1.toByteArray, out2.toByteArray),
      "agg-built and stat-built CMS must serialize byte-identically")
  }

  test("count-min heavy hitters: estimates never undercount and respect the eps*N bound") {
    import spark.implicits._
    val rows = graft.queries.Extra.q83HeavyHitters(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 10)
    val n = graft.sources.Tables.lineitem(spark, sf001).count()
    rows.foreach { case (pk, exact, est) =>
      assert(est >= exact, s"count-min must never undercount (part $pk: $est < $exact)")
      // eps = 1e-4, confidence 0.99 per hash row; the joint bound over 10
      // keys is looser, so allow 3x headroom
      assert(est - exact <= math.max(1L, (3 * 0.0001 * n).toLong),
        s"part $pk overcount ${est - exact} exceeds bound at N=$n")
    }
  }

  test("approx_count_distinct stays within the 5% audit bound vs exact") {
    val exact = graft.queries.Analytics.q20DistinctAgg(spark, sf001).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = graft.queries.Analytics.q21ApproxDistinct(spark, sf001).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (seg, n) =>
      val a = approx(seg)
      assert(math.abs(a - n).toDouble / n <= 0.05,
        s"$seg: approx $a vs exact $n")
    }
  }

  test("IVF ANN recall vs brute-force top-5 is useful (>= 25%) and is deterministic") {
    val exact = Similarity.q37TopKBruteForce(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf1 = Similarity.q42AnnIvf(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf2 = Similarity.q42AnnIvf(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(ivf1 == ivf2, "IVF result must be deterministic (seeded k-means)")
    val recall = (exact & ivf1).size.toDouble / exact.size
    assert(recall >= 0.25, s"recall $recall")
  }

  test("multimodal: typed batch decode yields deterministic features and matches expression path") {
    val media = Multimodal.mediaTable(spark, sf0001)
    val decoded = Multimodal.decodeBatched(media, partitions = 4)
    val rows = decoded.collect()
    assert(rows.length == 500)
    rows.foreach { d =>
      assert(d.feature.length == 8)
      assert(d.feature.forall(f => f >= 0f && f <= 1f))
    }
    // widths agree with the expression-based decode
    val exprWidths = Multimodal.q40MediaDecode(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getInt(3)).toMap
    rows.foreach(d => assert(d.width == exprWidths(d.media_id)))
    // determinism across runs
    val again = Multimodal.decodeBatched(media, partitions = 2).collect()
      .map(d => d.media_id -> d.feature.toSeq).toMap
    rows.foreach(d => assert(again(d.media_id) == d.feature.toSeq))
  }

  test("multimodal: frame sampling emits stride-4 indices bounded by n_frames") {
    val meta = Multimodal.q40MediaDecode(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getInt(5)).toMap
    val frames = Multimodal.q41FrameSample(spark, sf0001).collect()
    frames.foreach { r =>
      val (id, sampleIdx, frameIdx) = (r.getLong(0), r.getInt(1), r.getInt(2))
      assert(frameIdx % 4 == 0 && frameIdx / 4 == sampleIdx)
      assert(frameIdx < meta(id))
    }
    assert(frames.nonEmpty)
  }

  test("q163 span dedup: surviving spans are globally unique and the counts reconcile") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val out = Dedup.q163SpanDedup(spark, sf0001)
    // Conservation: span totals re-derived from the raw corpus.
    val expectedBlocks = graft.sources.Tables.documents(spark, sf0001)
      .select(ceil(size(split($"text", "\\s+")) / 8.0).cast("long").as("nb"))
      .agg(sum($"nb")).head.getLong(0)
    val (nBlocks, nRemoved) = {
      val r = out.agg(sum($"n_blocks"), sum($"n_removed")).head
      (r.getLong(0), r.getLong(1))
    }
    assert(nBlocks === expectedBlocks)
    assert(nRemoved > 0, "fixture corpus has duplicate spans; none removed")
    // Global uniqueness: re-splitting every kept_text back into 8-token
    // spans must yield pairwise-distinct texts whose count equals
    // kept = n_blocks - n_removed (each doc's only partial span is last,
    // so re-splitting reproduces the surviving span boundaries exactly).
    val respanned = out
      .filter(length($"kept_text") > 0)
      .select(explode(transform(
        sequence(lit(0),
          floor((size(split($"kept_text", "\\s+")) - 1) / 8).cast("int")),
        b => array_join(
          slice(split($"kept_text", "\\s+"), b * 8 + 1, lit(8)), " ")))
        .as("span"))
    assert(respanned.count() === nBlocks - nRemoved)
    assert(respanned.distinct().count() === nBlocks - nRemoved)
  }

  test("q170 hard negatives: labels always differ and ranking matches a window-ranked recomputation") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val got = Similarity.q170HardNegatives(spark, sf0001).collect()
    assert(got.length == 40) // 8 queries × 5 negatives
    val labels = graft.sources.Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"label").as[(Long, Int)].collect().toMap
    got.foreach { r =>
      val (qid, nid, nlabel) = (r.getLong(0), r.getLong(2), r.getInt(3))
      assert(labels(nid) == nlabel)
      assert(nlabel != labels(qid), s"neighbor $nid shares query $qid's label")
    }
    // Independent recomputation: brute-force window ranking with the same
    // label constraint must produce the identical table.
    val emb = graft.sources.Tables.embeddings(spark, sf0001)
    val q = emb.filter($"vec_id" < 8)
      .select($"vec_id".as("query_id"), $"embedding".as("qe"),
        $"label".as("qlabel"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id".asc)
    val expected = emb
      .select($"vec_id".as("neighbor_id"), $"embedding".as("ne"),
        $"label".as("neighbor_label"))
      .join(broadcast(q),
        $"neighbor_id" =!= $"query_id" && $"neighbor_label" =!= $"qlabel")
      .withColumn("cos",
        round(graft.functions.VectorOps.cosine($"qe", $"ne"), 6))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 5)
      .select($"query_id", $"rank", $"neighbor_id", $"neighbor_label", $"cos")
      .orderBy($"query_id", $"rank")
      .collect()
    assert(got.toSeq == expected.toSeq)
  }

  test("q173 JL projection: ratios concentrate near 1 and one pair recomputes from scratch") {
    import spark.implicits._
    val rows = Similarity.q173JlProjection(spark, sf0001).collect()
    assert(rows.length == 40)
    val ratios = rows.map(_.getDouble(4))
    assert(ratios.forall(r => r > 0.1 && r < 3.0))
    // JL guarantee: the MEAN distortion over 40 pairs concentrates near 1
    // even though single pairs at d'=16 can swing widely.
    val mean = ratios.sum / ratios.length
    assert(mean > 0.8 && mean < 1.25, s"mean JL ratio $mean")
    // From-scratch recomputation of pair 0 (vectors 0 and 1), including
    // re-deriving the md5-parity Rademacher matrix.
    val emb = graft.sources.Tables.embeddings(spark, sf0001)
      .filter($"vec_id" < 2).orderBy($"vec_id")
      .select($"embedding").as[Array[Float]].collect()
    def q(e: Array[Float]): Array[Long] = e.map(x =>
      BigDecimal(x.toDouble * 1000000L)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
    def sg(i: Int, j: Int): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${i}_${j}".getBytes("UTF-8")).map("%02x".format(_)).mkString
      if ("13579bdf".contains(hex.head)) -1L else 1L
    }
    val (xa, xb) = (q(emb(0)), q(emb(1)))
    val od = xa.indices.map(i => { val d = xa(i) - xb(i); d * d }).sum
    val pd = (0 until 16).map { j =>
      val pa = xa.indices.map(i => xa(i) * sg(i, j)).sum
      val pb = xb.indices.map(i => xb(i) * sg(i, j)).sum
      val d = pa - pb; d * d
    }.sum
    val r0 = rows.find(_.getLong(0) == 0L).get
    assert(r0.getDouble(3) == BigDecimal(od.toDouble / 1e12)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(r0.getDouble(4) == BigDecimal(pd.toDouble / (16.0 * od))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("q174 ANN-over-JL: well-formed top-k with useful recall against the exact baseline") {
    import spark.implicits._
    val got = Similarity.q174AnnJl(spark, sf0001).collect()
    assert(got.length == 40)
    got.groupBy(_.getLong(0)).values.foreach { g =>
      assert(g.map(_.getInt(1)).sorted.toSeq == (1 to 5))
      // cos non-increasing within a query
      val cs = g.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
    val ann = got.map(r => (r.getLong(0), r.getLong(2))).toSet
    val exact = Similarity.q37TopKBruteForce(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (ann & exact).size.toDouble / exact.size
    // Near-random fixture vectors at d'=16, probing 10% of the corpus:
    // recall is structurally limited but must stay far above chance
    // (50/500 random picks ⇒ E[recall] = 0.1). Measured ≈ 0.5.
    assert(recall >= 0.3, s"recall@5 $recall")
  }

  test("q175 Zipf fit: regression recomputes from scratch on the collected frequency table") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val r = TextAnalysis.q175ZipfFit(spark, sf0001).collect()(0)
    val (n, slope, intercept, r2) =
      (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
    assert(slope < 0 && r2 >= 0 && r2 <= 1)
    // From-scratch: collect term frequencies, rank, fixed-point, regress.
    val freqs = graft.sources.Tables.documents(spark, sf0001)
      .select(explode(
        expr("filter(split(lower(text), '[^a-z]+'), x -> x <> '')")).as("t"))
      .groupBy($"t").agg(count(lit(1)).as("c"))
      .as[(String, Long)].collect()
      .sortBy { case (t, c) => (-c, t) }.take(1000)
    assert(n == freqs.size)
    def fp(v: Double) = BigDecimal(v * 10000)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val xy = freqs.zipWithIndex.map { case ((_, c), i) =>
      (fp(math.log(i + 1.0)), fp(math.log(c.toDouble)))
    }
    val (sx, sy) = (xy.map(_._1).sum, xy.map(_._2).sum)
    val sxy = xy.map(p => p._1 * p._2).sum
    val sxx = xy.map(p => p._1 * p._1).sum
    val syy = xy.map(p => p._2 * p._2).sum
    def rd(v: Double) = BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val slopeE = (n * sxy - sx * sy).toDouble / (n * sxx - sx * sx)
    assert(slope == rd(slopeE))
    assert(intercept == rd(((sy - slopeE * sx) / n) / 10000))
    assert(r2 == rd((n * sxy - sx * sy).toDouble * (n * sxy - sx * sy)
      / ((n * sxx - sx * sx).toDouble * (n * syy - sy * sy))))
  }

  test("q177 feature hashing: doc 0's buckets recompute from scratch via md5") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val got = TextAnalysis.q177FeatureHashing(spark, sf0001).collect()
    assert(got.length == 50) // 10 docs × top-5 buckets
    assert(got.forall(r => r.getLong(2) >= 0 && r.getLong(2) < 1024))
    val text = graft.sources.Tables.documents(spark, sf0001)
      .filter($"doc_id" === 0).select(lower($"text")).as[String].head()
    def bucket(term: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(term.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(8), 16) % 1024
    }
    val expected = text.split("[^a-z]+").filter(_.nonEmpty)
      .groupBy(bucket).view.mapValues(_.length.toLong).toSeq
      .sortBy { case (b, c) => (-c, b) }.take(5)
      .zipWithIndex.map { case ((b, c), i) => (0L, i + 1, b, c) }
    val doc0 = got.filter(_.getLong(0) == 0L)
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    assert(doc0 == expected)
  }

  test("q180 lexical diversity: one source recomputes from scratch; ratios bounded") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = TextAnalysis.q180LexicalDiversity(spark, sf0001).collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      assert(r.getLong(1) <= r.getLong(2)) // types ≤ tokens
      assert(r.getDouble(3) > 0 && r.getDouble(3) <= 1.0)
      assert(r.getDouble(6) > 0 && r.getDouble(6) <= 1.0)
      // bigrams are rarer types than unigrams are, but MORE diverse
      assert(r.getDouble(6) >= r.getDouble(3))
    }
    // From-scratch recomputation of src0.
    val texts = graft.sources.Tables.documents(spark, sf0001)
      .filter($"source" === "src0").select(lower($"text"))
      .as[String].collect()
    val unis = texts.flatMap(_.split("[^a-z]+").filter(_.nonEmpty))
    val bis = texts.flatMap { t =>
      val w = t.split("[^a-z]+").filter(_.nonEmpty)
      w.zip(w.tail).map { case (a, b) => s"$a $b" }
    }
    val r0 = rows.find(_.getString(0) == "src0").get
    assert(r0.getLong(1) == unis.distinct.length.toLong)
    assert(r0.getLong(2) == unis.length.toLong)
    assert(r0.getLong(4) == bis.distinct.length.toLong)
    assert(r0.getLong(5) == bis.length.toLong)
  }

  test("q182 edit verify: planted pairs measure exactly the 5-char suffix; similarity recomputes") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = Dedup.q182EditVerify(spark, sf0001).collect()
    assert(rows.nonEmpty)
    // Every planted (i, i+1000000) pair differs by exactly " xtra" (5 chars).
    val planted = rows.filter(r => r.getLong(1) == r.getLong(0) + 1000000L)
    assert(planted.length == 20)
    planted.foreach { r =>
      assert(r.getLong(3) == 5L, s"pair ${r.getLong(0)}: lev ${r.getLong(3)}")
    }
    // edit_sim recomputes from lev and the longer text's length.
    val texts = graft.sources.Tables.documents(spark, sf0001)
      .select($"doc_id", length($"text")).as[(Long, Int)].collect().toMap
    rows.foreach { r =>
      val (a, b, lev, sim) =
        (r.getLong(0), r.getLong(1), r.getLong(3), r.getDouble(4))
      def len(id: Long) =
        if (id >= 1000000L) texts(id - 1000000L) + 5 else texts(id)
      val expected = BigDecimal(1.0 - lev.toDouble / math.max(len(a), len(b)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(sim == expected)
    }
  }

  test("q183 burstiness: every row's VMR recomputes from collected per-doc counts") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = TextAnalysis.q183Burstiness(spark, sf0001).collect()
    assert(rows.length == 20)
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select($"doc_id", lower($"text")).as[(Long, String)].collect()
    val nDocs = docs.length.toLong
    val counts = docs.flatMap { case (id, t) =>
      t.split("[^a-z]+").filter(_.nonEmpty).map(w => (w, id))
    }.groupBy(_._1).view.mapValues(_.groupBy(_._2).values.map(_.length.toLong))
    rows.foreach { r =>
      val (term, nw, total, vmr) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      val cs = counts(term).toSeq
      assert(nw == cs.size.toLong)
      assert(total == cs.sum)
      val sumSq = cs.map(c => c * c).sum
      val expected = BigDecimal(
        (nDocs * sumSq - total * total).toDouble / (nDocs * total))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(vmr == expected, s"$term: $vmr vs $expected")
      assert(vmr >= 0)
    }
  }

  test("q184 span novelty: least-novel doc recomputes from a direct cross-doc span count") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = Dedup.q184SpanNovelty(spark, sf0001).collect()
    assert(rows.length == 15)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
    // novelty ascending with doc_id tiebreak
    val keys = rows.map(r => (r.getDouble(3), r.getLong(0))).toSeq
    assert(keys == keys.sorted)
    // Recompute the top row directly: distinct spans of that doc vs the
    // distinct spans of every other doc.
    val top = rows.head
    def spansOf(df: org.apache.spark.sql.DataFrame) = df
      .select($"doc_id", split($"text", "\\s+").as("t"))
      .select($"doc_id", explode(transform(
        sequence(lit(0), floor((size($"t") - 1) / 8).cast("int")),
        b => array_join(slice($"t", b * 8 + 1, lit(8)), " "))).as("s"))
      .distinct()
    val all = spansOf(graft.sources.Tables.documents(spark, sf0001))
    val mine = all.filter($"doc_id" === top.getLong(0)).select($"s")
    val others = all.filter($"doc_id" =!= top.getLong(0)).select($"s").distinct()
    val sharedCnt = mine.intersect(others).count()
    assert(top.getLong(1) == mine.count())
    assert(top.getLong(2) == mine.count() - sharedCnt)
  }

  test("q185 source sketch: estimates track the exact jaccard within MinHash error bounds") {
    import spark.implicits._
    val rows = Dedup.q185SourceSketch(spark, sf0001).collect()
    assert(rows.length == 20)
    val exact = Dedup.q165SourceOverlap(spark, sf0001).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getDouble(5))).toMap
    rows.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      assert(r.getDouble(3) == exact((a, b))) // exact side IS q165's value
      val m = r.getLong(4)
      assert(m >= 0 && m <= 64)
      assert(r.getDouble(5) == BigDecimal(m.toDouble / 64)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    // k=64 MinHash: per-pair σ ≤ 1/√k = 0.125; the MEAN absolute error
    // over 20 pairs concentrates far lower. Measured ≈ 0.011.
    val meanErr = rows.map(_.getDouble(6)).sum / rows.length
    assert(meanErr < 0.05, s"mean sketch error $meanErr")
  }

  test("q186 split leakage: cells reconcile with q121's pairs under the q93 split rule") {
    import spark.implicits._
    val rows = Dedup.q186SplitLeakage(spark, sf0001).collect()
    val pairs = Dedup.q121SetSimJoin(spark, sf0001)
      .select($"a_id", $"b_id").as[(Long, Long)].collect()
    assert(rows.map(_.getLong(2)).sum == pairs.length.toLong)
    rows.foreach { r =>
      assert(r.getBoolean(3) == (r.getString(0) != r.getString(1)))
      assert(r.getString(0) <= r.getString(1))
    }
    // Driver-side recount with the q93 rule.
    def splitOf(id: Long): String = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val bucket = (hex(0).toInt * 31 + hex(1).toInt) % 100
      if (bucket < 80) "train" else if (bucket < 90) "val" else "test"
    }
    val expected = pairs
      .map { case (a, b) =>
        val (sa, sb) = (splitOf(a), splitOf(b))
        (Seq(sa, sb).min, Seq(sa, sb).max)
      }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    rows.foreach { r =>
      assert(expected((r.getString(0), r.getString(1))) == r.getLong(2))
    }
    // The planted fixture MUST show leakage (that is the audit's point).
    assert(rows.exists(r => r.getBoolean(3) && r.getLong(2) > 0))
  }

  test("q190 lexical cosine: query 0's ranking recomputes from hashed BOW vectors") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val got = TextAnalysis.q190LexicalCosine(spark, sf0001).collect()
    assert(got.length == 25) // 5 queries × top-5
    got.groupBy(_.getLong(0)).values.foreach { g =>
      val cs = g.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
      assert(cs.forall(c => c > 0 && c <= 1.0))
    }
    // From-scratch: hashed BOW vectors and full cosine ranking for query 0.
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select($"doc_id", lower($"text")).as[(Long, String)].collect()
    def bucket(term: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(term.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(8), 16) % 1024
    }
    def vecOf(t: String): Map[Long, Long] = t.split("[^a-z]+")
      .filter(_.nonEmpty).groupBy(bucket).view.mapValues(_.length.toLong).toMap
    val vecs = docs.map { case (id, t) => (id, vecOf(t)) }.toMap
    val vq = vecs(0L)
    val q2 = vq.values.map(c => c * c).sum
    val scored = vecs.filter(_._1 != 0L).map { case (id, v) =>
      val dot = vq.keysIterator.map(b => vq(b) * v.getOrElse(b, 0L)).sum
      val c2 = v.values.map(c => c * c).sum
      (id, BigDecimal(dot.toDouble / (math.sqrt(q2.toDouble)
        * math.sqrt(c2.toDouble)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSeq.sortBy { case (id, c) => (-c, id) }.take(5)
    val got0 = got.filter(_.getLong(0) == 0L).sortBy(_.getInt(1))
      .map(r => (r.getLong(2), r.getDouble(3))).toSeq
    assert(got0 == scored)
  }

  test("q197 Good-Turing: frequency-of-frequencies recompute from scratch; GT identity holds") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = TextAnalysis.q197GoodTuring(spark, sf0001).collect()
    assert(rows.length == 8)
    // From-scratch trigram counting.
    val texts = graft.sources.Tables.documents(spark, sf0001)
      .select(lower($"text")).as[String].collect()
    val tris = texts.flatMap { t =>
      val w = t.split("[^a-z]+").filter(_.nonEmpty)
      if (w.length < 3) Array.empty[String]
      else w.sliding(3).map(_.mkString(" ")).toArray
    }
    val counts = tris.groupBy(identity).view.mapValues(_.length.toLong)
    val fof = counts.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nTotal = tris.length.toLong
    rows.foreach { r =>
      val (rr, nr, nn) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(nr == fof.getOrElse(rr, 0L))
      assert(nn == fof.getOrElse(rr + 1, 0L))
      if (nr == 0) assert(r.isNullAt(3))
      else assert(r.getDouble(3) == BigDecimal(
        ((rr + 1) * nn).toDouble / nr)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      assert(r.getDouble(4) == BigDecimal(
        fof.getOrElse(1L, 0L).toDouble / nTotal)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    // Zipf-tail sanity: singletons dominate and N_r decreases in r.
    val nrs = rows.map(_.getLong(1))
    assert(nrs.head == nrs.max && nrs.head > 0)
  }

  test("q165 source overlap: canonical pairs, intersection bounds, and one pair re-derived directly") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = Dedup.q165SourceOverlap(spark, sf0001).collect()
    assert(rows.nonEmpty, "fixture corpus has cross-source duplicate spans")
    rows.foreach { r =>
      val (a, b, inter, na, nb, jac) = (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))
      assert(a < b, s"pair ($a,$b) not canonical")
      assert(inter >= 1 && inter <= math.min(na, nb))
      val expected = BigDecimal(inter.toDouble / (na + nb - inter))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(jac == expected)
    }
    // Re-derive the top pair's intersection with an independent direct
    // join over distinct span hashes.
    val top = rows.head
    val spans = graft.sources.Tables.documents(spark, sf0001)
      .select($"source", split($"text", "\\s+").as("t"))
      .select($"source", explode(transform(
        sequence(lit(0), floor((size($"t") - 1) / 8).cast("int")),
        blk => array_join(slice($"t", blk * 8 + 1, lit(8)), " "))).as("s"))
      .distinct()
    val direct = spans.filter($"source" === top.getString(0)).select($"s")
      .intersect(spans.filter($"source" === top.getString(1)).select($"s"))
      .count()
    assert(direct === top.getLong(2))
  }
}
