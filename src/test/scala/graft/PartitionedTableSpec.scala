package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.ops.{Merge, PartitionedTable}

/** The bucket-partitioned warehouse target: merges must (a) equal the plain
  * whole-table Merge.upsert result, (b) physically rewrite ONLY the
  * partitions the update batch's keys hash into, (c) stay idempotent under
  * re-delivery — the write-amplification contract the 100 TB upsert shape
  * depends on. */
class PartitionedTableSpec extends SparkSpec {

  private def freshRoot(): String =
    Files.createTempDirectory("graft_ptab_").toString + "/t"

  /** (relative path, mtime, length) of every data file per bucket dir. */
  private def fileState(root: String): Map[String, Set[(String, Long, Long)]] = {
    val base = new java.io.File(root)
    base.listFiles().filter(f => f.isDirectory &&
        f.getName.startsWith(PartitionedTable.BucketCol + "="))
      .map { d =>
        d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.lastModified(), f.length())).toSet
      }.toMap
  }

  private def df(rows: Seq[(Long, String, Double)]) = {
    import spark.implicits._
    rows.toDF("k", "name", "v")
  }

  test("create + read round-trips the data and hides the bucket column") {
    val root = freshRoot()
    val base = df((1L to 100L).map(i => (i, s"n$i", i.toDouble)))
    PartitionedTable.create(spark, root, base, Seq("k"), nBuckets = 8)
    val back = PartitionedTable.read(spark, root)
    assert(back.columns.toSet == Set("k", "name", "v"))
    assert(back.count() == 100)
    assert(PartitionedTable.meta(spark, root) == (Seq("k"), 8))
  }

  test("merge equals whole-table Merge.upsert (updates + inserts) and is idempotent") {
    val root = freshRoot()
    val base = df((1L to 100L).map(i => (i, s"n$i", i.toDouble)))
    // updates rewrite 10 existing keys and insert 3 new ones
    val updates = df((11L to 20L).map(i => (i, s"upd$i", -i.toDouble)) ++
      Seq((201L, "new1", 1.0), (202L, "new2", 2.0), (203L, "new3", 3.0)))
    PartitionedTable.create(spark, root, base, Seq("k"), nBuckets = 8)
    PartitionedTable.merge(spark, root, updates)
    def sorted(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    val expected = sorted(Merge.upsert(base, updates, Seq("k")))
    assert(sorted(PartitionedTable.read(spark, root)) == expected)
    // re-delivery of the same batch: same table (LWW idempotence survives
    // the physical partition rewrite)
    PartitionedTable.merge(spark, root, updates)
    assert(sorted(PartitionedTable.read(spark, root)) == expected)
  }

  test("merge rewrites ONLY the touched partitions") {
    val root = freshRoot()
    val nBuckets = 8
    val base = df((1L to 200L).map(i => (i, s"n$i", i.toDouble)))
    PartitionedTable.create(spark, root, base, Seq("k"), nBuckets)
    // pick update keys that all hash into a small bucket subset
    import spark.implicits._
    val keyToBucket = (1L to 200L).toDF("k")
      .withColumn("b", PartitionedTable.bucketExpr(Seq("k"), nBuckets))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val wanted = keyToBucket.values.toSeq.distinct.sorted.take(2).toSet
    val updKeys = keyToBucket.filter { case (_, b) => wanted.contains(b) }.keys.toSeq.sorted.take(5)
    assert(updKeys.nonEmpty)
    val touched = updKeys.map(keyToBucket).toSet

    val before = fileState(root)
    Thread.sleep(1100) // mtime granularity can be 1 s on some filesystems
    PartitionedTable.merge(spark, root, df(updKeys.map(k => (k, "touched", 0.0))))
    val after = fileState(root)

    for ((dir, files) <- before) {
      val b = dir.stripPrefix(PartitionedTable.BucketCol + "=").toInt
      if (touched.contains(b))
        assert(after(dir) != files, s"touched partition $dir was not rewritten")
      else
        assert(after(dir) == files,
          s"UNTOUCHED partition $dir was rewritten — write amplification regressed")
    }
    // and the data is still right
    val got = PartitionedTable.read(spark, root)
      .filter(col("k").isin(updKeys.map(Long.box).toIndexedSeq: _*))
      .collect().map(_.getString(1)).toSet
    assert(got == Set("touched"))
    assert(PartitionedTable.read(spark, root).count() == 200)
  }

  test("inserts hashing to a bucket with no existing partition dir create it") {
    val root = freshRoot()
    // 2 rows across 16 buckets: most buckets have NO dir on disk yet
    val base = df(Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    PartitionedTable.create(spark, root, base, Seq("k"), nBuckets = 16)
    val existing = fileState(root).keySet
    // find an insert key whose bucket dir does not exist yet
    import spark.implicits._
    val candidates = (100L to 200L).toDF("k")
      .withColumn("b", PartitionedTable.bucketExpr(Seq("k"), 16))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val (newKey, newBucket) = candidates.find { case (_, b) =>
      !existing.contains(s"${PartitionedTable.BucketCol}=$b") }.get
    val before = fileState(root)
    PartitionedTable.merge(spark, root, df(Seq((newKey, "fresh", 9.0))))
    val after = fileState(root)
    assert(after.contains(s"${PartitionedTable.BucketCol}=$newBucket"),
      "dynamic overwrite must create the new key's partition dir")
    assert(existing.forall(d => after(d) == before(d)),
      "pre-existing partitions must be untouched by a new-bucket insert")
    assert(PartitionedTable.read(spark, root).count() == 3)
    assert(PartitionedTable.read(spark, root)
      .filter(col("k") === newKey).collect().head.getString(1) == "fresh")
  }

  test("null-key update rows are dropped: re-merging stays idempotent instead of duplicating") {
    import spark.implicits._
    val root = freshRoot()
    PartitionedTable.create(spark, root,
      df(Seq((1L, "a", 1.0), (2L, "b", 2.0))), Seq("k"), nBuckets = 4)
    val updates = Seq[(java.lang.Long, String, Double)](
      (1L, "x", 9.0), (null, "orphan", 5.0)).toDF("k", "name", "v")
    PartitionedTable.merge(spark, root, updates)
    PartitionedTable.merge(spark, root, updates) // re-delivery
    val rows = PartitionedTable.read(spark, root).collect()
      .map(r => (Option(r.get(0)), r.getString(1))).toSeq.sortBy(_._2)
    assert(rows == Seq((Some(2L), "b"), (Some(1L), "x")),
      s"null-key rows must never enter (or duplicate in) the table, got $rows")
  }

  test("empty update batch is a no-op") {
    val root = freshRoot()
    val base = df(Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    PartitionedTable.create(spark, root, base, Seq("k"), nBuckets = 4)
    val before = fileState(root)
    PartitionedTable.merge(spark, root, base.limit(0))
    assert(fileState(root) == before)
  }

  test("merge SCANS only the touched partitions (read-side partition pruning)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val root = freshRoot()
    val rootTag = new java.io.File(root).getParentFile.getName // graft_ptab_XXXX
    val base = df((1L to 200L).map(i => (i, s"n$i", i.toDouble)))
    PartitionedTable.create(spark, root, base, Seq("k"), nBuckets = 16)
    // The write-side guard (file mtimes, above) proves untouched partitions
    // aren't REWRITTEN; this proves they aren't READ — the half of the
    // O(touched) claim that matters when the table is 100 TB wide. Capture
    // every executed scan of the table during the merge and assert each one
    // carries the bucket partition filter and read exactly 1 of 16
    // partitions (a single update key hashes to a single bucket).
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             d: Long): Unit =
        qe.executedPlan.collectLeaves().foreach {
          case s: FileSourceScanExec if s.metadata("Location").contains(rootTag) =>
            captured.add((s.metadata.getOrElse("PartitionFilters", ""),
              s.metrics("numPartitions").value))
          case _ => ()
        }
      override def onFailure(f: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    // AQE hides scans inside leaf query stages (the PlanSpec DPP lesson);
    // pruning is orthogonal to AQE, so plan without it to keep scans visible.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.listenerManager.register(listener)
    try {
      PartitionedTable.merge(spark, root, df(Seq((1L, "x", 9.0))))
      org.apache.spark.sql.graftshim.drainListenerBus(spark)
      val scans = { import scala.jdk.CollectionConverters._; captured.asScala.toSeq }
      assert(scans.nonEmpty, "no table scan captured during merge")
      scans.foreach { case (filters, nParts) =>
        assert(filters.contains(PartitionedTable.BucketCol),
          s"table scan without a bucket partition filter: '$filters'")
        assert(nParts == 1L,
          s"merge of 1 key must read 1 of 16 partitions, read $nParts")
      }
      assert(PartitionedTable.read(spark, root)
        .filter(col("k") === 1L).collect().head.getString(1) == "x")
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("a corrupt meta marker fails loudly and never routes to a wiping create; a missing one is absent") {
    val root = freshRoot()
    val base = df(Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    PartitionedTable.create(spark, root, base, Seq("k"), nBuckets = 4)
    // Externally damaged marker on an ESTABLISHED table (truncated restore,
    // foreign junk — our own writer can't produce this since the atomic
    // rename). Absence-on-corruption would send the pipeline's
    // exists→create branch through a static overwrite of live data; the
    // contract is: present marker = table exists, unreadable marker = loud
    // failure, data untouched.
    val marker = java.nio.file.Paths.get(root, "_graft_partitioned_table")
    Files.write(marker, Array.emptyByteArray)
    assert(PartitionedTable.exists(spark, root),
      "a present-but-corrupt marker must still count as existing")
    val e = intercept[IllegalStateException] { PartitionedTable.meta(spark, root) }
    assert(e.getMessage.contains("unreadable"))
    intercept[IllegalStateException] {
      PartitionedTable.merge(spark, root, df(Seq((1L, "x", 9.0))))
    }
    assert(spark.read.parquet(root).drop(PartitionedTable.BucketCol).count() == 2,
      "table data must survive a corrupt-marker failure untouched")
    // a MISSING marker (creator crashed before the atomic publish) is the
    // genuine table-absent case: the retrying creator rebuilds
    Files.delete(marker)
    assert(!PartitionedTable.exists(spark, root))
    PartitionedTable.create(spark, root, base, Seq("k"), nBuckets = 4)
    assert(PartitionedTable.meta(spark, root) == (Seq("k"), 4))
    assert(PartitionedTable.read(spark, root).count() == 2)
  }

  test("key names containing the marker delimiters are rejected at create") {
    val root = freshRoot()
    import spark.implicits._
    val bad = Seq((1L, "a")).toDF("k,x", "v")
    intercept[IllegalArgumentException] {
      PartitionedTable.create(spark, root, bad, Seq("k,x"), nBuckets = 4)
    }
    val bad2 = Seq((1L, "a")).toDF("k=x", "v")
    intercept[IllegalArgumentException] {
      PartitionedTable.create(spark, root, bad2, Seq("k=x"), nBuckets = 4)
    }
  }

  test("property: any random batch sequence through the partitioned table equals iterative whole-table upsert") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    // A batch: key-unique rows over a small key universe so later batches
    // genuinely collide with earlier ones; bucket count drawn small-to-big
    // so the table sometimes has more buckets than keys and vice versa.
    val batchGen: Gen[Seq[(Long, String, Double)]] = for {
      n <- Gen.choose(1, 12)
      rows <- Gen.listOfN(n, for {
        k <- Gen.choose(1L, 20L)
        v <- Gen.choose(0, 1000).map(_.toDouble)
      } yield (k, s"n$k", v))
    } yield rows.groupBy(_._1).values.map(_.head).toSeq // key-unique
    val prop = Prop.forAll(
      Gen.choose(1, 16), batchGen, Gen.listOfN(3, batchGen)) {
      (nBuckets, first, rest) =>
        val root = freshRoot()
        PartitionedTable.create(spark, root, df(first), Seq("k"), nBuckets)
        var oracle = df(first)
        rest.foreach { b =>
          PartitionedTable.merge(spark, root, df(b))
          oracle = Merge.upsert(oracle, df(b), Seq("k"))
        }
        val got = PartitionedTable.read(spark, root)
          .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
        val want = oracle
          .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
        got == want
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(result.passed, result.status.toString)
  }
}
