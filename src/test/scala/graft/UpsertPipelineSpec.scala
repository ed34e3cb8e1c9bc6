package graft

import java.nio.file.{Files, Path}
import graft.streaming.UpsertPipeline
import graft.ops.EmissionsEtl
import org.apache.spark.sql.functions.lit

/** End-to-end reference lifecycle: files land → streaming pickup → transform
  * → keyed merge into the versioned warehouse; re-delivery is idempotent. */
class UpsertPipelineSpec extends SparkSpec {

  private def writeCsv(dir: Path, name: String, rows: Seq[String]): Unit = {
    val header = "CountryCode,Year,Scenario,Category,Gas,Reported Value"
    Files.writeString(dir.resolve(name), (header +: rows).mkString("\n"))
  }

  test("landing files are transformed, merged last-write-wins, idempotently") {
    val landing = Files.createTempDirectory("graft_landing_")
    val warehouse = Files.createTempDirectory("graft_warehouse_").toString
    val checkpoint = Files.createTempDirectory("graft_ckpt_").toString
    val gas = EmissionsEtl.totalGhgRaw

    writeCsv(landing, "001.csv", Seq(
      s"""AT,2030,WEM,Energy,"$gas",100.0""",
      s"""DE,2030,WEM,Energy,"$gas",50.0"""))
    UpsertPipeline.runOnce(spark, landing.toString, warehouse, checkpoint)
    val after1 = UpsertPipeline.currentTable(spark, warehouse).collect()
      .map(r => (r.getString(0), r.getDouble(5))).toMap
    assert(after1 == Map("Austria" -> 100.0, "Germany" -> 50.0))

    // second file: update AT, add FR; also a dirty row that must be dropped
    writeCsv(landing, "002.csv", Seq(
      s"""AT,2030,WEM,Energy,"$gas",200.0""",
      s"""FR,2030,WEM,Energy,"$gas",75.0""",
      s"""XX,2030,WEM,Energy,"$gas",1.0"""))
    UpsertPipeline.runOnce(spark, landing.toString, warehouse, checkpoint)
    val after2 = UpsertPipeline.currentTable(spark, warehouse).collect()
      .map(r => (r.getString(0), r.getDouble(5))).toMap
    assert(after2 == Map("Austria" -> 200.0, "Germany" -> 50.0, "France" -> 75.0))

    // re-run with nothing new: no state change (idempotent pickup)
    UpsertPipeline.runOnce(spark, landing.toString, warehouse, checkpoint)
    val after3 = UpsertPipeline.currentTable(spark, warehouse).collect()
      .map(r => (r.getString(0), r.getDouble(5))).toMap
    assert(after3 == after2)
  }

  test("a symlinked landing dir loads through the fork-free local filesystem") {
    val target = Files.createTempDirectory("graft_landing_target_")
    val landing = Files.createTempDirectory("graft_landing_link_").resolve("landing")
    Files.createSymbolicLink(landing, target)
    val warehouse = Files.createTempDirectory("graft_warehouse_").toString
    val checkpoint = Files.createTempDirectory("graft_ckpt_").toString
    val gas = EmissionsEtl.totalGhgRaw
    writeCsv(target, "001.csv", Seq(s"""AT,2030,WEM,Energy,"$gas",100.0"""))
    UpsertPipeline.runOnce(spark, landing.toString, warehouse, checkpoint)
    writeCsv(target, "002.csv", Seq(s"""DE,2030,WEM,Energy,"$gas",50.0"""))
    UpsertPipeline.runOnce(spark, landing.toString, warehouse, checkpoint)
    val got = UpsertPipeline.currentTable(spark, warehouse).collect()
      .map(r => (r.getString(0), r.getDouble(5))).toMap
    assert(got == Map("Austria" -> 100.0, "Germany" -> 50.0))
  }

  test("reading the committed warehouse runs no Spark job (the schema is known)") {
    val landing = Files.createTempDirectory("graft_landing_")
    val warehouse = Files.createTempDirectory("graft_warehouse_").toString
    val checkpoint = Files.createTempDirectory("graft_ckpt_").toString
    writeCsv(landing, "001.csv",
      Seq(s"""AT,2030,WEM,Energy,"${EmissionsEtl.totalGhgRaw}",100.0"""))
    UpsertPipeline.runOnce(spark, landing.toString, warehouse, checkpoint)
    val listener = new graft.tools.MetricsListener
    spark.sparkContext.addSparkListener(listener)
    try {
      listener.settled(spark)
      listener.clear() // events the pipeline posted before the listener joined
      val current = UpsertPipeline.currentTable(spark, warehouse)
      listener.settled(spark)
      assert(listener.jobs.isEmpty, listener.jobs.values.map(_.desc).mkString("; "))
      assert(current.schema == EmissionsEtl.warehouseSchema)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def dirs() = (Files.createTempDirectory("graft_landing_"),
    Files.createTempDirectory("graft_warehouse_").toString,
    Files.createTempDirectory("graft_ckpt_").toString)

  /** Ten distinct-key rows: one per country code from `from`. */
  private def tenRows(from: Int, value: Double): Seq[String] =
    EmissionsEtl.countryCodeMap.keys.toSeq.sorted.slice(from, from + 10).map(c =>
      s"""$c,2030,WEM,Energy,"${EmissionsEtl.totalGhgRaw}",$value""")

  test("a micro-batch is evaluated once: a 10-row delta file reads 10 input rows") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val (landing, warehouse, checkpoint) = dirs()
    writeCsv(landing, "001.csv", tenRows(0, 1.0))
    UpsertPipeline.runOnce(spark, landing.toString, warehouse, checkpoint)
    val inputRows = new java.util.concurrent.atomic.AtomicLong()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        inputRows.addAndGet(e.progress.numInputRows)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    org.apache.spark.sql.graftshim.drainListenerBus(spark)
    spark.streams.addListener(listener)
    try {
      writeCsv(landing, "002.csv", tenRows(5, 2.0)) // 5 updates, 5 new keys
      UpsertPipeline.runOnce(spark, landing.toString, warehouse, checkpoint)
      org.apache.spark.sql.graftshim.drainListenerBus(spark)
      assert(inputRows.get == 10)
    } finally spark.streams.removeListener(listener)
    assert(UpsertPipeline.currentTable(spark, warehouse).count() == 15)
  }

  test("a delta commit runs at most two Spark jobs and writes one part file") {
    val (landing, warehouse, checkpoint) = dirs()
    writeCsv(landing, "001.csv", tenRows(0, 1.0))
    UpsertPipeline.runOnce(spark, landing.toString, warehouse, checkpoint)
    val listener = new graft.tools.MetricsListener
    spark.sparkContext.addSparkListener(listener)
    try {
      listener.settled(spark)
      listener.clear()
      writeCsv(landing, "002.csv", tenRows(5, 2.0))
      UpsertPipeline.runOnce(spark, landing.toString, warehouse, checkpoint)
      listener.settled(spark)
      val commitJobs = listener.jobs.values.map(_.desc)
        .filter(_.startsWith("upsert-pipeline: transform+merge commit"))
      assert(commitJobs.nonEmpty && commitJobs.size <= 2, commitJobs.mkString("; "))
    } finally spark.sparkContext.removeSparkListener(listener)
    val (_, version) = graft.ops.VersionedTable.latest(spark, warehouse).get
    val parts = new java.io.File(version.toUri.getPath).listFiles()
      .map(_.getName).filter(_.startsWith("part-"))
    assert(parts.length == 1, parts.mkString(", "))
  }

  test("re-landing a file's rows verbatim under a new name leaves the warehouse unchanged") {
    val (landing, warehouse, checkpoint) = dirs()
    val gas = EmissionsEtl.totalGhgRaw
    val first = Seq(s"""AT,2030,WEM,Energy,"$gas",100.0""",
      s"""DE,2030,WEM,Energy,"$gas",50.0""")
    writeCsv(landing, "001.csv", first)
    UpsertPipeline.runOnce(spark, landing.toString, warehouse, checkpoint)
    writeCsv(landing, "002.csv", Seq(s"""FR,2030,WEM,Energy,"$gas",75.0"""))
    UpsertPipeline.runOnce(spark, landing.toString, warehouse, checkpoint)
    def rows() = UpsertPipeline.currentTable(spark, warehouse).collect().map(_.toSeq).toSet
    val before = rows()
    writeCsv(landing, "003.csv", first)
    UpsertPipeline.runOnce(spark, landing.toString, warehouse, checkpoint)
    assert(rows() == before)
    assert(before.size == 3)
  }

  test("a stored key loses to the batch row when only ReportedValue differs, smaller or larger") {
    val (landing, warehouse, checkpoint) = dirs()
    val gas = EmissionsEtl.totalGhgRaw
    writeCsv(landing, "001.csv", Seq(s"""AT,2030,WEM,Energy,"$gas",100.0""",
      s"""DE,2030,WEM,Energy,"$gas",50.0"""))
    UpsertPipeline.runOnce(spark, landing.toString, warehouse, checkpoint)
    writeCsv(landing, "002.csv", Seq(s"""AT,2030,WEM,Energy,"$gas",5.0""",
      s"""DE,2030,WEM,Energy,"$gas",500.0"""))
    UpsertPipeline.runOnce(spark, landing.toString, warehouse, checkpoint)
    val got = UpsertPipeline.currentTable(spark, warehouse).collect()
      .map(r => (r.getString(0), r.getDouble(5))).toMap
    assert(got == Map("Austria" -> 5.0, "Germany" -> 500.0))
  }

  test("commitBatch: key-unique updates win over stored rows, new keys insert") {
    import spark.implicits._
    val warehouse = Files.createTempDirectory("graft_warehouse_").toString
    def batch(rows: (String, Double)*) = rows.toDF("Country", "ReportedValue")
      .select($"Country", lit(2030).as("Year"), lit("WEM").as("Scenario"),
        lit("Energy").as("Category"), lit(EmissionsEtl.totalGhgClean).as("Gas"),
        $"ReportedValue", lit(EmissionsEtl.unitLabel).as("Unit"))
    UpsertPipeline.commitBatch(spark, warehouse, batch("Austria" -> 100.0, "Germany" -> 50.0))
    UpsertPipeline.commitBatch(spark, warehouse, batch("Austria" -> 1.0, "France" -> 75.0))
    val got = UpsertPipeline.currentTable(spark, warehouse).collect()
      .map(r => (r.getString(0), r.getDouble(5))).toMap
    assert(got == Map("Austria" -> 1.0, "Germany" -> 50.0, "France" -> 75.0))
  }

  test("CDC landing: I/U/D logs stream into the versioned warehouse, deletes erase, re-run is a no-op") {
    import org.apache.spark.sql.types._
    val landing = Files.createTempDirectory("graft_cdc_landing_")
    val warehouse = Files.createTempDirectory("graft_cdc_wh_").toString
    val checkpoint = Files.createTempDirectory("graft_cdc_ckpt_").toString
    val logSchema = StructType(Seq(
      StructField("k", StringType), StructField("v", DoubleType),
      StructField("seq", LongType), StructField("op", StringType)))
    def state(): Map[String, Double] =
      UpsertPipeline.currentCdcTable(spark, warehouse, logSchema, "seq", "op")
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    def run(): Unit = UpsertPipeline.runOnceCdc(spark, landing.toString, warehouse,
      checkpoint, logSchema, Seq("k"), "seq", "op")

    Files.writeString(landing.resolve("log1.csv"),
      Seq("k,v,seq,op", "a,1.0,1,I", "b,2.0,2,I", "a,10.0,3,U").mkString("\n"))
    run()
    assert(state() == Map("a" -> 10.0, "b" -> 2.0))

    // delete b, insert c, then delete c again within the same log
    Files.writeString(landing.resolve("log2.csv"),
      Seq("k,v,seq,op", "b,0.0,4,D", "c,3.0,5,I", "c,0.0,6,D").mkString("\n"))
    run()
    assert(state() == Map("a" -> 10.0))

    run() // no new files: checkpoint yields an empty batch stream — state holds
    assert(state() == Map("a" -> 10.0))

    // LATE, OUT-OF-ORDER re-delivery (new file path, so the checkpoint
    // can't dedup it) carrying only stale sequence numbers: a's old value,
    // a pre-delete update for b, c's pre-delete insert. The stored per-key
    // seq + tombstones must win — no rollback, no resurrection. (The
    // pre-tombstone layout failed all three: stored rows compared as
    // seq = -infinity and deletes left no trace.)
    Files.writeString(landing.resolve("log1-retry.csv"),
      Seq("k,v,seq,op", "a,1.0,1,I", "b,99.0,3,U", "c,3.0,5,I").mkString("\n"))
    run()
    assert(state() == Map("a" -> 10.0),
      "stale re-delivered ops must not roll back or resurrect keys")
  }

  test("one file that repeats a key stores the larger value, whatever the row order") {
    val gas = EmissionsEtl.totalGhgRaw
    val at = Seq(1.0, 3.0, 2.0).map(v => s"""AT,2030,WEM,Energy,"$gas",$v""")
    val stored = at.permutations.map { order =>
      val (landing, warehouse, checkpoint) = dirs()
      writeCsv(landing, "001.csv", order :+ s"""DE,2030,WEM,Energy,"$gas",50.0""")
      UpsertPipeline.runOnce(spark, landing.toString, warehouse, checkpoint)
      UpsertPipeline.currentTable(spark, warehouse).collect()
        .map(r => (r.getString(0), r.getDouble(5))).toSet
    }.toSet
    assert(stored == Set(Set("Austria" -> 3.0, "Germany" -> 50.0)))
  }

  test("within one batch, the later file wins on key conflict") {
    val landing = Files.createTempDirectory("graft_landing2_")
    val warehouse = Files.createTempDirectory("graft_warehouse2_").toString
    val checkpoint = Files.createTempDirectory("graft_ckpt2_").toString
    val gas = EmissionsEtl.totalGhgRaw
    writeCsv(landing, "001.csv", Seq(s"""AT,2030,WEM,Energy,"$gas",1.0"""))
    writeCsv(landing, "002.csv", Seq(s"""AT,2030,WEM,Energy,"$gas",2.0"""))
    UpsertPipeline.runOnce(spark, landing.toString, warehouse, checkpoint)
    val rows = UpsertPipeline.currentTable(spark, warehouse).collect()
    assert(rows.length == 1)
    assert(rows.head.getDouble(5) == 2.0)
  }
}
