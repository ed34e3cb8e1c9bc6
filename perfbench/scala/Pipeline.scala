package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.ops.{EmissionsEtl, Merge, VersionedTable}
import graft.sources.HttpIngest
import graft.streaming.UpsertPipeline

/** The `emissions_pipeline` workload: the paper's own path, file by file.
  *
  * A single-threaded local HTTP server serves the generated CSV files. Each
  * round starts an empty versioned warehouse, loads the bulk file, then its
  * delta files one at a time. Per file: `HttpIngest.fetch` into the round's
  * landing dir → `UpsertPipeline.runOnce` → readback SQL over
  * `UpsertPipeline.currentTable` (a point lookup of a key the file added,
  * Main's group-by and a per-category trend), each checked against the
  * generator's oracle. A mismatch counts as a failed operation.
  *
  * The traced run additionally replays each file through the decomposed
  * public calls (`EmissionsEtl.transform`, `Merge.latestPerKey`,
  * `Merge.upsert`, `UpsertPipeline.commitBatch`) into a shadow warehouse for
  * the per-layer split, and loads the first round's bulk file and first two
  * deltas into embedded Derby with `UpsertPipeline.runOnceJdbc`, each load
  * with its own landing dir, checkpoint and database.
  */
object Pipeline {
  import Harness.Run

  /** Delta files each set-up loads after the bulk file. */
  private val SetupDeltas = 2

  /** Readback queries a run collects at least (the median's sample floor). */
  private val MinSamples = 20

  private val Readbacks = Seq(
    "groupby" ->
      """SELECT Country, Year, Scenario, round(sum(ReportedValue), 3) AS total
        |FROM ghg GROUP BY Country, Year, Scenario""".stripMargin,
    "trend" ->
      """SELECT Category, Year, round(sum(ReportedValue), 3) AS total
        |FROM ghg WHERE Scenario = 'WEM' GROUP BY Category, Year""".stripMargin)

  /** Order-insensitive fingerprint shared with the Python oracle: row count
    * and the sum (mod 2^64) of each row's MD5-prefix hash, the total entered
    * as integer quarters (every generated value is a multiple of 1/4). */
  def fingerprint(rows: Seq[Seq[String]]): (Long, String) = {
    var sum = 0L
    rows.foreach { r =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(r.mkString("|").getBytes("UTF-8"))
      sum += java.nio.ByteBuffer.wrap(d, 0, 8).getLong
    }
    (rows.size.toLong, java.lang.Long.toUnsignedString(sum))
  }

  private def quarters(v: Any): String =
    (v.asInstanceOf[Double] * 4).toLong.toString

  final class Round(run: Run, base: String) {
    val warehouse: String = run.dir(s"$base/wh").toString
    val landing: String = run.dir(s"$base/land").toString
    val checkpoint: String = run.runDir.resolve(s"$base/ckpt").toString
    val shadow: String = run.dir(s"$base/shadow").toString
  }

  def run(run: Run): Unit = {
    val plan = run.plan
    val feed = run.runDir.resolve(plan.get("feed_dir").asText)
    val server = Feed.start(feed)
    val url = s"http://127.0.0.1:${server.getAddress.getPort}"
    try {
      // Set-up: session, then the bulk file and the first deltas of round 0
      // into a scratch warehouse (fetch → runOnce → readbacks, all checked),
      // so the measured rounds start from a warmed JVM and Spark.
      val warmDeltas = plan.get("rounds").get(0).elements().asScala.take(SetupDeltas).toList
      Harness.setup(run) { rep =>
        val round = new Round(run, s"setup$rep")
        (plan.get("bulk") :: warmDeltas).foreach(step => loadFile(run, round, url, step, "setup"))
      }
      run.measureStart()
      val deadline = run.deadline
      // The traced run's side work (probes, Derby loads) is left out of the
      // time budget, so it measures as many files as the untraced run...
      var sideNs = 0L
      def side(body: => Unit): Unit = {
        val t0 = System.nanoTime()
        body
        sideNs += System.nanoTime() - t0
      }
      // ...and it runs until its readbacks reach the median's sample floor
      val perFile = plan.get("bulk").get("expect").get("lookups").size + Readbacks.size
      def inBudget = System.nanoTime() - sideNs < deadline || run.ops.size * perFile < MinSamples
      val rounds = plan.get("rounds").elements().asScala.toIndexedSeq
      val fixedCommits = plan.get("stored_ratio_after").asInt
      var r = 0
      while (inBudget && r < rounds.size) {
        val round = new Round(run, s"r$r")
        run.traceCycle(run.traced)
        val bulkDone = loadFile(run, round, url, plan.get("bulk"), "load", run.traced, r)
        if (run.traced) side {
          probe(run, round, plan.get("bulk"), bulkDone)
          if (r == 0) derbyLoad(run, round, plan.get("bulk"))
        }
        val steps = rounds(r).elements().asScala.toIndexedSeq
        var d = 0
        while (d < steps.size && inBudget) {
          // traced and untraced files alternate, for the tracing overhead
          val traced = run.traced && d % 2 == 0
          run.traceCycle(traced)
          val done = loadFile(run, round, url, steps(d), "delta", traced, r)
          // the shadow warehouse must see every file, traced or not
          if (run.traced) side {
            probe(run, round, steps(d), done)
            if (r == 0 && d < 2) derbyLoad(run, round, steps(d))
          }
          d += 1
          if (r == 0 && d == fixedCommits) storedRatio(run, round)
        }
        r += 1
      }
      run.traceCycle(false)
      run.measureEnd()
      if (!run.extra.contains("stored_bytes_per_live_byte"))
        run.failures += s"fewer than $fixedCommits delta commits inside the time budget"
    } finally server.stop(0)
  }

  /** One file, land → queryable: fetch, runOnce, then the readbacks. The
    * point lookup comes first; its return marks the file as queryable. */
  private def loadFile(run: Run, round: Round, url: String, step: JsonNode,
                       kind: String, traced: Boolean = false,
                       r: Int = -1): Option[String] = {
    val file = step.get("file").asText
    val expect = step.get("expect")
    val t0 = Clock.nowMs
    var landed: Option[String] = None
    var ok = true
    var tFresh = Double.NaN
    val queryWalls = scala.collection.mutable.ArrayBuffer.empty[Double]
    try {
      landed = run.tracer.span("ingest.fetch", Map("bytes" -> step.get("bytes").asLong)) {
        HttpIngest.fetch(s"$url/$file", round.landing, file)
      }
      if (landed.isEmpty) throw new IllegalStateException(s"fetch of $file landed nothing")
      run.tracer.span("stream.runOnce") {
        UpsertPipeline.runOnce(run.spark, round.landing, round.warehouse, round.checkpoint)
      }
      run.tracer.span("warehouse.current") {
        UpsertPipeline.currentTable(run.spark, round.warehouse).createOrReplaceTempView("ghg")
      }
      expect.get("lookups").elements().asScala.zipWithIndex.foreach { case (lk, i) =>
        val q0 = Clock.nowMs
        val got = Harness.execute(run, "lookup", collect = true) {
          run.spark.table("ghg").filter(col("Country") === lk.get("country").asText &&
            col("Year") === lk.get("year").asInt && col("Scenario") === lk.get("scenario").asText &&
            col("Category") === lk.get("category").asText).select("ReportedValue")
        }
        val q1 = Clock.nowMs
        if (i == 0) tFresh = q1
        queryWalls += q1 - q0
        if (!(got.length == 1 && got(0).getDouble(0) == lk.get("value").asDouble)) {
          ok = false
          run.failures += s"$file: lookup read ${got.map(_.get(0)).mkString(",")}, " +
            s"expected ${lk.get("value").asDouble}"
        }
      }
      Readbacks.foreach { case (name, sql) =>
        val qs = Clock.nowMs
        val rows = Harness.execute(run, name, collect = true)(run.spark.sql(sql))
        queryWalls += Clock.nowMs - qs
        val fp = fingerprint(rows.toSeq.map { row =>
          (0 until row.length - 1).map(i => String.valueOf(row.get(i))) :+ quarters(row.get(row.length - 1))
        })
        val want = expect.get(name)
        if (fp != ((want.get(0).asLong, want.get(1).asText))) {
          ok = false
          run.failures += s"$file: $name fingerprint $fp, expected $want"
        }
      }
    } catch {
      case scala.util.control.NonFatal(e) => ok = false; run.fail(s"$kind $file", e)
    }
    if (kind != "setup") run.ops += Map("kind" -> kind, "name" -> file, "round" -> r,
      "t0" -> t0, "t1" -> Clock.nowMs, "fresh_s" -> (tFresh - t0) / 1e3,
      "raw_rows" -> step.get("raw_rows").asLong, "ok" -> ok, "traced" -> traced,
      "query_s" -> queryWalls.map(_ / 1e3).toList)
    landed
  }

  /** Bytes under the warehouse root ÷ bytes of its latest committed version,
    * taken after a fixed number of commits so it does not depend on speed. */
  private def storedRatio(run: Run, round: Round): Unit =
    VersionedTable.latest(run.spark, round.warehouse).foreach { case (_, p) =>
      val live = Harness.du(java.nio.file.Paths.get(p.toUri))
      run.extra("stored_bytes_per_live_byte") =
        Harness.du(java.nio.file.Paths.get(round.warehouse)).toDouble / live
    }

  /** Traced run only: the landed file through the decomposed public calls
    * into the round's shadow warehouse. Each span forces its step with a
    * count, so a span holds that step's work plus what is upstream of it. */
  private def probe(run: Run, round: Round, step: JsonNode, landed: Option[String]): Unit =
    landed.foreach { path =>
      implicit val spark: SparkSession = run.spark
      val t = run.tracer
      try {
        val raw = spark.read.schema(EmissionsEtl.rawSchema)
          .option("header", "true").csv(path)
        val rowsIn = raw.count()
        val transformed = EmissionsEtl.transform(raw)
        val rowsOut = t.span("etl.transform")(transformed.count())
        val unique = Merge.latestPerKey(transformed, EmissionsEtl.mergeKeys, Seq("ReportedValue"))
        val nUnique = t.span("merge.latest_per_key")(unique.count())
        val current = UpsertPipeline.currentTable(spark, round.shadow)
        val inserted = unique.join(current.select(EmissionsEtl.mergeKeys.map(col): _*),
          EmissionsEtl.mergeKeys, "left_anti").count()
        val merged = t.span("merge.upsert")(
          Merge.upsert(current, unique, EmissionsEtl.mergeKeys).count())
        t.span("commit")(UpsertPipeline.commitBatch(spark, round.shadow, unique))
        val written = VersionedTable.latest(spark, round.shadow)
          .map { case (_, p) => Harness.du(java.nio.file.Paths.get(p.toUri)) }.getOrElse(0L)
        run.probes += Map("file" -> step.get("file").asText,
          "rows_in" -> rowsIn, "rows_out" -> rowsOut, "rows_unique" -> nUnique,
          "rows_inserted" -> inserted, "rows_updated" -> (nUnique - inserted),
          "rows_written" -> merged, "bytes_written" -> written)
      } catch {
        case scala.util.control.NonFatal(e) => run.fail(s"probe ${step.get("file").asText}", e)
      }
    }

  private val derbyIds = new java.util.concurrent.atomic.AtomicInteger()

  /** Traced run only: one file into a fresh embedded Derby warehouse with
    * `UpsertPipeline.runOnceJdbc`. Every load gets its own landing dir,
    * checkpoint and database, so a failed load cannot change the next. */
  private def derbyLoad(run: Run, round: Round, step: JsonNode): Unit = {
    val n = derbyIds.incrementAndGet()
    val landing = run.dir(s"derby/$n/land")
    val file = step.get("file").asText
    Files.copy(java.nio.file.Paths.get(round.landing, file), landing.resolve(file))
    val url = s"jdbc:derby:memory:perfbench$n;create=true"
    val t0 = Clock.nowMs
    val error = try {
      UpsertPipeline.runOnceJdbc(run.spark, landing.toString, url,
        run.runDir.resolve(s"derby/$n/ckpt").toString)
      ""
    } catch {
      case scala.util.control.NonFatal(e) =>
        val cause = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq.last
        s"${cause.getClass.getName}: ${cause.getMessage}".take(300)
    }
    if (error.nonEmpty) System.err.println(s"[perfbench] derby load of $file failed: $error")
    run.tracer.record("jdbc.load", t0, Clock.nowMs, Map("file" -> file, "ok" -> error.isEmpty,
      "error" -> error, "raw_rows" -> step.get("raw_rows").asLong))
    try java.sql.DriverManager.getConnection(s"jdbc:derby:memory:perfbench$n;drop=true")
    catch { case _: java.sql.SQLException => () } // a successful drop also throws
  }
}

/** Single-threaded local HTTP server over the generated feed directory. */
object Feed {
  def start(dir: Path): com.sun.net.httpserver.HttpServer = {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", exchange => {
      val f = dir.resolve(exchange.getRequestURI.getPath.stripPrefix("/"))
      if (Files.isRegularFile(f)) {
        exchange.sendResponseHeaders(200, Files.size(f))
        Files.copy(f, exchange.getResponseBody)
      } else exchange.sendResponseHeaders(404, -1)
      exchange.close()
    })
    server.setExecutor(null) // the server's own single dispatcher thread
    server.start()
    server
  }
}
