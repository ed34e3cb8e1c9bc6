package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.HttpIngest
import graft.streaming.UpsertPipeline

/** End-to-end emissions pipeline runner — the single-invocation analog of
  * the reference's interactive orchestrator (`main.py:312-346`: download
  * the EEA CSV, upload to the lake, trigger the warehouse load, run a
  * sanity query). One command wires the same stages through this engine:
  *
  *   HTTP fetch → landing dir → streaming upsert (AvailableNow) →
  *   JDBC warehouse (staged upsert) → sample SQL readback
  *
  * Usage (all flags optional):
  * {{{
  *   sbt "runMain graft.Main
  *     [--url http://host/data.csv]       # source CSV endpoint
  *     [--jdbc jdbc:derby:memory:graft;create=true]   # warehouse
  *     [--landing /path/to/landing]       # landing directory
  *     [--checkpoint /path/to/ckpt]"      # streaming checkpoint
  * }}}
  *
  * Without `--url` it serves a built-in sample CSV from an in-process HTTP
  * server — the hermetic demo mode (this sandbox has no egress); pass the
  * real endpoint in production. Without `--jdbc` the warehouse is an
  * embedded in-memory Derby — pass a Postgres URL in production (the
  * upsert/staging SQL is ANSI, see [[graft.sinks.JdbcWarehouse]]).
  *
  * Re-running with the same checkpoint + warehouse is safe by design:
  * files already consumed are skipped by the checkpoint, and re-delivered
  * batches upsert to the same state (idempotent upsert — the reference's O3
  * retry containment).
  */
object Main {

  private val SampleCsv = {
    val gas = graft.ops.EmissionsEtl.totalGhgRaw
    "CountryCode,Year,Scenario,Category,Gas,Reported Value\n" +
      s"""AT,2030,WEM,Energy,"$gas",101.5""" + "\n" +
      s"""DE,2030,WEM,Energy,"$gas",57.25""" + "\n" +
      s"""FR,2035,WAM,Energy,"$gas",42.0"""
  }

  private val KnownFlags = Set("url", "jdbc", "landing", "checkpoint")

  /** Strict --key value parser: unknown flags, valueless flags, and stray
    * positionals fail loudly — a pairwise-sliding parser would silently
    * misbind everything after the first malformed token (e.g. a typo'd
    * boolean flag swallowing the --jdbc URL and the run "succeeding"
    * against the in-memory default warehouse). */
  private def parseArgs(args: Array[String]): Map[String, String] = {
    @annotation.tailrec
    def loop(rest: List[String], acc: Map[String, String]): Map[String, String] =
      rest match {
        case Nil => acc
        case flag :: value :: tail if flag.startsWith("--") &&
            KnownFlags.contains(flag.drop(2)) && !value.startsWith("--") =>
          loop(tail, acc + (flag.drop(2) -> value))
        case flag :: _ if flag.startsWith("--") && KnownFlags.contains(flag.drop(2)) =>
          throw new IllegalArgumentException(s"flag $flag needs a value")
        case other :: _ =>
          throw new IllegalArgumentException(
            s"unrecognized argument '$other' — known flags: " +
              KnownFlags.toSeq.sorted.map("--" + _).mkString(", "))
      }
    loop(args.toList, Map.empty)
  }

  /** The pipeline body, session-injected so tests drive it on the shared
    * test session (main owns session lifecycle, run does not). Returns the
    * sample-query frame read back from the warehouse. */
  def run(spark: SparkSession, opts: Map[String, String]): DataFrame = {
    val landing = opts.getOrElse("landing",
      graft.sources.TempDirs.create("graft_landing_").toString)
    val checkpoint = opts.getOrElse("checkpoint",
      graft.sources.TempDirs.create("graft_ckpt_").toString)
    val jdbcUrl = opts.getOrElse("jdbc", "jdbc:derby:memory:graftmain;create=true")

    // Demo mode: no --url → serve the built-in sample from localhost, so
    // the full HTTP→landing path still executes (hermetic, zero egress).
    val demoServer = if (opts.contains("url")) None else Some {
      val server = com.sun.net.httpserver.HttpServer.create(
        new java.net.InetSocketAddress("127.0.0.1", 0), 0)
      server.createContext("/eu_ghg_projections.csv", exchange => {
        val bytes = SampleCsv.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        exchange.sendResponseHeaders(200, bytes.length)
        exchange.getResponseBody.write(bytes)
        exchange.close()
      })
      server.start()
      server
    }
    try {
      val url = opts.getOrElse("url", {
        val port = demoServer.get.getAddress.getPort
        s"http://127.0.0.1:$port/eu_ghg_projections.csv"
      })

      println(s"[1/3] fetch $url -> $landing")
      HttpIngest.fetch(url, landing, "eu_ghg_projections.csv") match {
        case Some(path) => println(s"      landed $path")
        case None =>
          println("      nothing landed (non-2xx) — pipeline has no new input")
      }

      println(s"[2/3] streaming upsert $landing -> $jdbcUrl")
      // Target DDL up front: a fetch that landed nothing (404, server down)
      // still leaves a queryable (empty) warehouse for step 3 instead of a
      // missing-table error — the reference orchestrator's create-if-absent.
      graft.sinks.JdbcWarehouse.ensureTarget(jdbcUrl)
      UpsertPipeline.runOnceJdbc(spark, landing, jdbcUrl, checkpoint)

      println("[3/3] sample SQL over the warehouse")
      graft.sinks.JdbcWarehouse.readTable(spark, jdbcUrl)
        .createOrReplaceTempView("ghg_projections")
      spark.sql(
        """SELECT COUNTRY, YEAR, SCENARIO, round(sum(REPORTEDVALUE), 3) AS total
          |FROM ghg_projections
          |GROUP BY COUNTRY, YEAR, SCENARIO
          |ORDER BY COUNTRY, YEAR, SCENARIO""".stripMargin)
    } finally demoServer.foreach(_.stop(0))
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build("graft-pipeline")
    try {
      val sample = run(spark, parseArgs(args))
      sample.show(20, truncate = false)
      println(s"pipeline complete: ${sample.count()} (country, year, scenario) rows")
    } finally spark.stop()
  }
}
