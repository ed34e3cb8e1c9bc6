package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.GraftSession

/** Closed-loop driver of one benchmark workload. Reads the plan the Python
  * front end wrote (`plan.json`), runs until the time budget is spent and
  * writes the raw samples (`out.json`); all statistics are computed on the
  * Python side.
  *
  * Usage: `perfbench.Harness <workload> <seconds> <trace 0|1> <runDir>`
  */
object Harness {

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  val SetupReps = 3

  final class Run(val seconds: Double, val traced: Boolean, val runDir: Path,
                  val plan: JsonNode) {
    val tracer = new Tracer
    val ops = ArrayBuffer.empty[Map[String, Any]]
    val probes = ArrayBuffer.empty[Map[String, Any]]
    val failures = ArrayBuffer.empty[String]
    val extra = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    val setupS = ArrayBuffer.empty[Double]
    val listener = new JobListener
    private var attached = false
    var spark: SparkSession = _
    private var window0: Map[String, Double] = Map.empty
    var window: Map[String, Any] = Map.empty

    def dir(name: String): Path = Files.createDirectories(runDir.resolve(name))

    /** Start and end of the measured window (after set-up and warmup). */
    def measureStart(): Unit = window0 = Host.snapshot()
    def measureEnd(): Unit = window = Host.window(window0, Host.snapshot())
    def deadline: Long = System.nanoTime() + (seconds * 1e9).toLong

    /** Attach the listener for a traced cycle, detach it for an untraced one
      * (the traced run alternates them to state its own overhead). */
    def traceCycle(on: Boolean): Unit =
      if (on != attached) {
        if (on) spark.sparkContext.addSparkListener(listener)
        else spark.sparkContext.removeSparkListener(listener)
        attached = on
      }

    def fail(what: String, e: Throwable): Unit = {
      val msg = s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
      System.err.println(s"[perfbench] FAILED $msg")
      failures += msg.take(400)
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seconds, trace, runDirArg) = args
    val runDir = Paths.get(runDirArg).toAbsolutePath
    val plan = mapper.readTree(runDir.resolve("plan.json").toFile)
    val run = new Run(seconds.toDouble, trace == "1", runDir, plan)
    try workload match {
      case "emissions_pipeline" => Pipeline.run(run)
      case "olap_sql" => Queries.run(run)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally {
      if (run.traced) Host.drainListener(run.listener)
      val out = Map[String, Any](
        "workload" -> workload, "traced" -> run.traced,
        "host" -> Host.info(), "window" -> run.window,
        "setup_s" -> run.setupS.toList, "ops" -> run.ops.toList,
        "failures" -> run.failures.toList, "extra" -> run.extra.toMap,
        "probes" -> run.probes.toList,
        "spans" -> run.tracer.spans,
        "jobs" -> run.listener.jobRecords,
        "stages" -> run.listener.stageRecords)
      mapper.writeValue(runDir.resolve("out.json").toFile, out)
      if (run.spark != null) run.spark.stop()
    }
  }

  /** Timed set-up, repeated [[SetupReps]] times: stop the previous session,
    * build one with `GraftSession.build` and run the workload's preparation
    * on it. The last session is the one the workload measures. The cold
    * path — JVM start to the end of the first set-up — is kept as
    * `setup_cold_s`. */
  def setup(run: Run)(prepare: Int => Unit): Unit =
    for (rep <- 0 until SetupReps) {
      if (run.spark != null) run.spark.stop()
      val t0 = System.nanoTime()
      run.spark = run.tracer.span("session.build")(GraftSession.build("perfbench"))
      prepare(rep)
      run.setupS += (System.nanoTime() - t0) / 1e9
      if (rep == 0)
        run.extra("setup_cold_s") =
          java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    }

  /** One query execution split into its three blocking steps: build the
    * frame, force the physical plan, run it. Returns the collected rows
    * when `collect`, otherwise consumes them on the executors. */
  def execute(run: Run, name: String, collect: Boolean)(build: => DataFrame): Array[Row] = {
    val df = run.tracer.span("query.build", Map("query" -> name))(build)
    run.tracer.span("query.plan", Map("query" -> name))(df.queryExecution.executedPlan)
    run.tracer.span("query.exec", Map("query" -> name)) {
      if (collect) df.collect() else { drain(df); Array.empty[Row] }
    }
  }

  /** Run a frame's plan to completion, consuming its rows on the executors. */
  def drain(df: DataFrame): Unit = {
    val consume: Iterator[Row] => Unit = it => while (it.hasNext) it.next()
    df.foreachPartition(consume)
  }

  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}

/** Host facts and the measured window's contention, recorded with every run. */
object Host {
  private def memTotalMb: Double =
    try Files.readAllLines(Paths.get("/proc/meminfo")).asScala
      .find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    catch { case scala.util.control.NonFatal(_) => -1.0 }

  def info(): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors,
    "spark_cores" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt,
    "mem_total_mb" -> memTotalMb,
    "java" -> System.getProperty("java.version"))

  private def gcMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  def snapshot(): Map[String, Double] = {
    val (busy, steal) = graft.tools.ProcStat.busyAndStealSec()
    // the compilation histogram's count is exact (one update per compile);
    // its time sample decays, so the time is CodeGenerator's running total
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileNs = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
    Map("t" -> Clock.nowMs, "busy" -> busy, "steal" -> steal, "gc_ms" -> gcMs.toDouble,
      "codegen_n" -> compiles.toDouble, "codegen_ns" -> compileNs.toDouble)
  }

  def window(a: Map[String, Double], b: Map[String, Double]): Map[String, Any] = {
    val wallS = (b("t") - a("t")) / 1e3
    val heapPeak = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
    Map("wall_s" -> wallS,
      "busy_cores" -> (b("busy") - a("busy")) / wallS,
      "steal_cores" -> (b("steal") - a("steal")) / wallS,
      "gc_s" -> (b("gc_ms") - a("gc_ms")) / 1e3,
      "heap_peak_mb" -> heapPeak,
      "codegen_classes" -> (b("codegen_n") - a("codegen_n")),
      "codegen_compile_s" -> (b("codegen_ns") - a("codegen_ns")) / 1e9)
  }

  /** Listener events arrive asynchronously: wait (bounded) until every job
    * the listener saw has ended before its records are read. */
  def drainListener(l: JobListener): Unit = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (l.jobRecords.exists(!_.contains("t1")) && System.nanoTime() < deadline)
      Thread.sleep(50)
  }
}
