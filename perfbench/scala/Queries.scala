package perfbench

import java.nio.file.Paths

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.sources.Staged

/** The `olap_sql` workload: a fixed set of registry queries from
  * `SparkEntry.queries` over the generated tables, in a seed-permuted order
  * on every pass.
  *
  * Set-up (timed, repeated): session, then every query built and planned
  * over a copy of the tables no earlier set-up read, so each set-up stages
  * the tables it reads; the first repetition also runs the set once,
  * writing every result for the oracle check. Measurement: whole passes
  * over the last set-up's copy until the time budget is spent. The traced
  * run ends with one `Staged.prepare` over a further fresh copy of the
  * tables for the staging layer.
  */
object Queries {
  import Harness.Run

  /** Query executions a run collects at least (the median's sample floor). */
  private val MinSamples = 20

  def run(run: Run): Unit = {
    val plan = run.plan
    val names = plan.get("queries").elements().asScala.map(_.asText).toIndexedSeq
    val dirs = plan.get("setup_dirs").elements().asScala
      .map(d => run.runDir.resolve(d.asText).toString).toIndexedSeq
    require(dirs.size == Harness.SetupReps, s"plan has ${dirs.size} set-up dirs")
    run.extra("oracle_sql") = names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    // Each repetition builds and plans every query of the set on its fresh
    // session over its own copy of the tables: that stages the tables the
    // queries read (staging is memoized per directory) and runs the eager
    // jobs of query construction. The first repetition also runs the set
    // once, writing every result for the oracle check; being the cold one
    // it is the slowest either way, so the reported median is that of the
    // two warm repetitions.
    val results = run.dir("results")
    Harness.setup(run) { rep =>
      names.foreach { n =>
        try {
          val df = SparkEntry.queries(n)(run.spark, dirs(rep))
          df.queryExecution.executedPlan
          if (rep == 0) df.write.parquet(results.resolve(n).toString)
        } catch { case scala.util.control.NonFatal(e) => run.fail(s"set-up $n", e) }
      }
    }
    val dir = dirs.last
    run.measureStart()
    val deadline = run.deadline
    val orders = plan.get("orders").elements().asScala
      .map(_.elements().asScala.map(_.asText).toIndexedSeq).toIndexedSeq
    var pass = 0
    // whole passes only, so every run samples each query equally often,
    // and enough of them for the reported median
    while ((System.nanoTime() < deadline || pass * names.size < MinSamples) &&
           pass < orders.size) {
      val traced = run.traced && pass % 2 == 1
      run.traceCycle(traced)
      orders(pass).foreach { n =>
        val t0 = Clock.nowMs
        val ok = try {
          Harness.execute(run, n, collect = false)(SparkEntry.queries(n)(run.spark, dir))
          true
        } catch { case scala.util.control.NonFatal(e) => run.fail(n, e); false }
        run.ops += Map("kind" -> "query", "name" -> n, "pass" -> pass,
          "t0" -> t0, "t1" -> Clock.nowMs, "ok" -> ok, "traced" -> traced,
          "persisted_rdds" -> run.spark.sparkContext.getPersistentRDDs.size)
      }
      pass += 1
    }
    run.traceCycle(false)
    run.measureEnd()
    if (run.traced) {
      // The per-layer figures of the public staging entry point, over a
      // fresh copy of the tables (nothing of it is memoized yet).
      val fresh = run.runDir.resolve(plan.get("prepare_dir").asText).toString
      val before = Harness.du(Paths.get(sys.env("SPARK_GRAFT_TMP")))
      run.tracer.span("staged.prepare")(Staged.prepare(run.spark, fresh))
      run.extra("staged.bytes_written") = Harness.du(Paths.get(sys.env("SPARK_GRAFT_TMP"))) - before
    }
  }
}
