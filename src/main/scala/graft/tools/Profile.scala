package graft.tools

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{GraftSession, JobStage, SparkEntry}

/** Local perf profiler for named SparkEntry queries on the engine profile
  * (the conf Bench and Verify run). Each query runs once cold, then
  * 3 timed reps (wall/tasks) or 1 (jobs/stages), all on one
  * [[MetricsListener]]. Modes:
  *
  *  - `wall`: the cold run's and each rep's build/plan/execute split (`b=`
  *    frame build incl. eager jobs, `p=` physical planning, `e=` execution),
  *    then the rep walls with the hypervisor steal accrued over them.
  *  - `jobs`: each Spark job's wall and description ([[graft.JobStage]];
  *    this thread's own jobs read `<query>: result materialize`), plus each
  *    streaming micro-batch's driver-side phases — the gaps between jobs.
  *  - `stages`: per stage, summed task run/CPU/deserialize/shuffle-write/GC
  *    time and records in/out, sorted by CPU.
  *  - `tasks`: per rep, every TaskMetrics time bucket summed over tasks,
  *    task and stage counts, codegen compile count and time.
  *
  * `SPARK_GRAFT_XCONF="k=v;k=v"` overrides runtime SQL confs on the built
  * session (static and core confs fail loudly). Setting shuffle partitions
  * there also turns off the per-query re-tune ([[graft.Tuning]]), so a
  * sweep measures the value it set.
  *
  * Usage: runMain graft.tools.Profile <wall|jobs|stages|tasks> <sfDir> <query...>
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3 && Set("wall", "jobs", "stages", "tasks")(args(0)),
      "usage: Profile <wall|jobs|stages|tasks> <sfDir> <query...>")
    val (mode, sfDir, names) = (args(0), args(1), args.drop(2).toSeq)
    val reps = if (mode == "wall" || mode == "tasks") 3 else 1
    val xconf = sys.env.getOrElse("SPARK_GRAFT_XCONF", "").split(';').filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); k.trim -> v.trim }.toMap
    val spark = GraftSession.build("graft-profile")
    (xconf.get("spark.sql.shuffle.partitions").map(_ => graft.Tuning.EnabledKey -> "false") ++
      xconf).foreach { case (k, v) => spark.conf.set(k, v) }
    spark.sparkContext.setLogLevel("ERROR")
    val l = new MetricsListener
    spark.sparkContext.addSparkListener(l)
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.streaming.StreamingQueryProgress]()
    spark.streams.addListener(new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = batches.add(e.progress)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    })

    /** One run: (build, plan, execute) seconds. */
    def run(name: String): (Double, Double, Double) =
      JobStage.named(spark, s"$name: result materialize") {
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        df.write.mode("overwrite").format("noop").save()
        val t3 = System.nanoTime()
        ((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
      }
    def split(r: (Double, Double, Double)): String =
      f"b=${r._1}%5.2f p=${r._2}%5.2f e=${r._3}%5.2f"
    def codegen(): (Long, Long) = (
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

    for (name <- names) {
      val cold =
        try Some(run(name))
        catch { case e: Throwable => println(s"$name warmup: ${e.getMessage}"); None }
      println(s"== $name cold ${cold.fold("failed")(split)}")
      val s0 = ProcStat.stealSec()
      val tAll = System.nanoTime()
      val walls = (1 to reps).map { rep =>
        System.gc()
        val m0 = l.settled(spark)
        l.clear(); batches.clear()
        val (cg0, cgNs0) = codegen()
        val r = run(name)
        val wall = r._1 + r._2 + r._3
        val d = l.settled(spark) - m0
        val (cg1, cgNs1) = codegen()
        mode match {
          case "wall" => println(f"  rep$rep wall $wall%6.2f  ${split(r)}")
          case "tasks" => println(f"  rep$rep wall $wall%6.2f  run ${d.runMs / 1e3}%7.2f " +
            f"cpu ${d.cpuNs / 1e9}%7.2f deser ${d.deserMs / 1e3}%6.2f " +
            f"deserCpu ${d.deserCpuNs / 1e9}%6.2f gc ${d.gcMs / 1e3}%5.2f " +
            f"resSer ${d.resSerMs / 1e3}%5.2f fetch ${d.fetchWaitMs / 1e3}%5.2f " +
            f"shufW ${d.shufWriteNs / 1e9}%5.2f tasks ${d.tasks}%4d stages ${d.stages}%3d " +
            f"cgN ${cg1 - cg0}%3d cgMs ${(cgNs1 - cgNs0) / 1e6}%6.0f")
          case "stages" =>
            println(f"  rep$rep wall $wall%.2f s, ${l.stages.size} stages")
            for ((id, s) <- l.stages.toSeq.sortBy(-_._2.cpuNs))
              println(f"    stage $id%4d tasks ${s.tasks}%3d run ${s.runMs / 1e3}%7.2f " +
                f"cpu ${s.cpuNs / 1e9}%7.2f deser ${s.deserMs / 1e3}%5.2f " +
                f"shufW ${s.shufWriteNs / 1e9}%5.2f gc ${s.gcMs / 1e3}%5.2f " +
                f"recsIn ${s.recsIn}%9d MBin ${s.bytesIn / 1e6}%7.1f recsOut ${s.shufRecsOut}%9d")
          case "jobs" =>
            // A job whose end never arrived would read a huge negative
            // duration; it is listed apart and kept out of the job-sum.
            val (done, unfinished) = l.jobs.toSeq.sortBy(_._1).partition(_._2.end != 0L)
            val sumJobs = done.map { case (_, j) => (j.end - j.start) / 1e3 }.sum
            println(f"  rep$rep wall $wall%.2f s, ${done.size} jobs, job-sum $sumJobs%.2f s " +
              "(gaps = driver/planning/FS)")
            for ((id, j) <- done)
              println(f"    job $id%3d ${(j.end - j.start) / 1e3}%7.3f s  ${j.desc}")
            for ((id, j) <- unfinished)
              println(f"    job $id%3d   UNFINISHED (no JobEnd) — excluded from job-sum  ${j.desc}")
            for (p <- batches.asScala.toSeq.sortBy(_.batchId)) {
              val phases = p.durationMs.asScala.toSeq.sortBy(-_._2.longValue())
                .map { case (k, ms) => s"$k ${ms}ms" }.mkString(", ")
              println(f"    batch ${p.batchId}%2d (${p.numInputRows}%5d rows)  $phases")
            }
        }
        wall
      }
      val s1 = ProcStat.stealSec()
      val stealCores =
        if (s0 < 0 || s1 < 0) Double.NaN else (s1 - s0) / ((System.nanoTime() - tAll) / 1e9)
      if (mode == "wall")
        println(f"$name%-28s ${walls.map(w => f"$w%6.2f").mkString(" ")}  steal_cores $stealCores%.2f")
    }
    spark.stop()
  }
}
