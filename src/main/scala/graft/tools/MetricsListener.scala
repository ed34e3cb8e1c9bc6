package graft.tools

import scala.collection.concurrent.TrieMap

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** The one task/stage/job listener behind every profiler: Bench's per-query
  * executor attribution and each mode of [[Profile]]. It keeps running
  * totals (snapshot before and after a window, subtract), per-stage sums
  * and per-job spans labelled by their description ([[graft.JobStage]]).
  * Delivery is asynchronous: call [[settled]] after an action before
  * reading, so every event the action posted has landed. */
final class MetricsListener extends SparkListener {
  import MetricsListener._

  @volatile private var total = Sums()
  val stages = TrieMap.empty[Int, Sums]
  val jobs = TrieMap.empty[Int, Job]

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) {
      val s = Sums.of(m)
      synchronized { total = total + s }
      stages.put(t.stageId, stages.getOrElse(t.stageId, Sums()) + s)
    }
  }
  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    synchronized { total = total.copy(stages = total.stages + 1) }
  override def onJobStart(j: SparkListenerJobStart): Unit =
    jobs.put(j.jobId, Job(j.time, Option(j.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))
        .orElse(Option(p.getProperty("callSite.short"))))
      .getOrElse("?")))
  override def onJobEnd(j: SparkListenerJobEnd): Unit =
    jobs.get(j.jobId).foreach(job => jobs.put(j.jobId, job.copy(end = j.time)))

  /** Running totals once the listener bus has delivered everything queued. */
  def settled(spark: SparkSession): Sums = {
    try org.apache.spark.sql.graftshim.drainListenerBus(spark)
    catch { case e: java.util.concurrent.TimeoutException =>
      System.err.println(s"[metrics] listener bus not drained: ${e.getMessage}") }
    total
  }

  /** Forget per-stage and per-job records (totals keep running). */
  def clear(): Unit = { stages.clear(); jobs.clear() }
}

object MetricsListener {
  /** Summed task metrics; `*Ms` fields are milliseconds, `*Ns` nanoseconds.
    * `stages` counts completed stages (totals only). */
  final case class Sums(runMs: Long = 0, cpuNs: Long = 0, deserMs: Long = 0,
                        deserCpuNs: Long = 0, gcMs: Long = 0, resSerMs: Long = 0,
                        fetchWaitMs: Long = 0, shufWriteNs: Long = 0,
                        recsIn: Long = 0, bytesIn: Long = 0, shufRecsOut: Long = 0,
                        tasks: Long = 0, stages: Long = 0) {
    private def zip(o: Sums, f: (Long, Long) => Long): Sums = Sums(
      f(runMs, o.runMs), f(cpuNs, o.cpuNs), f(deserMs, o.deserMs),
      f(deserCpuNs, o.deserCpuNs), f(gcMs, o.gcMs), f(resSerMs, o.resSerMs),
      f(fetchWaitMs, o.fetchWaitMs), f(shufWriteNs, o.shufWriteNs),
      f(recsIn, o.recsIn), f(bytesIn, o.bytesIn), f(shufRecsOut, o.shufRecsOut),
      f(tasks, o.tasks), f(stages, o.stages))
    def +(o: Sums): Sums = zip(o, _ + _)
    def -(o: Sums): Sums = zip(o, _ - _)
  }

  object Sums {
    def of(m: TaskMetrics): Sums = Sums(
      m.executorRunTime, m.executorCpuTime, m.executorDeserializeTime,
      m.executorDeserializeCpuTime, m.jvmGCTime, m.resultSerializationTime,
      m.shuffleReadMetrics.fetchWaitTime, m.shuffleWriteMetrics.writeTime,
      m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead,
      m.inputMetrics.bytesRead + m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.recordsWritten, tasks = 1)
  }

  /** One job: submit/end times (epoch ms; `end` 0 until it finishes) and
    * its description — the engine-stamped phase, else the call site. */
  final case class Job(start: Long, desc: String, end: Long = 0L)
}
