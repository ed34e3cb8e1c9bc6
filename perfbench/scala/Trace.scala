package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** Clock shared by spans and Spark listener events: milliseconds since the
  * epoch as a double, so listener timestamps (epoch ms) and span bounds
  * (taken from `nanoTime`) sit on one axis. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Spans around the public calls the benchmark makes. Each span is a map
  * ready for the report: `name`, `t0`, `t1` (epoch ms) plus attributes.
  * Spans are recorded in every run (their cost is two clock reads); the
  * Spark listener below is what only the traced run attaches. */
final class Tracer {
  private val buf = ArrayBuffer.empty[Map[String, Any]]

  def span[T](name: String, attrs: Map[String, Any] = Map.empty)(body: => T): T = {
    val t0 = Clock.nowMs
    try body
    finally record(name, t0, Clock.nowMs, attrs)
  }

  def record(name: String, t0: Double, t1: Double, attrs: Map[String, Any]): Unit =
    synchronized { buf += (attrs ++ Map("name" -> name, "t0" -> t0, "t1" -> t1)) }

  def spans: Seq[Map[String, Any]] = synchronized(buf.toList)
}

/** The benchmark's own Spark listener: one record per job (labelled by
  * `spark.job.description`) and per stage (task counts and summed task
  * metrics). Attached only in the traced run. */
final class JobListener extends SparkListener {
  private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, Map[String, Any]]
  private val stages = scala.collection.mutable.LinkedHashMap.empty[Int, Map[String, Any]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.job.description"))).getOrElse("")
    jobs(e.jobId) = Map("id" -> e.jobId, "t0" -> e.time.toDouble,
      "desc" -> desc, "stages" -> e.stageIds.toList)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j + ("t1" -> e.time.toDouble))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    val m = s.taskMetrics
    val base = Map[String, Any]("id" -> s.stageId, "tasks" -> s.numTasks,
      "t0" -> s.submissionTime.map(_.toDouble).getOrElse(0.0),
      "t1" -> s.completionTime.map(_.toDouble).getOrElse(0.0))
    stages(s.stageId) = if (m == null) base else base ++ Map(
      "run_s" -> m.executorRunTime / 1e3,
      "cpu_s" -> m.executorCpuTime / 1e9,
      "shuffle_read_bytes" -> (m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead),
      "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
      "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  def jobRecords: Seq[Map[String, Any]] = synchronized(jobs.values.toList)
  def stageRecords: Seq[Map[String, Any]] = synchronized(stages.values.toList)
}
