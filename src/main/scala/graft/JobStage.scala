package graft

import org.apache.spark.sql.SparkSession

/** Scoped Spark job description for engine phases ("which stage of this
  * operator is this job?"). `spark.job.description` is a thread-local
  * property stamped onto every job the body submits, so multi-job operators
  * (staged merges, foreachBatch pipelines) become attributable in the Spark
  * UI and in `graft.tools.Profile jobs` — which otherwise prints `?` for every
  * job, because the callSite property is only populated when set explicitly.
  *
  * Restores the previous description on exit (nested stages compose; the
  * streaming engine's own thread keeps whatever it had), and never touches
  * jobs on other threads.
  */
object JobStage {
  def named[T](spark: SparkSession, desc: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body
    finally sc.setJobDescription(prev)
  }
}
