package graft.tools

/** Times graft.sources.Staged.prepare in isolation, with the same session
  * shape Bench uses — the tool behind VERDICT r09's "time each stage of
  * Staged.prepare to find the real hog". Per-stage seconds print to stderr
  * from prepare itself. Usage: runMain graft.tools.PrepareProbe <sfDir>
  */
object PrepareProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.GraftSession.build("prepare-probe",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val t0 = System.nanoTime()
    graft.sources.Staged.prepare(spark, sfDir)
    println(f"prepare(cold): ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val t1 = System.nanoTime()
    graft.sources.Staged.prepare(spark, sfDir)
    println(f"prepare(memoized): ${(System.nanoTime() - t1) / 1e9}%.3f s")
    spark.stop()
  }
}
