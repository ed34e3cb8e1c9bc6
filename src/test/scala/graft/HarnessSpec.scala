package graft

/** Unit locks on the measurement harness's own math and the job-description
  * scoping helper — the pieces whose bugs would corrupt EVIDENCE (bench
  * medians, attribution) rather than results. */
class HarnessSpec extends SparkSpec {

  test("spreadOf: max/min of the reps; degenerate inputs read as no-spread") {
    assert(Bench.spreadOf(Seq(1.0, 3.0, 2.0)) == 3.0)
    assert(Bench.spreadOf(Seq(5.0, 30.0, 24.0)) == 6.0) // the r14 q122 shape
    // one rep (deadline-degraded rows) and empty must never flag
    assert(Bench.spreadOf(Seq(4.2)) == 1.0)
    assert(Bench.spreadOf(Seq.empty) == 1.0)
    // a zero/negative wall (clock anomaly, failed rep) must not divide
    assert(Bench.spreadOf(Seq(0.0, 2.0)) == 1.0)
  }

  test("Ledger reads a number the same whether written as int, float or big integer") {
    import graft.tools.Ledger
    val f = java.nio.file.Files.createTempFile("graft_ledger_", ".json")
    try {
      java.nio.file.Files.writeString(f, """{"_meta":{"replicas":64.0},"queries":""" +
        """{"a":1,"b":2.5,"c":12345678901234567890,"d":"x","e":{"ratio":3}}}""")
      val doc = Ledger.read(f.toString).get
      assert(Ledger.num(doc.path("_meta").path("replicas")).contains(64.0))
      assert(Ledger.nums(doc.path("queries")) ==
        Map("a" -> 1.0, "b" -> 2.5, "c" -> BigInt("12345678901234567890").toDouble))
      assert(Ledger.nums(doc.path("queries"), _.path("ratio")) == Map("e" -> 3.0))
      assert(Ledger.nums(doc.path("absent")).isEmpty)
      assert(Ledger.read(f.toString + ".absent").isEmpty)
    } finally java.nio.file.Files.delete(f)
  }

  test("JobStage.named scopes the description: restored after the body, nested stages compose, null restores") {
    val sc = spark.sparkContext
    def current(): String = sc.getLocalProperty("spark.job.description")
    assert(current() == null, "precondition: no description set on this thread")
    JobStage.named(spark, "outer") {
      assert(current() == "outer")
      JobStage.named(spark, "inner") {
        assert(current() == "inner")
      }
      assert(current() == "outer", "nested stage must restore its parent")
    }
    assert(current() == null, "outermost stage must restore the null state")
    // the body's exception must not leak the description either
    intercept[RuntimeException] {
      JobStage.named(spark, "failing") { throw new RuntimeException("boom") }
    }
    assert(current() == null, "a throwing body must still restore")
  }

  test("the octave report parses back equal when base_dir holds a tab, a newline and a quote") {
    import com.fasterxml.jackson.databind.ObjectMapper
    val base = "/data/a\tb\nc\"d\\e"
    val doc = new ObjectMapper().readTree(graft.tools.ScaleProbe.octaveReport(64, 3, base,
      Seq("q\"1" -> (1.0, 8.25), "q2" -> (0.01, 0.5)), Seq(("q\"1", 8.25, 5.0))))
    val meta = doc.path("_meta")
    assert(meta.path("base_dir").asText == base)
    assert(meta.path("replicas").asInt == 64 && meta.path("reps").asInt == 3)
    assert(meta.path("n_queries").asInt == 2 && meta.path("octave_regressions").asInt == 1)
    assert(doc.path("queries").path("q\"1").path("ratio").doubleValue == 8.25)
    // the ratio's denominator is floored at 0.05 s
    assert(doc.path("queries").path("q2").path("ratio").doubleValue == 10.0)
    assert(doc.path("flags").path("q\"1").path("recorded_ratio").doubleValue == 5.0)
  }

  test("Bench's host record carries cores, nproc, memory, Java version and CPU model") {
    val host = Bench.host(spark)
    assert(host.keySet == Set("cores", "nproc", "mem_total_mb", "java_version", "cpu_model"))
    assert(host("cores") == spark.sparkContext.defaultParallelism)
    assert(host("nproc").asInstanceOf[Int] >= 1)
    assert(host("java_version") == System.getProperty("java.version"))
  }

  test("Bench's compact line fits the stdout tail with 208 queries and 8 regressions, and parses") {
    import scala.collection.immutable.ListMap
    def sec(v: Double) = java.math.BigDecimal.valueOf(v).setScale(3, java.math.RoundingMode.HALF_UP)
    val names = SparkEntry.queries.keys.toSeq.sorted
    assert(names.size == 208)
    val slowest = names.zipWithIndex.map { case (k, i) => k -> sec(100.0 - i * 0.37) }
    val flag = ListMap("sec" -> sec(12.345), "baseline_sec" -> sec(1.234),
      "steal_cores" -> sec(0.123), "ext_cores" -> sec(1.234),
      "task_cpu_ratio" -> sec(2.345), "reps_measured" -> 5, "weather_suspect" -> false)
    val worst = names.sortBy(-_.length).take(8).map(_ -> flag)
    val runFields = ListMap("prepare_sec" -> sec(12.5), "prepare_failed" -> false,
      "reps" -> 3, "reps_target" -> 3, "respread_reruns" -> 12,
      "task_cpu_ratio" -> sec(1.9), "steal_cores" -> sec(0.01),
      "regressions_vs_recorded" -> 8, "regressions_pre_requeue" -> 20,
      "requeue_cleared" -> 12, "speedups_vs_recorded" -> 70,
      "speedups_pre_requeue" -> 75, "fast_requeue_cleared" -> 5,
      "median_inflation_vs_recorded" -> sec(1.123), "flags_weather_attributed" -> 3,
      "host" -> Bench.host(spark))
    val tail = ListMap("octave_ledger" -> "OCTAVE_BASELINE.json: 64x replicas, 208 queries recorded",
      "full_map" -> "bench_out.json", "value" -> sec(12345.678))
    val line = Bench.compactLine(ListMap("metric" -> "total", "unit" -> "sec",
      "sf" -> "/data/testdata/sf0.1"), slowest, runFields, worst, tail)
    assert(line.length <= 2000, s"${line.length} chars")
    val doc = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    val queries = doc.path("queries")
    assert(queries.size + doc.path("queries_omitted").asInt == 208)
    assert(doc.path("n_queries").asInt == 208)
    // the slowest ones, in order
    assert(scala.jdk.CollectionConverters.IteratorHasAsScala(queries.fieldNames).asScala.toSeq ==
      slowest.take(queries.size).map(_._1))
    assert(doc.path("value").doubleValue == 12345.678)
    assert(doc.path("host").path("cores").asInt == spark.sparkContext.defaultParallelism)
    // a run with no regressions carries at least the 30 slowest queries
    val quiet = Bench.compactLine(ListMap.empty, slowest, runFields, Nil, tail)
    assert(quiet.length <= 2000 &&
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(quiet).path("queries").size >= 30)
    // nothing is dropped when everything fits
    val small = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      Bench.compactLine(ListMap.empty, slowest.take(3), runFields, worst.take(1), tail))
    assert(small.path("queries").size == 3 && small.path("queries_omitted").asInt == 0 &&
      small.path("worst_regressions").size == 1)
  }
}
