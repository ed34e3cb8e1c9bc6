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
}
