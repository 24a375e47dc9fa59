package graft

/** The one per-query timing path the driver mains share: its failure
  * sentinel and its storage reset, which is also the leak meter. */
class HarnessSpec extends SparkTestBase {

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("timeOnce: a query that throws gives -1 and its message, and its persisted frame is released") {
    var held = -1
    val t = Harness.timeOnce(spark, "[spec] boom") {
      val df = spark.range(2000).toDF("id").persist()
      df.count()
      held = df.rdd.id
      assert(persisted.nonEmpty)
      throw new IllegalStateException("boom at build")
    }
    assert(t.sec == -1.0 && t.runs.isEmpty)
    assert(t.err.contains("IllegalStateException: boom at build"))
    assert(t.leakedBytes > 0, "the reset in finally still ran and measured the frame")
    assert(persisted.isEmpty, s"still persisted: $persisted (query frame $held)")
  }

  test("resetStorage: a query that leaves one frame persisted reports its bytes; the next reset reports 0") {
    Harness.resetStorage(spark)
    val t = Harness.minOfN(spark, "[spec] leak", runs = 2, warmup = true) {
      val df = spark.range(5000).toDF("id").persist()
      df.count()
      df
    }
    assert(t.sec >= 0 && t.runs.size == 2 && t.err.isEmpty)
    assert(t.leakedBytes > 0)
    assert(persisted.isEmpty)
    assert(Harness.resetStorage(spark) == 0L)
  }

  test("minOfN: escalates past its scheduled runs only while the band exceeds the bar") {
    var n = 0
    // run 1 pays a 500 ms sleep on top of the job: the band stays above
    // 1.5 and escalates until maxRuns
    val t = Harness.minOfN(spark, "[spec] band", runs = 2, warmup = false,
      varBar = 1.5, maxRuns = 4) {
      n += 1
      if (n == 1) Thread.sleep(500)
      spark.range(1).toDF("id")
    }
    assert(t.runs.size == 4 && t.sec == t.runs.min)
    val steady = Harness.minOfN(spark, "[spec] steady", runs = 2, warmup = false) {
      spark.range(1).toDF("id")
    }
    assert(steady.runs.size == 2, "no escalation without a bar")
  }
}
