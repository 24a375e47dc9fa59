package graft

/** The one per-query timing path the driver mains share: its failure
  * sentinel and its storage reset, which is also the leak meter. */
class HarnessSpec extends SparkTestBase {

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("timeOnce: a query that throws gives -1 and its message, and its persisted frame is released") {
    var held = -1
    val t = Harness.minOfN(spark, "[spec] boom", runs = 1, warmup = false) {
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
      val side = spark.range(5000).toDF("id").persist()
      side.count()
      spark.range(10).toDF("id")
    }
    assert(t.sec >= 0 && t.runs.size >= 2 && t.runs.size <= Harness.MaxRuns && t.err.isEmpty)
    assert(t.leakedBytes > 0)
    assert(persisted.isEmpty)
    assert(Harness.resetStorage(spark) == 0L)
  }

  test("minOfN: the checkpoint a query returns is released after each run, so it reads 0") {
    Harness.resetStorage(spark)
    val t = Harness.minOfN(spark, "[spec] owned", runs = 2, warmup = true) {
      operators.Checkpoints.scope() { s =>
        s.checkpoint(spark.range(5000).toDF("id"))
      }
    }
    assert(t.sec >= 0 && t.runs.size >= 2 && t.runs.size <= Harness.MaxRuns && t.err.isEmpty)
    assert(t.leakedBytes == 0L, s"the returned frame counted as leaked: ${t.leakedBytes} B")
    assert(persisted.isEmpty)
  }

  test("minOfN: escalates past its scheduled runs only while the band exceeds the bar") {
    var n = 0
    // run 1 pays a 500 ms sleep on top of the job: the band stays above
    // VarBar and escalates until MaxRuns, still unresolved
    val t = Harness.minOfN(spark, "[spec] band", runs = 2, warmup = false) {
      n += 1
      if (n == 1) Thread.sleep(500)
      spark.range(1).toDF("id")
    }
    assert(t.runs.size == Harness.MaxRuns && t.sec == t.runs.min)
    assert(t.band > Harness.VarBar && !t.resolved)
    // a fixed 300 ms sleep per run dwarfs the job's own jitter, so the
    // runs agree within the bar and the scheduled two are all it takes
    val steady = Harness.minOfN(spark, "[spec] steady", runs = 2, warmup = true) {
      Thread.sleep(300)
      spark.range(1).toDF("id")
    }
    assert(steady.runs.size == 2 && steady.resolved, "no escalation while the runs agree")
  }
}
