package graft.operators

import graft.SparkTestBase
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Building an operator's frame must not execute the caller's plan:
  * a derived input's upstream shuffles would run once at construction
  * and again at the action (sizing a repartition from
  * `docs.rdd.getNumPartitions` finalizes the input's AQE plan). */
class FrameConstructionSpec extends SparkTestBase {

  private def jobsWhile(build: => DataFrame): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      build
      org.apache.spark.TestListenerBus.drain(sc)
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  // a grouped input: its plan holds a shuffle a premature finalization runs
  private def grouped = spark.read.parquet(s"$sfDir/documents.parquet")
    .groupBy(col("doc_id")).agg(max(col("text")).as("text"))

  test("dupNgramStats and selfRepeatRuns build their frames without running a job") {
    val docs = grouped
    assert(jobsWhile(TextAnalysis.dupNgramStats(docs, "doc_id", col("text"))) == 0)
    assert(jobsWhile(Dedup.selfRepeatRuns(docs, "doc_id", col("text"), k = 10, minRunLen = 20)) == 0)
  }

  test("scanPartitions: floored by parallelism; a join's product estimate is capped by the bytes read") {
    val parallelism = spark.sparkContext.defaultParallelism
    assert(TextAnalysis.scanPartitions(grouped) == parallelism)
    // a self cross join estimates the PRODUCT of its sides; the bytes it
    // reads bound the count instead
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    assert(TextAnalysis.scanPartitions(docs.crossJoin(docs)) == parallelism)
  }
}
