package graft

import org.apache.spark.sql.functions.spark_partition_id

/** `SparkEntry.table`, the scan boundary every registry query reads
  * through. */
class SparkEntrySpec extends SparkTestBase {

  test("table: a one-file table spreads its rows over the session's parallelism") {
    // sf0.1 lineitem is one parquet file in one row group: its scan alone
    // fills one task of four
    val dir = s"${new java.io.File(sfDir).getParent}/sf0.1"
    val par = spark.sparkContext.defaultParallelism
    assert(par == 4)
    val li = SparkEntry.table(spark, dir, "lineitem")
    val filled = li.select(spark_partition_id().as("p")).distinct().count()
    assert(filled >= par, s"rows in $filled of ${li.rdd.getNumPartitions} partitions")
  }
}
