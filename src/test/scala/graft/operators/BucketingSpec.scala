package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Scale posture evidence: bucketed tables co-locate join keys so the
  * fact-fact join plans with ZERO exchanges — the pattern that turns the
  * repeated lineitem⋈orders shuffle into a one-time layout cost at 100 TB. */
class BucketingSpec extends SparkTestBase {

  test("join of two bucketed tables plans without a shuffle") {
    val wh = "/tmp/graft_warehouse" // set at session build (static conf)
    spark.sql("DROP TABLE IF EXISTS li_b")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$wh/li_b"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$wh/ord_b"))
    spark.sql("DROP TABLE IF EXISTS ord_b")

    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .write.bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/li_b").saveAsTable("li_b")
    spark.read.parquet(s"$sfDir/orders.parquet")
      .write.bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/ord_b").saveAsTable("ord_b")

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ so bucketing is what avoids the shuffle
    val joined = spark.table("li_b")
      .join(spark.table("ord_b"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus")).count()

    val plan = joined.queryExecution.executedPlan.toString
    // the join itself must not shuffle either side (only the final
    // aggregation exchanges, on the already-joined rows)
    val joinSection = plan.substring(0, plan.length)
    val exchangesBeforeJoin = "(?s)SortMergeJoin.*".r.findFirstIn(joinSection)
      .map(s => "Exchange".r.findAllIn(s).length).getOrElse(-1)
    assert(exchangesBeforeJoin == 0,
      s"expected bucket-co-located join without exchanges below the join:\n$plan")

    // and the result is still correct
    val n = joined.agg(sum("count")).head().getLong(0)
    assert(n == spark.read.parquet(s"$sfDir/lineitem.parquet").count())

    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
  }

  test("salted exact dedup: hot key spreads over a salted exchange, same result") {
    import spark.implicits._
    // synthetic skew: 90% of rows share ONE key (the null-heavy content
    // hash case); the rest are unique keys
    val hot = spark.range(0, 45000).select(
      lit("HOT").as("k"), col("id").as("tiebreak"))
    val cold = spark.range(45000, 50000).select(
      concat(lit("k"), col("id")).as("k"), col("id").as("tiebreak"))
    val df = hot.unionByName(cold)

    val salted = Dedup.exactDedupSalted(df, Seq(col("k")), col("tiebreak"), salts = 16)
    val plan = salted.queryExecution.executedPlan.toString
    // stage-1 exchange must partition on (xxhash64(k), __salt) — the salted
    // spread over the 8-byte content hash, never the raw key. The window
    // planner projects the hash into an aliased _wN column first, so the
    // exchange key reads hashpartitioning(_wN, __salt) with the xxhash64
    // visible in the Project below it.
    assert("xxhash64\\(k#".r.findFirstIn(plan).isDefined,
      s"expected an xxhash64(k) partition key projection in:\n$plan")
    assert("hashpartitioning\\(_w[0-9]+#[0-9]+L, __salt".r.findFirstIn(plan).isDefined,
      s"expected a salted (xxhash64(k), __salt) exchange in:\n$plan")
    assert(!"hashpartitioning\\(k[#0-9]*[,)]".r.findFirstIn(plan).isDefined,
      s"raw key must never be an exchange key:\n$plan")
    val plain = Dedup.exactDedup(df, Seq(col("k")), col("tiebreak"))
    val a = salted.select("k", "tiebreak").as[(String, Long)].collect().toSet
    val b = plain.select("k", "tiebreak").as[(String, Long)].collect().toSet
    assert(a == b, s"salted dedup diverged: ${(a -- b) ++ (b -- a)}")
    assert(a.size == 5001) // HOT winner + 5000 unique keys
  }

  test("rel_bucketed_join: snapshot⋈fact joins with zero exchange below the join") {
    // the oracle query itself (README goals 6-7 storage mapping): the
    // bucketed-snapshot read-back must join co-bucketed — any Exchange
    // below the SortMergeJoin means the layout cost bought nothing
    val df = graft.SparkEntry.queries("rel_bucketed_join").run(spark, sfDir)
    df.collect() // materialize through AQE so the final plan is real
    // scope to the AQE final plan: the appended "== Initial Plan ==" dump
    // repeats the tree and would double-count the post-join agg exchange
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val below = "(?s)SortMergeJoin.*".r.findFirstIn(plan)
      .map(s => "Exchange hashpartitioning".r.findAllIn(s).length).getOrElse(-1)
    assert(below == 0,
      s"expected a co-bucketed shuffle-free join below SortMergeJoin in:\n$plan")
  }

  test("rel_partition_prune: the filter lands in PartitionFilters, not a data filter") {
    val df = graft.SparkEntry.queries("rel_partition_prune").run(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the event_type predicate must prune DIRECTORIES: it appears in
    // PartitionFilters on the scan and nowhere as a row-level Filter —
    // a row filter would mean every partition was read and then dropped
    assert("PartitionFilters: \\[[^\\]]*event_type".r.findFirstIn(plan).isDefined,
      s"event_type filter must be a partition filter in:\n$plan")
    assert(!"\\bFilter .*event_type".r.findFirstIn(plan).isDefined,
      s"event_type must not survive as a row filter in:\n$plan")
  }
}
