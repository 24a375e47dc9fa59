package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Round-15 regression fence for the round-14 serialized-checkpoint
  * finding: result CONTENT must be invariant to checkpoint storage level
  * and to the magnitude of the truthful-stats rebase.
  *
  * Root cause (see Checkpoints.scala): Spark 4.1.2's
  * `spark.sql.unionOutputPartitioning=true` default lets a UnionExec
  * claim its children's hash partitioning; under AQE the claim elides a
  * required downstream exchange while execution builds a FLAT UnionRDD,
  * splitting hash groups across tasks. Small truthful stats (what SER
  * storage reports) flip a join to broadcast and expose the shape. The
  * graft sessions fence the flag off; this spec (a) asserts the fence is
  * present, and (b) sweeps the bisect matrix the round-14 investigation
  * used — {MEMORY_AND_DISK, MEMORY_AND_DISK_SER, SER×100-stats, SER
  * raw-leaf} — over the operator that originally miscomputed plus the
  * checkpoint-rotating fixpoints, asserting identical results. If a
  * Spark upgrade reintroduces a stats-sensitive plan defect, this is the
  * spec that goes red. */
class StatsInvarianceSpec extends SparkTestBase {
  import spark.implicits._

  private def withHooks[A](level: StorageLevel, scale: Long,
                           raw: Boolean)(body: => A): A = {
    val (s0, sc0, r0) = (Checkpoints.storage, Checkpoints.statsScale, Checkpoints.rawLeaf)
    Checkpoints.storage = level
    Checkpoints.statsScale = scale
    Checkpoints.rawLeaf = raw
    try body finally {
      Checkpoints.storage = s0; Checkpoints.statsScale = sc0; Checkpoints.rawLeaf = r0
    }
  }

  private val matrix: Seq[(String, StorageLevel, Long, Boolean)] = Seq(
    ("deser", StorageLevel.MEMORY_AND_DISK, 1L, false),
    ("ser(shipped)", StorageLevel.MEMORY_AND_DISK_SER, 1L, false),
    ("ser-x100stats", StorageLevel.MEMORY_AND_DISK_SER, 100L, false),
    ("ser-rawleaf", StorageLevel.MEMORY_AND_DISK_SER, 1L, true))

  private def sweep(name: String)(build: => DataFrame): Unit = {
    val results = matrix.map { case (tag, level, scale, raw) =>
      val rows = withHooks(level, scale, raw) {
        val df = build
        val out = df.collect().map(_.toSeq.mkString("")).sorted.toSeq
        Checkpoints.release(df)
        out
      }
      tag -> rows
    }
    val (baseTag, base) = results.head
    results.tail.foreach { case (tag, rows) =>
      assert(rows == base,
        s"$name: $tag diverged from $baseTag — result content varied with " +
          s"checkpoint storage/stats (${rows.size} vs ${base.size} rows)")
    }
    assert(base.nonEmpty, s"$name: empty baseline result")
  }

  test("graft sessions fence spark.sql.unionOutputPartitioning off") {
    assert(spark.conf.get("spark.sql.unionOutputPartitioning") == "false",
      "the Spark 4.1 union claim/execution mismatch fence is missing")
  }

  test("mmrSelect(IvfPq) is storage-level and stats invariant (the r14 miscompute)") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qs = emb.filter(col("vec_id") < 3)
    sweep("mmrSelect-ivfpq") {
      Similarity.mmrSelect(emb, qs, k = 3, cands = 8,
        candidates = Similarity.MmrCandidates.IvfPq())
    }
  }

  test("pageRank is storage-level and stats invariant") {
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 1L), (5L, 1L)
    ).toDF("src", "dst")
    sweep("pageRank") { Graph.pageRank(edges, iterations = 4) }
  }

  test("nearDupClusters is storage-level and stats invariant") {
    val ids = (1L to 50L).toDF("id")
    val pairs = ((1L to 20L).map(i => (i, i + 1)) ++ Seq((40L, 45L))).toDF("id_a", "id_b")
    sweep("nearDupClusters") { Dedup.nearDupClusters(ids, "id", pairs, localLimit = 0) }
  }
}
