package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Connected components over near-dup pairs ([[Dedup.nearDupClusters]]):
  * the pairs pipeline is evaluated once on the driver-local path and on
  * the overflow-to-fixpoint fallback, every working checkpoint is
  * released on the non-convergence throw as on the success paths, the
  * driver-local union-find lands the fixpoint's labels, and the `jumps`
  * parameter changes the fixpoint's round count, never its labels. */
class ComponentsSpec extends SparkTestBase {

  import spark.implicits._

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")

  test("nearDupClusters evaluates the pairs pipeline ONCE on the overflow→fallback path") {
    // 60 ids, complete graph: 1770 edges > localLimit=100 ≥ n=60, so the
    // probe collects, overflows, and falls back — the r13 shape where an
    // un-materialized pairs frame would re-run its pipeline twice
    val n = 60
    val acc = spark.sparkContext.longAccumulator("pairEvals")
    val bump = udf((x: Long) => { acc.add(1L); x })
    val rawPairs = (1L to n).flatMap(i => (i + 1 to n).map(j => (i, j)))
      .toDF("id_a", "id_b")
    val pairs = rawPairs.select(bump(col("id_a")).as("id_a"), col("id_b"))
    val ids = (1L to n).toDF("id")
    val labels = Dedup.nearDupClusters(ids, "id", pairs, localLimit = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(labels.forall(_._2 == 1L), "complete graph: one min-id cluster")
    assert(labels.map(_._1).toSeq == (1L to n).toSeq)
    // Accumulators double-count on task retries/speculative execution
    // (round-15 ADVICE), so exact equality can flake on a loaded host. A
    // SECOND evaluation of the whole pipeline lands at exactly 2×; a
    // rare retry re-adds one task's partition (≪ edgeCount here). The
    // strict < 2× upper bound catches the regression this test exists
    // for while tolerating retries.
    val edgeCount = n.toLong * (n - 1) / 2
    assert(acc.value >= edgeCount && acc.value < 2 * edgeCount,
      s"pairs must evaluate exactly once (checkpoint materialization): " +
        s"expected ~$edgeCount bump calls (retries tolerated, 2x = " +
        s"re-evaluation), saw ${acc.value}")
  }

  test("nearDupClusters evaluates the pairs pipeline ONCE on the local path too") {
    val acc = spark.sparkContext.longAccumulator("pairEvalsLocal")
    val bump = udf((x: Long) => { acc.add(1L); x })
    val rawPairs = (1L until 20L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val pairs = rawPairs.select(bump(col("id_a")).as("id_a"), col("id_b"))
    val ids = (1L to 20L).toDF("id")
    val labels = Dedup.nearDupClusters(ids, "id", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(labels.forall(_._2 == 1L))
    // same retry-tolerant bound as above: 2x = the re-evaluation this
    // test guards against; a retry re-adds at most one small partition
    assert(acc.value >= 19L && acc.value < 38L,
      s"expected ~19 bump calls (2x = re-evaluation), saw ${acc.value}")
  }

  test("nearDupClusters releases every working checkpoint on the non-convergence throw") {
    // a 40-chain with maxIters=2 cannot converge (diameter ≫ 2^2·jumps)
    val ids = (1L to 40L).toDF("id")
    val pairs = (1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    def persisted(): Set[Int] = spark.sparkContext.getPersistentRDDs
      .filter(_._2.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)
      .keySet.toSet
    val before = persisted()
    intercept[IllegalStateException] {
      Dedup.nearDupClusters(ids, "id", pairs, maxIters = 2, localLimit = 0)
    }
    assert((persisted() -- before).isEmpty,
      "edges/singletons/labels checkpoints must release on the throw path")
    // success paths (fixpoint, driver-local) still release everything
    // except the returned frame
    for (limit <- Seq(0, 1000)) {
      val out = Dedup.nearDupClusters(ids, "id", pairs, maxIters = 10, jumps = 2,
        localLimit = limit)
      assert(out.collect().forall(_.getLong(1) == 1L))
      assert((persisted() -- before).size <= 1,
        s"only the returned result frame may stay persisted (localLimit=$limit)")
      Checkpoints.release(out)
      assert((persisted() -- before).isEmpty)
    }
  }

  test("nearDupClusters: driver-local union-find == distributed fixpoint, fallback intact") {
    // real pair surface: minhash near-dups over the corpus
    val d = docs
    val pairs = Dedup.minhashNearDups(d, "doc_id", col("text"), 3, 0.8)
      .select(col("id_a"), col("id_b"))
    val ids = d.select(col("doc_id"))
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // localLimit=0 forces the distributed fixpoint
    val dist = labels(Dedup.nearDupClusters(ids, "doc_id", pairs, localLimit = 0))
    val local = labels(Dedup.nearDupClusters(ids, "doc_id", pairs))
    assert(local == dist, "driver-local union-find must reproduce the fixpoint labels")
    // a nonzero budget the edge set overflows falls back to the fixpoint
    assert(pairs.count() > 1)
    val fb = labels(Dedup.nearDupClusters(ids, "doc_id", pairs, localLimit = 1))
    assert(fb == dist)
    // deep chain (diameter 300 — past the default 2^10-safe regime is
    // exercised in dhashDedupKeep; here the point is exact equality on a
    // long path, the fixpoint's worst shape)
    val chainIds = (1L to 300L).toDF("id")
    val chainPairs = (1L until 300L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val lc = labels(Dedup.nearDupClusters(chainIds, "id", chainPairs))
    assert(lc.forall(_._2 == 1L), "one chain, one min-id cluster")
    val lf = labels(Dedup.nearDupClusters(chainIds, "id", chainPairs,
      maxIters = 40, jumps = 2, localLimit = 0))
    assert(lf == lc, "the fixpoint must land the driver-local labels on the chain")
  }

  test("nearDupClusters: jumps parameter changes round count, never labels") {
    // 30-node ring with shuffled ids — the adversarial layout where label
    // distance crawls; multi-jump must land the identical labeling
    val ids = (0L until 30L).toDF("id")
    val ring = (0L until 30L).map(i => (i, (i + 1) % 30))
      .map { case (a, b) => (math.min(a * 7 % 30, b * 7 % 30), math.max(a * 7 % 30, b * 7 % 30)) }
      .toDF("id_a", "id_b")
    val one = Dedup.nearDupClusters(ids, "id", ring, maxIters = 40, jumps = 1, localLimit = 0)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    val three = Dedup.nearDupClusters(ids, "id", ring, maxIters = 15, jumps = 3, localLimit = 0)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(one == three)
    // and the driver-local path lands the same labels
    val local = Dedup.nearDupClusters(ids, "id", ring)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(local == one)
    assert(one.forall(_._2 == 0L)) // one ring → everyone labels to min id 0
  }
}
