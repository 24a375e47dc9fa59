package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Round-14 operator specs: the components single-evaluation contract
  * on both paths, leak-free fixpoint exits, any-band-null keep rows, the
  * hierarchical-assignment NaN guard, and the lowered edit-blocking cap. */
class Round14OpsSpec extends SparkTestBase {

  import spark.implicits._

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")

  // --------------------------------- nearDupClusters single evaluation

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

  // ------------------------------------ leak-free exits (both paths)

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

  // ----------------------------------- dhashDedupKeep any-band-null rows

  test("dhashDedupKeep: partially-null band rows are kept as singletons, one output row per input") {
    val hs = Seq(
      (1L, Some(1), Some(2), Some(3), Some(4)),
      (2L, Some(1), Some(2), Some(3), Some(4)),
      (5L, Some(1), None, Some(3), Some(4)),   // b0 set, b1 null: the r13 vanishing row
      (6L, None, Some(2), None, None),          // b0 null, b1 set
      (7L, None, None, None, None)
    ).toDF("media_id", "b0", "b1", "b2", "b3")
    val got = Multimodal.dhashDedupKeep(hs, "media_id", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 5L, 6L, 7L),
      "every input id appears exactly once")
    assert(got.map { case (id, rep, _) => id -> rep }.toMap ==
      Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 6L, 7L -> 7L),
      "partial hashes are incomparable: singleton reps")
    assert(got.count(_._3) == 4, "1 kept of {1,2}; 5,6,7 kept as singletons")
  }

  // ------------------------------------ hierarchical assignment NaN guard

  test("CellAssignHier degrades like the flat kernel on zero-norm vectors (no crash)") {
    // centroid 2 and vector 99 are zero-norm: cosine is NaN everywhere
    // they appear. Pre-fix, BOTH paths crashed (the flat kernel's
    // round(NaN·1e6).cast(long) throws CAST_OVERFLOW under Spark 4's
    // default ANSI mode; the hier kernel's BigDecimal.valueOf(NaN) threw
    // NumberFormatException). Now: a NaN sim never wins, an all-NaN row
    // assigns NULL, and identity-grouped hier stays bit-equal to flat on
    // the degenerate rows too.
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 0.0), Seq(0.0, 1.0))
    val vecs = Seq(
      (1L, Seq(1.0f, 0.1f)),
      (99L, Seq(0.0f, 0.0f)), // zero-norm input
      (3L, Seq(0.1f, 1.0f))
    ).toDF("vec_id", "embedding")
    val flat = Similarity.assignClusters(vecs, cents)
      .select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(flat(99L) == -1L, "zero-norm input: NULL cluster, never arbitrary")
    assert(flat(1L) == 1L && flat(3L) == 3L,
      "the zero-norm CENTROID never wins; real centroids assign normally")
    // identity grouping: hier must equal flat BIT-for-bit, degenerate
    // rows included
    val hierId = Similarity.assignClustersHier(vecs, cents, supers = 3)
      .select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(hierId == flat, s"identity-grouped hier $hierId != flat $flat")
    // non-identity grouping must also complete without crashing and
    // co-assign the well-formed vectors sensibly
    val hier2 = Similarity.assignClustersHier(vecs, cents, supers = 2)
      .select("vec_id", "cluster").collect()
    assert(hier2.length == 3)
    // semanticDedup through the hier path on the same degenerate corpus
    val kept = Similarity.semanticDedup(
      vecs.withColumn("embedding", transform(col("embedding"), x => x.cast("float"))),
      cents, thresholdMicro = 999999L, superCells = 2)
    assert(kept.count() == 3, "nothing above threshold: all rows kept")
  }

  // --------------------------------- editDistancePairs lowered default cap

  test("editDistancePairs: broadcast oversized-key tagging == decision-map shuffle join") {
    // an engaging corpus: 20 docs share the ("dup" | band) level-0 block
    // (cap 4 ⇒ oversized), differing second tokens split them at level 1;
    // plus near-identical pairs that must survive either tagging path
    // all texts sit mid-band (~86-90 chars, band 1 of lenBand 64) so the
    // length band never splits an intended pair
    val filler = (1 to 20).map(i => (100L + i, s"dup w$i " + ("pad " * 20).trim))
    val d = (Seq(
      (1L, "dup aa " + ("pad " * 20).trim),
      (2L, "dup aa " + ("pad " * 20).trim + " x"),
      (3L, "uniq one " + ("pad " * 20).trim),
      (4L, "uniq one " + ("pad " * 20).trim + " y")
    ) ++ filler).toDF("doc_id", "text")
    def run(budget: Int) = Dedup.editDistancePairs(
        d, "doc_id", col("text"), minSim = 0.8, maxBlockSize = 4, maxWiden = 2,
        broadcastKeyBudget = budget)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaBroadcast = run(Dedup.OversizedKeyBroadcastBudget)
    val viaShuffle = run(0) // budget 0 forces the decision-map fallback
    assert(viaBroadcast == viaShuffle,
      s"tagging strategies must agree: bcast=$viaBroadcast shuffle=$viaShuffle")
    assert(viaBroadcast.contains((1L, 2L)) && viaBroadcast.contains((3L, 4L)),
      "near-dup pairs survive both inside and outside the widened block")
    // the broadcast path must NOT move the corpus through an extra
    // exchange: its only shuffle is the blocking repartition both paths
    // share, so it carries strictly fewer exchanges than the fallback
    def exchanges(budget: Int): Int = {
      val df = Dedup.editDistancePairs(
        d, "doc_id", col("text"), minSim = 0.8, maxBlockSize = 4, maxWiden = 2,
        broadcastKeyBudget = budget)
      df.queryExecution.executedPlan.toString
        .linesIterator.count(_.contains("Exchange hashpartitioning"))
    }
    assert(exchanges(Dedup.OversizedKeyBroadcastBudget) < exchanges(0),
      "broadcast tagging must shed the decision-map's corpus exchange")
  }

  test("editDistancePairs: the round-14 default cap (16) never engages at the gate SF") {
    // sf0.001/sf0.01 max level-0 block is 7 — the tuned DEFAULT must
    // equal exact fixed blocking wherever the driver hashes results.
    // (At sf0.1, where blocks reach 40, tuning engages and the widened
    // pair set is still measured identical — 235 pairs either way — and
    // the widen-aware dedup_edit oracle replays the CASE exactly.)
    val tunedDefault = Dedup.editDistancePairs(
        docs, "doc_id", col("text"), minSim = 0.8)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.editDistancePairs(
        docs, "doc_id", col("text"), minSim = 0.8, maxBlockSize = 0)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tunedDefault == exact,
      "no gate-SF block exceeds 16: tuned default ≡ exact fixed blocking")
  }
}
