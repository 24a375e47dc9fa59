package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.Join

/** The banded-blocking valve ([[Blocking.valve]]) through each near-dup
  * operator that uses it: MinHash LSH (unbounded key: semi-join),
  * SimHash block pairs and fixed-width SRP (bounded keys: a driver
  * probe, then a NOT-IN only when engaged), derived-width SRP
  * (semi-join) and dHash bands (probe); and the edit-blocking tuner's
  * engagement floor (re-keying must not engage when the verify work it
  * saves is cheaper than the O(n) re-key machinery). Plan assertions
  * collect typed nodes from the optimized LOGICAL plan, not
  * executed-plan substrings. */
class BlockingSpec extends SparkTestBase {

  import spark.implicits._

  private def leftSemiCount(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case j: Join if j.joinType == LeftSemi => j
    }.size

  private def hotFilterCount(df: DataFrame): Int = {
    import org.apache.spark.sql.catalyst.expressions.{In, InSet, Not}
    df.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
        if f.condition.exists {
          case Not(_: In) | Not(_: InSet) => true
          case _ => false
        } => f
    }.size
  }

  test("valve: a declared key space above HotKeyBudget compiles to the semi-join") {
    // ids 0..39 fill buckets 7 and 8, each over the cap; 40..59 are
    // singletons
    val buckets = spark.range(60).select(col("id"),
      when(col("id") < 40, lit(7L) + col("id") % 2).otherwise(col("id")).as("k"))
    val probed = Blocking.valve(buckets, "k", Blocking.HotKeyBudget, 16)
    val joined = Blocking.valve(buckets, "k", Blocking.HotKeyBudget + 1, 16)
    assert(leftSemiCount(probed) == 0 && hotFilterCount(probed) == 1,
      "a space within the budget probes, then filters the hot keys")
    assert(leftSemiCount(joined) == 1 && hotFilterCount(joined) == 0,
      "a space above the budget keeps the valve on the executors")
    def ids(df: DataFrame) = df.select("id").as[Long].collect().toSet
    assert(ids(probed) == (40L until 60L).toSet && ids(joined) == ids(probed),
      "both paths drop exactly the buckets over the cap")
  }

  // ------------------------------------------------ MinHash LSH (semi-join)

  test("LSH bucket cap drops mega-buckets, keeps genuine near-dup recall") {
    // 40 byte-identical docs (a mega-cluster colliding in EVERY band) +
    // one genuine near-dup pair with a one-word edit
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    // the near pair must be textually UNRELATED to the mega-cluster —
    // otherwise its signatures inherit the mega-buckets and the cap
    // rightly drops them too (that is the documented exact-dedup-first
    // contract, not a recall bug)
    val other = "red orange yellow green blue indigo violet cyan magenta white " * 3
    val rows = (1L to 40L).map(i => (i, base)) ++
      Seq((100L, other + "one two three four"), (101L, other + "one two three five"))
    val docs = rows.toDF("doc_id", "text")
    val capped = Dedup.minhashNearDups(docs, "doc_id", col("text"), 3, 0.8, maxBucketSize = 10)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the identical mega-cluster is gone (that is exactDedup's job —
    // documented pipeline order), the genuine near pair survives because
    // its buckets are small
    assert(capped.contains((100L, 101L)), s"near pair lost: $capped")
    assert(!capped.exists(p => p._1 <= 40 && p._2 <= 40),
      s"mega-bucket pairs should be capped away: $capped")
    // cap off: behavior unchanged, all pairs present
    val uncapped = Dedup.minhashNearDups(docs, "doc_id", col("text"), 3, 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.contains((1L, 2L)) && uncapped.contains((100L, 101L)))
  }

  // ------------------------------------------------- dHash bands (probe)

  test("dhashNearDups maxBucketSize: capped pairs are a subset; only capped-band pairs drop") {
    // band 0 is degenerate (all six hashes share b0=100 → bucket size 6,
    // over cap 4). Pair (1,2) also agrees on bands 1 and 3 → survives;
    // (5,6) also agrees on band 3 → survives; (3,4) agrees ONLY on the
    // capped band 0 (hamming 3 spread across bands 1,2,3) → the
    // documented drop.
    val hs = Seq(
      (1L, 100, 7, 1, 1), (2L, 100, 7, 2, 1),        // hamming 2 (1^2 = 2 bits)
      (3L, 100, 20, 30, 40), (4L, 100, 21, 31, 41),  // hamming 3, one bit per band 1..3
      (5L, 100, 50, 60, 70), (6L, 100, 51, 61, 70)   // hamming 2
    ).toDF("media_id", "b0", "b1", "b2", "b3")
    val uncapped = Multimodal.dhashNearDups(hs, "media_id", maxDist = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Multimodal.dhashNearDups(hs, "media_id", maxDist = 3, maxBucketSize = 4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped == Set((1L, 2L), (3L, 4L), (5L, 6L)), s"fixture sanity: $uncapped")
    assert(capped.subsetOf(uncapped), "capping must never invent a pair")
    assert(capped == Set((1L, 2L), (5L, 6L)),
      "cap keeps exactly the pairs that agree on an uncapped band")
  }

  // --------------------------------------------- SimHash block pairs (probe)

  private def simhashPairs(df: DataFrame,
                           cap: Int): Set[(Long, Long)] =
    Dedup.simhashNearDups(df, "doc_id", col("text"), n = 3, threshold = 0.8,
        maxBucketSize = cap)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("simhash valve: saturated buckets drop, small buckets survive") {
    // 40 byte-identical docs share EVERY block-pair bucket (the
    // boilerplate mega-cluster the valve exists for — and the reason the
    // documented pipeline order runs exactDedup first); one genuine
    // near-dup pair lives in size-2 buckets and must survive the cap
    val mega = (0L until 40L).map(i =>
      (i, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
    val near = Seq(
      (100L, "one two three four five six seven eight nine ten eleven twelve"),
      (101L, "one two three four five six seven eight nine ten eleven swap"))
    val d = spark.createDataFrame(mega ++ near).toDF("doc_id", "text")
    val uncapped = simhashPairs(d, 0)
    val capped = simhashPairs(d, 16)
    assert(uncapped.contains((100L, 101L)) && uncapped.exists(_._2 < 40L),
      "uncapped finds both the near pair and the mega-cluster pairs")
    assert(capped.contains((100L, 101L)),
      "pairs in small buckets must survive the valve")
    assert(!capped.exists(_._2 < 40L),
      "every bucket of the 40-identical cluster is saturated and dropped")
  }

  // Since round 18 simhashNearDups returns a CHECKPOINTED pair frame (its
  // (id, simhash) sketch is materialized once and released before return),
  // so the public method's plan is one ExistingRDD leaf. The plan-shape
  // assertions target the lazy plan-builder simhashPairsPlan — the exact
  // pipeline the public method materializes — fed a raw (uncheckpointed)
  // sketch projection so the full lineage is visible.
  private def simhashPlan(d: DataFrame, cap: Int) = {
    val shingled = d.select(col("doc_id"), Dedup.wordShingles(col("text"), 3).as("sh"))
    val sketch = shingled.select(col("doc_id"), Dedup.simhash64(col("sh")).as("simhash"))
    Dedup.simhashPairsPlan(sketch, shingled, "doc_id", 0.8, cap)
  }

  test("simhash valve: no-op cap compiles to the exact uncapped plan") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(50)
    assert(hotFilterCount(simhashPlan(docs, 0)) == 0,
      "cap 0 must not add a hot-bucket filter")
    // 50 distinct docs, cap 256: no block-pair bucket can be saturated,
    // so the probe finds an empty hot set and the plan is unchanged
    assert(hotFilterCount(simhashPlan(docs, 256)) == 0,
      "a no-op cap must run the uncapped plan (probe only, no filter)")
    assert(simhashPlan(docs, 256).queryExecution.optimizedPlan.sameResult(
             simhashPlan(docs, 0).queryExecution.optimizedPlan),
      "no-op capped plan must be result-identical to the uncapped plan")
  }

  test("simhash valve: an engaged cap prunes via NOT-IN on the bucket key") {
    val mega = (0L until 40L).map(i =>
      (i, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
    val d = spark.createDataFrame(mega).toDF("doc_id", "text")
    // both the a-side and b-side of the self-join carry the pushed filter
    assert(hotFilterCount(simhashPlan(d, 16)) >= 1,
      "an engaged cap must filter hot buckets out of the explode")
  }

  // -------------------------- SRP tables (fixed: probe; derived: semi-join)

  // planesPerTable = 8 pinned throughout: this suite documents the
  // FIXED-width valve semantics; the API default flipped to the derived
  // width in round 17 (Round17OpsSpec covers the default caller)
  private def pairsOf(df: DataFrame, cap: Int): Set[(Long, Long)] =
    Similarity.nearDupPairsLSH(df, threshold = 0.9, dim = 64,
        planesPerTable = 8, maxBucketSize = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def doubled(base: DataFrame): DataFrame =
    base.unionByName(base.withColumn("vec_id", col("vec_id") + lit(1000000)))

  test("lsh pair valve: no-op at the gate corpus, with occupancy headroom") {
    val corpus = doubled(
      spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select("vec_id", "embedding"))
    assert(pairsOf(corpus, 256) == pairsOf(corpus, 0),
      "cap 256 must not change the pair set on the gate corpus")
    // pin the headroom the dedup_embedding_lsh_capped oracle comment
    // claims: the largest (table, bucket) occupancy sits at ≤ cap/4
    val largest = Similarity.srpBucketCounts(corpus, dim = 64, planesPerTable = 8)
      .agg(max("count")).head().getLong(0)
    assert(largest <= 64, s"gate-corpus occupancy crept toward the cap: $largest")
  }

  test("lsh pair valve: saturated buckets drop, small buckets survive") {
    // 40 byte-identical vectors share EVERY table's bucket (the
    // exact-duplicate mega-cluster the documented exact-then-near
    // pipeline order removes first); one byte-identical PAIR lives in
    // size-2 buckets and must survive the cap. Identical vectors make
    // both determinate at any hyperplane draw: equal vectors always
    // share every bucket, so membership is not probe-luck.
    val u = Array.tabulate(64)(i => math.sin(i + 1).toFloat)
    val v = Array.tabulate(64)(i => math.cos(2 * i + 1).toFloat)
    val mega = (0L until 40L).map(i => (i, u))
    val pair = Seq((100L, v), (101L, v))
    val d = (mega ++ pair).toDF("vec_id", "embedding")
    val uncapped = pairsOf(d, 0)
    val capped = pairsOf(d, 16)
    assert(uncapped.contains((100L, 101L)) && uncapped.exists(_._2 < 40L),
      "uncapped finds both the small pair and the mega-cluster pairs")
    assert(capped.contains((100L, 101L)),
      "pairs in small buckets must survive the valve")
    assert(!capped.exists(_._2 < 40L),
      "every bucket of the 40-identical cluster is saturated and dropped")
  }

  test("lsh pair valve plan shape: fixed width probe-gates, derived width semi-joins") {
    val corpus = doubled(
      spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select("vec_id", "embedding").limit(50))
    def q(cap: Int, planesPerTable: Int = 8) = Similarity.nearDupPairsLSH(
      corpus, threshold = 0.9, dim = 64, planesPerTable = planesPerTable,
      maxBucketSize = cap)
    assert(leftSemiCount(q(0)) == 0,
      "cap 0 must not pay the bucket-count semi join")
    // fixed width = bounded (table, bucket) space ⇒ the over-limit set is
    // probed at plan build (the simhash probe-gate): a no-op cap leaves
    // the main plan with NO semi-join — it IS the uncapped plan
    assert(leftSemiCount(q(16)) == 0,
      "the fixed-width valve must probe-gate, not semi-join, the main plan")
    // derived-width bucket space is corpus-sized (not driver metadata) —
    // it keeps the spill-safe merge semi-join
    assert(leftSemiCount(q(16, planesPerTable = 0)) >= 1,
      "the derived-width path's valve compiles to a semi-join")
  }

  test("lsh pair valve: no-op cap is the exact uncapped plan; engaged cap a NOT-IN") {
    val corpus = doubled(
      spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select("vec_id", "embedding").limit(50))
    def q(df: DataFrame, cap: Int) = Similarity.nearDupPairsLSH(
      df, threshold = 0.9, dim = 64, planesPerTable = 8, maxBucketSize = cap)
    // 100 vectors (50 + identical twins): no (table, bucket) reaches 256,
    // so the probe's hot set is empty and the plan is unchanged
    assert(hotFilterCount(q(corpus, 256)) == 0,
      "a no-op cap must run the uncapped plan (probe only, no filter)")
    assert(q(corpus, 256).queryExecution.optimizedPlan.sameResult(
             q(corpus, 0).queryExecution.optimizedPlan),
      "no-op capped plan must be result-identical to the uncapped plan")
    val u = Array.tabulate(64)(i => math.sin(i + 1).toFloat)
    val mega = (0L until 40L).map(i => (i, u)).toDF("vec_id", "embedding")
    assert(hotFilterCount(q(mega, 16)) >= 1,
      "an engaged cap must filter hot buckets out of the band explode")
  }

  test("lsh pair valve: capped result is a subset of uncapped") {
    val corpus = doubled(
      spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select("vec_id", "embedding"))
    assert(pairsOf(corpus, 8).subsetOf(pairsOf(corpus, 0)),
      "the valve may only drop pairs, never invent them")
  }

  test("simhash valve: no-op at the gate corpus, with occupancy headroom") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    assert(simhashPairs(docs, 256) == simhashPairs(docs, 0),
      "cap 256 must not change the pair set on the gate corpus")
    // pin the headroom the dedup_simhash_capped oracle comment claims:
    // the largest block-pair bucket sits far under the shipped cap
    val largest = docs
      .select(col("doc_id"), Dedup.simhash64(
        Dedup.wordShingles(col("text"), 3)).as("simhash"))
      .select(explode(array((0 until 14).flatMap(i => (i + 1 until 14).map { j =>
        val offs = Dedup.SimhashBlockWidths.scanLeft(0)(_ + _)
        val p = (0 until 14).flatMap(a => (a + 1 until 14).map((a, _))).indexOf((i, j))
        lit(p.toLong * 4096L) +
          (shiftright(col("simhash"), offs(i)) bitwiseAND
            lit((1L << Dedup.SimhashBlockWidths(i)) - 1L)) * 64L +
          (shiftright(col("simhash"), offs(j)) bitwiseAND
            lit((1L << Dedup.SimhashBlockWidths(j)) - 1L))
      }): _*)).as("bb"))
      .groupBy("bb").count().agg(max("count")).head().getLong(0)
    assert(largest <= 64, s"gate-corpus occupancy crept toward the cap: $largest")
  }

  // ------------------------------- edit-blocking tuner engagement floor

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def mkDocs(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")

  // helper: a block of `n` docs sharing the level-0 key (first token +
  // length band), split at level 1 by distinct second tokens
  private def block(tag: String, n: Int, startId: Long): Seq[(Long, String)] =
    (1 to n).map(i => (startId + i, s"$tag w$i " + ("pad " * 20).trim))

  test("engagement floor: blocks over cap but under 4x stay on the fixed key") {
    // cap 4, blocks of 8 (= 2x cap, under the 4x floor of 16): the r14
    // always-engage default would re-key; the floor must skip, and the
    // result must be IDENTICAL to exact fixed blocking both in content
    // and in plan shape (no extra exchange beyond the fixed path's)
    val d = mkDocs(block("alpha", 8, 0L) ++ block("beta", 8, 100L) ++
      Seq((900L, "alpha same " + ("pad " * 20).trim),
          (901L, "alpha same " + ("pad " * 20).trim + " z")))
    def run(cap: Int) = Dedup.editDistancePairs(
      d, "doc_id", col("text"), minSim = 0.8, maxBlockSize = cap, maxWiden = 2)
    val tuned = run(4)
    val exact = run(0)
    assert(pairSet(tuned) == pairSet(exact),
      "under the floor the tuned default must be the exact fixed-key result")
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.toString
        .linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges(run(4)) == exchanges(run(0)),
      "a floor-skipped probe must keep the fixed path's exact plan shape")
  }

  test("engagement floor: a lone mega-block with trivial excess pairs stays fixed") {
    // largest = 24 > 4x cap(4) = 16, but projected excess pairs
    // (24*23/2 = 276) <= 4n with n = 206 padding rows: the verify work is
    // cheaper than re-keying, so the floor skips on the second scalar
    val pad = (1 to 200).map(i => (2000L + i, s"uniq$i only " + ("pad " * 20).trim))
    val d = mkDocs(block("gamma", 24, 0L) ++ pad)
    val tuned = Dedup.editDistancePairs(
      d, "doc_id", col("text"), minSim = 0.8, maxBlockSize = 4, maxWiden = 2)
    val exact = Dedup.editDistancePairs(
      d, "doc_id", col("text"), minSim = 0.8, maxBlockSize = 0)
    assert(pairSet(tuned) == pairSet(exact),
      "excess-pairs floor: lone small mega-block must not trigger re-keying")
  }

  test("engagement floor: a true quadratic mega-block still engages") {
    // largest = 60 > 16 and excess pairs 60*59/2 = 1770 > 4n (n = 64):
    // both floors clear, re-keying engages, and level-1 widening splits
    // the block (distinct second tokens) — the candidate count visibly
    // collapses versus the fixed key while intended pairs survive
    val d = mkDocs(block("delta", 60, 0L) ++
      Seq((900L, "delta same " + ("pad " * 20).trim),
          (901L, "delta same " + ("pad " * 20).trim + " z")))
    val tuned = Dedup.editDistancePairs(
      d, "doc_id", col("text"), minSim = 0.8, maxBlockSize = 4, maxWiden = 2)
    assert(pairSet(tuned).contains((900L, 901L)),
      "pairs agreeing through the widened prefix survive engagement")
    // count CANDIDATES via the fixed path: the widened key must generate
    // strictly fewer (the 62-block explodes quadratically on the fixed key)
    val fixedCands = 62L * 61L / 2  // one level-0 block of 62 docs
    val tunedBlocks = Dedup.editDistancePairs(
      d, "doc_id", col("text"), minSim = 0.0001, maxBlockSize = 4, maxWiden = 2)
    assert(tunedBlocks.count() < fixedCands,
      "engaged widening must cut the candidate space of the mega-block")
  }
}
