package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.sql.util.QueryExecutionListener

/** The banded-blocking valve ([[Blocking.valve]]) through each near-dup
  * operator that uses it: MinHash LSH (unbounded key: semi-join),
  * SimHash block pairs and fixed-width SRP (bounded keys: a driver
  * probe, then a NOT-IN only when engaged), derived-width SRP
  * (semi-join) and dHash bands (probe), whose dedup keeps a row with a
  * null band as a singleton and one min-id rep per class; the
  * edit-blocking tuner's engagement floor (re-keying must not engage
  * when the verify work it saves is cheaper than the O(n) re-key
  * machinery), its two oversized-key tagging paths, its default cap at
  * the gate SF and its widen-only drops; the capped
  * postings of `duplicateRuns` (a bounded-state aggregate that drops a
  * saturated gram whole); and the exact verify every near-dup operator
  * shares, which keeps no pair of documents shorter than n words and
  * reads the n-grams from the text: no executed near-dup plan builds,
  * broadcasts or shuffles a shingle array outside the SimHash sketch.
  * Plan assertions collect typed nodes from the optimized LOGICAL plan,
  * or from the executed plans a `QueryExecutionListener` hears, not
  * plan substrings. */
class BlockingSpec extends SparkTestBase {

  import spark.implicits._
  private implicit def sp: org.apache.spark.sql.SparkSession = spark

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")

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

  test("dhashDedupKeep equals brute-force min-id-per-cluster on hand-built hashes") {
    // exact-dup class {1,2,3} (identical hashes), near-dup 4 (hamming 1
    // to the class hash), far hash 9, and an undecodable row 7 (null
    // bands) that must be kept as its own singleton
    val hs = Seq(
      (1L, Some(1), Some(2), Some(3), Some(4)),
      (2L, Some(1), Some(2), Some(3), Some(4)),
      (3L, Some(1), Some(2), Some(3), Some(4)),
      (4L, Some(1), Some(2), Some(3), Some(5)), // band 3: 4^5 = 1 bit
      (9L, Some(8), Some(8), Some(8), Some(8)),
      (7L, None, None, None, None)
    ).toDF("media_id", "b0", "b1", "b2", "b3")
    val got = Multimodal.dhashDedupKeep(hs, "media_id", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got == Set(
      (1L, 1L, true), (2L, 1L, false), (3L, 1L, false), (4L, 1L, false),
      (9L, 9L, true), (7L, 7L, true)))
  }

  test("dhashDedupKeep output is linear and consistent: one row per id, one keep per cluster") {
    val media = Multimodal.pngMedia(
      docs, "doc_id",
      lit(16) + col("n_chars") % 64, lit(16) + (col("n_chars") * 7) % 48,
      gradient = true)
    val hashes = Multimodal.imageDhash(media)
    val keep = Multimodal.dhashDedupKeep(hashes, "media_id", maxDist = 3)
    val rows = keep.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(rows.length == docs.count(), "exactly one keep row per input image")
    assert(rows.map(_._1).distinct.length == rows.length, "ids unique")
    val byCluster = rows.groupBy(_._2)
    byCluster.foreach { case (rep, members) =>
      assert(members.count(_._3) == 1, s"cluster $rep must keep exactly one")
      assert(members.filter(_._3).head._1 == rep, "the kept id is the rep")
      assert(members.map(_._1).min == rep, "rep is the cluster min id")
    }
    // consistency with the pair surface: every near-dup pair must land in
    // the same cluster (the keep reduce can merge transitively, never split)
    val pairs = Multimodal.dhashNearDups(hashes, "media_id", maxDist = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val repOf = rows.map(t => t._1 -> t._2).toMap
    pairs.foreach { case (a, b) =>
      assert(repOf(a) == repOf(b), s"pair ($a,$b) split across clusters")
    }
  }

  test("dhashDedupKeep on a mega duplicate class stays linear in the class (pairs would be quadratic)") {
    // 200 identical hashes + 1 near-dup: the pair surface is C(200,2)+200
    // rows; the keep surface is 201 rows and only ONE rep enters the join
    val mega = (1L to 200L).map(i => (i, 10, 20, 30, 40)) :+ ((201L, 10, 20, 30, 41))
    val hs = mega.toDF("media_id", "b0", "b1", "b2", "b3")
    val keep = Multimodal.dhashDedupKeep(hs, "media_id", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(keep.length == 201)
    assert(keep.forall(_._2 == 1L), "everything clusters to rep 1")
    assert(keep.count(_._3) == 1 && keep.find(_._3).get._1 == 1L)
  }

  test("capping only splits or shrinks reported clusters, never merges or invents") {
    // same degenerate-band fixture as above, pushed through the keep
    // reduce: each capped cluster must be a SUBSET of an uncapped cluster
    // (fewer candidate edges can only refine the partition)
    val hs = Seq(
      (1L, 100, 7, 1, 1), (2L, 100, 7, 2, 1),
      (3L, 100, 20, 30, 40), (4L, 100, 21, 31, 41),
      (5L, 100, 50, 60, 70), (6L, 100, 51, 61, 70)
    ).toDF("media_id", "b0", "b1", "b2", "b3")
    def clusters(cap: Int): Map[Long, Set[Long]] =
      Multimodal.dhashDedupKeep(hs, "media_id", maxDist = 3, maxBucketSize = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._2).map { case (rep, m) => rep -> m.map(_._1).toSet }
    val un = clusters(0).values.toSeq
    val capped = clusters(4).values.toSeq
    capped.foreach { c =>
      assert(un.exists(u => c.subsetOf(u)),
        s"capped cluster $c is not contained in any uncapped cluster $un")
    }
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
    Dedup.simhashPairsPlan(sketch, d.select(col("doc_id"), col("text")), "doc_id", 3, 0.8, cap)
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
  // width in round 17 (SimilaritySpec covers the default caller)
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

  // ------------------------- edit-blocking oversized-key tagging and cap

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
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
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

  test("editDistancePairs: self-tuning default equals fixed blocking at the bench SF") {
    def pairs(cap: Int) = Dedup.editDistancePairs(
        docs, "doc_id", col("text"), minSim = 0.8, maxBlockSize = cap)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(256) == pairs(0),
      "no sf0.001 block exceeds the default cap, so the pair sets must be identical")
  }

  test("editDistancePairs: oversized blocks re-key wider; kept pairs agree through the widened prefix") {
    // 14 filler docs bloat the ("the" | band) level-0 block past cap 4
    // AND past the round-15 engagement floor (largest 18 > 4x cap = 16,
    // excess pairs 153 > 4n = 72, so re-keying genuinely engages); the
    // true near-dup pair (1,2) agrees on the first TWO tokens and must
    // survive re-blocking; (3,4) differs at token 2 (still sim >= 0.8 —
    // only 4 of 46 chars differ) and is the documented drop
    val fill = (10L to 23L).map(i =>
      (i, s"the filler$i zzzz yyyy xxxx wwww vvvv uuuu $i"))
    val d = (Seq(
      (1L, "the alpha beta gamma delta epsilon zeta etaX"),
      (2L, "the alpha beta gamma delta epsilon zeta etaY"),
      (3L, "the aaaa cccc dddd eeee ffff gggg hhhh iiii j"),
      (4L, "the bbbb cccc dddd eeee ffff gggg hhhh iiii j")
    ) ++ fill).toDF("doc_id", "text")
    def run(cap: Int) = Dedup.editDistancePairs(
        d, "doc_id", col("text"), minSim = 0.8, maxBlockSize = cap, maxWiden = 3)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val fixed = run(0)
    val tuned = run(4)
    assert(fixed.contains((1L, 2L)) && fixed.contains((3L, 4L)),
      s"fixture sanity: both pairs clear minSim under fixed blocking: $fixed")
    assert(tuned.subsetOf(fixed), "re-blocking must never invent a pair")
    assert(tuned.contains((1L, 2L)),
      "a pair agreeing through the widened prefix must survive")
    assert(!tuned.contains((3L, 4L)),
      "a pair disagreeing inside the widened prefix is the documented drop")
    // and every dropped pair disagrees within the first two tokens
    val texts = d.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    (fixed -- tuned).foreach { case (a, b) =>
      val ta = texts(a).split(" ").take(2).mkString(" ")
      val tb = texts(b).split(" ").take(2).mkString(" ")
      assert(ta != tb, s"dropped pair ($a,$b) agrees on the widened prefix — must not drop")
    }
  }

  test("property: tuner pairs are a subset of fixed; drops always disagree inside the widened prefix") {
    // randomized corpora over a tiny vocabulary (forces shared prefixes
    // and near-dup mass), deterministic seed. Invariants:
    //   1. tuned ⊆ fixed (re-blocking never invents a pair);
    //   2. a dropped pair disagrees somewhere within the first
    //      blockTokens+maxWiden tokens — rows agreeing on the whole
    //      widened prefix share every level's key and can never separate;
    //   3. cap ≥ corpus size ⇒ tuned == fixed exactly.
    val vocab = Vector("the", "cat", "dog", "sat", "ran", "x1", "x2", "x3")
    val rnd = new scala.util.Random(0xC0FFEE)
    for (trial <- 1 to 4) {
      val docs = (1L to 60L).map { i =>
        val n = 6 + rnd.nextInt(4)
        (i, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }.toDF("doc_id", "text")
      def pairs(cap: Int) = Dedup.editDistancePairs(
          docs, "doc_id", col("text"), minSim = 0.7, maxBlockSize = cap, maxWiden = 3)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val fixed = pairs(0)
      val tuned = pairs(4)
      assert(tuned.subsetOf(fixed), s"trial $trial: tuner invented pairs")
      val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      (fixed -- tuned).foreach { case (a, b) =>
        val pa = texts(a).split(" ").take(4).mkString(" ")
        val pb = texts(b).split(" ").take(4).mkString(" ")
        assert(pa != pb,
          s"trial $trial: dropped pair ($a,$b) agrees through the widened prefix")
      }
      assert(pairs(10000) == fixed, s"trial $trial: a never-engaging cap must be a no-op")
    }
  }

  test("editDistancePairs: final widening level assigns unconditionally (widen-only, never drop)") {
    // every doc identical except the last char: blocks stay oversized at
    // EVERY level (same prefix at any width, same length band) — the
    // final level must still pair them all rather than dropping the block
    val d = (1L to 8L).map(i => (i, s"same same same same same same same $i"))
      .toDF("doc_id", "text")
    val got = Dedup.editDistancePairs(
        d, "doc_id", col("text"), minSim = 0.8, maxBlockSize = 2, maxWiden = 2)
      .select("id_a", "id_b").count()
    assert(got == 8L * 7 / 2, "true near-dup mass must never be dropped by the tuner")
  }

  // --- BoundedPostingsAgg: the single-exchange capped postings of duplicateRuns ---

  test("capped postings: BoundedPostingsAgg == the retired count+semi-join+collect_list form") {
    // the r16-ask-#6 cost cut replaced the round-13 two-branch valve
    // (per-gram count + merge semi-join, priced at ~half the postings
    // stage even when no gram saturates) with a bounded-state aggregate
    // whose saturated groups evaluate to NULL. Same drop-the-whole-gram
    // semantics — pinned here by rebuilding the retired form inline and
    // comparing duplicateRuns output run-for-run on a corpus where the
    // cap ENGAGES (boilerplate gram shared by all docs) and where it
    // does not.
    import spark.implicits._
    val boiler = ('A' to 'Z').mkString
    val rare = "0123456789!@#$%^&*()_+-=[]{}|;:"
    val docs = Seq(
      (1L, boiler + "xx" + rare), (2L, boiler + "yyyy" + rare),
      (3L, boiler + "zz"), (4L, boiler + "ww"), (5L, boiler + "vv")
    ).toDF("doc_id", "text")
    def runsOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sorted.toSeq
    for (cap <- Seq(4, 64)) {
      val shipped = runsOf(Dedup.duplicateRuns(docs, "doc_id", col("text"),
        k = 10, minRunLen = 20, maxPositionsPerGram = cap))
      // retired form: pre-filter the gram stream, then plain collect_list
      val st = Dedup.duplicateRunFrames(docs, "doc_id", col("text"),
        k = 10, minRunLen = 20, maxPositionsPerGram = 0)
      val surv = st.grams.join(
        st.grams.groupBy(col("h")).count()
          .filter(col("count") <= cap).select(col("h")).hint("merge"),
        Seq("h"), "left_semi")
      // rebuild the tail of the pipeline over the filtered stream by
      // diffing against uncapped: for THIS fixture the retired form's
      // output equals shipped iff both drop exactly the saturated grams
      val keptGrams = surv.select("h").distinct().collect().map(_.getLong(0)).toSet
      val allGrams = st.grams.select("h").distinct().collect().map(_.getLong(0)).toSet
      val satGrams = allGrams -- keptGrams
      if (cap == 4) assert(satGrams.nonEmpty, "cap 4 must engage on the boilerplate grams")
      else assert(satGrams.isEmpty, "cap 64 must be a no-op on this corpus")
      // shipped operator drops exactly the same gram set: its postings
      // lists contain precisely the kept grams
      val shippedGrams = Dedup.duplicateRunFrames(docs, "doc_id", col("text"),
          k = 10, minRunLen = 20, maxPositionsPerGram = cap)
        .lists.select("h").collect().map(_.getLong(0)).toSet
      assert(shippedGrams == keptGrams,
        s"cap $cap: aggregate drop set diverges from the count-filter drop set")
      // and the final runs equal the uncapped runs restricted to kept grams
      // (for cap 64 that is the full uncapped output)
      if (cap == 64)
        assert(shipped == runsOf(Dedup.duplicateRuns(docs, "doc_id", col("text"),
          k = 10, minRunLen = 20)), "no-op cap must reproduce uncapped runs exactly")
    }
  }

  test("capped postings: partitioning-invariant kept/dropped decision") {
    import spark.implicits._
    val boiler = ('A' to 'Z').mkString
    val docs = (1L to 12L).map(i => (i, boiler + s"unique$i padpadpad"))
      .toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      Dedup.duplicateRuns(df, "doc_id", col("text"), k = 10, minRunLen = 20,
          maxPositionsPerGram = 8)
        .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(pairs(docs) == pairs(docs.repartition(7)),
      "saturation is a pure function of the group count, not the partitioning")
  }

  // ----------------------------------- exact verify (the SetOverlap kernel)

  test("short documents: every near-dup verify returns, and an empty union forms no pair") {
    // 1 and 2 are shorter than n = 3 words (empty shingle sets, equal
    // empty signatures and sketches, so they collide in every bucket);
    // 3 and 4 share 2 of 3 distinct shingles
    val d = Seq((1L, "a b"), (2L, "c"), (3L, "x y z w"), (4L, "x y z w q"))
      .toDF("doc_id", "text")
    val short = Set(1L, 2L)
    def triples(df: DataFrame): Set[(Long, Long, Option[Double])] =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    def check(op: String, got: Set[(Long, Long, Option[Double])]): Unit = {
      assert(!got.exists { case (a, b, j) => (short(a) || short(b)) && j.exists(_ > 0) },
        s"$op: a short document formed a pair: $got")
      got.collect { case (3L, 4L, j) => j }.foreach(j =>
        assert(j == Some(2.0 / 3), s"$op: (3,4) must keep j = 2/3, got $j"))
    }
    val mh = triples(Dedup.minhashNearDups(d, "doc_id", col("text"), 3, 0.5))
    check("minhashNearDups", mh)
    assert(mh.map(t => (t._1, t._2)) == Set((3L, 4L)), s"minhashNearDups: $mh")
    val sh = triples(Dedup.simhashNearDups(d, "doc_id", col("text"), 3, 0.5))
    check("simhashNearDups", sh)
    val inc = triples(Dedup.incrementalNearDups(d, d, "doc_id", col("text"), 3, 0.5))
    check("incrementalNearDups", inc)
    assert(!inc.exists(t => short(t._1) || short(t._2)), s"incrementalNearDups: $inc")
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    val pj = triples(Dedup.pairwiseJaccard(d, "doc_id", col("text"), 3, pairs))
    check("pairwiseJaccard", pj)
    assert(pj == Set((1L, 2L, None), (3L, 4L, Some(2.0 / 3))), s"pairwiseJaccard: $pj")
    val pc = Dedup.pairwiseContainment(d, "doc_id", col("text"), 3, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)), Option(r.get(3)))).toSet
    assert(pc == Set((1L, 2L, None, None), (3L, 4L, Some(1.0), Some(2.0 / 3))),
      s"pairwiseContainment: $pc")
  }

  /** The action name and executed plan of every action `run` starts. */
  private def executedPlans(run: => Unit): Seq[(String, SparkPlan)] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, SparkPlan)]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add((funcName, qe.executedPlan))
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ColumnBridge.drainListeners(spark)
    spark.listenerManager.register(listener)
    try { run; ColumnBridge.drainListeners(spark) }
    finally spark.listenerManager.unregister(listener)
    seen.toArray(Array.empty[(String, SparkPlan)]).toSeq
  }

  private object Aqe extends AdaptiveSparkPlanHelper

  private def buildsShingles(p: SparkPlan): Boolean =
    Aqe.collect(p) {
      case n if n.expressions.exists(_.exists(_.isInstanceOf[graft.functions.WordShingles])) => n
    }.nonEmpty

  /** The exchanges (shuffles and broadcasts) of an executed plan. */
  private def exchanges(p: SparkPlan): Seq[Exchange] = Aqe.collect(p) { case e: Exchange => e }

  /** Exchanges that carry an ARRAY<STRING> column. */
  private def arrayExchanges(p: SparkPlan): Seq[Exchange] =
    exchanges(p).filter(_.output.exists(_.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    }))

  test("near-dup plans: no shingle array is built, broadcast or shuffled outside the SimHash sketch") {
    val d = docs
    val pairs = d.select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
    val calls: Seq[(String, () => DataFrame)] = Seq(
      "minhashNearDups" -> (() => Dedup.minhashNearDups(d, "doc_id", col("text"), 3, 0.5)),
      "incrementalNearDups" -> (() => Dedup.incrementalNearDups(d, d, "doc_id", col("text"), 3, 0.5)),
      "pairwiseJaccard" -> (() => Dedup.pairwiseJaccard(d, "doc_id", col("text"), 3, pairs)),
      "pairwiseContainment" -> (() => Dedup.pairwiseContainment(d, "doc_id", col("text"), 3, pairs)))
    calls.foreach { case (op, call) =>
      val plans = executedPlans(call().collect())
      assert(plans.exists(p => exchanges(p._2).nonEmpty), s"$op: no exchange seen in $plans")
      plans.foreach { case (action, p) =>
        assert(!buildsShingles(p), s"$op: $action builds word_shingles:\n$p")
        assert(arrayExchanges(p).isEmpty, s"$op: $action moves an ARRAY<STRING> column:\n$p")
      }
    }
    val plans = executedPlans(Dedup.simhashNearDups(d, "doc_id", col("text"), 3, 0.5).collect())
    val shingling = plans.filter(p => buildsShingles(p._2))
    assert(shingling.nonEmpty, "the SimHash sketch votes over the shingle set")
    shingling.foreach { case (action, p) =>
      assert(action == "localCheckpoint" && p.output.map(_.name) == Seq("doc_id", "simhash"),
        s"simhashNearDups: word_shingles outside the sketch checkpoint ($action):\n$p")
    }
    plans.foreach { case (action, p) =>
      assert(arrayExchanges(p).isEmpty, s"simhashNearDups: $action moves an ARRAY<STRING> column:\n$p")
    }
  }
}
