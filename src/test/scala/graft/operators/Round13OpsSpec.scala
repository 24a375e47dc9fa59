package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Round-13 operator specs: classes-not-pairs image dedup, self-tuning
  * edit-distance blocking, and occupancy-derived SRP signature bits (the
  * dhash valve lives in BlockingSpec). */
class Round13OpsSpec extends SparkTestBase {

  import spark.implicits._
  private implicit def sp: org.apache.spark.sql.SparkSession = spark

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")
  private def emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

  // ------------------------------------------------------ dhashDedupKeep

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

  // ------------------------------------- editDistancePairs self-tuning

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

  // ------------------------------------------------- derived SRP planes

  test("deriveSrpPlanes: +1 bit per corpus octave, matches the hand-tuned widths, clamps") {
    // the scale-harness corpus (dedup_embedding_lsh_htuned) is 4000·f
    // rows; the hand rule was H = 8 + log2(f) — derived must reproduce it
    for ((f, h) <- Seq(1 -> 8, 8 -> 11, 32 -> 13, 64 -> 14))
      assert(Similarity.deriveSrpPlanes(4000L * f) == h,
        s"f=$f: derived must equal the measured hand tuning $h")
    assert(Similarity.deriveSrpPlanes(1L) == 4, "floor clamp")
    assert(Similarity.deriveSrpPlanes(1L << 40) == 24, "ceiling clamp")
    // monotone: more data never means fewer bits
    val hs = Seq(100L, 1000L, 10000L, 100000L, 1000000L).map(n => Similarity.deriveSrpPlanes(n))
    assert(hs == hs.sorted)
  }

  test("assignClustersHier: identity grouping is bit-identical to the flat argmax") {
    val cents = emb.orderBy(col("vec_id")).limit(24)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
    def m(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cluster").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).sorted.toSeq
    val flat = m(Similarity.assignClusters(emb, cents))
    val hier = m(Similarity.assignClustersHier(emb, cents, supers = cents.length))
    assert(hier == flat,
      "supers == C must reproduce the flat micro-argmax exactly (both levels first-max-wins)")
  }

  test("assignClustersHier: two-level result is the exact argmax within the chosen super's members") {
    val cents = emb.orderBy(col("vec_id")).limit(16)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
    val sup = 4
    val hier = Similarity.assignClustersHier(emb, cents, supers = sup)
    // validity: every vector lands in [1, C]; deterministic across runs
    val rows = hier.select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sorted.toSeq
    assert(rows.forall { case (_, cl) => cl >= 1 && cl <= cents.length })
    val again = Similarity.assignClustersHier(emb, cents, supers = sup)
      .select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sorted.toSeq
    assert(rows == again, "assignment is a pure function of the value")
    // whenever the flat winner is reachable from the chosen super, the
    // two must agree (level-2 is an exact argmax over the member set)
    val flat = Similarity.assignClusters(emb, cents)
      .select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val agree = rows.count { case (id, cl) => flat(id) == cl }
    assert(agree > 0, "well-separated synthetic clusters must mostly agree")
    // and semanticDedup(superCells) keeps the keep-min contract: kept set
    // is deterministic and one representative survives per dropped pair
    val kept = Similarity.semanticDedup(emb, cents, thresholdMicro = 450000L,
      superCells = sup)
    assert(kept.count() > 0 && kept.count() <= emb.count())
  }

  test("nearDupPairsLSH(planesPerTable=0) is bit-identical to the explicitly-derived width") {
    val n = emb.count()
    val h = Similarity.deriveSrpPlanes(n)
    def pairs(p: Int) = Similarity.nearDupPairsLSH(emb, threshold = 0.9, dim = 64,
        tables = 8, planesPerTable = p)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(0) == pairs(h))
  }

  test("annTopK(planesPerTable=0) derives the same width and keeps the recall contract") {
    val qs = emb.limit(8)
    val h = Similarity.deriveSrpPlanes(emb.count())
    def rows(p: Int) = Similarity.annTopK(emb, qs, k = 5, dim = 64, planesPerTable = p)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(rows(0) == rows(h),
      "derived width must equal the explicit one through the multiprobe path too")
    // self-hit: every query's own vector is always a candidate (equal
    // vectors share every bucket) and ranks first
    val self = rows(0).filter(_._2 == 1L)
    assert(self.forall { case (qid, _, vid) => qid == vid })
  }
}
