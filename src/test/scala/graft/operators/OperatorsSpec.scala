package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Operator-level behavior specs against the sf0.001 fixtures (the DuckDB
  * hash-parity gate runs separately via graft.Verify + tools/parity.py). */
class OperatorsSpec extends SparkTestBase {

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")
  private def emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

  test("exactDedup keeps one row per key, smallest tiebreak") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "k")
    val out = Dedup.exactDedup(df, Seq(col("k")), col("id"))
      .orderBy("id").as[(Long, String)].collect()
    assert(out.toSeq == Seq((1L, "a"), (3L, "b")))
  }

  test("minhash LSH finds every true near-dup pair (recall vs exact jaccard)") {
    val lsh = Dedup.minhashNearDups(docs, "doc_id", col("text"), 3, 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // ground truth by brute force on the small sf
    val sh = docs.select(col("doc_id"), Dedup.wordShingles(col("text"), 3).as("sh"))
    val a = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    val truth = a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), Dedup.jaccard(col("sh_a"), col("sh_b")).as("j"))
      .filter(col("j") >= 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "fixture should contain near-dups")
    assert(lsh == truth, s"LSH missed ${truth -- lsh}, invented ${lsh -- truth}")
  }

  test("simhash sketches are close for near-dups, far for unrelated docs") {
    val sk = docs.select(col("doc_id"),
      Dedup.simhash64(Dedup.wordShingles(col("text"), 3)).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pair = Dedup.minhashNearDups(docs, "doc_id", col("text"), 3, 0.9)
      .select("id_a", "id_b").head()
    val (na, nb) = (pair.getLong(0), pair.getLong(1))
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(sk(na), sk(nb)) <= 16)
    val unrelated = sk.keys.filter(k => k != na && k != nb).take(8)
    val far = unrelated.count(k => ham(sk(na), sk(k)) > 16)
    assert(far >= 6, "most unrelated docs should be far in hamming space")
  }

  test("ANN (SRP-LSH multiprobe) recall@5 against brute force") {
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.cosineTopK(emb, queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
    val approx = Similarity.annTopK(emb, queries, 5, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
    val recalls = exact.keys.toSeq.map { q =>
      val e = exact(q).map(_._2).toSet
      val a = approx.getOrElse(q, Array.empty).map(_._2).toSet
      (e intersect a).size.toDouble / e.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.5, s"mean recall@5 too low: $mean")
  }

  test("hardNegatives: self and near-positives excluded, exact rank of the rest") {
    import spark.implicits._
    // cos(q, dup)=1 and cos(q, near)≈0.994 are positives (≥0.9) → excluded;
    // the three true negatives rank 0.707 > 0 > -1
    val fixture = Seq(
      (0L, Array(1f, 0f)),     // the query
      (1L, Array(2f, 0f)),     // scaled duplicate
      (2L, Array(0.9f, 0.1f)), // near-duplicate
      (3L, Array(0.5f, 0.5f)),
      (4L, Array(0f, 1f)),
      (5L, Array(-1f, 0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.hardNegatives(
        fixture, fixture.filter(col("vec_id") === 0L), k = 5, posThreshold = 0.9)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((1L, 3L), (2L, 4L), (3L, 5L)))
  }

  test("IVF with k-means refinement keeps the recall contract and is partitioning-invariant") {
    val queries = emb.filter(col("vec_id") < 20)
    val ivf = Similarity.ivfTopK(emb, queries, 5, refineIters = 2)
    val rows = ivf.collect().map(r => (r.getLong(0), r.getLong(2)))
    rows.groupBy(_._1) // self-hit still deterministic: identical vector, same cell
    val exact = Similarity.cosineTopK(emb, queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
    val approx = rows.groupBy(_._1)
    val recalls = exact.keys.toSeq.map { q =>
      val e = exact(q).map(_._2).toSet
      val a = approx.getOrElse(q, Array.empty).map(_._2).toSet
      (e intersect a).size.toDouble / e.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.5, s"mean recall@5 after refinement too low: $mean")
    // round 11: the Lloyd step accumulates micro-unit INTEGER sums
    // (decimal(38,0)) and divides once on the driver, so refined
    // centroids — and hence the whole ranking — are bit-identical under
    // any partitioning (this was the last FP-order-dependent corner; it
    // is what makes sim_ivf_refined hash-oracle-eligible)
    val relaid = Similarity.ivfTopK(emb.repartition(13, col("vec_id")), queries, 5,
      refineIters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val base = ivf.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(relaid == base, "refined IVF ranking changed under repartitioning")
  }

  test("blocked exact near-dup pairs: matches brute force, no nested-loop join") {
    val blocked = Similarity.cosineNearDupPairs(emb, 0.45, blocks = 8)
    // physical shape: every join is an equi-join (hash/sort-merge/broadcast-
    // hash); a BroadcastNestedLoopJoin or CartesianProduct would be the
    // O(n²)-on-one-executor shape that cannot survive 100×
    val plan = blocked.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"non-equi join in blocked plan:\n$plan")
    val got = blocked.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("ea"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("eb"))
    val truth = a.join(b, col("id_a") < col("id_b"))
      .filter(Similarity.cosine(
        transform(col("ea"), x => x.cast("double")),
        transform(col("eb"), x => x.cast("double"))) >= 0.45)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == truth, s"blocked missed ${truth -- got}, invented ${got -- truth}")
  }

  test("editDistancePairs: banded threshold == unbanded Levenshtein at the sim boundary") {
    import spark.implicits._
    // same first token + same length band -> all candidates; lengths 20
    // so the edit budget at minSim=0.8 is exactly floor(0.2*20)=4
    val docs = Seq(
      (1L, "aaaa bbbb cccc dddd1"), // reference
      (2L, "aaaa bbbb cccc dddd2"), // lev 1  -> sim 0.95  keep
      (3L, "aaaa bbbb cccc qqqq4"), // lev 5 from every keeper -> sim 0.75 drop (band bails out)
      (4L, "aaaa bbbb cccc ddxx5"), // lev 3  -> sim 0.85  keep
      (5L, "aaaa yyyy zzzz wwww6")  // lev 13 -> far; early bail-out path
    ).toDF("doc_id", "text")
    val got = Dedup.editDistancePairs(docs, "doc_id", col("text"), minSim = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // unbanded truth over the same candidates
    val a = docs.select(col("doc_id").as("id_a"), col("text").as("ta"))
    val b = docs.select(col("doc_id").as("id_b"), col("text").as("tb"))
    val truth = a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), levenshtein(col("ta"), col("tb")).cast("long").as("lev"),
        greatest(length(col("ta")), length(col("tb"))).cast("double").as("ml"))
      .filter(lit(1.0) - col("lev") / col("ml") >= 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == truth, s"banded $got != unbanded $truth")
    assert(got.map(t => (t._1, t._2)) == Set((1L, 2L), (1L, 4L), (2L, 4L)))
    // the reported lev for kept pairs is the EXACT distance, not a bound
    assert(got.forall { case (_, _, lev) => lev >= 0 && lev <= 4 })
  }

  test("SRP-LSH near-dup: recall is exactly 1 for byte-identical vectors") {
    val copies = emb.withColumn("vec_id", col("vec_id") + lit(1000000))
    val pairs = Similarity.nearDupPairsLSH(emb.unionByName(copies), 0.9, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ids = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    val expected = ids.map(i => (i, i + 1000000))
    assert(pairs == expected,
      s"LSH dup recall broken: missed ${expected -- pairs}, invented ${pairs -- expected}")
  }

  test("sim_ann_lsh recall-as-data: ANN top-5 covers ≥4 of exact top-5 per query") {
    // the shipped query's boolean oracle depends on this margin holding
    val out = graft.SparkEntry.queries("sim_ann_lsh").run(spark, sfDir).collect()
    assert(out.nonEmpty && out.forall(_.getBoolean(1)),
      s"recall_ok false for: ${out.filterNot(_.getBoolean(1)).mkString(",")}")
  }

  test("nearDupClusters: connected components via min-label propagation") {
    import spark.implicits._
    // components: chain 1-2-3-4, triangle 10-11-12, pair 20-21, isolates 30/31
    val ids = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 20L, 21L, 30L, 31L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("id_a", "id_b")
    val got = Dedup.nearDupClusters(ids, "doc_id", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L,
      30L -> 30L, 31L -> 31L))
  }

  test("nearDupClusters: pointer jumping converges on a long chain within default rounds") {
    import spark.implicits._
    // a 60-node path has diameter 59: one-hop-only propagation would need
    // ~59 rounds, pointer jumping lands inside the default maxIters=10
    val n = 60L
    val ids = (1L to n).toDF("doc_id")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.nearDupClusters(ids, "doc_id", pairs, localLimit = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.size == n && got.values.forall(_ == 1L),
      s"every chain node should label to the minimum id, got ${got.filter(_._2 != 1L)}")
    // the driver-local path lands the identical labels
    val local = Dedup.nearDupClusters(ids, "doc_id", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(local == got)
  }

  test("nearDupClusters: throws instead of returning split clusters when rounds run out") {
    import spark.implicits._
    val n = 40L
    val ids = (1L to n).toDF("doc_id")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val ex = intercept[IllegalStateException] {
      Dedup.nearDupClusters(ids, "doc_id", pairs, maxIters = 2, localLimit = 0)
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("nearDupClusters: integral ids only; output columns keep the id type") {
    import spark.implicits._
    // a pair with a null endpoint links nothing, on both paths
    val pairs = Seq((Some(1L), Some(2L)), (Some(3L), None)).toDF("id_a", "id_b")
    val ex = intercept[IllegalArgumentException] {
      Dedup.nearDupClusters(Seq("1", "2").toDF("doc_id"), "doc_id", pairs)
    }
    assert(ex.getMessage.contains("integral"))
    val intIds = Seq(1, 2, 3).toDF("doc_id")
    for (limit <- Seq(0, 10)) {
      val out = Dedup.nearDupClusters(intIds, "doc_id", pairs, localLimit = limit)
      assert(out.schema.map(_.dataType) ==
        Seq(org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.IntegerType))
      assert(out.as[(Int, Int)].collect().sorted.toSeq == Seq((1, 1), (2, 1), (3, 3)))
      Checkpoints.release(out)
    }
  }

  test("dedup leaves no cached blocks behind; withShingles releases its cache") {
    // localCheckpoint blocks (nearDupClusters/pageRank lineage truncation,
    // possibly from EARLIER tests in this JVM) release via the
    // ContextCleaner when their RDD is GC'd — they are deliberate bounded
    // state, not a retained cache; the no-leak contract here is about
    // .persist()/.cache() entries, which only an explicit unpersist frees
    def retained = spark.sparkContext.getPersistentRDDs
      .filterNot(_._2.toString.contains("localCheckpoint"))
    Dedup.minhashNearDups(docs, "doc_id", col("text"), 3, 0.8).count()
    Dedup.simhashNearDups(docs, "doc_id", col("text"), 3, 0.8).count()
    assert(retained.isEmpty,
      s"near-dup operators must not retain block-manager entries: $retained")
    val n = Dedup.withShingles(docs, "doc_id", col("text"), 3) { sh =>
      assert(sh.storageLevel.useMemory, "withShingles should cache inside the scope")
      sh.count()
    }
    assert(n > 0)
    assert(retained.isEmpty,
      s"withShingles must release its cache on exit: $retained")
  }

  test("incrementalAgg == full recompute under replacements, group moves, inserts") {
    import spark.implicits._
    val base = Seq(
      (1L, "A", 10.0), (2L, "A", 20.0), (3L, "B", 30.0), (4L, "B", 40.0), (5L, "C", 50.0)
    ).toDF("k", "g", "v")
    val changes = Seq(
      (2L, "A", 25.0),  // in-place replacement
      (3L, "C", 99.0),  // group move B → C
      (9L, "D", 7.0)    // brand-new key and group
    ).toDF("k", "g", "v")
    val incr = Relational.incrementalAgg(base, changes, "k", "g", "v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val full = Relational.upsert(base.withColumn("__v", lit(1L)),
        changes.withColumn("__v", lit(2L)), Seq(col("k")), col("__v"))
      .groupBy(col("g")).agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(18,2)")).cast("double").as("total"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(incr == full, s"incremental ${incr} != recompute ${full}")
    assert(incr.exists(_._1 == "D") && !incr.exists(t => t._1 == "B" && t._2 == 2))
  }

  test("chunkText: overlap/coverage invariants, short-doc single chunk") {
    import spark.implicits._
    val df = Seq((1L, "a" * 500), (2L, "xy"), (3L, "b" * 200)).toDF("doc_id", "text")
    val out = TextAnalysis.chunkText(df, col("text"), size = 200, overlap = 40,
      idCols = Seq(col("doc_id")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    // len 500, step 160: ceil(460/160)=3 chunks; tail covered
    assert(out(1L).size == 3)
    assert(out(1L).map(_.length).toSeq == Seq(200, 200, 180))
    // consecutive chunks overlap by exactly `overlap` characters
    assert(out(1L)(0).takeRight(40) == out(1L)(1).take(40))
    // short doc → exactly one whole chunk
    assert(out(2L) == Seq("xy"))
    // len == size → one chunk, not an empty second
    assert(out(3L) == Seq("b" * 200))
    // reassembling steps reproduces the document (coverage, no gaps)
    val reassembled = out(1L).head + out(1L).tail.map(_.drop(40)).mkString
    assert(reassembled == "a" * 500)
  }

  test("language heuristic: threshold on stopword mass, deterministic") {
    // the synthetic corpus uses ONE shared vocabulary for every lang label,
    // so no text heuristic can recover the label; assert the heuristic's
    // own contract instead: en ⇔ stopword ratio ≥ 0.05, both classes occur,
    // and repeated evaluation is identical (the DuckDB parity gate checks
    // the exact values).
    val scored = docs.select(col("doc_id"),
      TextAnalysis.stopwordRatio(col("text")).as("r"),
      TextAnalysis.langId(col("text")).as("pred")).collect()
    assert(scored.forall(r => (r.getString(2) == "en") == (r.getDouble(1) >= 0.05)))
    val langs = scored.map(_.getString(2)).toSet
    assert(langs == Set("en", "unknown"), s"expected both classes, got $langs")
  }

  test("multimodal decode plumbing: schema, determinism, resize, frames") {
    implicit val s = spark
    val media = Multimodal.fromText(docs.limit(50), "doc_id", "text", "video")
    val decoded = Multimodal.decode(media)
    val rows = decoded.collect()
    assert(rows.length == 50)
    assert(rows.forall(d => d.features.length == Multimodal.MediaCodec.FeatureDim))
    assert(rows.forall(d => d.width >= 16 && d.width < 80))
    // determinism
    val again = Multimodal.decode(media).collect()
    assert(rows.map(_.features.toSeq).toSeq == again.map(_.features.toSeq).toSeq)
    // resize overrides dims
    val resized = Multimodal.decodeAndResize(media, 224, 224).collect()
    assert(resized.forall(d => d.width == 224 && d.height == 224))
    // frame sampling explodes by stride
    val frames = Multimodal.sampleFrames(decoded, stride = 5)
    val perId = frames.groupBy("media_id").count().collect()
    assert(perId.forall(_.getLong(1) >= 1))
  }

  test("profile: nulls/ndv/min/max per column in one scan; containment catches doc-in-doc") {
    import spark.implicits._
    val df = Seq(
      (Option("a"), Option(1L)), (Option("b"), Option(1L)),
      (Option.empty[String], Option(3L)), (Option("a"), Option.empty[Long]))
      .toDF("s", "k")
    val p = Relational.profile(df, Seq("s", "k"))
      .collect().map(r => r.getString(0) -> (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4), r.getString(5))).toMap
    assert(p("s") == ("s", 4L, 1L, 2L, "a", "b"))
    assert(p("k") == ("k", 4L, 1L, 2L, "1", "3"))
    // the k distinct aggregates must still be ONE scan: a single Expand
    val plan = Relational.profile(df, Seq("s", "k")).queryExecution.executedPlan.toString
    assert(plan.split("Expand").length - 1 <= 1, s"profile should plan one Expand, got:\n$plan")
    // containment: short doc fully inside a long one — c_ab = 1, Jaccard small
    val docs = Seq(
      (1L, "one two three four"),
      (2L, "zero one two three four five six seven eight nine ten")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val c = Dedup.pairwiseContainment(docs, "doc_id", col("text"), 3, pairs)
      .collect().head
    assert(c.getDouble(2) == 1.0, "contained doc must score c_ab = 1")
    assert(c.getDouble(3) < 0.5, "the superset side scores |A∩B|/|B| < 0.5")
    // empty shingle side (doc shorter than n words) yields NULL, not an error
    val short = Seq((1L, "hi"), (2L, "one two three four")).toDF("doc_id", "text")
    val c2 = Dedup.pairwiseContainment(short, "doc_id", col("text"), 3, pairs).collect().head
    assert(c2.isNullAt(2))
  }

  test("semanticDedup: cluster-scoped keep-min, no cross-cluster drops") {
    import spark.implicits._
    // two orthogonal centroid directions; vectors 1,2,3 near +x (1≈2≈3),
    // vectors 10,11 near +y (10≈11), vector 20 alone near +y but far
    val rows = Seq(
      (1L, Array(1.0f, 0.00f)), (2L, Array(0.99f, 0.01f)), (3L, Array(0.98f, 0.02f)),
      (10L, Array(0.0f, 1.0f)), (11L, Array(0.01f, 0.99f)),
      (20L, Array(0.6f, 0.8f))).toDF("vec_id", "embedding")
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val kept = Similarity.semanticDedup(rows, cents, thresholdMicro = 995000L)
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    // cluster 1: 1,2,3 all pairwise ≥ .995 → keep 1; cluster 2: 10≈11 →
    // keep 10; 20 is in cluster 2 but below threshold vs both → kept
    assert(kept.toSeq == Seq((1L, 1L), (10L, 2L), (20L, 2L)))
    // a cross-cluster near-identical pair must NOT be dropped: 2 vs a
    // y-cluster copy of it would never meet (different clusters)
    val rows2 = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val kept2 = Similarity.semanticDedup(rows2, cents, thresholdMicro = 0L)
      .collect().map(_.getLong(0)).sorted
    assert(kept2.toSeq == Seq(1L, 2L), "orthogonal vectors in different clusters both survive")
  }

  test("real image decode: PNG roundtrip recovers exact dims and luma through ImageIO") {
    import spark.implicits._
    import Multimodal._
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    // kernel level: constant-fill PNG → every luma cell is exactly g/255
    val g = 77
    val const = MediaCodec.decodeImage(
      MediaRecord(g.toLong, "image", MediaCodec.syntheticPng(40, 24, g.toLong, gradient = false))).get
    assert(const.width == 40 && const.height == 24)
    assert(const.features.length == MediaCodec.FeatureDim)
    assert(const.features.forall(f => math.round(f * 255) == g))
    // gradient fill: pattern brightens with x (mod wraps), so the grid is
    // NOT constant and left/right cells differ for a wrap-free tile
    val grad = MediaCodec.decodeImage(
      MediaRecord(1L, "image", MediaCodec.syntheticPng(32, 16, 0L))).get
    assert(grad.features.distinct.length > 1, "gradient image must not produce a flat feature grid")
    // real fused resize: constant image stays constant at the new dims
    val rs = MediaCodec.resizeImage(
      MediaRecord(g.toLong, "image", MediaCodec.syntheticPng(40, 24, g.toLong, gradient = false)),
      224, 224).get
    assert(rs.width == 224 && rs.height == 224)
    assert(rs.features.forall(f => math.round(f * 255) == g))
    // non-image bytes under the image kind fall back to the stub (the
    // plumbing stays total over arbitrary payloads)
    val junk = MediaCodec.decodeAny(MediaRecord(9L, "image", "not a png".getBytes))
    assert(junk.width == 16 + ("not a png".length % 64))
    // distributed: pngMedia → decode roundtrips dims for every row
    val df = Seq((3L, 20, 30), (4L, 64, 16)).toDF("id", "w", "h")
    val out = decode(pngMedia(df, "id", col("w"), col("h")))
      .collect().map(d => (d.media_id, d.width, d.height)).toSet
    assert(out == Set((3L, 20, 30), (4L, 64, 16)))
  }

  test("real video decode: animated-GIF roundtrip recovers frame count and per-frame luma") {
    import spark.implicits._
    import Multimodal._
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    // kernel: 5 frames, frame f constant gray (f*37 + 9) mod 256
    val d = MediaCodec.decodeVideo(
      MediaRecord(9L, "video", MediaCodec.syntheticGif(24, 18, 5, 9L))).get
    assert(d.width == 24 && d.height == 18 && d.n_frames == 5)
    // feature i samples frame floor(i*5/8): frames 0,0,1,1,2,3,3,4
    val expect = Array(0, 0, 1, 1, 2, 3, 3, 4).map(f => (f * 37 + 9) % 256)
    assert(d.features.map(f => math.round(f * 255)).toSeq == expect.toSeq)
    // single-frame GIF degenerates cleanly
    val one = MediaCodec.decodeVideo(
      MediaRecord(3L, "video", MediaCodec.syntheticGif(16, 16, 1, 3L))).get
    assert(one.n_frames == 1 && math.round(one.features(7) * 255) == 3)
    // non-video bytes under the video kind keep the stub fallback
    val junk = MediaCodec.decodeAny(MediaRecord(7L, "video", "not a gif".getBytes))
    assert(junk.n_frames == 1 + ("not a gif".length % 30))
    // distributed: gifMedia → decode roundtrips the frame count per row
    val df = Seq((3L, 20, 16, 4), (4L, 32, 20, 7)).toDF("id", "w", "h", "n")
    val out = decode(gifMedia(df, "id", col("w"), col("h"), col("n")))
      .collect().map(x => (x.media_id, x.width, x.height, x.n_frames)).toSet
    assert(out == Set((3L, 20, 16, 4), (4L, 32, 20, 7)))
  }

  test("dHash: closed-form gradient hash, identical images pair at 0, banding is pigeonhole-exact") {
    import spark.implicits._
    import Multimodal._
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    // kernel vs closed form: gray gradient pixel (px·7+py·13+base) mod 256
    // has luma == gray level, so the expected bands are pure arithmetic
    def expectedBands(w: Int, h: Int, base: Int): Array[Int] = {
      def l(gx: Int, gy: Int) = ((gx * w / 9) * 7 + (gy * h / 8) * 13 + base) % 256
      val bands = new Array[Int](4)
      for (gy <- 0 until 8; gx <- 0 until 8 if l(gx + 1, gy) > l(gx, gy)) {
        val bit = gy * 8 + gx
        bands(bit >> 4) |= 1 << (bit & 15)
      }
      bands
    }
    val im = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      MediaCodec.syntheticPng(37, 21, 5L)))
    assert(MediaCodec.dhashBands(im).toSeq == expectedBands(37, 21, 5).toSeq)
    // identical rasters (seed differs by 256 → same base) pair at hamming 0;
    // the undecodable payload is dropped, not crashed on
    val media = Seq(
      MediaRecord(1L, "image", MediaCodec.syntheticPng(40, 24, 7L)),
      MediaRecord(2L, "image", MediaCodec.syntheticPng(40, 24, 7L + 256L)),
      MediaRecord(3L, "image", "junk bytes".getBytes)).toDS()
    val pairs = dhashNearDups(imageDhash(media), "media_id", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs == Set((1L, 2L, 0L)))
    // pigeonhole exactness on hand-built bands: one band flipped by one
    // bit (hamming 1) MUST surface; four bands each off by one bit
    // (hamming 4) must not — and cannot sneak in via a shared band
    val hs = Seq(
      (10L, 1, 2, 3, 4), (11L, 1, 2, 3, 5), // hamming 1 (band 3: 4^5=1 bit)
      (20L, 8, 8, 8, 8), (21L, 9, 9, 9, 9)  // hamming 4, no band agrees
    ).toDF("media_id", "b0", "b1", "b2", "b3")
    val got = dhashNearDups(hs, "media_id", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((10L, 11L, 1L)))
  }

  test("real audio decode: WAV roundtrip recovers rate/frames and exact segment features") {
    import spark.implicits._
    import Multimodal._
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val (id, sr, n) = (5L, 12000, 500)
    val d = MediaCodec.decodeAudio(
      MediaRecord(id, "audio", MediaCodec.syntheticWav(sr, n, id))).get
    assert(d.width == sr && d.height == 1 && d.n_frames == n)
    // independent re-derivation of every segment feature from the
    // waveform formula — exact Long sums, one float divide per segment
    val sums = new Array[Long](MediaCodec.FeatureDim)
    val cnts = new Array[Long](MediaCodec.FeatureDim)
    for (i <- 0 until n) {
      val s = java.lang.Math.floorMod(i.toLong * 31 + id * 17, 2001L) - 1000L
      val k = (i.toLong * MediaCodec.FeatureDim / n).toInt
      sums(k) += math.abs(s); cnts(k) += 1
    }
    val expect = Array.tabulate(MediaCodec.FeatureDim)(k => (sums(k) / (32768.0 * cnts(k))).toFloat)
    assert(d.features.toSeq === expect.toSeq)
    // non-audio bytes under the audio kind fall back to the stub
    val junk = MediaCodec.decodeAny(MediaRecord(9L, "audio", "not a wav".getBytes))
    assert(junk.width == 16 + ("not a wav".length % 64))
    // distributed: wavMedia → decode roundtrips rate/frames per row
    val df = Seq((6L, 8000, 400), (7L, 16000, 640)).toDF("id", "sr", "n")
    val got = decode(wavMedia(df, "id", col("sr"), col("n")))
      .collect().map(d => (d.media_id, d.width, d.n_frames)).toSet
    assert(got == Set((6L, 8000, 400), (7L, 16000, 640)))
  }
}

class AsofJoinSpec extends graft.SparkTestBase {

  test("asofJoin picks the latest right row at or before each left time") {
    import spark.implicits._
    val left = Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "a", 5L), (4L, "b", 50L))
      .toDF("id", "k", "t")
    val right = Seq(("a", 10L, "r10"), ("a", 15L, "r15"), ("b", 60L, "r60"))
      .toDF("k", "rt", "payload")
    val res = Relational.asofJoin(left, right, "k", "k", "t", "rt", Seq("payload"))
      .select("id", "payload").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(res(1L) == "r10")  // inclusive at equal time
    assert(res(2L) == "r15")  // latest ≤ 20
    assert(res(3L) == null)   // nothing before t=5
    assert(res(4L) == null)   // b's only row is after t=50
  }

  test("GraftExtensions registers every function builder") {
    val names = graft.GraftExtensions.functionBuilders.map(_._1)
    assert(names.contains("jq_long") && names.contains("json_add") && names.contains("json_recurse"))
    assert(names.distinct.size == names.size)
    // builders actually build
    import org.apache.spark.sql.catalyst.expressions.Literal
    val e = graft.GraftExtensions.functionBuilders.toMap.apply("jq_long")(
      Seq(Literal(".k"), Literal("{\"k\":7}")))
    assert(e.eval(null) == 7L)
  }
}

class SaltingSpec extends graft.SparkTestBase {
  import org.apache.spark.sql.functions._

  test("saltedCount matches plain groupBy count (skew-safe two-stage aggregate)") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val plain = li.groupBy(col("l_returnflag")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Relational.saltedCount(li, Seq(col("l_returnflag")), salts = 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain)
  }

  test("saltedJoin == plain inner join, including a hot key and null keys") {
    import spark.implicits._
    // one pathological hot key (k=1, 500 rows), normal keys, a null key
    val fact = ((1 to 500).map(i => (Option(1L), i.toLong)) ++
      Seq((Option(2L), 1001L), (Option(3L), 1002L), (Option.empty[Long], 1003L)))
      .toDF("k", "fid")
    val dim = Seq((Option(1L), "a"), (Option(2L), "b"), (Option.empty[Long], "z"))
      .toDF("k", "dval")
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getString(2))
    val plain = fact.join(dim, "k").select(col("k"), col("fid"), col("dval"))
      .collect().map(key).toSet
    val salted = Relational.saltedJoin(fact, dim, "k", col("fid"), salts = 8)
      .select(col("k"), col("fid"), col("dval")).collect().map(key).toSet
    assert(salted == plain)
    assert(plain.size == 501) // hot key fully joined; null keys + unmatched k=3 dropped (inner)
    // each fact row meets its dim match exactly once (no replica double-count)
    val n = Relational.saltedJoin(fact, dim, "k", col("fid"), salts = 8).count()
    assert(n == 501L)
  }
}

/** Round-7 ntile restatement: exact equi-depth buckets must not route
  * every row through one task (partition-less window). */
class NtileHistogramSpec extends graft.SparkTestBase {
  import org.apache.spark.sql.functions._

  test("ntileHistogram == partition-less ntile window, at any row/bucket ratio") {
    import spark.implicits._
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    def viaWindow(df: org.apache.spark.sql.DataFrame, b: Int,
                  v: String, t: String): Set[(Long, Long, Double, Double)] = {
      val w = org.apache.spark.sql.expressions.Window.orderBy(col(v), col(t))
      df.withColumn("bucket", ntile(b).over(w).cast("bigint"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), min(col(v)).as("lo"), max(col(v)).as("hi"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    }
    def viaHist(df: org.apache.spark.sql.DataFrame, b: Int,
                v: String, t: String): Set[(Long, Long, Double, Double)] = {
      val hf = Relational.ntileHistogram(df, b, col(v), col(t))
      val h = hf.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
      Checkpoints.release(hf)
      h
    }
    // the real fixture, N not divisible by 10 and N >> buckets
    assert(viaHist(orders, 10, "o_totalprice", "o_orderkey")
      == viaWindow(orders, 10, "o_totalprice", "o_orderkey"))
    // ragged fill rule: 7 rows into 3 buckets -> sizes 3,2,2
    val tiny = Seq(5.0, 1.0, 4.0, 2.0, 7.0, 3.0, 6.0).zipWithIndex
      .map { case (v, i) => (v, i.toLong) }.toDF("v", "id")
    assert(viaHist(tiny, 3, "v", "id") == viaWindow(tiny, 3, "v", "id"))
    // fewer rows than buckets: one row per leading bucket, trailing buckets absent
    assert(viaHist(tiny, 10, "v", "id") == viaWindow(tiny, 10, "v", "id"))
    // ties everywhere: tiebreak column decides identically in both paths
    val tied = Seq.fill(9)(1.0).zipWithIndex.map { case (v, i) => (v, i.toLong) }.toDF("v", "id")
    assert(viaHist(tied, 4, "v", "id") == viaWindow(tied, 4, "v", "id"))
  }

  test("ntileHistogram leaves no persisted blocks behind beyond its released result") {
    import spark.implicits._
    val df = (1 to 100).map(i => ((i * 37 % 101).toDouble, i.toLong)).toDF("v", "id")
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val hist = Relational.ntileHistogram(df, 10, col("v"), col("id"))
    assert(hist.count() == 10)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(leaked.size <= 1, s"ntileHistogram stranded ${leaked.size} RDDs — the ranged frame must be released")
    Checkpoints.release(hist)
    assert((spark.sparkContext.getPersistentRDDs.keySet.toSet -- before).isEmpty)
  }

  test("near-dup pair frames are caller-owned: release() returns the block manager to baseline") {
    // r17 ADVICE: minhash/simhash return eagerly-checkpointed pair frames
    // (localCheckpoint blocks the old no-leak test deliberately filters
    // out); this pins the OWNERSHIP contract — the returned frame is the
    // only retained state and Checkpoints.release reclaims it fully
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val m = Dedup.minhashNearDups(docs, "doc_id", col("text"), 3, 0.8)
    val s = Dedup.simhashNearDups(docs, "doc_id", col("text"), 3, 0.8)
    assert(m.count() >= 0 && s.count() >= 0)
    val held = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(held.size <= 2,
      s"near-dup operators may retain only their result frames, found ${held.size}")
    Checkpoints.release(m)
    Checkpoints.release(s)
    assert((spark.sparkContext.getPersistentRDDs.keySet.toSet -- before).isEmpty,
      "released pair frames must not strand block-manager entries")
  }
}
