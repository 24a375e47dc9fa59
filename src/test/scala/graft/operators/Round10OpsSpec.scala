package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Specs for the round-10 changes: the pluggable media-decoder registry
  * and the expression-based (whole-stage-codegen) decode plan. */
/** Top-level (NOT spec-inner) so the instances are genuinely Serializable —
  * an inner class would drag the whole ScalaTest suite into the task
  * closure, which is exactly the mistake a real plugin must not make. */
object Round10OpsSpec {
  import Multimodal._

  /** Serializable fake decoder claiming the video kind: every payload it
    * accepts decodes to a sentinel (width=7777) no real codec produces. */
  class FakeVideoDecoder extends MediaDecoder {
    def kinds: Set[String] = Set("video")
    def decode(r: MediaRecord): Option[DecodedMedia] =
      Some(DecodedMedia(r.media_id, r.kind, r.content.length.toLong,
        width = 7777, height = 1, n_frames = 42,
        features = Array.fill(MediaCodec.FeatureDim)(0.5f)))
  }

  /** A decoder that DECLINES everything — probes must fall through to the
    * built-in JDK paths, preserving decode-or-stub. */
  class DecliningDecoder extends MediaDecoder {
    def kinds: Set[String] = Set("image", "audio", "video")
    def decode(r: MediaRecord): Option[DecodedMedia] = None
  }
}

class Round10OpsSpec extends SparkTestBase {
  import spark.implicits._
  import Multimodal._
  import Round10OpsSpec._

  test("media-decoder registry: registered decoder takes over its declared kind only") {
    implicit val s = spark
    MediaDecoders.clearProgrammatic()
    try {
      MediaDecoders.register(new FakeVideoDecoder)
      val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(10)
      val videos = fromText(docs, "doc_id", "text", "video")
      val images = pngMedia(docs, "doc_id", lit(12), lit(8))
      // video kind: plugin wins (plan captured AFTER registration)
      val vd = decode(videos).collect()
      assert(vd.nonEmpty && vd.forall(d => d.width == 7777 && d.n_frames == 42))
      // image kind: plugin never offered it — real ImageIO path unchanged
      val id = decode(images).collect()
      assert(id.nonEmpty && id.forall(d => d.width == 12 && d.height == 8))
    } finally MediaDecoders.clearProgrammatic()
  }

  test("media-decoder registry: decodeAndResize consults plugins too (metadata rescale)") {
    implicit val s = spark
    MediaDecoders.clearProgrammatic()
    try {
      MediaDecoders.register(new FakeVideoDecoder)
      val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(6)
      val videos = fromText(docs, "doc_id", "text", "video")
      val resized = decodeAndResize(videos, 64, 48).collect()
      // plugin decode wins, then the fused resize rescales its metadata —
      // NOT the stub's (stub n_frames is payload-derived, never 42)
      assert(resized.nonEmpty && resized.forall(d =>
        d.width == 64 && d.height == 48 && d.n_frames == 42))
      // images with no claiming plugin keep the real pixel-rescale path
      val images = pngMedia(docs, "doc_id", lit(20), lit(10))
      val ri = decodeAndResize(images, 8, 8).collect()
      assert(ri.forall(d => d.width == 8 && d.height == 8 && d.n_frames == 1))
    } finally MediaDecoders.clearProgrammatic()
  }

  test("media-decoder registry: a declining plugin falls through to built-ins") {
    implicit val s = spark
    MediaDecoders.clearProgrammatic()
    try {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(8)
      val images = pngMedia(docs, "doc_id", lit(10), lit(10))
      val before = decode(images).orderBy("media_id").collect().toSeq
      MediaDecoders.register(new DecliningDecoder)
      val after = decode(images).orderBy("media_id").collect().toSeq
      assert(before.map(_.media_id) == after.map(_.media_id))
      assert(before.zip(after).forall { case (a, b) =>
        a.width == b.width && a.height == b.height &&
          a.features.toSeq == b.features.toSeq
      })
    } finally MediaDecoders.clearProgrammatic()
  }

  test("media-decoder registry: plan-time snapshot — late registration does not mutate an existing plan") {
    implicit val s = spark
    MediaDecoders.clearProgrammatic()
    try {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(5)
      val videos = fromText(docs, "doc_id", "text", "video")
      val plannedBefore = decode(videos) // snapshot taken here: empty registry
      MediaDecoders.register(new FakeVideoDecoder)
      // the pre-registration plan keeps its captured (empty) decoder list —
      // deterministic plans, no spooky re-resolution at execution time
      assert(plannedBefore.collect().forall(_.width != 7777))
      // a NEW plan sees the plugin
      assert(decode(videos).collect().forall(_.width == 7777))
    } finally MediaDecoders.clearProgrammatic()
  }

  test("expression decode: whole-stage codegen, and metadata-only reads prune the payload") {
    implicit val s = spark
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(20)
    // fromText builds media with pure column ops (no fixture mapPartitions),
    // so the whole scan→decode pipeline should be one codegen'd stage
    val media = fromText(docs, "doc_id", "text", "image")
    val decoded = decode(media).toDF()
    decoded.collect() // finalize the AQE plan before inspecting it
    val plan = decoded.queryExecution.executedPlan.toString()
    // the decode projection participates in whole-stage codegen — the "*(n)"
    // stage marker must sit on the Project carrying decode_media (the old
    // mapPartitions shape forced a SerializeFromObject/DeserializeToObject
    // serde sandwich that split the stage)
    assert(plan.linesIterator.exists(l => l.contains("decode_media") && l.contains("*(")),
      s"decode not codegen'd:\n$plan")
    assert(!plan.contains("DeserializeToObject"),
      s"decode still routes through object serde:\n$plan")
    // a metadata-only projection prunes the binary payload out of the scan
    val meta = decode(media).toDF().select("media_id")
    val metaScan = meta.queryExecution.executedPlan.toString()
    assert(metaScan.contains("ReadSchema: struct<doc_id:bigint>"),
      s"payload not pruned from metadata-only read:\n$metaScan")
    // results identical to the real kernel applied directly
    val got = decode(pngMedia(docs, "doc_id", lit(16), lit(16))).orderBy("media_id").collect()
    assert(got.nonEmpty && got.forall(d => d.width == 16 && d.height == 16 && d.n_frames == 1))
  }

  test("mmrSelect via LSH candidates == exact candidates on the embeddings fixture") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qs = emb.filter(col("vec_id") < 4)
    val exact = Similarity.mmrSelect(emb, qs, k = 3, cands = 8, lambdaPermille = 700)
      .orderBy("qid", "sel_rank").collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val viaAnn = Similarity.mmrSelect(emb, qs, k = 3, cands = 8, lambdaPermille = 700,
        candidates = Similarity.MmrCandidates.Lsh(dim = 64, tables = 8))
      .orderBy("qid", "sel_rank").collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // L=8 SRP tables recover the exact top-8 pool with margin on the test
    // SFs, so the deterministic greedy traces are identical — the contract
    // sim_mmr_ann hash-checks as data
    assert(exact == viaAnn, s"exact=$exact\nann=$viaAnn")
  }

  test("mmrSelect via IVF-PQ candidates: valid diversified selection from the composed index") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qs = emb.filter(col("vec_id") < 3)
    val got = Similarity.mmrSelect(emb, qs, k = 3, cands = 8,
        candidates = Similarity.MmrCandidates.IvfPq())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // exactly k selections per query, ranks 1..k, no duplicate picks
    val byQ = got.groupBy(_._1)
    assert(byQ.keySet == Set(0L, 1L, 2L))
    byQ.values.foreach { rows =>
      assert(rows.map(_._3).sorted.toSeq == Seq(1L, 2L, 3L))
      assert(rows.map(_._2).distinct.length == 3)
    }
    // every pick comes from the IVF-PQ candidate pool (ADC keep = rerank·cands)
    val pool = Similarity.ivfPqCandidates(emb, qs, keep = 80)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.forall(t => pool.contains((t._1, t._2))))
    // deterministic greedy trace: same plan twice, same selections
    val again = Similarity.mmrSelect(emb, qs, k = 3, cands = 8,
        candidates = Similarity.MmrCandidates.IvfPq())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.sorted.toSeq == again.sorted.toSeq)
  }

  test("LSH candidate generation never cross-joins the corpus") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qs = emb.filter(col("vec_id") < 4)
    val lsh = Similarity.lshCandidates(emb, qs, dim = 64, tables = 8)
    val plan = lsh.queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"LSH candidates must stay equi-joined on (table,bucket):\n$plan")
    // the exact path IS the documented full scan — sanity-check the contrast
    val exactCand = emb.crossJoin(org.apache.spark.sql.functions.broadcast(qs))
    val exactPlan = exactCand.queryExecution.executedPlan.toString()
    assert(exactPlan.contains("BroadcastNestedLoopJoin"))
  }

  test("bm25TopK: classic ranking behaviors on a controlled corpus") {
    val docs = Seq(
      (1L, "rare common common filler filler filler"),      // 1× rare
      (2L, "rare rare common filler filler filler"),        // 2× rare
      (3L, "common common common filler filler filler"),    // no rare
      (4L, "rare filler"),                                   // 1× rare, SHORT doc
      (5L, "filler filler filler filler filler filler"),    // no query terms
      (6L, "other words entirely"),
      (7L, "common filler filler filler filler filler"),
      (8L, "noise noise noise noise noise noise")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.bm25TopK(docs, col("doc_id"), col("text"),
        query = Seq("rare", "common"), k = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val rankOf = got.map(t => t._1 -> t._2).toMap
    val scoreOf = got.map(t => t._1 -> t._3).toMap
    // docs with no query terms never appear
    assert(!rankOf.contains(5L) && !rankOf.contains(6L) && !rankOf.contains(8L))
    // tf monotonicity: two "rare" beats one at equal length and common-count...
    assert(scoreOf(2L) > scoreOf(1L))
    // idf: the rarer term dominates the common one at equal tf and length
    assert(scoreOf(1L) > scoreOf(3L))
    // length normalization (b > 0): the same single "rare" in a 2-token doc
    // beats it in a 6-token doc
    assert(scoreOf(4L) > scoreOf(1L) - scoreOf(3L), "short-doc boost should be visible")
    assert(scoreOf(4L) > 0 && got.forall(_._3 > 0))
    // ranks are 1..n dense, and scores are non-increasing in rank order
    assert(got.map(_._2).sorted.toSeq == (1L to got.length).toSeq)
    val byRank = got.sortBy(_._2).map(_._3).toSeq
    assert(byRank == byRank.sorted.reverse, s"scores must not increase with rank: $byRank")
  }

  test("property: bm25TopK matches an independent in-memory brute force across random corpora") {
    // independent substrate: the same pinned formula evaluated in plain
    // Scala over the collected corpus — any drift in the distributed
    // plan's aggregation, join, or pinning shows up as a tuple mismatch
    val rnd = new scala.util.Random(0xB5251L)
    val vocab = Vector("table", "hash", "data", "index", "scan", "merge", "row")
    val query = Seq("table", "hash", "data")
    (1 to 12).foreach { trial =>
      val docs = (1L to (10 + rnd.nextInt(25))).map { id =>
        (id, Vector.fill(1 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val k = 1 + rnd.nextInt(8)
      val got = TextAnalysis.bm25TopK(docs.toDF("doc_id", "text"),
          col("doc_id"), col("text"), query, k = k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
      // brute force with the identical pinned arithmetic
      val toks = docs.map { case (id, t) => id -> t.split(" ", -1).toSeq }.toMap
      val n = docs.size.toLong
      val tTok = toks.valuesIterator.map(_.size.toLong).sum
      val df = query.map(t => t -> toks.count(_._2.contains(t)).toLong).toMap
      val scores = docs.flatMap { case (id, _) =>
        val dl = toks(id).size.toLong
        val cs = query.flatMap { t =>
          val tf = toks(id).count(_ == t).toLong
          if (tf == 0 || df(t) == 0) None
          else {
            val idf = Math.round(math.log((n - df(t) + 0.5) / (df(t) + 0.5) + 1.0) * 1e6)
            val num = tf * 2200L * 1000L * tTok
            val den = tf * 1000000L * tTok + 300000L * tTok + 900000L * dl * n
            Some(Math.round(idf * (num.toDouble / den.toDouble)))
          }
        }
        if (cs.isEmpty) None else Some(id -> cs.sum)
      }
      val expect = scores.sortBy { case (id, s) => (-s, id) }.take(k)
        .zipWithIndex.map { case ((id, s), i) => (id, i + 1L, s) }.sorted
      assert(got == expect, s"trial $trial (k=$k):\n got=$got\n exp=$expect")
    }
  }

  test("bm25TopK plan: full token stream never explodes (array pruned to query terms first)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val q = TextAnalysis.bm25TopK(docs, col("doc_id"), col("text"), Seq("table", "hash"), k = 5)
    val plan = q.queryExecution.optimizedPlan.toString()
    // the generator's child must be the term-pruned array, not the raw
    // token array (the optimized plan aliases split() to toks upstream)
    assert(plan.contains("explode(filter(toks"),
      s"explode should consume the term-pruned array:\n$plan")
    // and the k-bound engages group-limit pushdown on the qid-partitioned
    // window. NOTE on provenance: bm25TopK has delegated to the
    // qid-partitioned bm25TopKMulti since the multi-query operator landed,
    // so the GlobalLimit this assertion previously looked for had already
    // left the plan then — the old assertion was stale, not tracking a
    // round-12 plan change; round 12 merely corrected it to the shape the
    // delegated plan actually has (WindowGroupLimit, no single-partition
    // GlobalLimit).
    assert(plan.contains("WindowGroupLimit"),
      s"top-k should engage window group-limit pushdown:\n$plan")
  }

  test("winsorize: exact-decomposition mean == brute-force clamped mean, partitioning-invariant") {
    // centi-exact fixture with deliberate outliers per group
    val rows = (for {
      g <- 0L to 2L
      i <- 1 to 40
    } yield (g, (i * 25 + g * 7).toDouble / 100.0 * (if (i % 13 == 0) 50 else 1)))
      .toDF("g", "v")
    val got = Relational.winsorize(rows, col("g"), col("v"))
      .orderBy("g").collect()
    // brute-force reference: clamp at the same percentile bounds, plain mean
    val bounds = got.map(r => (r.getLong(0), (r.getDouble(2), r.getDouble(3)))).toMap
    val data = rows.collect().map(r => (r.getLong(0), r.getDouble(1)))
    got.foreach { r =>
      val g = r.getLong(0)
      val (lo, hi) = bounds(g)
      val vs = data.filter(_._1 == g).map(_._2)
      val clamped = vs.map(v => math.max(math.min(v, hi), lo))
      val ref = BigDecimal(clamped.sum / clamped.length)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getDouble(4) - ref) <= 1e-6,
        s"group $g: winsor_mean=${r.getDouble(4)} ref=$ref")
      // clip counts consistent
      assert(r.getLong(5) == vs.count(_ < lo) && r.getLong(6) == vs.count(_ > hi))
    }
    // partitioning invariance: a different layout gives BIT-identical means
    // (the running-double avg this replaced could differ per layout)
    val shuffled = Relational.winsorize(rows.repartition(7, col("v")), col("g"), col("v"))
      .orderBy("g").collect()
    got.zip(shuffled).foreach { case (a, b) =>
      assert(a.getDouble(4) == b.getDouble(4), s"layout changed winsor_mean for group ${a.getLong(0)}")
    }
  }

  test("expression dhash: same bands as the direct kernel, null for non-images") {
    implicit val s = spark
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(10)
    val media = pngMedia(docs, "doc_id", lit(20), lit(12), gradient = true)
    val viaOp = imageDhash(media).orderBy("media_id").collect()
    val direct = media.orderBy("media_id").collect().map { r =>
      val im = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.content))
      MediaCodec.dhashBands(im)
    }
    assert(viaOp.length == direct.length)
    viaOp.zip(direct).foreach { case (row, bands) =>
      assert(Seq(row.getInt(1), row.getInt(2), row.getInt(3), row.getInt(4)) == bands.toSeq)
    }
    // non-image payloads → NULL bands (cannot be perceptually compared)
    val text = fromText(docs, "doc_id", "text", "image")
    assert(imageDhash(text).collect().forall(_.isNullAt(1)))
  }
}
