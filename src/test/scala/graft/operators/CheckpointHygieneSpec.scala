package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Round-7 block-manager hygiene: iterative operators rotate their
  * checkpoints and release their working set — an un-released
  * `localCheckpoint(true)` pins blocks for the session lifetime and
  * taxes every query that runs after it (round-6 verdict: jq_anyall
  * 0.35s→4.64s purely from stranded pagerank frames). */
class CheckpointHygieneSpec extends SparkTestBase {
  import spark.implicits._

  private def persistedNow: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private val edges = Seq(
    (1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 1L), (5L, 1L)
  ).toDF("src", "dst")

  test("pageRank leaves only its result frame persisted; release() clears it") {
    val before = persistedNow
    val ranks = Graph.pageRank(edges, iterations = 4)
    assert(ranks.count() == 5)
    val leaked = persistedNow -- before
    assert(leaked.size <= 1,
      s"pageRank stranded ${leaked.size} persisted RDDs — rotation broken")
    Checkpoints.release(ranks)
    assert((persistedNow -- before).isEmpty,
      "release(result) must clear the last checkpointed frame")
  }

  test("nearDupClusters leaves only its result frame persisted") {
    val ids = (1L to 10L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    // both paths: the fixpoint (localLimit = 0) and driver-local
    for (limit <- Seq(0, 100)) {
      val before = persistedNow
      val labels = Dedup.nearDupClusters(ids, "id", pairs, localLimit = limit)
      assert(labels.count() == 10)
      val leaked = persistedNow -- before
      assert(leaked.size <= 1,
        s"nearDupClusters(localLimit=$limit) stranded ${leaked.size} persisted RDDs")
      Checkpoints.release(labels)
      assert((persistedNow -- before).isEmpty)
    }
  }

  test("dedup_clusters releases its near-dup pair frame: only the clusters stay persisted") {
    val before = persistedNow
    val clusters = graft.SparkEntry.queries("dedup_clusters").run(spark, sfDir)
    // snapshot the moment the query returns: getPersistentRDDs holds RDDs
    // weakly, so a later GC could hide an unreleased (unreachable) frame
    // whose blocks stay pinned until the cleaner happens to run
    val held = persistedNow -- before
    assert(held.size == 1,
      s"dedup_clusters left ${held.size} persisted RDDs — the minhashNearDups " +
        "pair frame must be released once the clusters are built")
    assert(clusters.collect().nonEmpty)
    assert(persistedNow -- before == held, "collecting the result persisted more")
    Checkpoints.release(clusters)
    assert((persistedNow -- before).isEmpty)
  }

  test("ngramScoreSelf releases the corpus-scale gram frame") {
    val docs = Seq((1L, "abcabcabc"), (2L, "xyzxyz"), (3L, "abcxyz"))
      .toDF("doc_id", "text")
    val before = persistedNow
    val scored = TextAnalysis.ngramScoreSelf(docs, "doc_id", col("text"), n = 3)
    assert(scored.count() == 3)
    val leaked = persistedNow -- before
    assert(leaked.size <= 1,
      s"ngramScoreSelf stranded ${leaked.size} persisted RDDs — the (doc, gram) frame must be released")
    Checkpoints.release(scored)
    assert((persistedNow -- before).isEmpty)
    Checkpoints.release(spark.emptyDataFrame) // no-op path: must not throw
  }

  test("pageRank with a reliable checkpoint dir matches the local-checkpoint path") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    try {
      val local = Graph.pageRank(edges, iterations = 3)
        .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
      val reliable = Graph.pageRank(edges, iterations = 3, checkpointDir = Some(dir))
        .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(local.sameElements(reliable))
      // the reliable path actually wrote checkpoint state to the dir
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, "reliable checkpoint dir is empty — fell back to local")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("bpeLearn rotates its vocabulary checkpoints and strands nothing") {
    val docs = Seq("low low low lower newest newest widest").toDF("text")
    val before = persistedNow
    val merges = TextAnalysis.bpeLearn(docs, col("text"), merges = 4)
    assert(merges.count() == 4)
    // result is a driver-side literal frame — NOTHING should stay persisted
    assert((persistedNow -- before).isEmpty,
      s"bpeLearn stranded ${(persistedNow -- before).size} persisted RDDs — rotation broken")
  }

  test("checkpoint() attaches truthful stats so small frames still auto-broadcast") {
    val small = (1L to 100L).toDF("k")
    val ck = Checkpoints.checkpoint(small)
    try {
      val stats = ck.queryExecution.optimizedPlan.stats
      // a 100-row bigint frame is a few KB; the old default-stats leaf
      // reported Long.MaxValue and killed downstream auto-broadcast
      assert(stats.sizeInBytes < BigInt(10L * 1024 * 1024),
        s"checkpointed leaf reports sizeInBytes=${stats.sizeInBytes} — default stats leaked back in")
      // and the planner actually picks a broadcast join against a big side
      val big = spark.range(0, 10000).toDF("k")
      val joined = big.join(ck, "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"small checkpointed frame did not broadcast:\n$plan")
    } finally Checkpoints.release(ck)
  }

  test("nearDupClusters with a reliable checkpoint dir converges identically") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt2").toString
    try {
      val ids = (1L to 6L).toDF("id")
      val pairs = Seq((5L, 6L), (4L, 5L), (1L, 2L)).toDF("id_a", "id_b")
      val got = Dedup.nearDupClusters(ids, "id", pairs, checkpointDir = Some(dir),
          localLimit = 0)
        .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.sameElements(Array(
        (1L, 1L), (2L, 1L), (3L, 3L), (4L, 4L), (5L, 4L), (6L, 4L))))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  // ------------------------------------------------ Checkpoints.scope

  private val small = (1L to 20L).toDF("k")

  test("scope: a body that throws after two checkpoints strands nothing") {
    val before = persistedNow
    intercept[IllegalStateException] {
      Checkpoints.scope() { s =>
        s.checkpoint(small)
        s.checkpoint(small.select((col("k") * 2).as("k")))
        throw new IllegalStateException("mid-operator failure")
      }
    }
    assert((persistedNow -- before).isEmpty)
  }

  test("scope: keeps only the returned checkpoint; rejects a lazy frame over an owned one") {
    val before = persistedNow
    val out = Checkpoints.scope() { s =>
      val a = s.checkpoint(small)
      s.checkpoint(a.filter(col("k") > 10))
    }
    assert(out.count() == 10)
    assert((persistedNow -- before).size == 1)
    Checkpoints.release(out)
    assert((persistedNow -- before).isEmpty)
    val e = intercept[IllegalArgumentException] {
      Checkpoints.scope() { s => s.checkpoint(small).filter(col("k") > 10) }
    }
    assert(e.getMessage.contains("reads a checkpoint the scope releases"))
    assert((persistedNow -- before).isEmpty)
  }

  test("scope: an owned frame from another operator is released on exit") {
    val before = persistedNow
    val adopted = Checkpoints.checkpoint(small)
    val out = Checkpoints.scope() { s =>
      s.own(adopted)
      small.filter(col("k") > 15) // reads no checkpoint
    }
    assert(out.count() == 5)
    assert((persistedNow -- before).isEmpty)
  }

  // The registry leak sweep: every row that checkpoints, run at sf0.001.
  // Whatever a row leaves persisted must be reachable from the returned
  // frame's plan leaves (so the caller can release it), and releasing
  // the frame must leave nothing behind.
  private val checkpointingRows = Seq(
    "dedup_minhash", "dedup_simhash", "dedup_clusters", "dedup_keep",
    "pipeline_clean", "graph_pagerank", "graph_triangles", "graph_components",
    "mm_phash_dedup", "mm_phash_keep", "mm_phash_keep_capped", "text_bpe_learn",
    "curation_temperature", "curation_dsir", "rel_ntile", "rel_skyline", "sim_mmr")

  test("registry leak sweep: checkpointing rows leave only what their frame reaches") {
    for (row <- checkpointingRows) {
      val before = persistedNow
      val frame = graft.SparkEntry.queries(row).run(spark, sfDir)
      // snapshot the moment the row returns: getPersistentRDDs holds RDDs
      // weakly, so a later GC could hide an unreachable stranded frame
      val added = persistedNow -- before
      val reachable = Checkpoints.leafRdds(frame).map(_.id).toSet
      assert(added.subsetOf(reachable),
        s"$row stranded ${(added -- reachable).size} persisted RDDs its frame cannot reach")
      Checkpoints.release(frame)
      assert((persistedNow -- before).isEmpty,
        s"$row: release(frame) left ${(persistedNow -- before).size} persisted RDDs")
    }
  }
}
