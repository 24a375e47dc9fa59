package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Checkpoint lifecycle for DataFrame operators: ONE ownership rule.
  *
  * Iterative fixpoints (pageRank, nearDupClusters) MUST truncate lineage
  * per round — without it round N replays rounds 1..N-1 and the DAG cost
  * is quadratic in iterations. But a `localCheckpoint(true)` pins its
  * blocks for the SESSION lifetime, so an un-released checkpoint from one
  * query taxes every query that runs after it in the same session.
  *
  * The rule: library code checkpoints only inside a [[scope]], which
  * owns every frame it checkpoints (`s.checkpoint`) or adopts
  * (`s.own`) and, on EVERY exit path, releases all of them but the one
  * frame the body returns (`s.release` drops a superseded one early).
  * That frame must be an owned checkpoint or read none of them — a
  * released frame has no lineage to rebuild from. So an operator
  * returns at most ONE checkpointed frame, which the caller owns.
  */
object Checkpoints {

  /** Bisect hooks for the round-14 serialized-checkpoint finding, kept
    * as the permanent regression harness (StatsInvarianceSpec sweeps
    * {storage level} × {stats scale} × {raw leaf} over a pinned operator
    * set and asserts identical results; production code never sets
    * these — defaults = shipped behavior).
    *
    * Root cause (round 15, pinned): NOT a checkpoint defect. Spark
    * 4.1.2's `spark.sql.unionOutputPartitioning` (default TRUE) lets
    * `UnionExec.outputPartitioning` claim the children's common hash
    * partitioning; under AQE, `EnsureRequirements` then elides the
    * exchange a downstream aggregate/window needs (reachable through a
    * BroadcastHashJoin's stream-side partitioning expansion), but at
    * execution the same node builds a FLAT `UnionRDD` (partitions = sum
    * of children, verified on the executed RDD lineage) instead of the
    * partition-zipped `SQLPartitioningAwareUnionRDD` the claim requires
    * — so each hash group is split across tasks: duplicate
    * `row_number()==1` winners, under-aggregated `max()`. Serialized
    * checkpoint storage merely shrank the measured truthful stats enough
    * to flip one step-3 join to broadcast, exposing the shape; any stats
    * change (AQE threshold, CBO, a Spark upgrade) could do the same with
    * plain MEMORY_AND_DISK. Every graft session builder therefore sets
    * `spark.sql.unionOutputPartitioning=false`; library users bringing
    * their own session on Spark 4.1.x should do the same. AQE off or
    * `spark.sql.execution.broadcastHashJoin.outputPartitioningExpandLimit=0`
    * also restore correctness (measured); the flag is the narrowest
    * fence. Repro recipe in NOTES.md round-15. */
  /** Local checkpoints store SERIALIZED blocks (round 15 — the round-14
    * experiment re-landed now that its miscompute is root-caused above
    * and fenced): the default deserialized MEMORY_AND_DISK pins row
    * OBJECTS, ~3× the footprint of the compact bytes for the one
    * corpus-sized checkpoint in the repo (pageRank's edge frame), and
    * the measured difference between finishing and thrashing in a
    * memory-tight JVM (graph_pagerank ×64 in an 8 GB local[32] heap:
    * 137s deserialized vs ~42s serialized). _SER costs one cheap
    * UnsafeRow deserialization per downstream read — measured noise for
    * the bounded-small fixpoint frames that dominate call sites (sf0.1
    * bench A/B within run-to-run variance). StatsInvarianceSpec pins
    * result equality across storage levels on the originally-affected
    * operator set. */
  private[graft] var storage: StorageLevel = StorageLevel.MEMORY_AND_DISK_SER
  private[graft] var statsScale: Long = 1L
  private[graft] var rawLeaf: Boolean = false

  // Round-17 A/B, measured and REJECTED: materializing checkpoints with
  // AQE partition coalescing disabled (so the preserved hash layout's
  // partition count matches consumer exchanges and JOIN consumers also
  // elide their shuffle) cost far more than it saved — the fixpoint
  // rows ran 2-3× slower at sf0.1 (graph_components 1.90→6.24 s,
  // graph_pagerank 2.74→5.63 s, pipeline_clean 3.42→7.01 s; same-host
  // back-to-back probes) because every stage inside every checkpointed
  // subtree then runs at the static partition count on right-sized-to-
  // tiny data. Coalescing stays on; the preserved layout still elides
  // exchanges for same-key AGGREGATE/WINDOW consumers (count-agnostic
  // ClusteredDistribution) and equal-count join sides (e.g. mmrSelect's
  // candidate pair self-join).

  /** Truncate lineage eagerly. With `dir` set this is a RELIABLE
    * checkpoint (blocks re-readable from storage after executor loss —
    * `localCheckpoint` data dies with its executor, which on a real
    * cluster makes a long iterative job unrecoverable mid-flight);
    * unset, executor-local blocks: the fast path for single-query
    * lifetimes and local mode. Reliable-checkpoint files are owned by
    * the caller's `dir` and are not deleted here. */
  def checkpoint(df: DataFrame, dir: Option[String] = None): DataFrame = {
    val ck = dir match {
      case Some(d) =>
        df.sparkSession.sparkContext.setCheckpointDir(d)
        df.checkpoint(eager = true)
      case None => df.localCheckpoint(eager = true, storageLevel = storage)
    }
    // Spark preserves the ORIGINAL plan's statistics through checkpoint;
    // iterative self-joins then square sizeInBytes per round until the
    // stats visitor overflows at analysis time — rebase on a fresh leaf
    // (see ColumnBridge.freshLeaf). The leaf carries the TRUTHFUL size of
    // the just-materialized blocks (the checkpoint is eager, so the block
    // manager already knows it): a default-stats leaf would report
    // sizeInBytes = Long.MaxValue and silently stop small checkpointed
    // frames from auto-broadcasting in downstream joins. Falls back to
    // default stats when the blocks aren't block-manager-tracked
    // (reliable checkpoints live in files). release() walks the short
    // dependency chain to the persisted RDD underneath.
    if (rawLeaf) return ck
    val measured = leafRdds(ck).find(persisted).map(_.id).flatMap(
      org.apache.spark.sql.graft.ColumnBridge.persistedBytes(ck.sparkSession, _))
    // physical layout of the frame the checkpoint just materialized
    // (round 17): read off the SOURCE df's now-executed final plan —
    // the checkpoint's own leaf reports UnknownPartitioning whenever
    // AQE ran (stock Spark drops it at the AdaptiveSparkPlanExec
    // boundary), so downstream joins/aggregations keyed like the
    // materialized exchange would re-shuffle blocks that already sit
    // hash-partitioned on the key. See ColumnBridge.finalLayout.
    val layout = org.apache.spark.sql.graft.ColumnBridge.finalLayout(df)
    org.apache.spark.sql.graft.ColumnBridge.freshLeaf(
      ck, measured.map(BigInt(_) * statsScale), Some(layout))
  }

  /** Every RDD reachable from the frame's `LogicalRDD` leaves, pre-order.
    * A checkpoint's lineage is truncated, so for a checkpointed frame (or
    * a lazy frame over one) this is the short chain down to its blocks. */
  private[graft] def leafRdds(df: DataFrame): Iterator[RDD[_]] = {
    val seen = scala.collection.mutable.Set.empty[Int]
    def walk(r: RDD[_]): Iterator[RDD[_]] =
      if (!seen.add(r.id)) Iterator.empty
      else Iterator.single(r) ++ r.dependencies.iterator.flatMap(d => walk(d.rdd))
    df.queryExecution.analyzed.collectLeaves().iterator.flatMap {
      case lr: LogicalRDD => walk(lr.rdd)
      case _ => Iterator.empty
    }
  }

  private def persisted(r: RDD[_]): Boolean = r.getStorageLevel != StorageLevel.NONE

  /** Spark WARNs every time a locally-checkpointed RDD is unpersisted
    * ("lineage has been truncated and cannot be recomputed") — for
    * rotated checkpoints that is the INTENDED lifecycle: the frame is
    * superseded and never referenced again. One advisory line per
    * released frame per query is pure log noise, so that logger drops
    * to ERROR; a genuine premature release still fails loudly at access
    * time (checkpoint block not found). */
  private lazy val quietUnpersistWarn: Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD",
      org.apache.logging.log4j.Level.ERROR)

  /** Drop the block-manager storage behind a checkpointed frame: every
    * persisted RDD under its leaves (the leaf may be an unpersisted
    * freshLeaf wrapper over the actual blocks). ONLY for superseded
    * frames: a local checkpoint has no lineage left to rebuild from.
    * Idempotent; a no-op for frames that hold no persisted RDD. */
  def release(df: DataFrame): Unit = {
    quietUnpersistWarn
    leafRdds(df).filter(persisted).foreach(_.unpersist(blocking = false))
  }

  /** The owner of a [[scope]]'s checkpoints. */
  final class Scope private[Checkpoints] (dir: Option[String]) {
    private[Checkpoints] val owned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // every RDD an owned frame reached, released ones included
    private[Checkpoints] val marks = scala.collection.mutable.Set.empty[Int]

    /** Eager [[Checkpoints.checkpoint]] (to the scope's `dir`), owned. */
    def checkpoint(df: DataFrame): DataFrame = own(Checkpoints.checkpoint(df, dir))

    /** Adopt a checkpointed frame another operator returned. */
    def own(df: DataFrame): DataFrame = {
      owned += df
      marks ++= leafRdds(df).map(_.id)
      df
    }

    /** Release a superseded frame (or a view of one) before scope exit. */
    def release(df: DataFrame): Unit = {
      Checkpoints.release(df)
      owned -= df
    }
  }

  /** Run `body` with a [[Scope]] owning its checkpoints: on every exit
    * path every owned frame except the returned one is released, and the
    * returned frame must be an owned checkpoint or read none of them. */
  def scope(dir: Option[String] = None)(body: Scope => DataFrame): DataFrame = {
    val s = new Scope(dir)
    var kept: Option[DataFrame] = None
    try {
      val out = body(s)
      kept = s.owned.find(_ eq out)
      require(kept.nonEmpty || !leafRdds(out).exists(r => s.marks.contains(r.id)),
        "Checkpoints.scope: the returned frame reads a checkpoint the scope " +
          "releases on exit — checkpoint the result with s.checkpoint")
      out
    } finally s.owned.foreach(f => if (!kept.exists(_ eq f)) release(f))
  }
}
