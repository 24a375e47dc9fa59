package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between Catalyst `Expression`s and the public `Column` API.
  * Spark 4.x backs `Column` by ColumnNode and gates the Expression
  * constructors behind `private[sql]`; extension libraries (this one
  * included) reach them through an `org.apache.spark.sql` shim package —
  * the same technique used by common Spark connector/extension projects. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Rebase a materialized frame on a FRESH LogicalRDD leaf.
    * `Dataset.localCheckpoint` deliberately preserves the original plan's
    * stats on its LogicalRDD — but an iterative operator that self-joins
    * its own checkpoint then SQUARES sizeInBytes every round, and after
    * ~25 squarings the stats visitor's BigInteger arithmetic overflows
    * (`BigInteger would overflow supported range`) at ANALYSIS time. So
    * the rebase drops the inherited stats — but NOT to the conservative
    * default (sizeInBytes = Long.MaxValue), which would silently disable
    * auto-broadcast for every small checkpointed frame downstream:
    * when `sizeInBytes` is given (the caller measured the materialized
    * blocks), the fresh leaf carries that TRUTHFUL estimate instead.
    * No data moves: the wrapped RDD is the checkpoint's own
    * internal-row RDD. */
  /** The physical layout (partitioning + ordering) of a frame's FINAL
    * executed plan, unwrapping AQE. Round 17, optimization: both
    * `AdaptiveSparkPlanExec.outputPartitioning` and (through it) stock
    * `Dataset.checkpoint` report `UnknownPartitioning` whenever AQE ran
    * — the truthful claim lives on the adaptive plan's FINAL physical
    * plan. Callers capture this right after materializing a frame so
    * the rebased leaf can keep the layout the blocks actually have. */
  def finalLayout(df: org.apache.spark.sql.DataFrame):
      (org.apache.spark.sql.catalyst.plans.physical.Partitioning,
       Seq[org.apache.spark.sql.catalyst.expressions.SortOrder]) = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val exec = ds.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }
    @scala.annotation.tailrec
    def firstLeafPartitioning(
        p: org.apache.spark.sql.catalyst.plans.physical.Partitioning)
        : org.apache.spark.sql.catalyst.plans.physical.Partitioning = p match {
      case pc: org.apache.spark.sql.catalyst.plans.physical.PartitioningCollection =>
        firstLeafPartitioning(pc.partitionings.head)
      case other => other
    }
    (firstLeafPartitioning(exec.outputPartitioning), exec.outputOrdering)
  }

  def freshLeaf(df: org.apache.spark.sql.DataFrame,
                sizeInBytes: Option[BigInt] = None,
                layout: Option[(org.apache.spark.sql.catalyst.plans.physical.Partitioning,
                  Seq[org.apache.spark.sql.catalyst.expressions.SortOrder])] = None)
      : org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val cs = ds.sparkSession
    sizeInBytes match {
      case Some(bytes) =>
        val stats = org.apache.spark.sql.catalyst.plans.logical.Statistics(
          sizeInBytes = bytes.max(BigInt(1)))
        // Preserve the materialized RDD's physical layout on the fresh
        // leaf (round 17, optimization): the pre-r17 rebase dropped
        // partitioning and ordering to UnknownPartitioning — so every
        // fixpoint consumer re-exchanged (and re-sorted) frames that
        // were ALREADY hash-partitioned on the join key when they
        // materialized: one avoidable Exchange+Sort per pageRank /
        // nearDupClusters round, per mmrSelect pair join, at every
        // scale (guide §2.4). The `layout` is [[finalLayout]] of the
        // frame the checkpoint materialized — the claim of the SAME
        // executed plan whose partition structure the checkpoint RDD
        // copies 1:1, with attribute ids the checkpoint leaf shares.
        // `newInstance()` re-keys output AND partitioning/ordering to
        // fresh ids consistently (stock LogicalRDD behavior), matching
        // the old fresh-attrs discipline.
        val qe = ds.queryExecution
        // a layout claim is only usable when its attribute ids are the
        // leaf's own (a physical plan can report partitioning in terms
        // of attributes BELOW a projection/join rename — such a claim
        // would never match a requirement and only clutters plans):
        // validate references, else fall back to Unknown
        val outSet = org.apache.spark.sql.catalyst.expressions.AttributeSet(qe.analyzed.output)
        def partRefs(p: org.apache.spark.sql.catalyst.plans.physical.Partitioning)
            : org.apache.spark.sql.catalyst.expressions.AttributeSet = p match {
          case e: org.apache.spark.sql.catalyst.expressions.Expression => e.references
          case _ => org.apache.spark.sql.catalyst.expressions.AttributeSet.empty
        }
        val (part0, order0) = layout.getOrElse(
          (org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning(0),
            Seq.empty[org.apache.spark.sql.catalyst.expressions.SortOrder]))
        val part = if (partRefs(part0).subsetOf(outSet)) part0
                   else org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning(0)
        val order = if (order0.forall(_.references.subsetOf(outSet))) order0 else Nil
        val leaf = new org.apache.spark.sql.execution.LogicalRDD(
          qe.analyzed.output, qe.toRdd, part, order, false, None)(cs, Some(stats), None)
        org.apache.spark.sql.classic.Dataset.ofRows(cs, leaf.newInstance())
      case None =>
        cs.internalCreateDataFrame(ds.queryExecution.toRdd, ds.schema)
    }
  }

  /** Bytes held in the block manager for `rddId` (memory + disk), if that
    * RDD is tracked there. The truthful size source for an eagerly
    * materialized local checkpoint. */
  def persistedBytes(spark: org.apache.spark.sql.SparkSession,
                     rddId: Int): Option[Long] =
    spark.sparkContext.getRDDStorageInfo
      .find(_.id == rddId)
      .map(i => i.memSize + i.diskSize)
      .filter(_ > 0)

  /** Blocks until every event posted so far has reached its listeners,
    * `QueryExecutionListener`s included (they hear of an action only
    * through the asynchronous listener bus). */
  def drainListeners(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
