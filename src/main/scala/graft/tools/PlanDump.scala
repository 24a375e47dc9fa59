package graft.tools

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.util.QueryExecutionListener

/** Dump `.explain("formatted")` for declared queries to files.
  *
  * Optimization-round evidence tool (guide §1.1/§7.2): the judge cannot
  * run Spark, so plan claims ("2 Exchange → 1", "SortMergeJoin →
  * BroadcastHashJoin") are checked against committed plan files. This
  * main renders each declared query's physical plan in FORMATTED mode
  * and writes one file per query.
  *
  * Env contract: the [[graft.Harness]] knobs and session Bench and Verify
  * use (SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_ONLY), plus
  *   SPARK_GRAFT_PLANS_OUT  output dir (default plans/dump)
  *   SPARK_GRAFT_PLANS_SUFFIX  filename suffix, e.g. "_before" (default "")
  *
  * Note: plan CONSTRUCTION may execute eager sub-steps (iterative
  * operators checkpoint eagerly), so a dump is not free — but the final
  * frame itself is only explained, never executed.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = graft.Harness.sfDir
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLANS_OUT", "plans/dump")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLANS_SUFFIX", "")
    val selected = graft.SparkEntry.selected(graft.Harness.only)
    val spark = graft.Harness.session()
    val dir = new java.io.File(outDir)
    dir.mkdirs()
    selected.foreach { query =>
      val name = query.name
      // iterative operators end in an eager checkpoint, so the final
      // frame explains as one ExistingRDD leaf: keep the plan of every
      // checkpoint action the query runs, so the file carries the REAL
      // stage shapes
      val ckptPlans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          if (funcName == "localCheckpoint" || funcName == "checkpoint")
            ckptPlans.add(qe.explainString(FormattedMode))
        override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        val df = query.run(spark, sfDir)
        val txt = df.queryExecution.explainString(FormattedMode)
        ColumnBridge.drainListeners(spark)
        val plans = ckptPlans.asScala.toSeq
        val w = new java.io.PrintWriter(new java.io.File(dir, s"$name$suffix.txt"), "UTF-8")
        try {
          w.println(txt)
          plans.zipWithIndex.foreach { case (p, i) =>
            w.println(s"\n== Checkpointed subtree ${i + 1} of ${plans.size} " +
              "(materialized eagerly during plan construction) ==")
            w.println(p)
          }
        } finally w.close()
        println(s"[plandump] $name ok (${txt.length} chars, ${plans.size} ckpt subtrees)")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      } finally {
        spark.listenerManager.unregister(listener)
        graft.Harness.resetStorage(spark)
      }
    }
    spark.stop()
  }
}
