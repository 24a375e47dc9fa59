package graft.tools

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
      // frame explains as one ExistingRDD leaf — tap every checkpointed
      // subtree's plan so the file carries the REAL stage shapes
      val ckptPlans = scala.collection.mutable.ArrayBuffer.empty[String]
      graft.operators.Checkpoints.planTap = p => ckptPlans += p
      try {
        val df = query.run(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val w = new java.io.PrintWriter(new java.io.File(dir, s"$name$suffix.txt"), "UTF-8")
        try {
          w.println(txt)
          ckptPlans.zipWithIndex.foreach { case (p, i) =>
            w.println(s"\n== Checkpointed subtree ${i + 1} of ${ckptPlans.size} " +
              "(materialized eagerly during plan construction) ==")
            w.println(p)
          }
        } finally w.close()
        println(s"[plandump] $name ok (${txt.length} chars, ${ckptPlans.size} ckpt subtrees)")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      } finally {
        graft.operators.Checkpoints.planTap = null
        graft.Harness.resetStorage(spark)
      }
    }
    spark.stop()
  }
}
