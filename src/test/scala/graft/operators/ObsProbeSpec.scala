package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Round-17 optimization: `nearDupClusters` reads its per-round
  * convergence count as an OBSERVED METRIC riding the final jump's
  * eager checkpoint instead of a separate count job. That only works if
  * Spark's Observation completes on the checkpoint action itself — for
  * BOTH checkpoint kinds `Checkpoints.checkpoint` can take. These tests
  * pin that contract against the Spark version in use (a regression
  * here would not corrupt the fixpoint: each round would wait out its
  * 30 s bound on `obs.future`, then fall back to a count job). */
class ObsProbeSpec extends SparkTestBase {

  import scala.concurrent.Await
  import scala.concurrent.duration._

  test("observation fires on eager localCheckpoint") {
    import spark.implicits._
    val obs = org.apache.spark.sql.Observation()
    val df = Seq((1L, 2L), (3L, 3L)).toDF("a", "b")
      .observe(obs, count(when(col("a") =!= col("b"), lit(1))).as("changed"))
    val ck = Checkpoints.checkpoint(df)
    val m = Await.result(obs.future, 30.seconds)
    assert(m.getAs[Long]("changed") == 1L)
    assert(ck.count() == 2)
    Checkpoints.release(ck)
  }

  test("observation fires on eager reliable checkpoint (dir set)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_obs_ck").toString
    try {
      val obs = org.apache.spark.sql.Observation()
      val df = Seq((1L, 1L), (3L, 3L)).toDF("a", "b")
        .observe(obs, count(when(col("a") =!= col("b"), lit(1))).as("changed"))
      val ck = Checkpoints.checkpoint(df, Some(dir))
      val m = Await.result(obs.future, 30.seconds)
      assert(m.getAs[Long]("changed") == 0L)
      assert(ck.count() == 2)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
}
