package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What the driver mains (Bench, Scale, Verify, PlanDump) share: the
  * environment they read, the session they run in, the host-load probe,
  * and the one way a query is timed.
  *
  * The timing rule, [[minOfN]], the same for Bench and Scale:
  *   - one untimed warm-up, then the scheduled runs;
  *   - then one more run while the runs' max/min exceeds [[VarBar]], up
  *     to [[MaxRuns]] (a single run has a band of 1, so it never
  *     escalates);
  *   - the figure is the min of the runs;
  *   - a measurement still above the bar after [[MaxRuns]] is not
  *     [[Timing.resolved]], and the mains report it as unresolved.
  *
  * Env, read once:
  *   SPARK_GRAFT_SF_DIR  the sf dir the mains read; Scale scales it
  *                       (default /root/testdata/sf0.1)
  *   SPARK_GRAFT_CPUS    local[N] core count and shuffle partitions
  *                       (default 4)
  *   SPARK_GRAFT_ONLY    comma list of query names to run (default: the
  *                       main's own set; an undeclared name fails the run)
  */
object Harness {

  val sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)
  val only: Option[String] = sys.env.get("SPARK_GRAFT_ONLY")

  /** The session every driver main runs in: `local[cpus]` with as many
    * shuffle partitions, AQE on, graft's extensions, the Spark 4.1 union
    * fence, and `conf` on top. */
  def session(conf: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.unionOutputPartitioning", "false") // Spark 4.1 union claim/exec mismatch; see Checkpoints.scala
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `v` with `digits` decimals in Locale.ROOT. The default-locale
    * f-interpolator writes "86,555" on a comma-decimal locale, which
    * breaks every JSON line the number lands in. */
  def num(v: Double, digits: Int = 3): String =
    String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))

  /** The 1-minute system load average, -1 where the platform has none. */
  def loadAvg(): Double = {
    val v = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    if (v.isNaN) -1.0 else v
  }

  /** Drops every cached plan and persisted RDD the session holds and
    * returns the bytes they held in memory and on disk: what the queries
    * since the last reset left behind. */
  def resetStorage(spark: SparkSession): Long = {
    val sc = spark.sparkContext
    val held = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(false))
    held
  }

  /** The widest max/min a measurement's runs may span before [[minOfN]]
    * takes another run. */
  val VarBar: Double = 1.5
  /** The most timed runs [[minOfN]] takes for one measurement. */
  val MaxRuns: Int = 4

  /** One query's measurement: the min of its timed runs in seconds (-1
    * when a run threw), the runs themselves, the failure, and the bytes
    * the storage reset after it dropped. */
  final case class Timing(sec: Double, runs: Vector[Double], err: Option[String],
                          leakedBytes: Long) {
    /** max/min of the runs; 1 for a single run or none. */
    def band: Double = if (runs.isEmpty) 1.0 else runs.max / runs.min
    /** The runs agree within [[VarBar]]. */
    def resolved: Boolean = !(band > VarBar)
  }

  /** Times `query` into the noop sink, which forces every output column (a
    * bare count() would let Catalyst prune the projected expressions and
    * time nothing but the scan): one untimed warm-up when `warmup`, then
    * `runs` timed runs, then one more while their max/min exceeds
    * [[VarBar]], up to [[MaxRuns]]. A throw ends the measurement with -1
    * and its cause; `label` names the query on stderr. Each run's frame
    * is the caller's under the `Checkpoints.scope` contract, so it is
    * released once the clock stops; the session's storage is then reset
    * in `finally`, once after the last run, so a query that leaves blocks
    * behind never taxes the queries after it, and only such strays count
    * as leaked. */
  def minOfN(spark: SparkSession, label: String, runs: Int, warmup: Boolean)(
      query: => DataFrame): Timing = {
    def sink(): DataFrame = {
      val df = query
      df.write.format("noop").mode("overwrite").save()
      df
    }
    def timed(): Double = {
      val t0 = System.nanoTime()
      val df = sink()
      val sec = (System.nanoTime() - t0) / 1e9
      operators.Checkpoints.release(df)
      sec
    }
    var leaked = 0L
    val (ts, err) =
      try {
        require(runs >= 1, s"$runs timed runs")
        if (warmup) operators.Checkpoints.release(sink())
        val ts = scala.collection.mutable.ArrayBuffer.fill(runs)(timed())
        while (ts.size < MaxRuns && ts.max / ts.min > VarBar) {
          System.err.println(s"$label band ${num(ts.max / ts.min, 2)} > ${num(VarBar, 2)}" +
            s", escalating to min-of-${ts.size + 1}")
          ts += timed()
        }
        (ts.toVector, None)
      } catch {
        case e: Throwable =>
          System.err.println(s"$label FAILED: ${e.getMessage}")
          val msg = Option(e.getMessage).getOrElse("").take(160)
          (Vector.empty[Double], Some(s"${e.getClass.getSimpleName}: $msg"))
      } finally leaked = resetStorage(spark)
    Timing(if (err.isEmpty) ts.min else -1.0, ts, err, leaked)
  }
}
