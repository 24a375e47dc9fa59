package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** Benchmark entry point. One process runs one workload:
  *
  *   1. generate the seeded inputs (timed on their own, outside set-up);
  *   2. set up once, cold: JVM start, a new session, the workload's `open`
  *      and one untimed cold operation make `setup_s`;
  *   3. time operations back to back for `--seconds`, checking each;
  *   4. with `--trace 1`, time half the window untraced and half with the
  *      span recorder installed, then run the kernel loops, and report the
  *      per-layer metrics instead of the end-to-end ones.
  *
  * The last stdout line is the JSON result. */
object Main {

  final case class Args(workload: String = "", seed: Long = 1, seconds: Double = 10,
                        trace: Boolean = false, smoke: Boolean = false, corrupt: Boolean = false,
                        work: Path = Paths.get("perfbench/.work"), cpus: Int = 4)

  private def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t     => parse(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t  => parse(t, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: t    => parse(t, a.copy(trace = v == "1"))
    case "--work" :: v :: t     => parse(t, a.copy(work = Paths.get(v)))
    case "--cpus" :: v :: t     => parse(t, a.copy(cpus = v.toInt))
    case "--smoke" :: t         => parse(t, a.copy(smoke = true))
    case "--corrupt-expected" :: t => parse(t, a.copy(corrupt = true))
    case Nil                    => a
    case x :: _                 => throw new IllegalArgumentException(s"unknown argument $x")
  }

  /** Untimed warm-up after set-up, at least `WarmupOps` operations and
    * `WarmupS` seconds: the JIT is still settling after the cold operation
    * (with one warm-up operation, neardup_clean's timed passes still fell
    * by 10-15% across the window). */
  val WarmupS = 3.0
  val WarmupOps = 2

  val Workloads: Map[String, () => Workload] = Map(
    "jq_scan" -> (() => new JqScan), "neardup_clean" -> (() => new NeardupClean),
    "jq_interactive" -> (() => new JqInteractive))

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.unionOutputPartitioning", "false") // see graft.operators.Checkpoints
      .config("spark.local.dir", a.work.resolve("spark-local").toAbsolutePath.toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toAbsolutePath.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.length
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
  }

  /** Peak heap in use right after a collection, from GC notifications. */
  final class HeapPeak {
    @volatile var peak = 0L
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    private val listener = new javax.management.NotificationListener {
      def handleNotification(n: javax.management.Notification, h: Any): Unit =
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          if (used > peak) peak = used
        }
    }
    private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case e: javax.management.NotificationEmitter => e }
    def start(): Unit = emitters.foreach(_.addNotificationListener(listener, null, null))
    def stop(): Unit = emitters.foreach(_.removeNotificationListener(listener))
  }

  /** Bytes of persisted RDD blocks other than those present at `baseline`. */
  private def persistedBytes(spark: SparkSession, baseline: Set[Int]): Long =
    spark.sparkContext.getRDDStorageInfo.filterNot(i => baseline(i.id))
      .map(i => i.memSize + i.diskSize).sum

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val mainStartMs = System.currentTimeMillis()
    val a = parse(argv.toList)
    val w = Workloads.getOrElse(a.workload,
      throw new IllegalArgumentException(s"--workload must be one of ${Workloads.keys.toSeq.sorted.mkString(", ")}"))()
    w.corrupt = a.corrupt
    def human(name: String, v: Double, unit: String, note: String = ""): Unit =
      println(f"$name%-32s $v%14.4f $unit%-8s $note")

    val g0 = System.nanoTime()
    w.generate(a.work.resolve("data"), a.seed, a.smoke)
    human("gen_s", (System.nanoTime() - g0) / 1e9, "s", "input generation, not part of setup_s")

    // set-up, cold: JVM start, a fresh session, the workload's open and one
    // cold operation (input generation before it is not counted)
    val s0 = System.nanoTime()
    val spark = session(a)
    val sess = System.nanoTime()

    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    def record(r: OpResult): Unit = {
      attempted += 1
      if (!r.ok) { failed += 1; if (failures.length < 5) failures += r.detail }
    }
    /** Runs operation `i` and checks it; an exception is a failed
      * operation, not the end of the run. */
    def attempt(i: Int)(run: => Any): Option[OpResult] =
      try { val r = w.check(spark, run, i); record(r); Some(r) }
      catch { case NonFatal(e) => record(OpResult(0, ok = false, s"operation $i: $e")); None }

    val off = new Tracer(false)
    var s1 = 0L
    attempt(0) { w.open(spark); try w.run(spark, off, 0) finally s1 = System.nanoTime() }
    val jvmS = (mainStartMs - jvmStartMs) / 1e3
    val setupS = jvmS + (s1 - s0) / 1e9
    println(f"setup: JVM start $jvmS%.3f s, session ${(sess - s0) / 1e9}%.3f s, open and cold operation ${(s1 - sess) / 1e9}%.3f s")

    // warm-up: untimed, checked operations until the JIT has settled
    val warm0 = System.nanoTime()
    var warm = 0
    while (warm < 1 || !a.smoke && (warm < WarmupOps || System.nanoTime() - warm0 < WarmupS * 1e9)) {
      warm += 1
      attempt(-warm)(w.run(spark, off, -warm))
    }

    w.queryMs.clear()
    val baseline = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    var leaked = 0L
    val heap = new HeapPeak
    heap.start()

    /** Operations back to back for `--seconds`. In the traced run odd
      * passes run untraced and even passes with the recorder installed, so
      * drift in the window falls on both sides of the tracing-overhead
      * comparison; the listener bus drains after every pass on both sides. */
    val tr = new Tracer(a.trace)
    val rec = if (a.trace) Some(new Recorder(spark)) else None
    val plain = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    var plainDocs = 0L
    var tracedDocs = 0L
    val t0 = System.nanoTime()
    var i = 1
    val minOps = if (a.smoke) 2 else if (a.trace) 8 else 3
    var wall = 0.0
    // stop once the next operation would probably end past the window
    while (i <= minOps || System.nanoTime() - t0 + wall * 0.5e9 < a.seconds * 1e9) {
      val on = rec.filter(_ => i % 2 == 0)
      on.foreach { r => r.install(); r.currentPass = i }
      val t = if (on.isDefined) tr else off
      attempt(i) {
        val p0 = System.nanoTime()
        try t.inPass(spark, i, "pass") { w.run(spark, t, i) }
        finally {
          wall = (System.nanoTime() - p0) / 1e9
          if (a.trace) PerfbenchBus.drain(spark.sparkContext)
          on.foreach { r => r.currentPass = 0; r.remove() }
        }
      }.foreach { res =>
        if (on.isDefined) { traced += wall; tracedDocs += res.docs }
        else { plain += wall; plainDocs += res.docs }
      }
      leaked = persistedBytes(spark, baseline)
      i += 1
    }

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!a.trace) {
      val walls = plain.toSeq
      metrics("setup_s") = (setupS, "s")
      metrics("wall_s") = (median(walls), "s")
      metrics("docs_per_s") = (plainDocs / walls.sum, "docs/s")
      println("passes_s " + walls.map(x => f"$x%.3f").mkString(" "))
      val lat = if (w.queryMs.nonEmpty) w.queryMs.toSeq else walls.map(_ * 1000)
      human("query_p50_ms", median(lat), "ms", s"n=${lat.length}")
      human("query_p90_ms", pct(lat, 0.9), "ms", s"n=${lat.length}")
      human("query_p95_ms", pct(lat, 0.95), "ms", s"n=${lat.length}")
      human("heap_peak_mb", heap.peak / 1048576.0, "MB", "peak heap after GC in the timed window")
    } else {
      val r = rec.get
      r.install()
      val kern = w.kernels(spark, tr)
      PerfbenchBus.drain(spark.sparkContext)
      r.remove()
      metrics ++= Layers.metrics(a, w, r, tr, plain.toSeq, traced.toSeq, tracedDocs, kern, leaked, heap.peak)
      val all = tr.spans.toSeq ++ r.plans.asScala ++ Layers.sparkSpans(r)
      tr.write(a.work.resolve("traces").resolve(s"${w.name}-s${a.seed}.jsonl"), all, Layers.parents(all))
    }
    heap.stop()
    spark.stop()

    human("failed_ratio", failed.toDouble / attempted, "ratio", s"$failed of $attempted operations")
    failures.foreach(f => println(s"FAILED: $f"))
    metrics.foreach { case (k, (v, u)) => human(k, v, u) }
    def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString
    val body = metrics.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {${body.mkString(", ")}}}""")
  }
}
