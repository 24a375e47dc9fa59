package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** A traced interval. Times are `System.nanoTime` nanoseconds; Spark's
  * millisecond event times are mapped onto the same clock. `pass` is the
  * id shared by every span of one timed pass (0 outside passes). A known
  * parent (a stage's job) is named in `parent`; other parents are found by
  * interval containment ([[Layers.parents]]). */
final case class Span(name: String, layer: String, pass: Int, start: Long, end: Long,
                      parent: String = "") {
  def dur: Long = end - start
}

/** Per-stage counters summed from task-end events. */
final class StageRec(val id: Int, val pass: Int, val job: Int) {
  var submitted = 0L; var completed = 0L
  var tasks = 0; var cpuNs = 0L; var runMs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

final class JobRec(val id: Int, val pass: Int, val op: String, val start: Long) {
  @volatile var end = 0L
}

/** Spark-side recorder: a `SparkListener` for jobs, stages, tasks and RDD
  * blocks, and a `QueryExecutionListener` for planning phases and the
  * analyzed-versus-optimized plans. Jobs are tagged with the pass and
  * operator the client thread set as local properties when it submitted
  * them; planning records and block updates with `currentPass`, which the
  * client holds until the bus has drained after the pass. Everything stays
  * in memory until the run ends. */
final class Recorder(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val ms0 = System.currentTimeMillis()
  private val ns0 = System.nanoTime()
  def msToNs(ms: Long): Long = (ms - ms0) * 1000000L + ns0

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  val plans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  /** (pass, jq expressions in the analyzed plan, jq expressions left after optimization). */
  val rewrites = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int, Int)]()

  // RDD block bytes currently stored, and the peak per pass
  private val blocks = new ConcurrentHashMap[String, java.lang.Long]()
  private var blockTotal = 0L
  val blockPeak = new ConcurrentHashMap[Int, java.lang.Long]()
  @volatile var currentPass = 0

  private def tag(props: java.util.Properties, key: String): String =
    Option(props).flatMap(p => Option(p.getProperty(key))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val pass = tag(e.properties, Recorder.PassKey) match { case "" => 0; case s => s.toInt }
    val job = new JobRec(e.jobId, pass, tag(e.properties, Recorder.OpKey), msToNs(e.time))
    jobs.put(e.jobId, job)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, job))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = msToNs(e.time))

  private def stage(id: Int): StageRec =
    stages.computeIfAbsent(id, _ => Option(stageJob.get(id))
      .map(j => new StageRec(id, j.pass, j.id)).getOrElse(new StageRec(id, 0, -1)))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stage(e.stageInfo.stageId).submitted = msToNs(t))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stage(e.stageInfo.stageId)
    e.stageInfo.submissionTime.foreach(t => s.submitted = msToNs(t))
    e.stageInfo.completionTime.foreach(t => s.completed = msToNs(t))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stage(e.stageId)
    val m = e.taskMetrics
    s.synchronized {
      s.tasks += 1
      s.taskMs += e.taskInfo.duration
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case b: RDDBlockId => synchronized {
        val key = info.blockManagerId.executorId + "/" + b.name
        val bytes = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        val prev = Option(blocks.put(key, bytes)).map(_.longValue).getOrElse(0L)
        blockTotal += bytes - prev
        val p = currentPass
        if (blockTotal > Option(blockPeak.get(p)).map(_.longValue).getOrElse(0L)) blockPeak.put(p, blockTotal)
      }
      case _ =>
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val pass = currentPass
    qe.tracker.phases.foreach { case (phase, ps) =>
      plans.add(Span(s"plan.$phase", "plan", pass, msToNs(ps.startTimeMs), msToNs(ps.endTimeMs)))
    }
    def jqExprs(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int =
      p.collect { case n => n.expressions.map(_.collect {
        case x if x.getClass.getName.startsWith("graft.jq.Jq") => 1
      }.size).sum }.sum
    rewrites.add((pass, jqExprs(qe.analyzed), jqExprs(qe.optimizedPlan)))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def remove(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object Recorder {
  val PassKey = "perfbench.pass"
  val OpKey = "perfbench.op"
}

/** Span store and the client-side half of tracing. When disabled, `span`
  * runs its body and records nothing. */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var pass = 0

  def inPass[T](spark: SparkSession, id: Int, name: String)(body: => T): T = {
    pass = id
    spark.sparkContext.setLocalProperty(Recorder.PassKey, id.toString)
    try span(name, "bench")(body)
    finally { spark.sparkContext.setLocalProperty(Recorder.PassKey, null); pass = 0 }
  }

  /** A span around a call into one of graft's operators; Spark jobs it
    * submits carry `op` so they can be counted per operator. */
  def op[T](spark: SparkSession, name: String)(body: => T): T = {
    spark.sparkContext.setLocalProperty(Recorder.OpKey, name)
    try span(name, "ops")(body)
    finally spark.sparkContext.setLocalProperty(Recorder.OpKey, null)
  }

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      try body
      finally spans += Span(name, layer, pass, t0, System.nanoTime())
    }

  /** Writes `all` spans as JSON lines, times in µs from the first span. */
  def write(path: Path, all: Seq[Span], parents: Map[Span, Span]): Unit = {
    Files.createDirectories(path.getParent)
    val t0 = if (all.isEmpty) 0L else all.map(_.start).min
    val lines = all.sortBy(_.start).map { s =>
      val parent = parents.get(s).map(_.name).getOrElse("")
      s"""{"name":"${s.name}","layer":"${s.layer}","pass":${s.pass},"start_us":${(s.start - t0) / 1000},"end_us":${(s.end - t0) / 1000},"parent":"$parent"}"""
    }
    Files.write(path, lines.asJava, UTF_8)
  }
}

object Intervals {
  /** Length of the union of `ivs`, clipped to [lo, hi]. */
  def covered(ivs: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    val sorted = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toVector.sortBy(_._1)
    var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    sorted.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
