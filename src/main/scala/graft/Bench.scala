package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Benchmark main. Prints a JSON line with per-query wall times, then a
  * compact summary line LAST (the driver's contract; see [[summaryLine]]).
  *
  * Every row is timed by [[Harness.minOfN]], the rule Scale uses too:
  * queries run in sorted-name order, so one-time JIT, codegen and
  * shuffle-service warm-up lands on the same query every run; each gets
  * one untimed warm-up at the bench SF, two timed runs, and one more
  * while the runs' max/min exceeds [[Harness.VarBar]], up to
  * [[Harness.MaxRuns]]. The row's figure is the min of its runs. A row
  * still above the bar after MaxRuns is listed in BENCH_DETAIL.json's
  * `unresolved`: a change in its figure cannot be told from noise. The
  * raw runs sit under `runs`, and the 1-minute load average at start and
  * end is recorded as provenance, not acted on.
  */
object Bench {

  /** Newest well-formed BENCH_HISTORY.jsonl lines kept on append. */
  val historyKeep: Int = 12

  private val detailPath = "BENCH_DETAIL.json"
  private val historyPath = "BENCH_HISTORY.jsonl"

  // failures are a visible -1 sentinel in every ledger field
  private def fmt(v: Double): String = if (v < 0) "-1" else Harness.num(v)

  private def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")

  private def strings(names: Seq[String]): String =
    names.map(n => s"\"$n\"").mkString("[", ",", "]")

  /** The LAST stdout line, the driver's contract: a compact summary that
    * fits its 2000-char tail capture at any query count (the full 214-entry
    * map is about 6 KB). The per-query map is on the line before it and in
    * `BENCH_DETAIL.json`. `n_queries` counts only the queries inside the
    * total; failures (`-1` sentinels) are counted separately. */
  def summaryLine(results: Seq[(String, Double)], sfDir: String): String = {
    val ok = results.map(_._2).filter(_ >= 0)
    val nFailed = results.size - ok.size
    s"""{"metric":"total","value":${fmt(ok.sum)},"unit":"sec","n_queries":${ok.size},"n_failed":$nFailed,"sf":"$sfDir","detail_file":"BENCH_DETAIL.json"}"""
  }

  /** Each row's figure: the min of its runs, -1 when it failed. */
  private def ledger(timings: Seq[(String, Harness.Timing)]): String =
    obj(timings.map { case (k, t) => k -> fmt(t.sec) })

  /** What the detail file and the map line open with: the total and its
    * counts, the host (load average at start and end, and the `local[N]`
    * core count the run used), and for a SPARK_GRAFT_ONLY run the names
    * it was restricted to, so a partial total is never read as a full one. */
  private def head(timings: Seq[(String, Harness.Timing)], loadStart: Double,
                   loadEnd: Double, only: Boolean): String = {
    val ok = timings.map(_._2.sec).filter(_ >= 0)
    val host = s"""{"loadavg_start":${fmt(loadStart)},"loadavg_end":${fmt(loadEnd)},"cpus":${Harness.cpus}}"""
    val onlyField = if (only) s""","only":${strings(timings.map(_._1))}""" else ""
    s""""metric":"total","value":${fmt(ok.sum)},"unit":"sec","n_queries":${ok.size},"n_failed":${timings.size - ok.size},"host":$host$onlyField"""
  }

  /** BENCH_DETAIL.json: [[head]], each row's figure (`queries`) and raw
    * timed runs (`runs`), the rows whose runs stayed above
    * [[Harness.VarBar]] (`unresolved`), and the bytes each row left
    * persisted, nonzero rows only (`leaked_bytes`). */
  def detailJson(timings: Seq[(String, Harness.Timing)], sfDir: String,
                 loadStart: Double, loadEnd: Double, only: Boolean): String = {
    val runs = obj(timings.map { case (k, t) => k -> t.runs.map(fmt).mkString("[", ",", "]") })
    val unresolved = strings(timings.collect { case (k, t) if !t.resolved => k })
    val leaked = obj(timings.collect { case (k, t) if t.leakedBytes > 0 => k -> t.leakedBytes.toString })
    s"""{${head(timings, loadStart, loadEnd, only)},"queries":${ledger(timings)},"runs":$runs,"unresolved":$unresolved,"leaked_bytes":$leaked,"sf":"$sfDir"}"""
  }

  /** Appends one full run's ledger to BENCH_HISTORY.jsonl and keeps the
    * newest [[historyKeep]] lines that parse as a run, writing through a
    * temp file and an atomic rename: the file stays bounded, and a torn
    * concurrent append loses at most its own line. */
  private def appendHistory(line: String): Unit = {
    val path = Paths.get(historyPath).toAbsolutePath
    val prev = if (Files.isRegularFile(path)) Files.readAllLines(path).asScala.toSeq else Seq.empty
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def isRun(l: String): Boolean =
      try mapper.readTree(l).path("queries").size > 0 catch { case _: Exception => false }
    val kept = (prev :+ line).filter(isRun).takeRight(historyKeep)
    val tmp = Files.createTempFile(path.getParent, "hist", ".tmp")
    Files.write(tmp, (kept.mkString("\n") + "\n").getBytes("UTF-8"))
    Files.move(tmp, path, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir
    val spark = Harness.session()
    val loadStart = Harness.loadAvg()
    // dev loop: SPARK_GRAFT_ONLY=q1,q2 restricts the run (driver sets no
    // filter and benches everything) — same contract as Verify
    val only = Harness.only.isDefined
    val timings = SparkEntry.selected(Harness.only).map { q =>
      q.name -> Harness.minOfN(spark, s"[bench] ${q.name}", runs = 2, warmup = true)(
        q.run(spark, sfDir))
    }
    val loadEnd = Harness.loadAvg()
    // the full per-query detail goes to a file: the harness that captures
    // this process keeps only the tail of stdout
    try Files.write(Paths.get(detailPath),
      (detailJson(timings, sfDir, loadStart, loadEnd, only) + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] detail write failed: ${e.getMessage}") }
    // full runs only: a SPARK_GRAFT_ONLY slice would put a partial ledger
    // into the history
    if (!only)
      try appendHistory(s"""{"sf":"$sfDir","queries":${ledger(timings)}}""")
      catch { case e: Throwable => System.err.println(s"[bench] history append failed: ${e.getMessage}") }
    // the complete per-query map first, then the compact summary LAST —
    // the line the driver's tail capture parses (see summaryLine)
    println(s"""{${head(timings, loadStart, loadEnd, only)},"sf":"$sfDir","detail_file":"$detailPath","queries":${ledger(timings)}}""")
    println(summaryLine(timings.map { case (k, t) => k -> t.sec }, sfDir))
    spark.stop()
  }
}
