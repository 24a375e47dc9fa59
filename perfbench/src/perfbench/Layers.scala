package perfbench

import scala.jdk.CollectionConverters._

/** Turns a traced run's spans and Spark events into per-layer metrics.
  * Counts and times are per traced pass; every ratio is printed next to
  * the metrics it is computed from. */
object Layers {
  import Main.{median, Args}

  /** Job and stage spans from the recorder (stages parented to their job). */
  def sparkSpans(rec: Recorder): Seq[Span] = {
    val jobs = rec.jobs.values.asScala.filter(_.end > 0).toSeq
    jobs.map(j => Span(s"job.${j.id}", "job", j.pass, j.start, j.end)) ++
      rec.stages.values.asScala.filter(s => s.completed > 0 && s.submitted > 0).toSeq.map { s =>
        Span(s"stage.${s.id}", "stage", s.pass, s.submitted, s.completed, s"job.${s.job}")
      }
  }

  private val Rank = Map("kernel" -> 0, "bench" -> 0, "ops" -> 1, "plan" -> 2, "job" -> 2, "stage" -> 3)

  /** A span's parent: the one it names, else the innermost span of a
    * lower rank in the same pass whose interval holds its start (1 ms
    * slack for Spark's millisecond clock). */
  def parents(spans: Seq[Span]): Map[Span, Span] = {
    val slack = 1000000L
    spans.groupBy(_.pass).toSeq.flatMap { case (_, ss) =>
      ss.flatMap { s =>
        if (s.parent.nonEmpty) ss.find(_.name == s.parent).map(s -> _)
        else {
          val cands = ss.filter { p =>
            Rank(p.layer) < Rank(s.layer) && p.start - slack <= s.start && s.start <= p.end
          }
          if (cands.isEmpty) None else Some(s -> cands.maxBy(p => (Rank(p.layer), -p.dur)))
        }
      }
    }.toMap
  }

  /** Self time per layer: each span's duration minus the part its child
    * spans cover. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val children = parents(spans).toSeq.groupMap(_._2)(_._1)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val kids = children.getOrElse(s, Nil).map(k => (k.start, k.end))
        (s.dur - Intervals.covered(kids, s.start, s.end)) / 1e9
      }.sum
    }
  }

  def metrics(a: Args, w: Workload, rec: Recorder, tr: Tracer, plain: Seq[Double],
              traced: Seq[Double], docs: Long, kern: Map[String, Double],
              leaked: Long, heapPeak: Long): Seq[(String, (Double, String))] = {
    val passSpans = tr.spans.filter(s => s.layer == "bench" && s.pass > 0)
    val passes = passSpans.map(_.pass).toSet
    val np = passes.size.toDouble
    val jobs = rec.jobs.values.asScala.filter(j => passes(j.pass)).toSeq
    val stages = rec.stages.values.asScala.filter(s => passes(s.pass)).toSeq
    val plans = rec.plans.asScala.filter(s => passes(s.pass)).toSeq
    val spark = sparkSpans(rec).filter(s => passes(s.pass))
    val inPass = tr.spans.filter(s => passes(s.pass)).toSeq ++ plans ++ spark
    val self = selfTimes(inPass)
    def opDur(name: String) = median(tr.spans.filter(s => s.name == name && passes(s.pass)).map(_.dur / 1e9).toSeq)
    def phase(p: String) = plans.filter(_.name == s"plan.$p").map(_.dur / 1e6).sum / np

    val cpuS = stages.map(_.cpuNs).sum / 1e9 / np
    val runS = stages.map(_.runMs).sum / 1e3 / np
    val wallS = traced.sum / traced.length
    val driverS = median(passSpans.map { p =>
      (p.dur - Intervals.covered(jobs.filter(_.pass == p.pass).map(j => (j.start, j.end)), p.start, p.end)) / 1e9
    }.toSeq)
    val skew = median(passes.toSeq.flatMap { p =>
      val ss = stages.filter(s => s.pass == p && s.taskMs.nonEmpty)
      if (ss.isEmpty) None else {
        val top = ss.maxBy(_.runMs)
        Some(top.taskMs.max.toDouble / math.max(1.0, median(top.taskMs.map(_.toDouble).toSeq)))
      }
    })
    val rewrites = rec.rewrites.asScala.filter(r => passes(r._1)).map(r => math.max(0, r._2 - r._3)).sum
    val kernelNs = w.kernelNsPerDoc(kern)
    val docsPerPass = docs / np
    val untracedWall = median(plain)
    val tracedWall = median(traced)

    val kernelMetrics = Seq(
      "json.parse_ns_per_doc" -> "ns/doc", "json.canonical_ns_per_doc" -> "ns/doc",
      "jq.compile_us_per_program" -> "us", "jq.eval_ns_per_doc" -> "ns/doc") ++
      Programs.scan.map(p => s"jq.eval_ns.${p._1}" -> "ns/doc") ++ Seq(
      "jq.input_convert_ns_per_row" -> "ns/row", "jq.outputs_per_doc" -> "count",
      "jq.error_entries" -> "count", "sources.ingest_s" -> "s")
    kernelMetrics.map { case (k, u) => k -> (kern.getOrElse(k, 0.0), u) } ++ Seq(
      "jq.kernel_share_of_cpu" -> (if (cpuS > 0) kernelNs * docsPerPass / 1e9 / cpuS else 0.0, "ratio"),
      "plan.analysis_ms" -> (phase("analysis"), "ms"),
      "plan.optimization_ms" -> (phase("optimization"), "ms"),
      "plan.planning_ms" -> (phase("planning"), "ms"),
      "plans.jq_rewritten" -> (rewrites / np, "count"),
      "spark.jobs" -> (jobs.size / np, "count"),
      "spark.stages" -> (stages.count(_.tasks > 0) / np, "count"),
      "spark.tasks" -> (stages.map(_.tasks).sum / np, "count"),
      "spark.driver_s" -> (driverS, "s"),
      "ops.components_jobs" -> (jobs.count(_.op == "ops.components") / np, "count"),
      "exec.cpu_s" -> (cpuS, "s"),
      "exec.run_s" -> (runS, "s"),
      "exec.gc_s" -> (stages.map(_.gcMs).sum / 1e3 / np, "s"),
      "exec.busy_ratio" -> (runS / (wallS * a.cpus), "ratio"),
      "exec.task_skew" -> (skew, "ratio"),
      "shuffle.write_bytes" -> (stages.map(_.shuffleWrite).sum / np, "B"),
      "shuffle.read_bytes" -> (stages.map(_.shuffleRead).sum / np, "B"),
      "shuffle.spill_bytes" -> (stages.map(_.spill).sum / np, "B"),
      "storage.checkpoint_peak_bytes" -> (passes.toSeq.map(p => Option(rec.blockPeak.get(p)).map(_.toDouble).getOrElse(0.0)).maxOption.getOrElse(0.0), "B"),
      "storage.leaked_bytes" -> (leaked.toDouble, "B"),
      "ops.pairs_s" -> (opDur("ops.pairs"), "s"),
      "ops.components_s" -> (opDur("ops.components"), "s"),
      "ops.pairs" -> (w.opCounts.getOrElse("ops.pairs", 0.0), "count"),
      "ops.clusters" -> (w.opCounts.getOrElse("ops.clusters", 0.0), "count"),
      "ops.pair_recall" -> (w.opCounts.getOrElse("ops.pair_recall", 0.0), "ratio"),
      "self.bench_s" -> (self.getOrElse("bench", 0.0) / np, "s"),
      "self.ops_s" -> (self.getOrElse("ops", 0.0) / np, "s"),
      "self.plan_s" -> (self.getOrElse("plan", 0.0) / np, "s"),
      "self.job_s" -> (self.getOrElse("job", 0.0) / np, "s"),
      "self.stage_s" -> (self.getOrElse("stage", 0.0) / np, "s"),
      "trace.passes" -> (np, "count"),
      "trace.untraced_wall_s" -> (untracedWall, "s"),
      "trace.traced_wall_s" -> (tracedWall, "s"),
      "trace.overhead_s" -> (tracedWall - untracedWall, "s"),
      "trace.overhead_ratio" -> ((tracedWall - untracedWall) / untracedWall, "ratio"),
      "heap_peak_mb" -> (heapPeak / 1048576.0, "MB"))
  }
}
