package graft.jq

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import graft.json.{JDoc, JsonText}

/** The jq/JSON kernel per document, with no Spark involved: the
  * doc-major loop a `Jq.multi` sink runs, one parse and then the ten
  * jq_scan programs through [[JqGuard.firstValue]].
  *
  * {{{
  * sbt "Test/runMain graft.jq.JqKernelLoop <jsonl dir> [docs]"
  * }}}
  *
  * Reads the first `docs` lines (default 4000) of the directory's
  * `*.jsonl` files in name order, checks that every program's first
  * value equals the one its general form gives, warms up for
  * [[WarmupRounds]] rounds, then times [[Windows]] windows of
  * [[RoundsPerWindow]] rounds each. It prints the median window of the
  * parse and of each program (ns/doc), their eval sum, the bytes the
  * thread allocates per document in the parse and in the programs, and
  * the same numbers as one JSON object on the last line. */
object JqKernelLoop {

  /** The jq_scan programs: (name, program, `Jq.multi` kind). */
  val programs: Seq[(String, String, String)] = Seq(
    ("p01_path", ".user.name", "string"),
    ("p02_iter_arith_add", "[.items.[] | .qty * .price] | add", "long"),
    ("p03_select", "[.items.[] | select(.qty > 3) | .sku] | length", "long"),
    ("p04_reduce", "reduce .items.[] as $it (0; . + ($it | .qty))", "long"),
    ("p05_update_sort_by", ".items |= sort_by(.price) | .items.[0].price", "long"),
    ("p06_interpolate", "\"\\(.user.country)/\\(.user.tier)\"", "string"),
    ("p07_paths", "[paths] | length", "long"),
    ("p08_walk", "walk(if type == \"number\" then . * 2 else . end) | [.items.[] | .qty] | add", "long"),
    ("p09_unique", "[.items.[] | .tags.[]] | unique | length", "long"),
    ("p10_object_values", "[.meta.flags.[] | select(.)] | length", "long"))

  val WarmupRounds = 40
  val Windows = 7
  val RoundsPerWindow = 5

  @volatile var sink: Any = null

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)

  private val threads = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
  private def allocated(): Long = threads.getThreadAllocatedBytes(Thread.currentThread().getId)

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: JqKernelLoop <jsonl dir> [docs]")
    val limit = if (args.length > 1) args(1).toInt else 4000
    val files = Files.list(Paths.get(args(0))).iterator.asScala
      .filter(_.getFileName.toString.endsWith(".jsonl")).toVector.sortBy(_.toString)
    val lines: Array[String] =
      files.iterator.flatMap((f: Path) => Files.readAllLines(f, UTF_8).asScala).take(limit).toArray
    require(lines.nonEmpty, s"no JSONL lines under ${args(0)}")
    val docs: Array[JDoc] = lines.map(JsonText.parse)
    val pipes = programs.map(p => Interp.compile(JqParser.parse(p._2))).toArray
    val kinds = programs.map(_._3).toArray

    // the value forms against the general form, on every document
    for (i <- pipes.indices; d <- docs) {
      val fast = JqGuard.firstValue(pipes(i), d, kinds(i))
      val general = JqEval.firstValue(kinds(i))(pipes(i)(d, Nil))
      require(fast == general, s"${programs(i)._1}: value $fast, general form $general")
    }

    val slots = pipes.length + 1 // slot 0 is the parse
    val ns = new Array[Long](slots)
    def round(): Unit = {
      var k = 0
      while (k < lines.length) {
        var t0 = System.nanoTime()
        val d = JsonText.parse(lines(k))
        var t1 = System.nanoTime()
        ns(0) += t1 - t0
        var i = 0
        while (i < pipes.length) {
          t0 = t1
          sink = JqGuard.firstValue(pipes(i), d, kinds(i))
          t1 = System.nanoTime()
          ns(i + 1) += t1 - t0
          i += 1
        }
        k += 1
      }
    }

    (1 to WarmupRounds).foreach(_ => round())
    val perWindow: Seq[Array[Double]] = (1 to Windows).map { _ =>
      java.util.Arrays.fill(ns, 0L)
      (1 to RoundsPerWindow).foreach(_ => round())
      ns.map(_.toDouble / (RoundsPerWindow.toLong * lines.length))
    }
    val slotMedian = (0 until slots).map(s => median(perWindow.map(_(s))))
    val evalMedian = median(perWindow.map(w => w.drop(1).sum))

    // allocation per document, one round each of the parse and the programs
    val a0 = allocated()
    lines.foreach(l => sink = JsonText.parse(l))
    val a1 = allocated()
    docs.foreach(d => pipes.indices.foreach(i => sink = JqGuard.firstValue(pipes(i), d, kinds(i))))
    val a2 = allocated()
    val parseBytes = (a1 - a0).toDouble / docs.length
    val evalBytes = (a2 - a1).toDouble / docs.length

    val metrics: Seq[(String, Double)] =
      Seq("json.parse_ns_per_doc" -> slotMedian(0), "jq.eval_ns_per_doc" -> evalMedian) ++
        programs.indices.map(i => s"jq.eval_ns.${programs(i)._1}" -> slotMedian(i + 1)) ++
        Seq("alloc.parse_bytes_per_doc" -> parseBytes, "alloc.eval_bytes_per_doc" -> evalBytes)
    println(s"docs ${docs.length}, cores ${Runtime.getRuntime.availableProcessors}, " +
      s"warm-up $WarmupRounds rounds, median of $Windows windows of $RoundsPerWindow rounds")
    metrics.foreach { case (k, v) => println(f"$k%-36s $v%12.1f") }
    println(metrics.map { case (k, v) => f""""$k":$v%.1f""" }.mkString("{", ",", "}"))
  }
}
