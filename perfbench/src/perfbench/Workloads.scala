package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Path
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Jq
import graft.operators.{Checkpoints, Dedup}
import graft.sources.JsonDocs

/** One timed operation's outcome: input docs it covered, whether the
  * benchmark's own check accepted its output, and what failed if not. */
final case class OpResult(docs: Long, ok: Boolean, detail: String = "")

/** A benchmark workload. `generate` makes the seeded input files and the
  * plain-Scala expected values; `open` prepares a fresh session; `run` is
  * one timed operation and `check` (untimed) verifies it and releases the
  * frames the caller owns under graft's checkpoint contract. */
abstract class Workload {
  def name: String
  def generate(data: Path, seed: Long, smoke: Boolean): Unit
  def open(spark: SparkSession): Unit = ()
  def run(spark: SparkSession, tr: Tracer, i: Int): Any
  def check(spark: SparkSession, out: Any, i: Int): OpResult
  /** Single-thread kernel loops over the workload's own inputs (traced run). */
  def kernels(spark: SparkSession, tr: Tracer): Map[String, Double] = Map.empty
  /** Kernel cost of one input doc in the timed operation, from the kernel
    * loop metrics (0 where graft's JSON/jq kernels are not on the path). */
  def kernelNsPerDoc(k: Map[String, Double]): Double = 0.0
  /** Operator-level counts gathered by `check` (traced run). */
  val opCounts: mutable.Map[String, Double] = mutable.Map.empty
  /** Latency of each query inside an operation, where an operation is a
    * batch of queries (ms). */
  val queryMs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  var corrupt = false
}

/** graft's reference jq dialect (see README): `.a.[]` iterates and
  * `.a.[0]` indexes, filters are spelled `[.a.[] | select(…)]`, and a
  * bound variable's field is `($it | .qty)`. */
object Programs {
  import Gen.Order
  /** (name, program, Jq.multi kind, plain-Scala value). */
  val scan: Seq[(String, String, String, Order => Long)] = {
    def c(s: String) = { val x = new java.util.zip.CRC32(); x.update(s.getBytes(UTF_8)); x.getValue }
    Seq(
      ("p01_path", ".user.name", "string", o => c(o.name)),
      ("p02_iter_arith_add", "[.items.[] | .qty * .price] | add", "long",
        o => o.items.map(i => i.qty * i.price).sum),
      ("p03_select", "[.items.[] | select(.qty > 3) | .sku] | length", "long",
        o => o.items.count(_.qty > 3).toLong),
      ("p04_reduce", "reduce .items.[] as $it (0; . + ($it | .qty))", "long",
        o => o.items.map(_.qty).sum),
      ("p05_update_sort_by", ".items |= sort_by(.price) | .items.[0].price", "long",
        o => o.items.map(_.price).min),
      ("p06_interpolate", "\"\\(.user.country)/\\(.user.tier)\"", "string",
        o => c(s"${o.country}/${o.tier}")),
      ("p07_paths", "[paths] | length", "long",
        o => 14L + o.items.map(5 + _.tags.length).sum),
      ("p08_walk", "walk(if type == \"number\" then . * 2 else . end) | [.items.[] | .qty] | add", "long",
        o => 2 * o.items.map(_.qty).sum),
      ("p09_unique", "[.items.[] | .tags.[]] | unique | length", "long",
        o => o.items.flatMap(_.tags).distinct.length.toLong),
      ("p10_object_values", "[.meta.flags.[] | select(.)] | length", "long",
        o => Seq(o.gift, o.promo, o.express).count(identity).toLong))
  }

  val InteractiveTemplates = 10

  /** Interactive query template `t`, its parameters drawn from `r`:
    * (program, plain-Scala group key). */
  def interactive(t: Int, r: scala.util.Random): (String, Order => String) = t match {
    case 0 => (".user.country", _.country)
    case 1 => (".user.tier", _.tier)
    case 2 => (".meta.source", _.source)
    case 3 => ("\"\\(.user.country)/\\(.user.tier)\"", o => s"${o.country}/${o.tier}")
    case 4 => (""".items.[0].tags | if length > 0 then .[0] else "none" end""",
      _.items.head.tags.headOption.getOrElse("none"))
    case 5 =>
      val k = 1 + r.nextInt(8); val m = r.nextInt(4)
      (s"""if ([.items.[] | select(.qty > $k)] | length) > $m then "hi" else "lo" end""",
        o => if (o.items.count(_.qty > k) > m) "hi" else "lo")
    case 6 => (".items | length", _.items.length.toString)
    case 7 => ("reduce .items.[] as $it (0; . + ($it | .qty))", _.items.map(_.qty).sum.toString)
    case 8 =>
      val f = Seq("gift", "promo", "express")(r.nextInt(3))
      (s".meta.flags.$f", o => (f match { case "gift" => o.gift; case "promo" => o.promo; case _ => o.express }).toString)
    case _ =>
      val k = 20 + r.nextInt(50)
      (s".user.age >= $k", o => (o.age >= k).toString)
  }
}

/** jq_scan: JSONL ingest, one fused `Jq.multi` of ten programs, one
  * aggregate row. Compute-bound in graft.json and graft.jq. */
final class JqScan extends Workload {
  val name = "jq_scan"
  private var dir = ""
  private var orders: Vector[Gen.Order] = Vector.empty
  private var expected: Seq[Long] = Nil

  def generate(data: Path, seed: Long, smoke: Boolean): Unit = {
    val n = if (smoke) 2000 else 24000
    orders = Gen.orders(seed, n)
    val d = data.resolve("orders").resolve(s"s$seed-n$n")
    Gen.cached(d, 16)(orders.iterator.map(_.json))
    dir = d.toString
    expected = Seq(n.toLong, 0L) ++ Programs.scan.flatMap { case (_, _, _, f) =>
      Seq(n.toLong, orders.iterator.map(f).sum)
    }
    if (corrupt) expected = expected.updated(5, expected(5) + 1)
  }

  def run(spark: SparkSession, tr: Tracer, i: Int): Any = {
    val m = tr.span("jq.build", "ops") {
      Jq.multi(Programs.scan.map { case (n, q, k, _) => (n, q, k) }, col("doc"))
    }
    val aggs = count(lit(1)) +: count(col("error")) +: Programs.scan.flatMap { case (n, _, kind, _) =>
      val v = col(s"m.$n")
      Seq(count(v), if (kind == "string") sum(crc32(v.cast("binary"))) else sum(v))
    }
    tr.op(spark, "ops.scan_agg") {
      val docs = JsonDocs.readJsonl(spark, dir)
      docs.select(m.as("m"), col("error")).agg(aggs.head, aggs.tail: _*).collect().head
    }
  }

  def check(spark: SparkSession, out: Any, i: Int): OpResult = {
    val row = out.asInstanceOf[org.apache.spark.sql.Row]
    val got = (0 until row.length).map(k => if (row.isNullAt(k)) -1L else row.getLong(k))
    val bad = got.indices.filter(k => got(k) != expected(k))
    OpResult(orders.length, bad.isEmpty,
      bad.map(k => s"aggregate $k: got ${got(k)}, expected ${expected(k)}").mkString("; "))
  }

  /** readJsonl parses and canonicalizes each line, Jq.multi parses the
    * canonical text again and runs every program. */
  override def kernelNsPerDoc(k: Map[String, Double]): Double =
    2 * k("json.parse_ns_per_doc") + k("json.canonical_ns_per_doc") + k("jq.eval_ns_per_doc")

  override def kernels(spark: SparkSession, tr: Tracer): Map[String, Double] =
    Kernels.jq(tr, orders.take(4000).map(_.json), Programs.scan.map(p => (p._1, p._2)), perProgram = true) ++
      Map("sources.ingest_s" -> tr.span("sources.ingest", "kernel") {
        val t0 = System.nanoTime()
        JsonDocs.readJsonl(spark, dir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      })
}

/** neardup_clean: exact dedup, MinHash near-dup pairs, connected
  * components over planted edit chains, keep one doc per cluster.
  * Dispatch- and shuffle-bound in graft.operators; no JSON. */
final class NeardupClean extends Workload {
  val name = "neardup_clean"
  private var dir = ""
  private var corpus: Gen.Corpus = _
  private var shingles: Vector[Set[String]] = Vector.empty
  private var survivors = 0L

  def generate(data: Path, seed: Long, smoke: Boolean): Unit = {
    val n = if (smoke) 2000 else 5000
    corpus = Gen.corpus(seed, n)
    val d = data.resolve("corpus").resolve(s"s$seed-n$n")
    Gen.cached(d, 4)(corpus.texts.iterator.zipWithIndex.map { case (t, i) => Gen.corpusLine(i.toLong, t) })
    dir = d.toString
    shingles = corpus.texts.map(_.split(' ').sliding(3).map(_.mkString(" ")).toSet)
    survivors = corpus.texts.distinct.length.toLong + (if (corrupt) 1 else 0)
  }

  def run(spark: SparkSession, tr: Tracer, i: Int): Any = {
    val docs = spark.read.schema("id LONG, text STRING").json(dir)
    val exact = Dedup.exactDedup(docs, Seq(col("text")), col("id"))
    val pairs = tr.op(spark, "ops.pairs") { Dedup.minhashNearDups(exact, "id", col("text"), 3, 0.8) }
    val clusters = tr.op(spark, "ops.components") { Dedup.nearDupClusters(exact.select("id"), "id", pairs) }
    val kept = tr.op(spark, "ops.keep") {
      exact.join(clusters.filter(col("id") === col("rep")).select("id"), "id").count()
    }
    (kept, pairs, clusters)
  }

  private def jaccard(a: Long, b: Long): Double = {
    val (sa, sb) = (shingles(a.toInt), shingles(b.toInt))
    (sa intersect sb).size.toDouble / (sa union sb).size
  }

  def check(spark: SparkSession, out: Any, i: Int): OpResult = {
    val (kept, pairs, clusters) = out.asInstanceOf[(Long, DataFrame, DataFrame)]
    val got = try pairs.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      finally { Checkpoints.release(pairs); Checkpoints.release(clusters) }
    val n = corpus.texts.length
    val problems = mutable.ArrayBuffer.empty[String]
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    var unions = 0L
    got.foreach { case (a, b) =>
      if (a < 0 || b < 0 || a >= n || b >= n) problems += s"unknown id in pair ($a,$b)"
      else {
        val j = jaccard(a, b)
        if (j < 0.8) problems += f"pair ($a,$b) has jaccard $j%.3f"
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { parent(math.max(ra, rb)) = math.min(ra, rb); unions += 1 }
      }
    }
    if (kept != survivors - unions)
      problems += s"kept $kept, expected ${survivors - unions} from ${got.length} pairs"
    // planted adjacent links similar enough that the operator should find them
    val planted = corpus.chains.flatMap(c => c.sliding(2).map(p => (p(0), p(1))))
      .filter { case (a, b) => jaccard(a, b) >= 0.8 }
    val found = got.toSet
    opCounts("ops.pairs") = got.length
    opCounts("ops.clusters") = parent.keys.map(find).toSet.size
    opCounts("ops.pair_recall") = planted.count(found.contains).toDouble / planted.length
    OpResult(n, problems.isEmpty, problems.take(3).mkString("; "))
  }
}

/** jq_interactive: one closed-loop client. Each query is
  * `groupBy(Jq.string(prog)).count().collect()` over a cached table with a
  * typed STRUCT column and a JSON-text column. One operation is a batch of
  * every query template on both columns, its parameters drawn from the
  * seed and the operation number, so every operation covers the same mix
  * and every query pays compile, planning and dispatch. */
final class JqInteractive extends Workload {
  val name = "jq_interactive"
  private val Rows = 5000
  private var dir = ""
  private var seed = 0L
  private var orders: Vector[Gen.Order] = Vector.empty
  private val expected = mutable.Map.empty[String, Map[String, Long]]
  private var table: DataFrame = _
  private val Schema = "id LONG, doc STRUCT<id: BIGINT, " +
    "user: STRUCT<name: STRING, country: STRING, tier: STRING, age: BIGINT>, " +
    "items: ARRAY<STRUCT<sku: STRING, qty: BIGINT, price: BIGINT, tags: ARRAY<STRING>>>, " +
    "meta: STRUCT<flags: STRUCT<gift: BOOLEAN, promo: BOOLEAN, express: BOOLEAN>, source: STRING, ts: BIGINT>>, " +
    "raw STRING"

  def generate(data: Path, seed: Long, smoke: Boolean): Unit = {
    val n = if (smoke) 1000 else Rows
    orders = Gen.orders(seed, n)
    val d = data.resolve("table").resolve(s"s$seed-n$n")
    Gen.cached(d, 4)(orders.iterator.map(Gen.tableLine))
    dir = d.toString
    this.seed = seed
  }

  /** Operation `i`'s queries: (program, column, plain-Scala group key). */
  private def batch(i: Int): Seq[(String, String, Gen.Order => String)] = {
    val r = new scala.util.Random(seed ^ 0x5eedL ^ (i.toLong * 0x9e3779b97f4a7c15L))
    (0 until Programs.InteractiveTemplates).flatMap { t =>
      val (q, f) = Programs.interactive(t, r)
      Seq((q, "doc", f), (q, "raw", f))
    }
  }

  override def open(spark: SparkSession): Unit = {
    table = spark.read.schema(Schema).json(dir).cache()
    table.count()
  }

  def run(spark: SparkSession, tr: Tracer, i: Int): Any = batch(i).map { case (q, c, _) =>
    val t0 = System.nanoTime()
    val key = tr.span("jq.build", "ops") { Jq.string(q, col(c)) }
    val rows = tr.op(spark, "ops.group_count") { table.groupBy(key.as("k")).count().collect() }
    queryMs += (System.nanoTime() - t0) / 1e6
    rows
  }

  def check(spark: SparkSession, out: Any, i: Int): OpResult = {
    val qs = batch(i)
    val outs = out.asInstanceOf[Seq[Array[org.apache.spark.sql.Row]]]
    val bad = qs.zip(outs).zipWithIndex.flatMap { case (((q, c, f), rows), k) =>
      val got = rows.map(r => (if (r.isNullAt(0)) null else r.getString(0)) -> r.getLong(1)).toMap
      val want0 = expected.getOrElseUpdate(q, orders.groupBy(f).map { case (g, v) => g -> v.length.toLong })
      val want = if (corrupt && i == 0 && k == 0) want0.updated(want0.head._1, want0.head._2 + 1) else want0
      if (got == want) None else Some(s"query `$q` on $c: got ${got.take(4)}, expected ${want.take(4)}")
    }
    OpResult(qs.length.toLong * orders.length, bad.isEmpty, bad.take(2).mkString("; "))
  }

  /** Half the queries read the JSON text (a parse per row), half the
    * STRUCT column (a conversion per row); one program per query. */
  override def kernelNsPerDoc(k: Map[String, Double]): Double =
    (k("json.parse_ns_per_doc") + k("jq.input_convert_ns_per_row")) / 2 +
      k("jq.eval_ns_per_doc") / Programs.InteractiveTemplates

  override def kernels(spark: SparkSession, tr: Tracer): Map[String, Double] = {
    val progs = batch(1).map(_._1).distinct.zipWithIndex.map { case (q, k) => (s"q$k", q) }
    Kernels.jq(tr, orders.take(4000).map(_.json), progs, perProgram = false) ++
      Kernels.inputConvert(tr, table)
  }
}
