package graft.operators

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{MinhashSig, SetOverlap, WordShingles}
import graft.json.{JObj, JStr, JsonText}

/** The near-dup kernels per item, with no Spark job: per document, the
  * MinHash signature over a `word_shingles` array against the signature
  * over the text itself; per LSH candidate pair, the exact Jaccard over
  * two shingle arrays against the one over the two texts.
  *
  * {{{
  * sbt "Test/runMain graft.operators.NearDupKernelLoop <jsonl dir> [n]"
  * }}}
  *
  * Reads the `text` field of every line of the directory's `*.jsonl`
  * files in name order (perfbench's `neardup_clean` corpus is one), keeps
  * the first of each distinct text (the near-dup operators run after
  * exact dedup), and forms the candidate pairs from the signatures' LSH
  * bands, as `minhashNearDups` does. It checks that the two forms agree
  * on every document and on every pair (all three overlap ratios), warms
  * up for [[WarmupRounds]] rounds, then times [[Windows]] windows of
  * [[RoundsPerWindow]] rounds each. It prints the median window of each
  * kernel (ns per item), the bytes the thread allocates per item, and
  * the same numbers as one JSON object on the last line.
  *
  * The array signature includes building the shingle array it reads
  * (`shingles` times that step alone); the array overlap reads prebuilt
  * `UnsafeArrayData` shingle arrays, the form a verify join's build side
  * hands it, so it leaves out the per-document shingling it needs. */
object NearDupKernelLoop {

  val WarmupRounds = 40
  val Windows = 7
  val RoundsPerWindow = 5

  @volatile var sink: Any = null

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)

  private val threads = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
  private def allocated(): Long = threads.getThreadAllocatedBytes(Thread.currentThread().getId)

  private def text(line: String): String = JsonText.parse(line) match {
    case o: JObj => o.get("text") match {
      case Some(JStr(t)) => t
      case other => sys.error(s"no text string in line: $other")
    }
    case other => sys.error(s"not an object: $other")
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: NearDupKernelLoop <jsonl dir> [n]")
    val n = if (args.length > 1) args(1).toInt else 3
    val files = Files.list(Paths.get(args(0))).iterator.asScala
      .filter(_.getFileName.toString.endsWith(".jsonl")).toVector.sortBy(_.toString)
    val texts: Array[UTF8String] = files.iterator
      .flatMap((f: Path) => Files.readAllLines(f, UTF_8).asScala).map(text)
      .toVector.distinct.map(UTF8String.fromString).toArray
    require(texts.nonEmpty, s"no JSONL lines under ${args(0)}")

    // the operators' own kernels (their permutations), bound to input 0
    def bound(c: org.apache.spark.sql.Column, dt: DataType) =
      ColumnBridge.expression(c).transform {
        case _: UnresolvedAttribute => BoundReference(0, dt, nullable = true)
      }
    val arrayType = ArrayType(StringType, containsNull = false)
    val signText = bound(Dedup.minhashSignature(col("t"), n), StringType).asInstanceOf[MinhashSig]
    val signArray = bound(Dedup.minhashSignature(col("t")), arrayType).asInstanceOf[MinhashSig]
    val shingle = WordShingles(BoundReference(0, StringType, nullable = true), n)
    def ref(dt: DataType) = BoundReference(0, dt, nullable = true)
    val overs = Array[SetOverlap.Over](SetOverlap.Union, SetOverlap.LeftSide, SetOverlap.RightSide)
    val overlapText = overs.map(SetOverlap(ref(StringType), ref(StringType), _, n))
    val overlapArray = overs.map(SetOverlap(ref(arrayType), ref(arrayType), _))
    val toUnsafe = UnsafeProjection.create(Array[DataType](arrayType))
    val arrays: Array[ArrayData] =
      texts.map(t => toUnsafe(InternalRow(shingle.evalInput(t))).getArray(0).copy())

    // LSH candidates: documents that share a band's slice of the signature
    val sigs = texts.map(t => signText.evalInput(t).asInstanceOf[ArrayData].toLongArray())
    val buckets = mutable.HashMap.empty[(Int, Seq[Long]), mutable.ArrayBuffer[Int]]
    for (d <- sigs.indices; b <- 0 until Dedup.MinhashBands) {
      val key = (b, sigs(d).slice(b * Dedup.MinhashRows, (b + 1) * Dedup.MinhashRows).toSeq)
      buckets.getOrElseUpdate(key, mutable.ArrayBuffer.empty[Int]) += d
    }
    val pairs: Array[(Int, Int)] = buckets.valuesIterator
      .flatMap(ds => for (i <- ds.iterator; j <- ds.iterator if i < j) yield (i, j))
      .toSet.toArray.sorted
    require(pairs.nonEmpty, "no candidate pairs")
    val left = pairs.map(_._1)
    val right = pairs.map(_._2)

    // the two forms agree on every item before anything is timed
    def bits(v: Any): Option[Long] = Option(v).map(x => java.lang.Double.doubleToLongBits(x.asInstanceOf[Double]))
    texts.indices.foreach { d =>
      val viaArray = signArray.evalInput(shingle.evalInput(texts(d))).asInstanceOf[ArrayData].toLongArray()
      require(java.util.Arrays.equals(viaArray, sigs(d)), s"signature of document $d differs")
    }
    for (p <- pairs.indices; o <- overs.indices) {
      val (i, j) = (left(p), right(p))
      val t = overlapText(o).evalInputs(texts(i), texts(j))
      val a = overlapArray(o).evalInputs(arrays(i), arrays(j))
      require(bits(t) == bits(a), s"${overs(o)} of ($i, $j): text $t, array $a")
    }

    val union = overlapText(0)
    val unionArray = overlapArray(0)
    val slots = Seq("shingles", "sign.array", "sign.text", "overlap.array", "overlap.text")
    val items = Array(texts.length, texts.length, texts.length, pairs.length, pairs.length)
    val kernels: Array[Int => Any] = Array(
      d => shingle.evalInput(texts(d)),
      d => signArray.evalInput(shingle.evalInput(texts(d))),
      d => signText.evalInput(texts(d)),
      p => unionArray.evalInputs(arrays(left(p)), arrays(right(p))),
      p => union.evalInputs(texts(left(p)), texts(right(p))))
    val ns = new Array[Long](slots.length)
    def round(): Unit = {
      var s = 0
      while (s < kernels.length) {
        val k = kernels(s)
        val m = items(s)
        val t0 = System.nanoTime()
        var i = 0
        while (i < m) { sink = k(i); i += 1 }
        ns(s) += System.nanoTime() - t0
        s += 1
      }
    }

    (1 to WarmupRounds).foreach(_ => round())
    val perWindow: Seq[Array[Double]] = (1 to Windows).map { _ =>
      java.util.Arrays.fill(ns, 0L)
      (1 to RoundsPerWindow).foreach(_ => round())
      ns.indices.map(s => ns(s).toDouble / (RoundsPerWindow.toLong * items(s))).toArray
    }
    val nsMedian = slots.indices.map(s => median(perWindow.map(_(s))))

    // allocation per item, one pass of each kernel
    val bytes = slots.indices.map { s =>
      val a0 = allocated()
      var i = 0
      while (i < items(s)) { sink = kernels(s)(i); i += 1 }
      (allocated() - a0).toDouble / items(s)
    }

    val metrics: Seq[(String, Double)] =
      slots.indices.map(s => s"${slots(s)}.ns_per_item" -> nsMedian(s)) ++
        slots.indices.map(s => s"${slots(s)}.bytes_per_item" -> bytes(s))
    println(s"docs ${texts.length}, candidate pairs ${pairs.length}, n $n, " +
      s"cores ${Runtime.getRuntime.availableProcessors}, warm-up $WarmupRounds rounds, " +
      s"median of $Windows windows of $RoundsPerWindow rounds")
    metrics.foreach { case (k, v) => println(f"$k%-32s $v%12.1f") }
    println(metrics.map { case (k, v) => f""""$k":$v%.1f""" }
      .mkString(s"""{"docs":${texts.length},"pairs":${pairs.length},""", ",", "}"))
  }
}
