package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

/** Round-17 optimization: the SRP banding moved from the literal
  * formulation (tables·h·dim double literals per use, 146-243 KB plan
  * texts re-analyzed per query construction) to the one-node
  * [[graft.functions.SrpBuckets]] broadcast kernel. These tests pin the
  * kernel BIT-IDENTICAL to the retained literal twin
  * ([[Similarity.srpBucket]]) on real fixture vectors AND the edge
  * cases the literal form's null semantics define (NULL vector,
  * dimension mismatch, zero vector, NaN component → bucket 0, rows
  * still emitted), plus the probe-side element order. */
class SrpKernelSpec extends SparkTestBase {

  private val dim = 64
  private val tables = 4
  private val h = 5

  /** fixture embeddings + adversarial rows (null / short / zero / NaN) */
  private def vecs = {
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("v", ArrayType(DoubleType, containsNull = true), nullable = true)))
    val edge = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(100001L, null),
        Row(100002L, Seq.fill(7)(0.25)),
        Row(100003L, Seq.fill(dim)(0.0)),
        Row(100004L, Seq.tabulate(dim)(i => if (i == 3) Double.NaN else 0.5))),
      schema)
    base.unionByName(edge)
  }

  private def literalBuckets(probes: Boolean) = {
    val ps = Similarity.planes(dim, tables, h)
    if (!probes)
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("t"), Similarity.srpBucket(col("v"), ps(t)).as("b"))): _*))
    else
      explode(flatten(array((0 until tables).map { t =>
        val b = Similarity.srpBucket(col("v"), ps(t))
        concat(
          array(struct(lit(t).as("t"), b.as("b"))),
          transform(sequence(lit(0), lit(h - 1)), j =>
            struct(lit(t).as("t"),
              b.bitwiseXOR(element_at(
                array((0 until h).map(i => lit(1L << i)): _*), j + 1)).as("b"))))
      }: _*)))
  }

  test("kernel buckets are bit-identical to the literal formulation (banding side)") {
    val kernel = Similarity.srpBucketsFn(spark, dim, tables, h, probes = false)
    val viaKernel = vecs.select(col("vec_id"), explode(kernel(col("v"))).as("tb"))
      .select(col("vec_id"), col("tb.t"), col("tb.b"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    val viaLiteral = vecs.select(col("vec_id"), literalBuckets(probes = false).as("tb"))
      .select(col("vec_id"), col("tb.t"), col("tb.b"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(viaKernel.nonEmpty && viaKernel == viaLiteral)
    // the edge rows must be PRESENT with bucket 0 in every table (the
    // literal form's when/otherwise null semantics), never dropped
    for (id <- Seq(100001L, 100002L, 100003L)) {
      val rows = viaKernel.filter(_._1 == id)
      assert(rows.size == tables && rows.forall(_._3 == 0L),
        s"edge row $id must band to bucket 0 in every table, got $rows")
    }
  }

  test("kernel probes are bit-identical to the literal formulation, in order (query side)") {
    val kernel = Similarity.srpBucketsFn(spark, dim, tables, h, probes = true)
    // ORDER matters on the probe side only in that the set must match;
    // pin the exact sequence anyway (own bucket, then h Hamming-1 probes
    // in plane order, per table) by comparing posexploded indexes
    def seq(c: org.apache.spark.sql.Column) =
      vecs.select(col("vec_id"), posexplode(c).as(Seq("i", "tb")))
        .select(col("vec_id"), col("i"), col("tb.t"), col("tb.b"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).sorted.toSeq
    val ps = Similarity.planes(dim, tables, h)
    val literal = flatten(array((0 until tables).map { t =>
      val b = Similarity.srpBucket(col("v"), ps(t))
      concat(
        array(struct(lit(t).as("t"), b.as("b"))),
        transform(sequence(lit(0), lit(h - 1)), j =>
          struct(lit(t).as("t"),
            b.bitwiseXOR(element_at(
              array((0 until h).map(i => lit(1L << i)): _*), j + 1)).as("b"))))
    }: _*))
    val viaKernel = seq(kernel(col("v")))
    val viaLiteral = seq(literal)
    assert(viaKernel.nonEmpty && viaKernel == viaLiteral)
    assert(viaKernel.count(_._1 == 1L) == tables * (h + 1))
  }

  test("equal-config kernels share one broadcast so equal plans stay sameResult-identical") {
    val a = Similarity.srpBucketsFn(spark, dim, tables, h, probes = false)
    val b = Similarity.srpBucketsFn(spark, dim, tables, h, probes = false)
    val pa = vecs.select(explode(a(col("v"))).as("tb")).queryExecution.optimizedPlan
    val pb = vecs.select(explode(b(col("v"))).as("tb")).queryExecution.optimizedPlan
    assert(pa.sameResult(pb),
      "two constructions of the same SRP config must produce sameResult plans")
  }
}
