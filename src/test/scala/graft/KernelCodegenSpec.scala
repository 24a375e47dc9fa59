package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import graft.functions._

/** Every `functions/` kernel must COMPILE under whole-stage codegen — same
  * policy the jq expressions adopted in round 2 (JqSparkSpec): Spark silently
  * degrades to interpreted mode when generated code fails to compile, so a
  * correctness suite alone would hide a lost perf property. Forbid the
  * fallback and drive every kernel shape once. */
class KernelCodegenSpec extends SparkTestBase {

  private def col2(e: org.apache.spark.sql.catalyst.expressions.Expression) =
    ColumnBridge.column(e)
  private def expr2(c: org.apache.spark.sql.Column) = ColumnBridge.expression(c)

  test("vector/text kernels compile under whole-stage codegen (no fallback)") {
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(50)
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(50)
      val vec = expr2(transform(col("embedding"), x => x.cast("double")))
      val n = emb.select(
        col2(CosineSim(vec, vec)).as("cos"),
        col2(VecDot(vec, vec)).as("dot")).where(col("cos") > 0.99)
      assert(n.count() > 0)
      val sh = expr2(operators.Dedup.wordShingles(col("text"), 3))
      val text = expr2(col("text"))
      val r = docs.select(
        col2(MinhashSig(sh, Array(3L, 5L), Array(7L, 11L))).as("mh"),
        col2(MinhashSig(text, Array(3L, 5L), Array(7L, 11L), 3)).as("mh_text"),
        col2(Simhash64(sh)).as("sim"),
        col2(TextStats(expr2(col("text")), Set("the", "a"))).as("st"),
        col2(RollingFingerprint(expr2(col("text")))).as("fp"))
      assert(r.count() > 0)
      assert(r.where(col("mh") === col("mh_text")).count() == r.count())
      // a set and its reverse overlap fully; the filter keeps the kernel
      // in the plan (a bare count() prunes an unused projection)
      val rev = expr2(reverse(operators.Dedup.wordShingles(col("text"), 3)))
      assert(docs.select(col2(SetOverlap(sh, rev, SetOverlap.Union)).as("ov"))
        .where(col("ov") === 1.0).count() > 0)
      // the text form: a text overlaps itself fully, in every ratio
      val self = Seq(SetOverlap.Union, SetOverlap.LeftSide, SetOverlap.RightSide)
        .map(o => col2(SetOverlap(text, text, o, 3)) === 1.0).reduce(_ && _)
      assert(docs.where(self).count() > 0)
      val books = Array.tabulate(8)(_ => Array.tabulate(4)(k => Array.fill(8)(k * 0.1)))
      val pq = emb.select(col2(PqEncode(vec, books)).as("code"), col2(PqLut(vec, books)).as("lut"))
        .select(col2(PqAdc(expr2(col("code")), expr2(col("lut")), 4)).as("adc"))
      assert(pq.count() > 0)
      val bf = org.apache.spark.util.sketch.BloomFilter.create(100, 0.03)
      bf.putString("something")
      val bytes = { val b = new java.io.ByteArrayOutputStream(); bf.writeTo(b); b.toByteArray }
      val g = docs.select(
        col2(CharGramHashes(expr2(col("text")), 20)).as("gh"),
        col2(CharGrams(expr2(col("text")), 3)).as("gs"),
        col2(BloomMightContain(expr2(col("text")), bytes)).as("bm"),
        col2(CharEntropy(expr2(col("text")))).as("ce"),
        col2(CharBagLevBound(expr2(col("text")), expr2(reverse(col("text"))))).as("cb"))
      assert(g.where(size(col("gh")) > 0 && size(col("gs")) > 0 &&
        col("ce.n_cp") > 0 && col("cb") >= 0).count() > 0)
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("json document kernels compile under whole-stage codegen (no fallback)") {
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val ev = spark.read.parquet(s"$sfDir/events.parquet").limit(50)
      // built through the one constructor each function has, the shape
      // SQL and the Column API ship: every document operand a JqDoc
      val fn = Jq.functions.map(f => f.name -> f).toMap
      val p = col("props")
      val binOps = Seq("add", "sub", "mul", "div", "rem", "shl", "shr", "band", "bxor", "bbor")
      val binCols = binOps.map(op => fn(s"json_$op")(p, p).as(s"b_$op"))
      val unKinds = Seq("neg", "not", "truthy", "length", "keys", "chars", "canonical")
      val unCols = unKinds.map(k => fn(s"json_$k")(p).as(s"u_$k"))
      val r = ev.select(binCols ++ unCols ++ Seq(
        Jq.jsonCmp(p, p).as("cmp"),
        fn("json_eq")(p, p).as("eq"),
        fn("json_recurse")(p).as("rec"),
        Jq.jsonPatch(p, lit("""[{"op":"add","path":"/z","value":1}]""")).as("patch"),
        Jq.fromCbor(Jq.toCbor(p)).as("cbor_rt"),
        Jq.fromMsgPack(Jq.toMsgPack(p)).as("mp_rt")): _*)
      assert(r.where(col("cbor_rt").isNotNull && col("mp_rt").isNotNull).count() > 0)
      // jq_eval_meta over a meta column that is NULL on odd ids: a NULL
      // meta still runs the pipeline, with no envelope
      val meta = when(col("event_id") % 2 === 0, lit("""{"sources":["s"]}"""))
      val m = ev.select(col("event_id"),
          element_at(Jq.evalWithMeta(".", col("props"), meta), 1).as("o"))
        .collect().map(r => (r.getLong(0), r.getStruct(1).getString(1)))
      assert(m.length == 50 && m.map(_._1 % 2).toSet == Set(0L, 1L))
      m.foreach { case (id, env) =>
        assert(env == (if (id % 2 == 0) """{"domains":[],"keys":[],"sources":["s"]}""" else "null"),
          s"event $id: $env")
      }
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }
}
