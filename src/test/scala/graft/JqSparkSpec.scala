package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import graft.json._

/** Spark-side jq surface: SQL registration, Variant interop, and
  * ScalaCheck properties over the polymorphic value kernels (SURVEY.md §5:
  * the type matrix never throws; unsupported combos yield null). */
class JqSparkSpec extends SparkTestBase {

  /** deterministic property runner over a ScalaCheck generator (the
    * scalatest-scalacheck bridge isn't in the offline cache). */
  private def forAllN[A](gen: Gen[A], n: Int = 300)(f: A => Boolean): Unit = {
    var seed = org.scalacheck.rng.Seed(42L)
    var i = 0
    while (i < n) {
      gen.apply(Gen.Parameters.default, seed).foreach { a =>
        assert(f(a), s"property failed for: $a")
      }
      seed = seed.next
      i += 1
    }
  }

  test("SQL functions: jq_* and json_* registered and usable") {
    Jq.register(spark)
    spark.read.parquet(s"$sfDir/events.parquet").createOrReplaceTempView("ev")
    val r = spark.sql(
      """SELECT jq_long('.k * 2', props) AS v,
                json_add('{"a":1}', '{"b":2}') AS merged,
                json_cmp('1', '1.0') AS c,
                json_length('"汉语"') AS bytes
         FROM ev LIMIT 1""").head()
    assert(r.getLong(0) % 2 == 0)
    assert(r.getString(1) == """{"a":1,"b":2}""")
    assert(r.getInt(2) == -1) // Integer < Float in the collation order
    assert(r.getLong(3) == 6) // byte length
    // round-10 additions: lineage evaluation + media decode from plain SQL
    val r2 = spark.sql(
      """SELECT jq_eval_meta('.a + 1', '{"a":1}', '{"sources":["s"]}')[0].meta AS m,
                decode_media('image', CAST('nope' AS BINARY)).n_bytes AS nb,
                dhash_bands(CAST('not an image' AS BINARY)) AS bands""").head()
    assert(r2.getString(0) == """{"domains":[],"keys":[],"sources":["s"]}""")
    assert(r2.getLong(1) == 4L) // stub path: n_bytes is the payload length
    assert(r2.isNullAt(2))
  }

  test("evalWithMeta: lineage envelope seeds, clones through navigation, merges through operators") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(("""{"a":{"b":7},"k":5}""", """{"sources":["f.jsons"],"domains":["web"]}"""))
      .toDF("doc", "meta")
    val r = df.select(
      element_at(Jq.evalWithMeta(".a | .b", col("doc"), col("meta")), 1).as("nav"),
      element_at(Jq.evalWithMeta(".k + 1", col("doc"), col("meta")), 1).as("comb"),
      element_at(Jq.evalWithMeta(".", col("doc"), lit("not json")), 1).as("bad")).head()
    // navigation CLONES the envelope (ops.rs:432) — but the seed is first
    // normalized to the canonical three-key shape (meta.rs Meta::some
    // invariant: domains/sources/keys all present; missing ones
    // materialize as [] — round-10 advice fix)
    assert(r.getStruct(0).getString(0) == "7")
    assert(r.getStruct(0).getString(1) == """{"domains":["web"],"keys":[],"sources":["f.jsons"]}""")
    // a combining operator new_merges: Meta::new() + the input's lists
    // appended — the keys key materializes as [] (entry.rs:22-29)
    assert(r.getStruct(1).getString(0) == "6")
    assert(r.getStruct(1).getString(1) == """{"domains":["web"],"keys":[],"sources":["f.jsons"]}""")
    // malformed meta json = no envelope, never a failure
    assert(r.getStruct(2).getString(1) == "null")
    // NULL meta column = no provenance for this record: the pipeline STILL
    // evaluates (round-10 review finding — a lineage gap must not swallow
    // the row's outputs); only a NULL document gates to NULL
    val rNull = df.select(
      element_at(Jq.evalWithMeta(".a.b", col("doc"), lit(null).cast("string")), 1).as("o"),
      Jq.evalWithMeta(".", lit(null).cast("string"), col("meta")).as("gone")).head()
    assert(rNull.getStruct(0).getString(0) == "7")
    assert(rNull.getStruct(0).getString(1) == "null")
    assert(rNull.isNullAt(1))
  }

  test("SQL functions: text/vector kernels registered and usable") {
    Jq.register(spark)
    val r = spark.sql(
      """SELECT char_grams('abcd', 3) AS g,
                size(char_gram_hashes('abcd', 3)) AS nh,
                word_shingles('a b c', 2) AS ws,
                rolling_fingerprint('ab') AS fp,
                simhash64('x') IS NOT NULL AS sh,
                vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dot,
                vec_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS cos""").head()
    assert(r.getSeq[String](0) == Seq("abc", "bcd"))
    assert(r.getInt(1) == 2)
    assert(r.getSeq[String](2) == Seq("a b", "b c"))
    assert(r.getLong(3) == (97L * 31 + 98) % 1000000007L)
    assert(r.getBoolean(4))
    assert(r.getDouble(5) == 11.0)
    assert(math.abs(r.getDouble(6) - 1.0) < 1e-12)
  }

  test("Variant interop: parse_json → jq pipeline") {
    val df = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_id"), parse_json(col("props")).as("vdoc"))
    val out = df.select(col("event_id"), Jq.long(".k + 1", col("vdoc")).as("k1"))
      .limit(5).collect()
    assert(out.nonEmpty && out.forall(r => r.getLong(1) >= 1))
  }

  test("Variant input is navigated binary-natively (no to_json in the plan)") {
    val df = spark.range(1).select(
      parse_json(lit("""{"a":{"b":[1, 2.5, "x", null, true]}}""")).as("v"))
    val out = df.select(explode(Jq.docs(".a.b | .[]", col("v"))).as("d"))
    assert(out.collect().map(_.getString(0)).toSeq ==
      Seq("1", "2.5e0", "\"x\"", "null", "true"))
    // the physical plan must carry the variant straight into jq_docs —
    // a to_json bridge would show up as a ToJson/StructsToJson node
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("to_json"), s"unexpected to_json bridge in:\n$plan")
  }

  test("STRUCT input converts structurally and matches the to_json text path") {
    val df = spark.read.parquet(s"$sfDir/documents.parquet").limit(50)
    val direct = df.select(col("doc_id"),
      Jq.long(".text | length", struct(col("text"))).as("n"),
      Jq.string(".text | .[0..8]", struct(col("text"))).as("p"))
    val viaText = df.select(col("doc_id"),
      Jq.long(".text | length", to_json(struct(col("text")))).as("n"),
      Jq.string(".text | .[0..8]", to_json(struct(col("text")))).as("p"))
    assert(direct.collect().toSeq == viaText.collect().toSeq)
  }

  test("jq expressions COMPILE under whole-stage codegen (no silent fallback)") {
    // Spark degrades to interpreted mode if generated code fails to
    // compile — correctness tests would still pass, hiding a lost
    // perf property. Forbid the fallback and drive every expression shape.
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val ev = spark.read.parquet(s"$sfDir/events.parquet")
      assert(ev.select(
        Jq.long(".k", col("props")).as("a"),
        Jq.string(".", col("props")).as("b"),
        explode(Jq.docs("[.k, 1] | .[]", col("props"))).as("c")).count() > 0)
      assert(ev.select(
        Jq.multi(Seq(("x", ".k", "long"), ("y", ".k > 3", "bool")), col("props"))).count() > 0)
      assert(ev.select(Jq.long(".k + 1", parse_json(col("props")))).count() > 0)
      assert(ev.select(Jq.query(".k", col("props"))).count() > 0)
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      assert(li.select(explode(Jq.docs(".[l_quantity, l_discount]",
        struct(col("l_quantity"), col("l_discount"))))).count() > 0)
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("a failed conversion reaches every jq expression as its error entry or NULL") {
    def parseError(text: String) =
      "invalid json: " + intercept[JsonText.JsonParseException](JsonText.parse(text)).getMessage
    val deep = "[" * 600 + "]" * 600
    // malformed text; a VARIANT nested past the conversion's depth bound
    val cases = Seq(
      (lit("{\"a\":"), parseError("{\"a\":")),
      (parse_json(lit(deep)), s"invalid json: variant nesting deeper than ${JsonText.MaxDepth} at offset 0"))
    cases.foreach { case (doc, error) =>
      val r = spark.range(1).select(
        Jq.query(".", doc).as("q"), Jq.docs(".", doc).as("d"), Jq.long(".", doc).as("l"),
        Jq.evalWithMeta(".", doc, lit("{}")).as("em"),
        Jq.multi(Seq(("x", ".", "string"), ("y", ".", "long")), doc).as("m")).head()
      val q = r.getSeq[org.apache.spark.sql.Row](0)
      assert(q.length == 1 && q.head.getString(0) == "null" && q.head.getSeq[String](1) == Seq(error))
      assert(r.getSeq[String](1).isEmpty && r.isNullAt(2) && r.getSeq[org.apache.spark.sql.Row](3).isEmpty)
      assert(!r.isNullAt(4) && r.getStruct(4).isNullAt(0) && r.getStruct(4).isNullAt(1),
        "a document that fails to convert is a struct of NULL fields")
    }
    // a NULL document is NULL everywhere
    val n = spark.range(1).select(
      Jq.query(".", lit(null).cast("string")), Jq.multi(Seq(("x", ".", "string")), lit(null).cast("string"))).head()
    assert(n.isNullAt(0) && n.isNullAt(1))
  }

  test("Jq.multi rejects an unknown kind when the column is built") {
    // a STRING field that is NULL on every row would hide the typo
    val e = intercept[IllegalArgumentException](Jq.multi(Seq(("x", ".a", "int")), col("doc")))
    assert(e.getMessage.contains("unknown kind 'int'"), e.getMessage)
    assert(Jq.multi(Seq(("s", ".", "string"), ("l", ".", "long"), ("d", ".", "double"),
      ("b", ".", "bool")), col("doc")) != null)
  }

  test("jq over numeric/array/map inputs (native converters)") {
    val df = spark.range(1).select(
      lit(41L).as("l"),
      array(lit(1), lit(2), lit(3)).as("arr"),
      map(lit("k"), lit(7)).as("m"),
      lit(0.1f).as("f"))
    val r = df.select(
      Jq.long(". + 1", col("l")).as("l1"),
      Jq.long("length", col("arr")).as("n"),
      Jq.long(".k", col("m")).as("k"),
      // FLOAT widens via shortest-decimal (0.1f → 0.1), not raw cast
      Jq.double(".", col("f")).as("d")).head()
    assert(r.getLong(0) == 42L && r.getLong(1) == 3L && r.getLong(2) == 7L)
    assert(r.getDouble(3) == 0.1)
  }

  test("json_* over STRUCT and MAP columns equal json_* over their to_json text") {
    Jq.register(spark)
    val df = spark.range(0, 40, 1, 2).select(col("id"),
      struct(col("id").as("n"), concat(lit("s"), col("id").cast("string")).as("t")).as("st"),
      map(lit("b"), col("id"), lit("a"), col("id") * 3).as("m"))
    def calls(c: String): Seq[String] = Seq(
      "id", s"json_length($c)", s"json_keys($c)", s"json_canonical($c)", s"json_truthy($c)",
      s"json_cmp($c, '{\"n\":3}')", s"json_eq($c, $c)", s"json_add($c, '{\"z\":1}')",
      s"json_recurse($c)", s"""json_patch($c, '[{"op":"add","path":"/z","value":1}]')""",
      s"cbor_to_json(json_to_cbor($c))", s"msgpack_to_json(json_to_msgpack($c))")
    for (c <- Seq("st", "m")) {
      val native = df.selectExpr(calls(c): _*).collect().toSeq
      val text = df.select(col("id"), to_json(col(c)).as(c)).selectExpr(calls(c): _*).collect().toSeq
      assert(native == text, c)
      assert(native.forall(r => !r.isNullAt(1) && !r.isNullAt(3)), c)
    }
  }

  test("a document operand of an unsupported type fails at analysis") {
    Jq.register(spark)
    val bin = spark.range(1).select(lit("x").cast("binary").as("b"))
    val e = intercept[org.apache.spark.sql.AnalysisException](bin.selectExpr("json_length(b)"))
    assert(e.getMessage.contains("binary"), e.getMessage)
    intercept[org.apache.spark.sql.AnalysisException](bin.select(Jq.jsonCmp(col("b"), col("b"))))
  }

  test("cbor_to_json: a non-BINARY operand fails at analysis, naming its type") {
    Jq.register(spark)
    val df = spark.range(1).toDF()
    val viaColumn = intercept[org.apache.spark.sql.AnalysisException](df.select(Jq.fromCbor(lit("x"))))
    assert(viaColumn.getMessage.contains("cbor_to_json takes a BINARY operand, not string"), viaColumn.getMessage)
    val viaSql = intercept[org.apache.spark.sql.AnalysisException](df.selectExpr("cbor_to_json(42)"))
    assert(viaSql.getMessage.contains("not int"), viaSql.getMessage)
  }

  test("msgpack_to_json: a non-BINARY operand fails at analysis, naming its type") {
    Jq.register(spark)
    val df = spark.range(1).toDF()
    val viaColumn = intercept[org.apache.spark.sql.AnalysisException](df.select(Jq.fromMsgPack(lit("x"))))
    assert(viaColumn.getMessage.contains("msgpack_to_json takes a BINARY operand, not string"), viaColumn.getMessage)
    val viaSql = intercept[org.apache.spark.sql.AnalysisException](df.selectExpr("msgpack_to_json('x')"))
    assert(viaSql.getMessage.contains("not string"), viaSql.getMessage)
  }

  // ---------------------------------------------------------- properties

  private val genScalar: Gen[JDoc] = Gen.oneOf(
    Gen.const(JNull),
    Gen.oneOf(true, false).map(JBool(_)),
    Gen.chooseNum(-1000000L, 1000000L).map(JLong(_)),
    Gen.chooseNum(-1e6, 1e6).map(JDouble(_)),
    Gen.alphaNumStr.map(JStr(_)))

  private def genDoc(depth: Int): Gen[JDoc] =
    if (depth <= 0) genScalar
    else Gen.frequency(
      5 -> genScalar,
      1 -> Gen.listOfN(3, genDoc(depth - 1)).map(l => JArr(l.toVector)),
      1 -> Gen.listOfN(3, Gen.zip(Gen.alphaNumStr, genDoc(depth - 1)))
        .map(l => JObj.fromProps(l)))

  private val gen2 = Gen.zip(genDoc(2), genDoc(2))

  test("property: binary value ops never throw, null on unsupported combos") {
    forAllN(gen2) { case (a, b) =>
      val outs = Seq(
        JOps.add(a, b), JOps.sub(a, b), JOps.mul(a, b), JOps.div(a, b),
        JOps.rem(a, b), JOps.shl(a, b), JOps.shr(a, b),
        JOps.bitAnd(a, b), JOps.bitXor(a, b), JOps.bitOr(a, b))
      outs.forall(_ != null)
    }
  }

  test("property: canonical serialization round-trips") {
    forAllN(genDoc(3)) { d =>
      val c = JsonText.canonical(d)
      JsonText.canonical(JsonText.parse(c)) == c
    }
  }

  test("property: collation order is total (modulo NaN) and antisymmetric") {
    forAllN(gen2) { case (a, b) =>
      (JOps.cmp(a, b), JOps.cmp(b, a)) match {
        case (JOps.Incomparable, JOps.Incomparable) => true // NaN somewhere
        case (JOps.Incomparable, _) | (_, JOps.Incomparable) => false
        case (x, y) => Integer.signum(x) == -Integer.signum(y)
      }
    }
  }

  test("property: eqDoc agrees with cmp == 0 on comparable values") {
    forAllN(gen2) { case (a, b) =>
      JOps.cmp(a, b) match {
        case 0 => JOps.eqDoc(a, b) || a.isInstanceOf[JObj] // obj cmp is key-only
        case _ => true
      }
    }
  }

  test("an output nested past the render bound is an error entry or NULL, and the session survives") {
    // a computed value 100000 arrays deep: rendering it recursed past the
    // stack outside the jq guard, and the fatal error ended the JVM
    val docs = spark.range(0, 4, 1, 2).selectExpr("format_string('{\"i\":%d}', id) as doc")
    val deep = "reduce range(100000) as $x ([]; [.])"
    val rows = docs.select(
      col("doc"),
      Jq.string(deep, col("doc")).as("s"),
      Jq.query(deep, col("doc")).as("q"),
      Jq.docs(deep, col("doc")).as("d"),
      Jq.evalWithMeta(deep, col("doc"), lit("""{"sources":["s"]}""")).as("em"),
      Jq.multi(Seq(("t", s"$deep | tostring", "string"), ("i", ".i", "long")), col("doc")).as("m"))
      .collect()
    assert(rows.length == 4)
    rows.foreach { r =>
      assert(r.isNullAt(1), "typed extraction of an unrenderable output is NULL")
      val q = r.getSeq[org.apache.spark.sql.Row](2)
      assert(q.length == 1 && q.head.getString(0) == "null")
      assert(q.head.getSeq[String](1) == Seq(s"cannot render a value nested deeper than ${JsonText.MaxDepth}"))
      assert(r.getSeq[String](3).isEmpty && r.getSeq[org.apache.spark.sql.Row](4).isEmpty)
      val m = r.getStruct(5)
      assert(m.isNullAt(0), "a multi field whose program fails to render is NULL")
      assert(m.getLong(1) == JsonText.parse(r.getString(0)).asInstanceOf[JObj].get("i").collect {
        case JLong(v) => v }.get, "the other fields of the row still evaluate")
    }
    // the session is still alive and answers a query
    assert(spark.range(10).selectExpr("sum(id)").head().getLong(0) == 45L)
  }
}
