package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.{col, concat, lit, struct, to_json}
import org.apache.spark.sql.types.StringType

import graft.{Jq, SparkTestBase}
import graft.jq.JqDoc

/** `readJsonl` as Catalyst expressions over one parse of each line, and jq
  * over its `doc` reading that parse (graft.plans.JqPathCompile): results
  * equal the rule-off plan, where jq re-parses the canonical text, and
  * `doc`/`error` equal a per-line `String.trim` filter and parse. Every jq
  * expression reads its document through one `JqDoc`, so several over one
  * column share its conversion. */
class JsonlParseOnceSpec extends SparkTestBase {
  import spark.implicits._

  /** The ten programs of perfbench's `jq_scan`. */
  private val scanPrograms = Seq(
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

  private def order(r: scala.util.Random, i: Int): String = {
    val items = (0 until 1 + r.nextInt(4)).map { _ =>
      val tags = Seq.fill(r.nextInt(3))("\"" + Seq("red", "new", "eco")(r.nextInt(3)) + "\"")
      s"""{"sku":"S${r.nextInt(1000)}","qty":${1 + r.nextInt(9)},"price":${100 + r.nextInt(900)},"tags":[${tags.mkString(",")}]}"""
    }
    s"""{"id":$i,"user":{"name":"u$i","country":"DE","tier":"gold","age":${18 + r.nextInt(60)}},""" +
      s""""items":[${items.mkString(",")}],"meta":{"flags":{"gift":${r.nextBoolean()},"promo":true,"express":false}}}"""
  }

  /** Orders, then lines no order is like: malformed, blank under
    * `String.trim`, non-blank whitespace, negative zero, non-finite
    * doubles, repeated keys, raw non-ASCII. */
  private val lines: Seq[String] = {
    val r = new scala.util.Random(7)
    (0 until 200).map(order(r, _)) ++ Seq(
      "not json", "{\"a\":", "[1,]", "", "\t", "\u000b", "  \u0000 \u001f ", " ",
      "-0.0", "1e999", "-1e999", "[1, -0.0]",
      """{"items":[{"qty":-0.0,"price":1e999,"tags":[]}],"user":{"name":"z"}}""",
      """{"items":[{"qty":2.5,"price":-0.0}],"meta":{"flags":{"gift":true}}}""",
      """{"a":1,"a":2,"user":{"name":"dup","name":"last"}}""",
      """ {"user": {"name": "é😀é"}} """, "12345678901234567890123", "\"s\"", "null")
  }

  private lazy val path: String = {
    val dir = Files.createTempDirectory("jsonl-parse-once").toFile
    val f = new java.io.File(dir, "docs.jsonl")
    Files.writeString(f.toPath, lines.mkString("\n") + "\n")
    f.getAbsolutePath
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def ruleOff[A](body: => A): A = {
    spark.conf.set("spark.sql.optimizer.excludedRules", "graft.plans.JqPathCompile")
    try body finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  private def planExprs(df: DataFrame): Seq[Expression] =
    df.queryExecution.optimizedPlan.collect { case p => p.expressions.flatMap(_.collect { case e => e }) }.flatten

  test("doc and error equal a per-line String.trim filter, parse and canonical write") {
    val reference = spark.read.textFile(path)
      .filter(l => l.trim.nonEmpty)
      .map { line =>
        try (graft.json.JsonText.canonical(graft.json.JsonText.parse(line)), null: String)
        catch { case e: graft.json.JsonText.JsonParseException => (null: String, e.getMessage) }
      }
      .toDF("doc", "error")
    val got = JsonDocs.readJsonl(spark, path)
    assert(got.schema == reference.schema)
    assert(rows(got) == rows(reference))
    assert(got.count() == lines.count(_.trim.nonEmpty))
  }

  test("jq over doc: rule on equals rule off on the ten scan programs and on error entries") {
    // one jq expression per select: two readers of `doc` keep it a column
    // of its own (CollapseProject does not inline a costly alias twice)
    def queries(): Seq[DataFrame] = {
      val docs = JsonDocs.readJsonl(spark, path)
      Seq(
        Jq.multi(scanPrograms, col("doc")),
        Jq.query(".user.name", col("doc")),
        // error entries: a failing operator, a raised error
        Jq.query(".items.[0].qty + \"x\"", col("doc")),
        Jq.query("error(\"boom\")", col("doc")),
        // pow(x, -1) tells -0.0 (-inf) from 0.0 (inf)
        Jq.query("[.. | numbers | pow(., -1)]", col("doc")),
        Jq.query("[.[]?] | tostring", col("doc")),
        Jq.docs(".items.[]?.price", col("doc")),
        Jq.long(".id", col("doc")),
        Jq.double(".items.[0].qty", col("doc")),
        Jq.bool(".meta.flags.gift", col("doc")),
        Jq.string(".", col("doc")),
        Jq.evalWithMeta(".user", col("doc"), lit("{\"sources\":[\"s\"]}"))
      ).map(jq => docs.select(jq.as("jq"), col("error")))
    }
    val on = queries()
    on.foreach(q => assert(readsLineParse(q), q.queryExecution.optimizedPlan))
    val off = ruleOff(queries().map { q => assert(!readsLineParse(q)); rows(q) })
    on.map(rows).zip(off).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a == b, s"query $i: rule on and rule off differ")
    }
    // the flagged lines keep today's answers: -0.0 reads back as 0.0, and
    // 1e999 does not read back, so jq over it is an error entry
    def first(doc: String, program: String, field: String) =
      JsonDocs.readJsonl(spark, path).filter(col("doc") === doc)
        .select(Jq.query(program, col("doc")).getItem(0).getField(field).cast("string")).as[String].collect().toSeq
    assert(first("0e0", "pow(., -1)", "doc") == Seq("inf"))
    val inf = first("inf", ".", "errors")
    assert(inf.length == 1 && inf.head.contains("invalid json"), inf)
  }

  /** A jq operand that reads a conversion back: the line's parse. */
  private def readsLineParse(df: DataFrame): Boolean =
    planExprs(df).exists { case JqDoc(_: JqDoc) => true; case _ => false }

  /** The distinct conversions in a plan that parse JSON text. */
  private def lineParses(exprs: Seq[Expression]): Seq[Expression] =
    exprs.collect { case d @ JqDoc(c) if c.dataType == StringType => d.canonicalized }.distinct

  private def conversions(df: DataFrame): Seq[Expression] =
    planExprs(df).collect { case d: JqDoc => d.canonicalized }.distinct

  test("plan: select(Jq.multi(doc), error) holds one parse and no canonical write") {
    val q = JsonDocs.readJsonl(spark, path)
      .select(Jq.multi(scanPrograms, col("doc")).as("m"), col("error"))
    val exprs = planExprs(q)
    assert(lineParses(exprs).length == 1, q.queryExecution.optimizedPlan)
    assert(!exprs.exists(_.isInstanceOf[ParsedText]), q.queryExecution.optimizedPlan)
    // doc alone: the canonical write stays, the error read is pruned
    val docOnly = planExprs(JsonDocs.readJsonl(spark, path).select(col("doc")))
    assert(docOnly.exists(_.isInstanceOf[ParsedText]) && !docOnly.exists(_.isInstanceOf[ParsedError]))
  }

  test("two jq expressions over one column share one conversion") {
    // two readers of `doc` keep it a column (CollapseProject does not
    // inline a costly alias twice): the line's parse, and one conversion
    // of the canonical text that both jq expressions read
    def twoReaders(): DataFrame = JsonDocs.readJsonl(spark, path)
      .select(Jq.query(".user.name", col("doc")).as("a"), Jq.query("[paths] | length", col("doc")).as("b"))
    val q = twoReaders()
    assert(conversions(q).length <= 2, q.queryExecution.optimizedPlan)
    assert(rows(q) == ruleOff(rows(twoReaders())))
    assert(q.where(col("a").getItem(0).getField("doc") === "\"u7\"").count() == 1)
    // a STRUCT column: programs the path rule does not compile away
    val s = spark.range(0, 50, 1, 2)
      .select(struct(col("id").as("a"), concat(lit("x"), col("id").cast("string")).as("b")).as("s"))
    val sq = s.select(Jq.long(".a + 1", col("s")).as("n"), Jq.string(".b | ascii_upcase", col("s")).as("u"))
    assert(conversions(sq).length == 1, sq.queryExecution.optimizedPlan)
    assert(sq.collect().map(r => (r.getLong(0), r.getString(1))).toSet == (0L until 50L).map(i => (i + 1, s"X$i")).toSet)
  }

  test("json_* and jq_* over one column share one conversion; over doc, the line's parse") {
    Jq.register(spark)
    val calls = Seq("json_length(c)", "json_cmp(c, c)", "json_canonical(c)", "jq_long('.id', c)")
    val text = spark.read.text(path).select(col("value").as("c"))
    val q = text.selectExpr(calls: _*)
    assert(conversions(q).length == 1, q.queryExecution.optimizedPlan)
    // over readJsonl's doc: a lone reader of `doc` is inlined, and its
    // conversion reads the line's parse back
    Seq("json_length(doc)", "json_cmp(doc, 0)", "json_canonical(doc)", "jq_long('.id', doc)").foreach { call =>
      def one(): DataFrame = JsonDocs.readJsonl(spark, path).selectExpr(call, "error")
      val q = one()
      assert(lineParses(planExprs(q)).length == 1 && readsLineParse(q), q.queryExecution.optimizedPlan)
      assert(rows(q) == ruleOff(rows(one())), call)
    }
    // several readers keep `doc` a column (CollapseProject does not inline
    // a costly alias twice): the line's parse, and one conversion of its
    // canonical text that all four read
    def four(): DataFrame = JsonDocs.readJsonl(spark, path).select(col("doc").as("c")).selectExpr(calls: _*)
    assert(conversions(four()).length == 2, four().queryExecution.optimizedPlan)
    assert(rows(four()) == ruleOff(rows(four())))
  }

  test("writeJsonl: a STRUCT column round-trips through readJsonl, and malformed text fails the write") {
    val out = Files.createTempDirectory("jsonl-write").toFile
    val s = spark.range(0, 30, 1, 3)
      .select(struct(col("id").as("n"), concat(lit("s"), col("id").cast("string")).as("t")).as("st"))
    JsonDocs.writeJsonl(s, "st", new java.io.File(out, "st").getAbsolutePath)
    val back = JsonDocs.readJsonl(spark, new java.io.File(out, "st").getAbsolutePath)
    assert(rows(back) == rows(s.select(to_json(col("st")).as("doc"), lit(null).cast(StringType).as("error"))))
    val bad = JsonDocs.fromStrings(spark, Seq("{\"a\":1}", "not json"))
    val e = intercept[Exception](JsonDocs.writeJsonl(bad, "doc", new java.io.File(out, "bad").getAbsolutePath))
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")
    assert(messages.contains("doc is not a JSON document"), messages)
  }

  test("streamJsonl: the same projection over a stream") {
    val dir = Files.createTempDirectory("jsonl-stream").toFile
    Files.writeString(new java.io.File(dir, "part-0.jsonl").toPath, lines.mkString("\n") + "\n")
    val name = "jsonl_parse_once"
    val query = JsonDocs.streamJsonl(spark, dir.getAbsolutePath)
      .select(col("doc"), col("error"), Jq.long(".id", col("doc")).as("id"))
      .writeStream.format("memory").queryName(name).start()
    try query.processAllAvailable() finally query.stop()
    val batch = JsonDocs.readJsonl(spark, path)
      .select(col("doc"), col("error"), Jq.long(".id", col("doc")).as("id"))
    assert(rows(spark.table(name)) == rows(batch))
  }
}
