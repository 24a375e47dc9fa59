package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.catalyst.expressions.{Coalesce, Expression, Literal}
import org.apache.spark.sql.functions.explode

import graft.jq.{Ast, JqDoc, JqDocs, JqEval, JqEvalMeta, JqExtract, JqMulti, JqParser}
import graft.functions._

/** Public Column/SQL surface of the jq engine.
  *
  * `Jq.query(".a.b", $"props")` compiles the program once on the driver and
  * evaluates it as a single fused Catalyst expression on executors — the
  * plan stays a narrow projection (scan→project, zero shuffles), so it
  * scales linearly with partitions.
  *
  * Every jq_* and json_* function takes each document as STRING json
  * text or as a STRUCT, ARRAY, MAP, scalar or Spark 4 VARIANT column;
  * non-text inputs convert structurally with no to_json round trip, a
  * VARIANT binary is navigated natively (graft.jq.JqInput.fromVariant),
  * and any other type fails at analysis.
  */
object Jq {

  private def toCol(e: Expression): Column = ColumnBridge.column(e)
  private def toExpr(c: Column): Expression = ColumnBridge.expression(c)

  /** One graft document function: its SQL name, its arity, and its one
    * constructor. The Column API below and the SQL builders of
    * [[GraftExtensions]] both build through it, and it (with [[multi]]) is
    * the one place a document operand becomes the shared conversion
    * [[JqDoc]]: jq_* and json_* expressions over one column in one
    * projection then convert it once. */
  private[graft] final case class Fn(name: String, arity: Int, make: Seq[Expression] => Expression) {
    def apply(args: Seq[Expression]): Expression = {
      require(args.length == arity, s"$name takes $arity arguments")
      make(args)
    }
    def apply(cols: Column*): Column = toCol(apply(cols.map(toExpr)))
  }

  /** A jq function: the program text, a literal compiled once on the
    * driver, then `operands` operands, the first of them the document. */
  private def jq(name: String, operands: Int)(
      make: (Ast, String, JqDoc, Seq[Expression]) => Expression): Fn =
    Fn(name, operands + 1, args => {
      require(args.head.foldable, s"$name: the query argument must be a literal string")
      val q = args.head.eval(null).toString
      make(JqParser.parse(q), q, JqDoc(args(1)), args.drop(2))
    })

  /** The column of jq function `f` running program `q` over `cols`. */
  private def program(f: Fn, q: String, cols: Column*): Column =
    toCol(f(Literal(q) +: cols.map(toExpr)))

  /** A json function: every operand is a document. */
  private def json(name: String, arity: Int)(make: Seq[JqDoc] => Expression): Fn =
    Fn(name, arity, args => make(args.map(JqDoc(_))))

  private def extract(kind: String) = jq(s"jq_$kind", 1)((ast, q, doc, _) => JqExtract(ast, q, kind, doc))
  private val evalFn = jq("jq_eval", 1)((ast, q, doc, _) => JqEval(ast, q, doc))
  private val docsFn = jq("jq_docs", 1)((ast, q, doc, _) => JqDocs(ast, q, doc))
  private val stringFn = extract("string")
  private val longFn = extract("long")
  private val doubleFn = extract("double")
  private val boolFn = extract("bool")
  // A NULL envelope evaluates the pipeline with no envelope, as the text
  // `null` does: lineage that is absent must not swallow the row's
  // outputs, so NULL gates on the document only.
  private val evalMetaFn = jq("jq_eval_meta", 2)((ast, q, doc, meta) =>
    JqEvalMeta(ast, q, doc, Coalesce(Seq(JqDoc(meta.head), JqDoc(Literal("null"))))))

  private val cmpFn = json("json_cmp", 2)(d => JsonCmp(d(0), d(1)))
  private val patchFn = json("json_patch", 2)(d => JsonPatchExpr(d(0), d(1)))
  private val toCborFn = json("json_to_cbor", 1)(d => CborEncodeExpr(d(0)))
  private val fromCborFn = Fn("cbor_to_json", 1, a => CborDecodeExpr(a(0)))
  private val toMsgPackFn = json("json_to_msgpack", 1)(d => MsgPackEncodeExpr(d(0)))
  private val fromMsgPackFn = Fn("msgpack_to_json", 1, a => MsgPackDecodeExpr(a(0)))

  /** Every jq_* and json_* SQL function, for
    * [[GraftExtensions.functionBuilders]]. */
  private[graft] val functions: Seq[Fn] =
    Seq(evalFn, docsFn, stringFn, longFn, doubleFn, boolFn, evalMetaFn) ++
    Seq("add", "sub", "mul", "div", "rem", "shl", "shr", "band", "bxor", "bbor")
      .map(op => json(s"json_$op", 2)(d => JsonBinary(op, d(0), d(1)))) ++
    Seq("neg", "not", "truthy", "length", "keys", "chars", "canonical")
      .map(kind => json(s"json_$kind", 1)(d => JsonUnary(kind, d(0)))) ++
    Seq(cmpFn, json("json_eq", 2)(d => JsonEq(d(0), d(1))),
      json("json_recurse", 1)(d => JsonRecurse(d(0))),
      patchFn, toCborFn, fromCborFn, toMsgPackFn, fromMsgPackFn)

  /** Full entry stream: ARRAY<STRUCT<doc STRING, errors ARRAY<STRING>>>. */
  def query(q: String, jsonCol: Column): Column = program(evalFn, q, jsonCol)

  /** Successful outputs only, canonical JSON text each: ARRAY<STRING>. */
  def docs(q: String, jsonCol: Column): Column = program(docsFn, q, jsonCol)

  /** Entry-with-lineage evaluation: seeds the input entry's meta envelope
    * from `metaJsonCol` (a JSON object: domains/sources/keys), runs the
    * pipeline with full entry semantics, returns
    * ARRAY<STRUCT<doc STRING, meta STRING>> (both canonical). */
  def evalWithMeta(q: String, jsonCol: Column, metaJsonCol: Column): Column =
    program(evalMetaFn, q, jsonCol, metaJsonCol)

  /** First successful output as a typed scalar (NULL if none / mismatch). */
  def string(q: String, jsonCol: Column): Column = program(stringFn, q, jsonCol)
  def long(q: String, jsonCol: Column): Column = program(longFn, q, jsonCol)
  def double(q: String, jsonCol: Column): Column = program(doubleFn, q, jsonCol)
  def bool(q: String, jsonCol: Column): Column = program(boolFn, q, jsonCol)

  /** One row per successful jq output: adds `outputCol` (canonical JSON
    * text), keeps all input columns. A narrow generator — no shuffle. */
  def explodeDocs(df: DataFrame, q: String, jsonCol: Column, outputCol: String): DataFrame =
    df.withColumn(outputCol, explode(docs(q, jsonCol)))

  /** Several typed extractions fused over ONE parse of the document:
    * fields = (name, query, kind) with kind ∈ string|long|double|bool (any
    * other kind fails here); returns a STRUCT column. Use when a
    * projection extracts 2+ values from the same JSON column. */
  def multi(fields: Seq[(String, String, String)], jsonCol: Column): Column = {
    val parsed = fields.map { case (n, q, k) => (n, JqParser.parse(q), k) }
    toCol(JqMulti(parsed, fields.map(_._2).mkString("; "), JqDoc(toExpr(jsonCol))))
  }

  /** Cross-type collation comparison of two documents (-1/0/1). */
  def jsonCmp(a: Column, b: Column): Column = cmpFn(a, b)

  /** RFC 6902 patch application: `patch` is a document too. */
  def jsonPatch(doc: Column, patch: Column): Column = patchFn(doc, patch)

  /** RFC 8949 CBOR codec (the reference README's second Document
    * implementation): document ⇄ CBOR binary columns. */
  def toCbor(jsonCol: Column): Column = toCborFn(jsonCol)
  def fromCbor(cborCol: Column): Column = fromCborFn(cborCol)

  /** MessagePack third codec: document ⇄ MsgPack binary columns. */
  def toMsgPack(jsonCol: Column): Column = toMsgPackFn(jsonCol)
  def fromMsgPack(mpCol: Column): Column = fromMsgPackFn(mpCol)

  // ------------------------------------------------------- SQL registration

  /** Register every jq/json function for SQL use in an existing session:
    * `SELECT jq_long('.k * 2', props) FROM events`. The query argument must
    * be a foldable string (compiled once at plan time). For cluster-wide
    * registration use `spark.sql.extensions=graft.GraftExtensions`. */
  def register(spark: SparkSession): Unit =
    GraftExtensions.functionBuilders.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
}
