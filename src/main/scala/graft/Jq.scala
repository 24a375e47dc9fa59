package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.catalyst.expressions.Expression
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
  * Every jq function takes its document as STRING json text or as a
  * STRUCT, ARRAY, MAP, scalar or Spark 4 VARIANT column; non-text inputs
  * convert structurally with no to_json round trip, and a VARIANT binary
  * is navigated natively (graft.jq.JqInput.fromVariant).
  */
object Jq {

  private def toCol(e: Expression): Column = ColumnBridge.column(e)
  private def toExpr(c: Column): Expression = ColumnBridge.expression(c)

  /** One jq function: its SQL name, how many operands follow the program
    * text, and its one constructor. The Column API below and the SQL
    * builders of [[GraftExtensions]] both build through it, and it (with
    * [[multi]]) is the one place a document operand, the first, becomes
    * the shared conversion [[JqDoc]]: jq expressions over one column in
    * one projection then convert it once. */
  private[graft] final case class Fn(name: String, operands: Int,
      make: (Ast, String, JqDoc, Seq[Expression]) => Expression) {
    def apply(q: String, args: Seq[Expression]): Expression =
      make(JqParser.parse(q), q, JqDoc(args.head), args.tail)
    def apply(q: String, cols: Column*): Column = toCol(apply(q, cols.map(toExpr)))
  }

  private def extract(kind: String) = Fn(s"jq_$kind", 1, (ast, q, doc, _) => JqExtract(ast, q, kind, doc))
  private val evalFn = Fn("jq_eval", 1, (ast, q, doc, _) => JqEval(ast, q, doc))
  private val docsFn = Fn("jq_docs", 1, (ast, q, doc, _) => JqDocs(ast, q, doc))
  private val stringFn = extract("string")
  private val longFn = extract("long")
  private val doubleFn = extract("double")
  private val boolFn = extract("bool")
  private val evalMetaFn = Fn("jq_eval_meta", 2, (ast, q, doc, meta) => JqEvalMeta.seeded(ast, q, doc, meta.head))

  /** Every jq SQL function, for [[GraftExtensions.functionBuilders]]. */
  private[graft] val functions: Seq[Fn] =
    Seq(evalFn, docsFn, stringFn, longFn, doubleFn, boolFn, evalMetaFn)

  /** Full entry stream: ARRAY<STRUCT<doc STRING, errors ARRAY<STRING>>>. */
  def query(q: String, jsonCol: Column): Column = evalFn(q, jsonCol)

  /** Successful outputs only, canonical JSON text each: ARRAY<STRING>. */
  def docs(q: String, jsonCol: Column): Column = docsFn(q, jsonCol)

  /** Entry-with-lineage evaluation: seeds the input entry's meta envelope
    * from `metaJsonCol` (a JSON object: domains/sources/keys), runs the
    * pipeline with full entry semantics, returns
    * ARRAY<STRUCT<doc STRING, meta STRING>> (both canonical). */
  def evalWithMeta(q: String, jsonCol: Column, metaJsonCol: Column): Column =
    evalMetaFn(q, jsonCol, metaJsonCol)

  /** First successful output as a typed scalar (NULL if none / mismatch). */
  def string(q: String, jsonCol: Column): Column = stringFn(q, jsonCol)
  def long(q: String, jsonCol: Column): Column = longFn(q, jsonCol)
  def double(q: String, jsonCol: Column): Column = doubleFn(q, jsonCol)
  def bool(q: String, jsonCol: Column): Column = boolFn(q, jsonCol)

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

  /** Cross-type collation comparison of two JSON text columns (-1/0/1). */
  def jsonCmp(a: Column, b: Column): Column =
    toCol(JsonCmp(toExpr(a), toExpr(b)))

  /** RFC 6902 patch application over JSON text columns. */
  def jsonPatch(doc: Column, patch: Column): Column =
    toCol(JsonPatchExpr(toExpr(doc), toExpr(patch)))

  /** RFC 8949 CBOR codec (the reference README's second Document
    * implementation): JSON text ⇄ CBOR binary columns. */
  def toCbor(jsonCol: Column): Column = toCol(CborEncodeExpr(toExpr(jsonCol)))
  def fromCbor(cborCol: Column): Column = toCol(CborDecodeExpr(toExpr(cborCol)))

  /** MessagePack third codec: JSON text ⇄ MsgPack binary columns. */
  def toMsgPack(jsonCol: Column): Column = toCol(MsgPackEncodeExpr(toExpr(jsonCol)))
  def fromMsgPack(mpCol: Column): Column = toCol(MsgPackDecodeExpr(toExpr(mpCol)))

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
