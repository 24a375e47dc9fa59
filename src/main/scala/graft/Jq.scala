package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.explode

import graft.jq.{JqParser, JqEval, JqEvalMeta, JqDocs, JqExtract}
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

  /** Full entry stream: ARRAY<STRUCT<doc STRING, errors ARRAY<STRING>>>. */
  def query(q: String, jsonCol: Column): Column =
    toCol(JqEval(JqParser.parse(q), q, toExpr(jsonCol)))

  /** Successful outputs only, canonical JSON text each: ARRAY<STRING>. */
  def docs(q: String, jsonCol: Column): Column =
    toCol(JqDocs(JqParser.parse(q), q, toExpr(jsonCol)))

  /** Entry-with-lineage evaluation: seeds the input entry's meta envelope
    * from `metaJsonCol` (a JSON object: domains/sources/keys), runs the
    * pipeline with full entry semantics, returns
    * ARRAY<STRUCT<doc STRING, meta STRING>> (both canonical). */
  def evalWithMeta(q: String, jsonCol: Column, metaJsonCol: Column): Column =
    toCol(JqEvalMeta.seeded(JqParser.parse(q), q, toExpr(jsonCol), toExpr(metaJsonCol)))

  /** First successful output as a typed scalar (NULL if none / mismatch). */
  def string(q: String, jsonCol: Column): Column =
    toCol(JqExtract(JqParser.parse(q), q, "string", toExpr(jsonCol)))
  def long(q: String, jsonCol: Column): Column =
    toCol(JqExtract(JqParser.parse(q), q, "long", toExpr(jsonCol)))
  def double(q: String, jsonCol: Column): Column =
    toCol(JqExtract(JqParser.parse(q), q, "double", toExpr(jsonCol)))
  def bool(q: String, jsonCol: Column): Column =
    toCol(JqExtract(JqParser.parse(q), q, "bool", toExpr(jsonCol)))

  /** One row per successful jq output: adds `outputCol` (canonical JSON
    * text), keeps all input columns. A narrow generator — no shuffle. */
  def explodeDocs(df: DataFrame, q: String, jsonCol: Column, outputCol: String): DataFrame =
    df.withColumn(outputCol, explode(docs(q, jsonCol)))

  /** Several typed extractions fused over ONE parse of the document:
    * fields = (name, query, kind) with kind ∈ string|long|double|bool;
    * returns a STRUCT column. Use when a projection extracts 2+ values
    * from the same JSON column. */
  def multi(fields: Seq[(String, String, String)], jsonCol: Column): Column = {
    val parsed = fields.map { case (n, q, k) => (n, JqParser.parse(q), k) }
    toCol(graft.jq.JqMulti(parsed, fields.map(_._2).mkString("; "), toExpr(jsonCol)))
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
