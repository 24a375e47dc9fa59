package graft.jq

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.types.variant.{Variant, VariantUtil}
import org.apache.spark.unsafe.types.{UTF8String, VariantVal}

import graft.functions.NativeUnaryCodegen
import graft.json._

/** How a jq operand becomes a [[JDoc]]: one Catalyst expression,
  * [[JqDoc]], converts it, straight from Spark internal values — the
  * round-2 replacement for the `to_json` → text → re-parse bridge
  * (SURVEY.md §1.4's dynamic-value design).
  *
  * Semantics: a STRING input is still *parsed* as JSON text (the engine's
  * document streams are JSON text, reference src/json.rs:123-160); every
  * other supported type converts structurally with NO serialization
  * ([[converter]]):
  *
  *   - STRUCT → object (null fields omitted, matching `to_json`'s default
  *     `ignoreNullFields` so plans migrated off the to_json bridge keep
  *     byte-identical outputs);
  *   - ARRAY → array (null elements → JSON null, as to_json keeps them);
  *   - MAP<STRING,_> → object;
  *   - VARIANT → parsed once at the source, navigated binary-natively;
  *   - FLOAT widens via its shortest decimal form (`Float.toString`), the
  *     same value a text round-trip would produce — NOT the raw widening
  *     cast, which would turn 0.1f into 0.10000000149011612.
  *
  * The converter is resolved once per expression from the operand's type
  * on the driver, so the per-row path is a monomorphic call tree with zero
  * type dispatch on the hot path.
  */
object JqInput {

  type Conv = Any => JDoc

  /** The type of a [[JqDoc]] value: the converted [[JDoc]], or a
    * [[JsonText.Parsed]] (a text operand's parse, or a failed conversion).
    * Never written to a row. */
  val DocType: DataType = ObjectType(classOf[AnyRef])

  /** Can `dt` feed the jq engine directly? (Used by checkInputDataTypes —
    * unsupported types are an analysis-time error, not a runtime one.) */
  def supports(dt: DataType): Boolean = dt match {
    case StringType | BooleanType | NullType | DocType => true
    case LongType | IntegerType | ShortType | ByteType => true
    case DoubleType | FloatType => true
    case _: DecimalType => true
    case VariantType => true
    case st: StructType => st.fields.forall(f => supports(f.dataType))
    case ArrayType(et, _) => supports(et)
    case MapType(StringType, vt, _) => supports(vt)
    case _ => false
  }

  /** Structural converter: a STRING here is a string *value* (struct field,
    * array element), not a JSON document — JSON text is [[JqDoc]]'s own
    * case. Non-throwing except on VARIANT nesting past
    * [[JsonText.MaxDepth]]. */
  def converter(dt: DataType): Conv = dt match {
    case StringType  => v => JStr(v.asInstanceOf[UTF8String].toString)
    case BooleanType => v => JBool(v.asInstanceOf[Boolean])
    case LongType    => v => JLong(v.asInstanceOf[Long])
    case IntegerType => v => JLong(v.asInstanceOf[Int].toLong)
    case ShortType   => v => JLong(v.asInstanceOf[Short].toLong)
    case ByteType    => v => JLong(v.asInstanceOf[Byte].toLong)
    case DoubleType  => v => JDouble(v.asInstanceOf[Double])
    case FloatType   => v => JDouble(java.lang.Float.toString(v.asInstanceOf[Float]).toDouble)
    case d: DecimalType =>
      v => JDouble(v.asInstanceOf[org.apache.spark.sql.types.Decimal].toDouble)
    case NullType    => _ => JNull
    case VariantType =>
      v => {
        val vv = v.asInstanceOf[VariantVal]
        fromVariant(new Variant(vv.getValue, vv.getMetadata))
      }
    case st: StructType =>
      val names = st.fields.map(_.name)
      val types = st.fields.map(_.dataType)
      val convs = types.map(converter)
      // Distinct names are sorted into JObj's key order once, here, so a
      // row builds its object directly; repeated names keep the
      // last-wins fold of `fromProps`.
      val distinct = names.distinct.length == names.length
      val order =
        if (distinct) names.indices.sortWith((a, b) => JOps.cmpStr(names(a), names(b)) < 0).toArray
        else names.indices.toArray
      val build: Vector[(String, JDoc)] => JObj = if (distinct) JObj(_) else JObj.fromProps
      v => {
        val row = v.asInstanceOf[InternalRow]
        // null fields omitted (to_json ignoreNullFields parity, see above)
        var present = 0
        var f = 0
        while (f < order.length) { if (!row.isNullAt(f)) present += 1; f += 1 }
        val kvs = new Array[AnyRef](present)
        var j = 0
        var k = 0
        while (j < order.length) {
          val i = order(j)
          if (!row.isNullAt(i)) { kvs(k) = (names(i), convs(i)(row.get(i, types(i)))); k += 1 }
          j += 1
        }
        build(leaf(kvs))
      }
    case ArrayType(et, _) =>
      val conv = converter(et)
      v => {
        val arr = v.asInstanceOf[ArrayData]
        val n = arr.numElements()
        val items = new Array[AnyRef](n)
        var i = 0
        while (i < n) {
          items(i) = if (arr.isNullAt(i)) JNull else conv(arr.get(i, et))
          i += 1
        }
        JArr(leaf(items))
      }
    case MapType(StringType, vt, _) =>
      val conv = converter(vt)
      v => {
        val m = v.asInstanceOf[MapData]
        val n = m.numElements()
        val keys = m.keyArray()
        val values = m.valueArray()
        val kvs = Vector.newBuilder[(String, JDoc)]
        var i = 0
        while (i < n) {
          val k = keys.getUTF8String(i).toString
          kvs += ((k, if (values.isNullAt(i)) JNull else conv(values.get(i, vt))))
          i += 1
        }
        JObj.fromProps(kvs.result())
      }
    case other =>
      throw new IllegalArgumentException(s"jq input does not support $other")
  }

  /** The elements of a filled array as a Vector; up to 32 of them become
    * its one leaf without a copy (`Vector.from` keeps an `ArraySeq.ofRef`'s
    * array). */
  private def leaf[A](xs: Array[AnyRef]): Vector[A] =
    Vector.from(scala.collection.immutable.ArraySeq.unsafeWrapArray(xs)).asInstanceOf[Vector[A]]

  /** Binary-native Variant → JDoc walk (no JSON text round-trip). The
    * variant was parsed once at its source (`parse_json` / a variant scan);
    * navigation here is offset arithmetic over the binary, which is the
    * "parse once, query many" design the reference gets from its Document
    * trait (reference: src/db.rs:33-132). Depth-guarded like every other
    * decoder: adversarial nesting raises the JSON parse exception, which
    * the expressions route to the errors-as-data path instead of letting
    * a StackOverflowError kill the task. */
  def fromVariant(v: Variant): JDoc = fromVariant(v, 0)

  private def fromVariant(v: Variant, depth: Int): JDoc = {
    if (depth > JsonText.MaxDepth)
      throw JsonText.JsonParseException(s"variant nesting deeper than ${JsonText.MaxDepth}", 0)
    v.getType match {
      case VariantUtil.Type.NULL    => JNull
      case VariantUtil.Type.BOOLEAN => JBool(v.getBoolean)
      case VariantUtil.Type.LONG    => JLong(v.getLong)
      case VariantUtil.Type.DOUBLE  => JDouble(v.getDouble)
      case VariantUtil.Type.FLOAT   => JDouble(java.lang.Float.toString(v.getFloat).toDouble)
      case VariantUtil.Type.DECIMAL => JDouble(v.getDecimal.doubleValue())
      case VariantUtil.Type.STRING  => JStr(v.getString)
      case VariantUtil.Type.ARRAY =>
        val n = v.arraySize()
        val items = Vector.newBuilder[JDoc]
        var i = 0
        while (i < n) { items += fromVariant(v.getElementAtIndex(i), depth + 1); i += 1 }
        JArr(items.result())
      case VariantUtil.Type.OBJECT =>
        val n = v.objectSize()
        val kvs = Vector.newBuilder[(String, JDoc)]
        var i = 0
        while (i < n) {
          val f = v.getFieldAtIndex(i)
          kvs += ((f.key, fromVariant(f.value, depth + 1)))
          i += 1
        }
        JObj.fromProps(kvs.result())
      case _ =>
        // timestamps/date/binary/uuid have no reference Json variant: take
        // the variant's own JSON rendering (what the to_json bridge
        // produced) and lift it into the document model
        JsonText.parse(v.toJson(java.time.ZoneOffset.UTC))
    }
  }
}

/** The one conversion of a jq document operand: every jq expression reads
  * `JqDoc(column)`, so Spark's subexpression elimination evaluates a
  * repeated `JqDoc(c)` once per row, and any number of jq expressions over
  * `c` in one projection convert it once.
  *
  * Three operand cases, resolved once on the driver from the type:
  *   - STRING is JSON text: its [[JsonText.parseOnce]], which keeps the raw
  *     parsed document (negative zero, non-finite doubles) or the error;
  *   - a [[JqDoc]] value ([[JqInput.DocType]]) reads back through its
  *     canonical text: the document a parse of
  *     [[graft.sources.ParsedText]] of it gives, NULL where that text is
  *     NULL ([[JsonText.Parsed.readBack]] when it is a parse). jq over
  *     `readJsonl`'s `doc` reads the line's parse so
  *     ([[graft.plans.JqPathCompile]]);
  *   - any other type converts structurally ([[JqInput.converter]]).
  *
  * A conversion that fails (malformed text, a failed read-back, VARIANT
  * nesting past [[JsonText.MaxDepth]]) is a [[JsonText.Parsed]] error,
  * which a jq expression renders as the record of that parse exception.
  * Not foldable: a case-class [[JDoc]] literal would be read as a row. */
case class JqDoc(child: Expression) extends NativeUnaryCodegen {
  override def dataType: DataType = JqInput.DocType
  override def nullable: Boolean = child.nullable || child.dataType == JqInput.DocType
  override def foldable: Boolean = false
  override def prettyName: String = "jq_doc"

  override def checkInputDataTypes(): TypeCheckResult =
    if (JqInput.supports(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"no JSON document converts from type ${child.dataType.catalogString}")

  @transient private lazy val conv: Any => AnyRef = child.dataType match {
    case StringType => v => JsonText.parseOnce(v.toString)
    case JqInput.DocType => {
      case p: JsonText.Parsed => if (p.error == null) p.readBack else null
      case d: JDoc            => JsonText.parse(JsonText.canonical(d))
    }
    case other => JqInput.converter(other)
  }

  override protected def nullSafeEval(v: Any): Any =
    try conv(v) catch { case e: JsonText.JsonParseException => JsonText.failed(e) }
  override protected def withNewChildInternal(c: Expression): JqDoc = copy(child = c)
}

object JqDoc {

  /** The document of a [[JqDoc]] value; null when its conversion failed. */
  def document(v: Any): JDoc = v match {
    case p: JsonText.Parsed => p.doc
    case d: JDoc            => d
  }

  /** The parse error of a [[JqDoc]] value; null when it converted. */
  def error(v: Any): String = v match {
    case p: JsonText.Parsed => p.error
    case _                  => null
  }
}
