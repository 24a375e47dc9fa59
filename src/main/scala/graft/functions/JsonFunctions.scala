package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.jq.JqDoc
import graft.json._

// Standalone Catalyst expressions exposing the document value semantics to
// SQL / Column users (the §2.4-2.6 operator kernels of SURVEY.md). These
// are the same kernels the fused jq pipeline uses; they exist so the value
// algebra is usable directly — e.g. `SELECT json_add(a, b)` or
// `json_cmp(x, y) < 0` for collation-order sorting of heterogeneous
// documents. Every document operand is a graft.jq.JqDoc, built by the
// function's one constructor (graft.Jq.functions): JSON text parses, any
// other supported type converts structurally, and a document that fails to
// convert reads as null here, so the result is SQL NULL.

/** Binary value op: json_add/sub/mul/div/rem/shl/shr/band/bxor/bbor →
  * canonical JSON text (op-specific null results serialize as "null");
  * SQL NULL only for a document that fails to convert. */
case class JsonBinary(op: String, left: Expression, right: Expression)
    extends BinaryExpression with NativeBinaryCodegen {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = s"json_$op"
  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = JqDoc.document(l)
    val b = JqDoc.document(r)
    if (a == null || b == null) return null
    val out = op match {
      case "add"  => JOps.add(a, b)
      case "sub"  => JOps.sub(a, b)
      case "mul"  => JOps.mul(a, b)
      case "div"  => JOps.div(a, b)
      case "rem"  => JOps.rem(a, b)
      case "shl"  => JOps.shl(a, b)
      case "shr"  => JOps.shr(a, b)
      case "band" => JOps.bitAnd(a, b)
      case "bxor" => JOps.bitXor(a, b)
      case "bbor" => JOps.bitOr(a, b)
      case other  => throw new IllegalArgumentException(s"unknown json op $other")
    }
    UTF8String.fromString(JsonText.canonical(out))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JsonBinary =
    copy(left = l, right = r)
}

/** `json_cmp(a, b)` → -1/0/1 in the cross-type collation order
  * (Null < Bool < Integer < Float < String < Array < Object); NULL when
  * incomparable (NaN) or a document fails to convert. Usable as a SQL
  * sort key via e.g. `sort_array` over pre-compared tuples or
  * `ORDER BY json_cmp(doc, ref)`. */
case class JsonCmp(left: Expression, right: Expression)
    extends BinaryExpression with NativeBinaryCodegen {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "json_cmp"
  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = JqDoc.document(l)
    val b = JqDoc.document(r)
    if (a == null || b == null) return null
    val c = JOps.cmp(a, b)
    if (c == JOps.Incomparable) null else Integer.valueOf(Integer.signum(c))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JsonCmp =
    copy(left = l, right = r)
}

/** `json_eq(a, b)` → the engine's structural equality (variant-strict,
  * key-only object equality — SURVEY.md §2.5). */
case class JsonEq(left: Expression, right: Expression)
    extends BinaryExpression with NativeBinaryCodegen {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def prettyName: String = "json_eq"
  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = JqDoc.document(l)
    val b = JqDoc.document(r)
    if (a == null || b == null) null else java.lang.Boolean.valueOf(JOps.eqDoc(a, b))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JsonEq =
    copy(left = l, right = r)
}

/** Unary document functions:
  * kind ∈ neg | not | truthy | length | keys | chars | canonical.
  * length → BIGINT (NULL on error); truthy/not → BOOLEAN; others →
  * canonical JSON text. */
case class JsonUnary(kind: String, child: Expression)
    extends UnaryExpression with NativeUnaryCodegen {
  override def dataType: DataType = kind match {
    case "length"          => LongType
    case "truthy" | "not"  => BooleanType
    case _                 => StringType
  }
  override def nullable: Boolean = true
  override def prettyName: String = s"json_$kind"
  override protected def nullSafeEval(input: Any): Any = {
    val d = JqDoc.document(input)
    if (d == null) return null
    kind match {
      case "length" => JOps.lengthOf(d).map(java.lang.Long.valueOf).orNull
      case "truthy" => java.lang.Boolean.valueOf(JOps.truthy(d))
      case "not"    => java.lang.Boolean.valueOf(!JOps.truthy(d))
      case "neg"    => UTF8String.fromString(JsonText.canonical(JOps.neg(d)))
      case "keys"   => JOps.keysOf(d).map(k => UTF8String.fromString(JsonText.canonical(k))).orNull
      case "chars"  => JOps.intoIter(d).map(v => UTF8String.fromString(JsonText.canonical(JArr(v)))).orNull
      case "canonical" => UTF8String.fromString(JsonText.canonical(d))
      case other    => throw new IllegalArgumentException(s"unknown json op $other")
    }
  }
  override protected def withNewChildInternal(newChild: Expression): JsonUnary =
    copy(child = newChild)
}

/** `json_recurse(doc)` → ARRAY<STRING>: pre-order `..` descent, one
  * canonical JSON text per visited value. */
case class JsonRecurse(child: Expression)
    extends UnaryExpression with NativeUnaryCodegen {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "json_recurse"
  override protected def nullSafeEval(input: Any): Any = {
    val d = JqDoc.document(input)
    if (d == null) return null
    new GenericArrayData(
      JOps.recurse(d).map(v => UTF8String.fromString(JsonText.canonical(v))).toArray[Any])
  }
  override protected def withNewChildInternal(newChild: Expression): JsonRecurse =
    copy(child = newChild)
}

/** `json_patch(doc, patch)` → RFC 6902 patch application, canonical JSON
  * text; SQL NULL when the patch fails (failed `test`, bad path) or input
  * fails to convert — errors-as-data, never an exception. */
case class JsonPatchExpr(left: Expression, right: Expression)
    extends BinaryExpression with NativeBinaryCodegen {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "json_patch"
  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val doc = JqDoc.document(l)
    val patch = JqDoc.document(r)
    if (doc == null || patch == null) return null
    JsonPatch.apply(doc, patch) match {
      case Right(out) => UTF8String.fromString(JsonText.canonical(out))
      case Left(_)    => null
    }
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JsonPatchExpr =
    copy(left = l, right = r)
}

/** `json_to_cbor(doc)` → RFC 8949 CBOR bytes of the document
  * (the reference README's declared second Document codec, realized —
  * graft.json.CborCodec). SQL NULL for a document that fails to convert. */
case class CborEncodeExpr(child: Expression)
    extends UnaryExpression with NativeUnaryCodegen {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "json_to_cbor"
  override protected def nullSafeEval(input: Any): Any = {
    val d = JqDoc.document(input)
    if (d == null) null else CborCodec.encode(d)
  }
  override protected def withNewChildInternal(newChild: Expression): CborEncodeExpr =
    copy(child = newChild)
}

/** A binary-codec decoder: its one operand is BINARY, and any other type
  * fails at analysis, naming that type. */
trait BinaryDecoder extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName takes a BINARY operand, not ${child.dataType.catalogString}")
}

/** `cbor_to_json(bytes)` → canonical JSON text of a CBOR document; SQL
  * NULL for CBOR the document model cannot hold (tags, byte strings,
  * indefinite lengths) — errors-as-data, never an exception. */
case class CborDecodeExpr(child: Expression)
    extends UnaryExpression with BinaryDecoder with NativeUnaryCodegen {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "cbor_to_json"
  override protected def nullSafeEval(input: Any): Any = {
    try UTF8String.fromString(JsonText.canonical(
      CborCodec.decode(input.asInstanceOf[Array[Byte]])))
    catch { case _: CborCodec.CborException => null }
  }
  override protected def withNewChildInternal(newChild: Expression): CborDecodeExpr =
    copy(child = newChild)
}

/** `json_to_msgpack(doc)` → MessagePack bytes (third Document codec,
  * graft.json.MsgPackCodec). SQL NULL for a document that fails to convert. */
case class MsgPackEncodeExpr(child: Expression)
    extends UnaryExpression with NativeUnaryCodegen {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "json_to_msgpack"
  override protected def nullSafeEval(input: Any): Any = {
    val d = JqDoc.document(input)
    if (d == null) null else MsgPackCodec.encode(d)
  }
  override protected def withNewChildInternal(newChild: Expression): MsgPackEncodeExpr =
    copy(child = newChild)
}

/** `msgpack_to_json(bytes)` → canonical JSON text; SQL NULL for MsgPack
  * the document model cannot hold (bin/ext) — errors-as-data. */
case class MsgPackDecodeExpr(child: Expression)
    extends UnaryExpression with BinaryDecoder with NativeUnaryCodegen {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "msgpack_to_json"
  override protected def nullSafeEval(input: Any): Any = {
    try UTF8String.fromString(JsonText.canonical(
      MsgPackCodec.decode(input.asInstanceOf[Array[Byte]])))
    catch { case _: MsgPackCodec.MsgPackException => null }
  }
  override protected def withNewChildInternal(newChild: Expression): MsgPackDecodeExpr =
    copy(child = newChild)
}
