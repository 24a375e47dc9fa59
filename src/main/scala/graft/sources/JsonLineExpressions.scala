package graft.sources

import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.NativeUnaryCodegen
import graft.jq.JqInput
import graft.json.JsonText

// Catalyst expressions behind JsonDocs.readJsonl: ParseJson parses a line
// once, and thin expressions read that parse. Every reader holds the same
// `ParseJson(value)`, so subexpression elimination evaluates it once per
// row, and column pruning drops a reader nobody selects.

/** False for a blank line: one whose characters are all ≤ U+0020, the
  * rule of `String.trim`. Read on the UTF-8 bytes, where every byte of a
  * multi-byte character is ≥ 0x80. */
case class NonBlank(child: Expression) extends NativeUnaryCodegen with Predicate {
  override def prettyName: String = "non_blank"
  override protected def nullSafeEval(line: Any): Any = {
    val s = line.asInstanceOf[UTF8String]
    val n = s.numBytes()
    var i = 0
    while (i < n && (s.getByte(i) & 0xff) <= 0x20) i += 1
    i < n
  }
  override protected def withNewChildInternal(c: Expression): NonBlank = copy(child = c)
}

/** One parse of a JSON line: a [[JsonText.Parsed]], never NULL for a
  * non-NULL line. Not foldable: an object value has no literal. */
case class ParseJson(child: Expression) extends NativeUnaryCodegen {
  override def dataType: DataType = JqInput.ParsedType
  override def foldable: Boolean = false
  override def prettyName: String = "parse_json_line"
  override protected def nullSafeEval(line: Any): Any = JsonText.parseOnce(line.toString)
  override protected def withNewChildInternal(c: Expression): ParseJson = copy(child = c)
}

/** A reader of a [[ParseJson]]; NULL where its part does not apply. */
sealed trait ParsedPart extends NativeUnaryCodegen {
  override def nullable: Boolean = true
  protected def part(p: JsonText.Parsed): Any
  override protected final def nullSafeEval(p: Any): Any = part(p.asInstanceOf[JsonText.Parsed])
}

/** The canonical text of the document; NULL on a parse error. */
case class ParsedText(child: Expression) extends ParsedPart {
  override def dataType: DataType = StringType
  override def prettyName: String = "parsed_text"
  override protected def part(p: JsonText.Parsed): Any =
    if (p.error != null) null else UTF8String.fromString(JsonText.canonical(p.doc))
  override protected def withNewChildInternal(c: Expression): ParsedText = copy(child = c)
}

/** The parse error's message; NULL on success. */
case class ParsedError(child: Expression) extends ParsedPart {
  override def dataType: DataType = StringType
  override def prettyName: String = "parsed_error"
  override protected def part(p: JsonText.Parsed): Any =
    if (p.error == null) null else UTF8String.fromString(p.error)
  override protected def withNewChildInternal(c: Expression): ParsedError = copy(child = c)
}

/** The parse as a jq document operand; NULL on a parse error, as its
  * [[ParsedText]] is. [[graft.plans.JqPathCompile]] puts it in place of
  * that text under a jq expression. */
case class ParsedDoc(child: Expression) extends ParsedPart {
  override def dataType: DataType = JqInput.ParsedType
  override def prettyName: String = "parsed_doc"
  override protected def part(p: JsonText.Parsed): Any = if (p.error == null) p else null
  override protected def withNewChildInternal(c: Expression): ParsedDoc = copy(child = c)
}
