package graft.sources

import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.NativeUnaryCodegen
import graft.jq.JqDoc
import graft.json.JsonText

// Catalyst expressions behind JsonDocs.readJsonl: the jq document
// conversion JqDoc parses a line once, and thin expressions read that
// parse. Every reader holds the same `JqDoc(value)`, so subexpression
// elimination evaluates it once per row, and column pruning drops a reader
// nobody selects.

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

/** The canonical text of a [[graft.jq.JqDoc]]'s document; NULL when its
  * conversion failed. */
case class ParsedText(child: Expression) extends NativeUnaryCodegen {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "parsed_text"
  override protected def nullSafeEval(v: Any): Any = {
    val doc = JqDoc.document(v)
    if (doc == null) null else UTF8String.fromString(JsonText.canonical(doc))
  }
  override protected def withNewChildInternal(c: Expression): ParsedText = copy(child = c)
}

/** The parse error of a [[graft.jq.JqDoc]]; NULL when it converted. */
case class ParsedError(child: Expression) extends NativeUnaryCodegen {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "parsed_error"
  override protected def nullSafeEval(v: Any): Any = {
    val error = JqDoc.error(v)
    if (error == null) null else UTF8String.fromString(error)
  }
  override protected def withNewChildInternal(c: Expression): ParsedError = copy(child = c)
}
