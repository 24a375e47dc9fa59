package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, GetMapValue, GetStructField, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.jq.{Ast, JqDoc, JqExtract}
import graft.sources.ParsedText

/** Optimizer rule: compile jq INDEX-PATH programs over STRUCT/MAP columns
  * into native Catalyst field accesses.
  *
  * `jq_long(".a.b", struct_col)` evaluates by converting the whole struct
  * row into a document tree, walking it interpretively, and extracting one
  * leaf — per row. When the program is a pure key path and the input is
  * typed (parquet struct / map), the same value is reachable as
  * `CAST(struct_col.a.b AS BIGINT)`: a codegen'd expression Catalyst can
  * see THROUGH — nested-schema pruning reaches the parquet reader (the
  * scan reads one leaf column instead of the whole struct), the expression
  * joins whole-stage codegen, and filter pushdown over the extracted value
  * becomes possible. None of that is visible through an opaque expression.
  *
  * The rewrite fires ONLY where equivalence is provable from the schema:
  *   - the program is an Identity / `.key` / `Ident` / `?`-marked chain
  *     (any other node keeps the interpreter);
  *   - every step lands on a declared struct field (else jq yields
  *     null/error and the interpreter stays authoritative) or a
  *     string-keyed map lookup (missing key → NULL on both paths);
  *   - the leaf type maps to the requested kind by an EXACT-value
  *     conversion: long ← long/int/short/byte, double ← double or an
  *     integral widening (Long.toDouble is the conversion both paths
  *     use), bool ← boolean, string ← string. FLOAT leaves are excluded
  *     on purpose: the document conversion renders a float via its
  *     shortest decimal (`Float.toString`), which is NOT the IEEE
  *     widening `CAST(float AS DOUBLE)` performs.
  *
  * Null behavior matches by construction: a null struct/map or null field
  * propagates NULL natively, and the document conversion omits null
  * struct fields so the jq index yields null → extract NULL.
  *
  * Every jq expression reads its document through one [[JqDoc]], so the
  * same pass also makes jq over `readJsonl`'s `doc` read the line's parse:
  * `JqDoc(ParsedText(p))`, the conversion of a conversion's canonical
  * text, becomes `JqDoc(p)`, which reads `p` back through that text
  * without writing it. That is exact by construction:
  * [[graft.json.JsonText.Parsed.readBack]] is the document a parse of the
  * canonical text gives, and it is the parsed document except on the two
  * values without a canonical round trip (negative zero, non-finite
  * doubles), where it does parse that text. The jq expression and the
  * `error` column then share one line parse.
  *
  * Registered via [[graft.GraftExtensions]] (`injectOptimizerRule`) — the
  * same session switch that installs the SQL functions installs their
  * optimizer. */
object JqPathCompile extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case JqDoc(ParsedText(p)) => JqDoc(p)
      case e @ JqExtract(ast, _, kind, JqDoc(root)) =>
        pathKeys(ast).flatMap(compilePath(root, _, kind)).getOrElse(e)
    }

  /** The key chain of a pure index-path program; None for anything else. */
  private def pathKeys(ast: Ast): Option[List[String]] = ast match {
    case Ast.Identity           => Some(Nil)
    case Ast.IndexKey(k, _)     => Some(List(k))
    case Ast.Ident(k, _)        => Some(List(k))
    case Ast.OptMark(e)         => pathKeys(e)
    case Ast.Pipe(l, r)         => for (a <- pathKeys(l); b <- pathKeys(r)) yield a ::: b
    case _                      => None
  }

  private def compilePath(root: Expression, keys: List[String], kind: String): Option[Expression] = {
    // A STRING root is a JSON DOCUMENT: the interpreter parses it and a
    // string extract re-serializes canonically — `jq_string(".", s)` is a
    // canonicalizer, not the identity. (String FIELDS inside a struct are
    // plain JStr values — raw — so paths that land on them are safe.)
    if (keys.isEmpty && root.dataType == StringType) return None
    var cur = root
    for (k <- keys) cur.dataType match {
      case st: StructType =>
        val idx = st.fieldNames.indexOf(k)
        if (idx < 0) return None // jq: null; schema has no such leaf — keep the interpreter
        // duplicate names: the document conversion builds the object
        // last-wins, but GetStructField would read the FIRST — not
        // provably equivalent, keep the interpreter
        if (st.fieldNames.lastIndexOf(k) != idx) return None
        cur = GetStructField(cur, idx, Some(k))
      case MapType(StringType, _, _) =>
        cur = GetMapValue(cur, Literal(UTF8String.fromString(k), StringType))
      case _ => return None
    }
    (kind, cur.dataType) match {
      case ("long", LongType)                                     => Some(cur)
      case ("long", IntegerType | ShortType | ByteType)           => Some(Cast(cur, LongType))
      case ("double", DoubleType)                                 => Some(cur)
      case ("double", LongType | IntegerType | ShortType | ByteType) => Some(Cast(cur, DoubleType))
      case ("bool", BooleanType)                                  => Some(cur)
      case ("string", StringType)                                 => Some(cur)
      case _                                                      => None
    }
  }
}
