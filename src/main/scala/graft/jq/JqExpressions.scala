package graft.jq

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.json._

/** Catalyst expressions that run a whole compiled jq pipeline as ONE
  * expression over a document column.
  *
  * Design note (SURVEY.md §3.4, §7): a jq program is a per-document pure
  * function, so the entire pipeline fuses into a single narrow projection —
  * the Spark plan stays a scan→project with no shuffle, predicate pushdown
  * and column pruning still apply to the outer query, and evaluation is
  * embarrassingly parallel across partitions at any scale. This fusion is
  * strictly cheaper than one Catalyst node per jq operator, which would
  * re-serialize the document at every boundary.
  *
  * Round 2: two hot-path upgrades over the round-1 text-only CodegenFallback
  * versions —
  *   1. input is converted to [[JDoc]] straight from Spark internal values
  *      ([[JqInput]]): STRING parses as JSON text (unchanged), but STRUCT /
  *      ARRAY / MAP / VARIANT / scalars convert structurally with no
  *      serialize→re-parse round trip. The conversion is its own
  *      expression, [[JqDoc]], the document operand of every jq
  *      expression;
  *   2. generated code makes a direct call on the expression instance (via
  *      `ctx.addReferenceObj`), so jq projections participate in
  *      whole-stage codegen instead of forcing the interpreted fallback path
  *      for the entire stage.
  */
/** The ONE throwable→error-entry ladder every jq expression shares
  * (extracted in round 10 — it had grown a second copy): malformed JSON
  * text becomes the errors-as-data record; a value nested too deeply to
  * render ([[JsonText.JsonDepthException]]) becomes an error entry; a
  * StackOverflowError is the backstop behind Interp's call-depth guard
  * (pathological non-call recursion becomes an error entry at this unwound
  * boundary, not a dead executor task); an escaped BreakSignal —
  * unreachable by construction, unbound breaks are compile-time error
  * entries and bound ones are caught by their label — yields its pre-break
  * outputs as the best answer.
  *
  * Every sink renders under the ladder too ([[render]]): a fatal error
  * thrown while a sink turns entries into Spark values would escape the
  * task, and Spark's uncaught-exception handler ends the whole JVM. */
private[jq] object JqGuard {
  private def failed(msg: String): Vector[JEntry] = Vector(JEntry(JNull, Vector(msg)))

  /** The record of a [[JqDoc]] value whose conversion failed: the one a
    * thrown parse exception makes. */
  def invalid(doc: Any): Vector[JEntry] = invalidJson(JqDoc.error(doc))

  private def invalidJson(msg: String): Vector[JEntry] = failed(s"invalid json: $msg")

  private val failure: PartialFunction[Throwable, Vector[JEntry]] = {
    case e: JsonText.JsonParseException => invalidJson(e.getMessage)
    case e: JsonText.JsonDepthException => failed(e.getMessage)
    case _: StackOverflowError => failed("jq evaluation exceeded the stack — runaway recursion")
  }

  def entries(thunk: => Vector[JEntry]): Vector[JEntry] =
    try thunk
    catch {
      case b: Interp.BreakSignal => b.partial
      case t if failure.isDefinedAt(t) => failure(t)
    }

  /** A sink's value from the guarded entries; when rendering them fails,
    * the value of the one error entry instead (its null doc always
    * renders). */
  def render[A](thunk: => Vector[JEntry])(f: Vector[JEntry] => A): A =
    try f(entries(thunk))
    catch failure.andThen(f)

  /** The typed value of `pipe`'s first successful output on `doc`, as
    * [[JqEval.firstValue]] reads it: from the pipe's single-value form
    * when that decides, else from its guarded entries. A value form never
    * breaks, and anything it throws takes the same ladder as [[render]]. */
  def firstValue(pipe: Interp.Pipe, doc: JDoc, kind: String): Any =
    try {
      val v = pipe.value(doc, Nil)
      if (v != null) JqEval.extract(kind, v)
      else render(pipe(doc, Nil))(JqEval.firstValue(kind))
    } catch failure.andThen(JqEval.firstValue(kind)(_))

  /** Every output of `pipe` on `doc`: rendered by `fromDocs` from the
    * pipe's multi-value form when that decides (every output is
    * error-free), else by `fromEntries` from its guarded entries. The
    * same ladder as [[firstValue]]. */
  def stream[A](pipe: Interp.Pipe, doc: JDoc)(fromDocs: Interp.ValueBuf => A)(
      fromEntries: Vector[JEntry] => A): A =
    try {
      val out = new Interp.ValueBuf
      if (pipe.values(doc, Nil, out)) fromDocs(out)
      else render(pipe(doc, Nil))(fromEntries)
    } catch failure.andThen(fromEntries)
}

/** A jq expression over one document operand, a [[JqDoc]]. The pipeline
  * itself is a compiled closure tree (driver-compiled, executor-cached), so
  * it joins whole-stage codegen through
  * [[graft.functions.NativeUnaryCodegen]]'s one virtual call: the
  * surrounding project/filter/explode fuses into a single generated
  * function instead of falling back to interpreted rows for the whole
  * stage. */
trait JqNativeInput extends graft.functions.NativeUnaryCodegen {

  /** Run `compiled` over one converted document and render its outputs:
    * with `fromDocs` when they are all error-free values, else the
    * entries with `f` ([[JqGuard.stream]]). A failed conversion (malformed
    * JSON *text*) becomes the errors-as-data record, never an exception
    * (reference: src/entry.rs:5-10), and so does an output too deep to
    * render. */
  protected final def renderPipe[A](compiled: Interp.Pipe, input: Any)(
      fromDocs: Interp.ValueBuf => A)(f: Vector[JEntry] => A): A = {
    val doc = JqDoc.document(input)
    if (doc == null) JqGuard.render(JqGuard.invalid(input))(f)
    else JqGuard.stream(compiled, doc)(fromDocs)(f)
  }

  /** The canonical text of each document in `out`. */
  protected final def canonicalTexts(out: Interp.ValueBuf): Array[Any] = {
    val texts = new Array[Any](out.size)
    var i = 0
    while (i < texts.length) { texts(i) = UTF8String.fromString(JsonText.canonical(out(i))); i += 1 }
    texts
  }
}

object JqEval {
  /** The result type of each typed-extraction kind (JqExtract, JqMulti). */
  private[jq] val kinds: Map[String, DataType] =
    Map("string" -> StringType, "long" -> LongType, "double" -> DoubleType, "bool" -> BooleanType)

  /** ARRAY<STRUCT<doc: STRING, errors: ARRAY<STRING>>> — the full output
    * stream for one input document; `doc` is canonical JSON text. */
  val outputType: DataType = ArrayType(
    StructType(Seq(
      StructField("doc", StringType, nullable = false),
      StructField("errors", ArrayType(StringType, containsNull = false), nullable = false))),
    containsNull = false)

  /** The typed value of the first successful entry (shared by JqExtract /
    * JqMulti): null when there is none. */
  private[jq] def firstValue(kind: String)(entries: Vector[JEntry]): Any =
    entries.find(_.errors.isEmpty) match {
      case None     => null
      case Some(en) => extract(kind, en.doc)
    }

  /** Typed extraction of one successful entry's doc: null when the value
    * doesn't fit the requested kind. */
  private[jq] def extract(kind: String, doc: JDoc): Any = (kind, doc) match {
    case ("long", JLong(v))     => v
    case ("double", JLong(v))   => v.toDouble
    case ("double", JDouble(v)) => v
    case ("bool", JBool(v))     => v
    case ("string", JStr(s))    => UTF8String.fromString(s)
    case ("string", JNull)      => null
    case ("string", d)          => UTF8String.fromString(JsonText.canonical(d))
    case _                      => null
  }
}

/** `jq_eval(query, json)` → full entry stream (doc + errors per output). */
case class JqEval(ast: Ast, queryText: String, child: Expression) extends JqNativeInput {
  @transient private lazy val compiled = Interp.compile(ast)
  override def dataType: DataType = JqEval.outputType
  override def prettyName: String = "jq_eval"
  override protected def nullSafeEval(input: Any): Any =
    renderPipe(compiled, input) { out =>
      new GenericArrayData(canonicalTexts(out).map { doc =>
        InternalRow(doc, new GenericArrayData(Array.empty[Any])): Any
      })
    } { entries =>
      new GenericArrayData(entries.map { en =>
        InternalRow(
          UTF8String.fromString(JsonText.canonical(en.doc)),
          new GenericArrayData(en.errors.map(UTF8String.fromString).toArray[Any]))
      }.toArray[Any])
    }
  override protected def withNewChildInternal(newChild: Expression): JqEval =
    copy(child = newChild)
}

/** `jq_docs(query, json)` → ARRAY<STRING> of the successful outputs only,
  * in canonical form (errored entries dropped — the `?` discipline applied
  * at the sink). */
case class JqDocs(ast: Ast, queryText: String, child: Expression) extends JqNativeInput {
  @transient private lazy val compiled = Interp.compile(ast)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "jq_docs"
  override protected def nullSafeEval(input: Any): Any =
    renderPipe(compiled, input)(out => new GenericArrayData(canonicalTexts(out))) { entries =>
      new GenericArrayData(entries.collect {
        case en if en.errors.isEmpty => UTF8String.fromString(JsonText.canonical(en.doc))
      }.toArray[Any])
    }
  override protected def withNewChildInternal(newChild: Expression): JqDocs =
    copy(child = newChild)
}

/** Typed extraction of the FIRST successful output of a jq pipeline;
  * SQL NULL when there is no output, the output errored, or the value
  * doesn't fit the requested type. Kinds: string | long | double | bool. */
case class JqExtract(ast: Ast, queryText: String, kind: String, child: Expression)
    extends JqNativeInput {
  override def dataType: DataType = JqEval.kinds(kind)
  override def nullable: Boolean = true
  override def prettyName: String = s"jq_$kind"
  @transient private lazy val compiled = Interp.compile(ast)
  override protected def nullSafeEval(input: Any): Any = {
    val doc = JqDoc.document(input)
    if (doc == null) null // a failed conversion has only its error entry
    else JqGuard.firstValue(compiled, doc, kind)
  }
  override protected def withNewChildInternal(newChild: Expression): JqExtract =
    copy(child = newChild)
}

/** `jq_eval_meta(query, json, meta)`: the lineage envelope
  * (reference: src/meta.rs, src/entry.rs:5-28) exercised END-TO-END — the
  * input entry is seeded with the meta object of `meta`, a second
  * document operand (the way a reference source WOULD populate it:
  * provenance domains/sources per record), the pipeline runs with full
  * entry semantics ([[Interp.compileE]]: navigation clones the envelope,
  * combining operators new_merge it), and each successful output carries
  * its final envelope back as canonical text. Returns
  * ARRAY<STRUCT<doc STRING, meta STRING>>; a malformed or non-object
  * `meta` means "no envelope" (errors-as-data discipline — lineage must
  * never kill the batch). Built by `jq_eval_meta`'s constructor in
  * [[graft.Jq]], which reads a NULL meta as no envelope. */
case class JqEvalMeta(ast: Ast, queryText: String,
                      left: Expression, right: Expression)
    extends graft.functions.NativeBinaryCodegen {
  @transient private lazy val compiled = Interp.compileE(ast)
  override def dataType: DataType = JqEvalMeta.outputType
  override def prettyName: String = "jq_eval_meta"
  override protected def nullSafeEval(doc: Any, meta: Any): Any = {
    val metaObj: Option[JObj] = JqDoc.document(meta) match {
      // normalize on seed (reference meta.rs Meta::some invariant): every
      // envelope carries all of domains/sources/keys, so a seeded
      // envelope missing `keys` cannot propagate verbatim through cloning
      // navigation (round-10 advice)
      case o: JObj => Some(graft.json.JMeta.normalize(o))
      case _       => None
    }
    val d = JqDoc.document(doc)
    JqGuard.render(
        if (d == null) JqGuard.invalid(doc) else compiled(JEntry(d, Vector.empty, metaObj), Nil)) { entries =>
      new GenericArrayData(entries.collect {
        case en if en.errors.isEmpty =>
          InternalRow(
            UTF8String.fromString(JsonText.canonical(en.doc)),
            UTF8String.fromString(en.meta.map(JsonText.canonical).getOrElse("null")))
      }.toArray[Any])
    }
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JqEvalMeta =
    copy(left = l, right = r)
}

object JqEvalMeta {
  val outputType: DataType = ArrayType(
    StructType(Seq(
      StructField("doc", StringType, nullable = false),
      StructField("meta", StringType, nullable = false))),
    containsNull = false)
}

/** `jq_multi`: evaluate SEVERAL jq pipelines against one document with a
  * single input conversion — returns STRUCT<name: typedValue, ...>. N
  * extractions of the same column otherwise each re-convert the document;
  * this fuses them (the same way a reader fuses column decoders). Field
  * kinds follow [[JqExtract]] (string | long | double | bool); any other
  * kind is rejected when the expression is built. The struct itself is
  * NULL only for a NULL document: a document that fails to convert gives
  * a struct of NULL fields. */
case class JqMulti(fields: Seq[(String, Ast, String)], queryText: String, child: Expression)
    extends JqNativeInput {
  fields.foreach { case (name, _, kind) =>
    require(JqEval.kinds.contains(kind),
      s"jq_multi field '$name': unknown kind '$kind' (one of string|long|double|bool)")
  }
  @transient private lazy val compiled: Array[Interp.Pipe] =
    fields.map { case (_, ast, _) => Interp.compile(ast) }.toArray
  private val kinds: Array[String] = fields.map(_._3).toArray
  override def dataType: DataType = StructType(fields.map { case (name, _, kind) =>
    StructField(name, JqEval.kinds(kind), nullable = true)
  })
  override def nullable: Boolean = true
  override def prettyName: String = "jq_multi"
  override protected def nullSafeEval(input: Any): Any = {
    val doc = JqDoc.document(input)
    val values = new Array[Any](fields.length)
    if (doc != null) {
      var i = 0
      while (i < values.length) {
        // each field evaluates and renders under the guard on its own
        values(i) = JqGuard.firstValue(compiled(i), doc, kinds(i))
        i += 1
      }
    }
    new GenericInternalRow(values) // wraps the array; `InternalRow(values: _*)` copies it
  }
  override protected def withNewChildInternal(newChild: Expression): JqMulti =
    copy(child = newChild)
}
