package graft.jq

import graft.json._
import Ast._

/** One record of the execution stream: a document, per-record errors, and
  * the optional lineage meta envelope (reference: src/entry.rs:5-10,
  * src/op.rs:14-19, src/meta.rs). Errors are data, not exceptions: a
  * failed operator stores the message, substitutes null and keeps flowing;
  * downstream operators pass errored entries through untouched
  * (reference: src/ops.rs:296). Meta (`{domains, sources, keys}`) is
  * cloned through navigation operators and list-append-merged by
  * combining operators ([[graft.json.JMeta]]).
  */
final case class JEntry(doc: JDoc, errors: Vector[String],
                        meta: Option[JObj] = None) extends Serializable
object JEntry {
  def ok(d: JDoc): JEntry = JEntry(d, Vector.empty)
  def withMeta(d: JDoc, m: JObj): JEntry = JEntry(d, Vector.empty, Some(m))
}

/** The jq evaluator, structured as a closure compiler: [[compile]] turns an
  * AST into a [[Interp.Pipe]] once — node dispatch is resolved and
  * literal subtrees are pre-evaluated at compile time, so per-document
  * evaluation is a call through a tree of monomorphic closures (≈3-5×
  * faster than re-walking the AST per row; JqEval caches the compiled form
  * per executor instance).
  *
  * A jq expression is set-valued: one input document produces a stream of
  * output entries, which is what makes the whole pipeline a narrow per-row
  * map under Spark — no shuffle, no state. Semantics follow reference
  * src/ops.rs with the intended (not buggy) behavior where the reference
  * differs from its own tests (SURVEY.md §1.2, §2.7).
  *
  * Most outputs are error-free and need no envelope, so each node compiles
  * to three forms at once, one [[Interp.Pipe]]:
  *   - the general form, `apply`, is the node's output stream as entries,
  *     with their errors and lineage envelopes, and `break`;
  *   - the single-value form, `value`, is the node's one error-free
  *     output as a bare `JDoc`, or null when the general form must decide.
  *     Whenever it returns `v`, the general form returns exactly one
  *     error-free entry whose doc is `v`. Identity, literals,
  *     `.key`/ident/`.[n]` access, `?`, pipes, binary operators,
  *     `not`/negation, if/then/else, `$var`, string interpolation and the
  *     zero-argument builtins over `.` (`type`, `length`, …) that no user
  *     def shadows have one; so do list construction, `reduce`, `walk`, a
  *     static-path `|=` and the `*_by` family, each built on the
  *     multi-value form of its operands;
  *   - the multi-value form, `values(doc, env, out)`, appends the node's
  *     outputs to `out` as bare `JDoc`s and returns true when every output
  *     is error-free and no `break` is reached. Then the general form
  *     returns exactly those docs, in that order, all error-free. It
  *     returns false when the general form must decide, and whoever made
  *     `out` discards it. By default it reads `value`; pipes, `,`, `.[]`,
  *     `?` (also on access, where a miss is the empty stream), `select`,
  *     `empty`, `..` and `paths`/`leaf_paths` have their own.
  * The last two forms build no entry, never call `apply` and never throw
  * `break` (their `break` node has neither form), so a failed attempt
  * wastes at most one partial evaluation. ValuePathSpec checks both
  * contracts on random documents.
  *
  * A consumer that reads only values tries those forms first and falls
  * back to `apply` on the same input when they do not decide: an if
  * condition, `select`'s predicate, a binary operator's operands, a
  * builtin's first-output argument (`firstOut`, `sort_by`'s key),
  * `reduce`'s update, the first-output sinks (`JqExtract`, `JqMulti`)
  * and the whole-stream sinks (`JqEval`, `JqDocs`). A value drops the
  * entry's lineage envelope, so only consumers that ignore it read one; a
  * binary operator and a list construction may, because their combined
  * envelope is the shared `JMeta.init` whenever their operands carry none
  * or that same constant, and a plain evaluation produces nothing else.
  * `jq_eval_meta` ([[compileE]]), errors, `label`/`break` and `try` stay
  * on the general form. On the general form's one-entry path:
  *   - every one-entry stream is built by `one` (`Vector.empty :+ e`, a
  *     bare `Vector1`), never by the varargs `Vector(e)`;
  *   - the stream combinators (`breakFlatMap`, `Bin`, `MkList`) take a
  *     no-builder path when their input stream has one entry, and
  *     build an error list only when an operand has errors;
  *   - a combined entry's envelope is that shared constant (see
  *     [[graft.json.JMeta.merge]]), so the plain jq path allocates no
  *     envelope per combine.
  */
object Interp {

  /** Variable environment: innermost `as $x` binding first (lexical
    * shadowing by prepend). Threaded through every compiled closure so
    * `$x`, binders and reduce/foreach work anywhere in a program. */
  type Env = List[(String, JDoc)]

  /** A compiled node: `apply` is its general form, `value` its
    * single-value form and `values` its multi-value form (see [[Interp]]).
    * A function literal is a node with only the general form. */
  abstract class Pipe {
    def apply(doc: JDoc, env: Env): Vector[JEntry]
    def value(doc: JDoc, env: Env): JDoc = null
    def values(doc: JDoc, env: Env, out: ValueBuf): Boolean = {
      val v = value(doc, env)
      v != null && { out += v; true }
    }
  }

  /** The documents a [[Pipe.values]] call appends to, in output order. A
    * pipe stage evaluates its left side onto the tail and replaces that
    * run by the right side's outputs, so one buffer serves a whole chain
    * of stages. */
  final class ValueBuf {
    private[this] var docs = new Array[AnyRef](16)
    private[this] var n = 0
    def size: Int = n
    def apply(i: Int): JDoc = docs(i).asInstanceOf[JDoc]
    def +=(d: JDoc): Unit = {
      if (n == docs.length) docs = java.util.Arrays.copyOf(docs, 2 * n)
      docs(n) = d
      n += 1
    }
    def ++=(ds: Vector[JDoc]): Unit = {
      val it = ds.iterator
      while (it.hasNext) this += it.next()
    }
    /** Keep the first `k` documents. */
    def truncate(k: Int): Unit = n = k
    /** Drop the documents at `[from, until)`; later ones move down. */
    def remove(from: Int, until: Int): Unit = {
      System.arraycopy(docs, until, docs, from, n - until)
      n -= until - from
    }
    def toVector: Vector[JDoc] = vectorOf(java.util.Arrays.copyOf(docs, n))
  }

  /** The vector of `arr`'s elements; up to 32 of them become a `Vector1`
    * over `arr` itself, so the caller must not write to it again. */
  private def vectorOf[A](arr: Array[AnyRef]): Vector[A] =
    Vector.from(scala.collection.immutable.ArraySeq.unsafeWrapArray(arr)).asInstanceOf[Vector[A]]

  /** The first output of `f` on `doc`, when its value forms decide and it
    * has one; else null. */
  private def headValue(f: Pipe, doc: JDoc, env: Env): JDoc = {
    val v = f.value(doc, env)
    if (v != null) v
    else {
      val out = new ValueBuf
      if (f.values(doc, env, out) && out.size > 0) out(0) else null
    }
  }

  def run(query: String, doc: JDoc): Vector[JEntry] =
    compile(JqParser.parse(query))(doc, Nil)

  def eval(ast: Ast, doc: JDoc): Vector[JEntry] = compile(ast)(doc, Nil)

  /** Compiled form over an already-streamed entry: errored entries pass
    * through untouched (reference: src/ops.rs:296); the input's meta
    * envelope flows into every output — cloned onto navigation outputs
    * (reference: src/ops.rs:432) and MERGED into the envelope a combining
    * operator built (the reference's operand entries each carry the input
    * meta clone, so new_merged would append it once per operand —
    * ops.rs:832+; we merge it exactly once, which keeps the lineage lists
    * duplicate-free. Documented deviation, pinned in JMetaSpec). */
  def compileE(ast: Ast): (JEntry, Env) => Vector[JEntry] = {
    val f = compile(ast)
    (e, env) => onEntry(f, e, env)
  }

  /** [[compileE]]'s step: `f` over one streamed entry. */
  private def onEntry(f: Pipe, e: JEntry, env: Env): Vector[JEntry] =
    if (e.errors.nonEmpty) one(e)
    else if (e.meta.isEmpty) f(e.doc, env)
    else f(e.doc, env).map { out =>
      if (out.meta.isEmpty) out.copy(meta = e.meta)
      else {
        val m = JMeta.merge(out.meta, e.meta)
        if (m eq out.meta) out else out.copy(meta = m)
      }
    }

  /** The one-entry stream: `Vector.empty :+ e` is a bare `Vector1`, where
    * `Vector(e)` wraps a varargs `ArraySeq` and copies it. */
  @inline private def one(e: JEntry): Vector[JEntry] = Vector.empty :+ e

  private def err(msg: String, opt: Boolean): Vector[JEntry] =
    if (opt) Vector.empty else one(JEntry(JNull, Vector(msg)))

  /** jq label/break control flow: thrown by `break $l`, caught by the
    * matching `label $l` (matched by compile-time id so nested same-name
    * labels shadow correctly). Stackless — it is control flow, not an
    * error, so `try` does NOT intercept it (jq's rule). `partial`
    * accumulates the outputs produced BEFORE the break as the signal
    * unwinds through the concatenating combinators ([[breakFlatMap]]);
    * combinators that collect a sub-stream into one value (list/dict
    * construction) deliberately do NOT accumulate — their partial
    * containers are discarded, which is jq's behavior. */
  final class BreakSignal(val id: Long, var partial: Vector[JEntry])
      extends RuntimeException(null, null, false, false) {
    def prependAndRethrow(prefix: Vector[JEntry]): Nothing = {
      if (prefix.nonEmpty) partial = prefix ++ partial
      throw this
    }
  }

  private val labelIds = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Compile-time label scope (same discipline as funcScope: read only
    * during [[compile]]). */
  private val labelScope =
    new scala.util.DynamicVariable[Map[String, Long]](Map.empty)

  /** Output-stream concatenation that preserves already-produced entries
    * when a [[BreakSignal]] unwinds mid-stream — the eager-interpreter
    * equivalent of a lazy stream's "outputs before the break are
    * already emitted". */
  private def breakFlatMap(xs: Vector[JEntry])(f: JEntry => Vector[JEntry]): Vector[JEntry] =
    if (xs.length == 1) f(xs(0)) // nothing precedes a break: no prefix to keep
    else {
      val out = Vector.newBuilder[JEntry]
      var i = 0
      while (i < xs.length) {
        try out ++= f(xs(i))
        catch { case b: BreakSignal => b.prependAndRethrow(out.result()) }
        i += 1
      }
      out.result()
    }

  def compile(ast: Ast): Pipe = ast match {
    case Identity => new Pipe {
      def apply(doc: JDoc, env: Env) = one(JEntry.ok(doc))
      override def value(doc: JDoc, env: Env) = doc
    }
    case Recurse => new Pipe {
      def apply(doc: JDoc, env: Env) = JOps.recurse(doc).map(JEntry.ok)
      override def values(doc: JDoc, env: Env, out: ValueBuf) = { out ++= JOps.recurse(doc); true }
    }

    case Lit(v) =>
      val out = one(JEntry.ok(v)) // literals are constant per input
      new Pipe {
        def apply(doc: JDoc, env: Env) = out
        override def value(doc: JDoc, env: Env) = v
      }

    case OptMark(e) =>
      val f = compile(e)
      new Pipe {
        def apply(doc: JDoc, env: Env) = f(doc, env).filter(_.errors.isEmpty)
        override def value(doc: JDoc, env: Env) = f.value(doc, env) // `?` keeps an error-free output
        override def values(doc: JDoc, env: Env, out: ValueBuf) = f.values(doc, env, out)
      }

    case IndexKey(key, opt) => keyAccess(key, opt)

    case IndexNum(off, opt) =>
      new Pipe {
        def apply(doc: JDoc, env: Env) = {
          val v = JOps.elementAt(doc, off)
          if (v != null) one(JEntry.ok(v)) else err(s"cannot index $off into ${doc.typeName}", opt)
        }
        override def value(doc: JDoc, env: Env) = JOps.elementAt(doc, off)
        override def values(doc: JDoc, env: Env, out: ValueBuf) = {
          val v = JOps.elementAt(doc, off)
          if (v != null) { out += v; true } else opt // `.[n]?` that misses is the empty stream
        }
      }

    case Ident(name, opt) =>
      // bare identifier ≡ field access (reference: src/ops.rs:332-341)
      keyAccess(name, opt)

    case Slice(start, end, opt) =>
      (doc, env) => JOps.slice(doc, start, end) match {
        case Some(v) => one(JEntry.ok(v))
        case None    => err(s"cannot slice ${doc.typeName}", opt)
      }

    case IterValues(opt) =>
      new Pipe {
        def apply(doc: JDoc, env: Env) = JOps.docValues(doc) match {
          case Some(vs) => vs.map(JEntry.ok)
          case None     => err(s"cannot iterate ${doc.typeName}", opt)
        }
        override def values(doc: JDoc, env: Env, out: ValueBuf) = doc match {
          case JArr(items) => out ++= items; true
          case o: JObj =>
            val props = o.props.iterator
            while (props.hasNext) out += props.next()._2
            true
          case _ => opt // `.[]?` on a scalar is the empty stream
        }
      }

    case Iterate(item :: Nil, _) =>
      // `.[n]`: one sub-pipeline, whose stream is the whole round-robin
      val f = compile(item)
      new Pipe {
        def apply(doc: JDoc, env: Env) = f(doc, env)
        override def value(doc: JDoc, env: Env) = f.value(doc, env)
        override def values(doc: JDoc, env: Env, out: ValueBuf) = f.values(doc, env, out)
      }

    case Iterate(items, _) =>
      // round-robin: one output from each sub-pipeline per round
      // (reference: src/ops.rs:497-513). DELIBERATE DEVIATION from the
      // reference CODE for unequal-length streams: ops.rs:493-500 pads an
      // exhausted sub-input with null entries, but the reference's own test
      // vector pins `.[user, projects.[]]` → ["stedolan","jq","wikiflow"]
      // with NO null (src/query.rs:586-591) — we implement the intended
      // (tested) semantics and skip exhausted pipelines. Pinned by
      // JqConformanceSpec "iterate round-robin skips exhausted streams".
      val fs = items.map(compile)
      (doc, env) => {
        val streams = fs.map(_(doc, env))
        val maxLen = if (streams.isEmpty) 0 else streams.map(_.length).max
        val out = Vector.newBuilder[JEntry]
        var round = 0
        while (round < maxLen) {
          streams.foreach { s => if (round < s.length) out += s(round) }
          round += 1
        }
        out.result()
      }

    case MkList(items, _) =>
      // collect ALL outputs of every sub-expression into one array; errored
      // entries contribute their (null) doc and their errors are merged
      // (reference: src/ops.rs:556-597).
      def collect(entries: Vector[JEntry]): Vector[JEntry] = {
        val errors =
          if (entries.exists(_.errors.nonEmpty)) entries.flatMap(_.errors) else Vector.empty[String]
        one(JEntry(JArr(entries.map(_.doc)), errors, JMeta.newMerged(entries.iterator.map(_.meta))))
      }
      val fs = items.map(compile)
      new Pipe {
        def apply(doc: JDoc, env: Env) = fs match {
          case f :: Nil => collect(f(doc, env))
          case _ =>
            val entries = Vector.newBuilder[JEntry]
            fs.foreach(f => entries ++= f(doc, env))
            collect(entries.result())
        }
        override def value(doc: JDoc, env: Env) = {
          val out = new ValueBuf
          var rest = fs
          while (rest.nonEmpty && rest.head.values(doc, env, out)) rest = rest.tail
          if (rest.isEmpty) JArr(out.toVector) else null
        }
      }

    case MkDict(pairs, _) =>
      compileDict(pairs)

    case Neg(e) => unary(compile(e), JOps.neg)
    case Not(e) => unary(compile(e), JOps.not)

    case Bin(op, l, r) =>
      // per-entry zip of both operand streams, truncated to the shorter
      // (reference: src/ops.rs:827-833); both sides always evaluated (no
      // short-circuit, reference: src/ops.rs:1371-1377).
      val fl = compile(l)
      val fr = compile(r)
      val kernel = binKernel(op)
      def combine(le: JEntry, re: JEntry): JEntry = {
        val errors =
          if (le.errors.isEmpty) re.errors
          else if (re.errors.isEmpty) le.errors
          else le.errors ++ re.errors
        JEntry(kernel(le.doc, re.doc), errors,
          JMeta.newMerged(le.meta, re.meta)) // reference: Entry::new_merged, ops.rs:832+
      }
      new Pipe {
        def apply(doc: JDoc, env: Env) = {
          // operands read as values when they have one: a value's entry
          // has no envelope, which combines to the same `init` as an
          // operand entry's own (see [[Interp]])
          val lv = fl.value(doc, env)
          val rv = fr.value(doc, env)
          if (lv != null && rv != null) one(JEntry(kernel(lv, rv), Vector.empty, combinedMeta))
          else {
            val ls = if (lv != null) one(JEntry.ok(lv)) else fl(doc, env)
            val rs = if (rv != null) one(JEntry.ok(rv)) else fr(doc, env)
            if (ls.length == 1 && rs.length == 1) one(combine(ls(0), rs(0)))
            else {
              val n = math.min(ls.length, rs.length)
              val out = Vector.newBuilder[JEntry]
              var i = 0
              while (i < n) {
                out += combine(ls(i), rs(i))
                i += 1
              }
              out.result()
            }
          }
        }
        override def value(doc: JDoc, env: Env) = {
          val lv = fl.value(doc, env)
          if (lv == null) null
          else {
            val rv = fr.value(doc, env)
            if (rv == null) null else kernel(lv, rv)
          }
        }
      }

    case Pipe(l, r) =>
      val fl = compile(l)
      val fr = compile(r)
      new Pipe {
        def apply(doc: JDoc, env: Env) = breakFlatMap(fl(doc, env))(onEntry(fr, _, env))
        override def value(doc: JDoc, env: Env) = {
          val v = fl.value(doc, env)
          if (v == null) null else fr.value(v, env)
        }
        override def values(doc: JDoc, env: Env, out: ValueBuf) = {
          // the left side's outputs land on the tail, the right side's
          // outputs of each after them; then the left run is dropped
          val start = out.size
          fl.values(doc, env, out) && {
            val end = out.size
            var i = start
            while (i < end && fr.values(out(i), env, out)) i += 1
            i == end && { out.remove(start, end); true }
          }
        }
      }

    case Comma(l, r) =>
      // `(a, b)`: a's outputs then b's; a break mid-right keeps the
      // already-emitted left outputs (same rule as breakFlatMap)
      val fl = compile(l)
      val fr = compile(r)
      new Pipe {
        def apply(doc: JDoc, env: Env) = {
          val left = fl(doc, env)
          try left ++ fr(doc, env)
          catch { case b: BreakSignal => b.prependAndRethrow(left) }
        }
        override def values(doc: JDoc, env: Env, out: ValueBuf) =
          fl.values(doc, env, out) && fr.values(doc, env, out)
      }

    case Call(name, args) =>
      compileCall(name, args)

    case Alt(l, r) =>
      // EXTENSION (jq `//`): left's truthy non-errored outputs, else right
      val fl = compile(l)
      val fr = compile(r)
      (doc, env) => {
        val keep = fl(doc, env).filter(e => e.errors.isEmpty && JOps.truthy(e.doc))
        if (keep.nonEmpty) keep else fr(doc, env)
      }

    case Label(name, body) =>
      // EXTENSION (jq label): fresh id per lexical label so nested
      // same-name labels shadow; the matching break's partial outputs
      // ARE the label's outputs
      val id = labelIds.incrementAndGet()
      val fb = labelScope.withValue(labelScope.value + (name -> id)) { compile(body) }
      (doc, env) => try fb(doc, env) catch {
        case b: BreakSignal if b.id == id => b.partial
      }

    case Break(name) =>
      // EXTENSION (jq break): resolved lexically at compile time —
      // unbound labels are a constant error entry, not a runtime escape
      labelScope.value.get(name) match {
        case Some(id) => (_, _) => throw new BreakSignal(id, Vector.empty)
        case None => (_, _) => one(JEntry(JNull,
          Vector(s"$$$name is not a label in scope")))
      }

    case TryCatch(b, h) =>
      // EXTENSION (jq try/catch): successful outputs pass through; an
      // error output is dropped (no handler) or replaced by the handler's
      // outputs, with the error MESSAGE string as the handler's input
      // (jq's error-value rule). Per-BRANCH like `?` — other fan-out
      // branches of the body keep emitting (documented deviation from
      // jq's abort-the-whole-try; pinned in conformance).
      val fb = compile(b)
      val fh = h.map(compile)
      (doc, env) => breakFlatMap(fb(doc, env)) { e =>
        if (e.errors.isEmpty) one(e)
        else fh match {
          case None     => Vector.empty
          case Some(hf) => hf(JStr(e.errors.head), env)
        }
      }

    case IfElse(cond, thenB, elseB) =>
      // EXTENSION (jq if/then/elif/else/end): branch per condition output
      val fc = compile(cond)
      val ft = compile(thenB)
      val fe = compile(elseB.getOrElse(Identity))
      new Pipe {
        def apply(doc: JDoc, env: Env) = {
          val c = fc.value(doc, env)
          if (c != null) { if (JOps.truthy(c)) ft(doc, env) else fe(doc, env) }
          else breakFlatMap(fc(doc, env)) { ce =>
            if (ce.errors.nonEmpty) one(ce)
            else if (JOps.truthy(ce.doc)) ft(doc, env)
            else fe(doc, env)
          }
        }
        override def value(doc: JDoc, env: Env) = {
          val c = fc.value(doc, env)
          if (c == null) null
          else if (JOps.truthy(c)) ft.value(doc, env)
          else fe.value(doc, env)
        }
      }

    case Defs(defs, body) =>
      // EXTENSION (jq defs): extend the COMPILE-TIME function scope, then
      // compile def bodies and the main body under it. Each table entry
      // indirects through a cell filled after compilation, so recursive
      // and mutually-referencing defs compile without cycles; the
      // returned closures are pure (the DynamicVariable is only read
      // during this compile call).
      val outer = funcScope.value
      val cells = scala.collection.mutable.Map.empty[String, Pipe]
      var tableRef: Map[String, UserFunc] = null
      val table = outer ++ defs.map { d =>
        d.name -> UserFunc(d.params,
          (doc: JDoc, env: Env) => cells(d.name)(doc, env),
          d.body, () => tableRef)
      }
      tableRef = table
      funcScope.withValue(table) {
        // value-only defs compile ONCE here (recursion through the cell);
        // defs with filter params specialize per CALL SITE instead
        defs.foreach { d =>
          if (d.params.forall(!_.filter)) cells(d.name) = compile(d.body)
        }
        compile(body)
      }

    case Var(name) =>
      // EXTENSION (jq `$x`): innermost binding wins (env is a prepend list)
      new Pipe {
        private def lookup(env: Env): JDoc = {
          var e = env
          while (e.nonEmpty) {
            if (e.head._1 == name) return e.head._2
            e = e.tail
          }
          null
        }
        def apply(doc: JDoc, env: Env) = {
          val v = lookup(env)
          if (v != null) one(JEntry.ok(v)) else one(JEntry(JNull, Vector(s"$$$name is not defined")))
        }
        override def value(doc: JDoc, env: Env) = lookup(env)
      }

    case BindAs(src, name, body) =>
      // EXTENSION (jq `src as $x | body`): fan out over src's outputs;
      // body still sees the ORIGINAL input as `.`
      val fs = compile(src)
      val fb = compile(body)
      (doc, env) => breakFlatMap(fs(doc, env)) { e =>
        if (e.errors.nonEmpty) one(e)
        else fb(doc, (name, e.doc) :: env)
      }

    case Reduce(src, name, init, update, foreach) =>
      // EXTENSION (jq reduce/foreach): fold update over src's outputs with
      // `.` = accumulator and $name = current element. Multi-output update
      // keeps the LAST output as the next accumulator (jq's rule); an
      // empty update stream resets the accumulator to null (documented
      // simplification of jq's backtracking). foreach emits EVERY update
      // output as it goes; reduce emits only the final accumulator.
      val fs = compile(src)
      val fi = compile(init)
      val fu = compile(update)
      def general(doc: JDoc, env: Env): Vector[JEntry] = {
        val srcs = fs(doc, env)
        srcs.find(_.errors.nonEmpty) match {
          case Some(e) => one(e)
          case None =>
            fi(doc, env).flatMap { i0 =>
              if (i0.errors.nonEmpty) one(i0)
              else {
                var acc = i0.doc
                val outs = Vector.newBuilder[JEntry]
                var failed: Option[JEntry] = None
                srcs.foreach { s =>
                  if (failed.isEmpty) {
                    val bound = (name, s.doc) :: env
                    // reduce reads only the update's value; foreach emits its entries
                    val v = if (foreach) null else fu.value(acc, bound)
                    if (v != null) acc = v
                    else {
                      val ups =
                        try fu(acc, bound)
                        catch {
                          // foreach's already-emitted scan outputs survive
                          // a break (reduce emits nothing until the end,
                          // so its prefix is empty and the signal passes)
                          case b: BreakSignal if foreach => b.prependAndRethrow(outs.result())
                        }
                      ups.find(_.errors.nonEmpty) match {
                        case Some(e) => failed = Some(e)
                        case None =>
                          acc = ups.lastOption.map(_.doc).getOrElse(JNull)
                          if (foreach) ups.foreach(outs += _)
                      }
                    }
                  }
                }
                failed match {
                  case Some(e) => one(e)
                  case None    => if (foreach) outs.result() else one(JEntry.ok(acc))
                }
              }
            }
        }
      }
      new Pipe {
        def apply(doc: JDoc, env: Env) = general(doc, env)
        override def value(doc: JDoc, env: Env): JDoc =
          if (foreach) null
          else {
            // the source and the updates as values, the init as a value
            val srcs = new ValueBuf
            var acc = if (fs.values(doc, env, srcs)) fi.value(doc, env) else null
            var ups: ValueBuf = null
            var i = 0
            while (acc != null && i < srcs.size) {
              val bound = (name, srcs(i)) :: env
              val v = fu.value(acc, bound)
              if (v != null) acc = v
              else {
                if (ups == null) ups = new ValueBuf else ups.truncate(0)
                acc =
                  if (!fu.values(acc, bound, ups)) null
                  else if (ups.size == 0) JNull
                  else ups(ups.size - 1)
              }
              i += 1
            }
            acc
          }
      }

    case StrInterp(parts) =>
      // EXTENSION (jq "\(e)"): expression outputs stringify with tostring
      // semantics (strings stay bare, other values canonical); multi-output
      // parts fan out as a cartesian product, first part varying slowest —
      // the same order dict value fan-out uses
      val compiled: List[Either[String, Pipe]] =
        parts.map { case Left(s) => Left(s); case Right(a) => Right(compile(a)) }
      def text(d: JDoc): String = d match {
        case JStr(x) => x
        case _       => JsonText.canonical(d)
      }
      new Pipe {
        def apply(doc: JDoc, env: Env) = {
          var results: Vector[JEntry] = one(JEntry.ok(JStr("")))
          compiled.foreach { part =>
            results = results.flatMap { cur =>
              if (cur.errors.nonEmpty) one(cur)
              else {
                val prefix = cur.doc.asInstanceOf[JStr].v
                part match {
                  case Left(txt) => one(JEntry.ok(JStr(prefix + txt)))
                  case Right(f) => f(doc, env).map { e =>
                    if (e.errors.nonEmpty) e
                    else JEntry.ok(JStr(prefix + text(e.doc)))
                  }
                }
              }
            }
          }
          results
        }
        override def value(doc: JDoc, env: Env): JDoc = {
          val sb = new java.lang.StringBuilder
          compiled.foreach {
            case Left(txt) => sb.append(txt)
            case Right(f) =>
              val v = f.value(doc, env)
              if (v == null) return null
              sb.append(text(v))
          }
          JStr(sb.toString)
        }
      }

    case Assign(pathAst, valueAst, update) =>
      // EXTENSION (jq `=` / `|=`, Ast.Assign): set/update at the assigned
      // locations. Static .key/.index chains resolve at compile time; any
      // other navigation filter goes through the path-mode compiler with
      // jq's reduce semantics — paths are denoted against the INPUT, then
      // applied sequentially to the accumulating document:
      //   `p = e`:  e runs against the ROOT input (one output per result
      //             entry); every denoted location receives that value.
      //   `p |= f`: each location is re-read from the accumulator and
      //             replaced by f's FIRST output (the map convention).
      flattenPath(pathAst) match {
        case None =>
          val pf = compilePath(pathAst)
          val fv = compile(valueAst)
          def locate(doc: JDoc, env: Env): Either[String, Vector[List[JOps.PathSeg]]] = {
            val results = pf(doc, Vector.empty, env)
            results.collectFirst { case Left(m) => m } match {
              case Some(m) => Left(m)
              case None => Right(results.collect {
                case Right((p, _)) => runtimeSegs(JArr(p)).toOption.get // JStr/JLong segs by construction
              })
            }
          }
          if (!update) {
            (doc, env) => fv(doc, env).map { ve =>
              if (ve.errors.nonEmpty) ve
              else locate(doc, env) match {
                case Left(m) => JEntry(JNull, Vector(m))
                case Right(segsList) =>
                  var acc: JDoc = doc
                  var err: String = null
                  segsList.foreach { segs =>
                    if (err == null) JOps.setPath(acc, segs, ve.doc) match {
                      case Right(nd) => acc = nd
                      case Left(m)   => err = m
                    }
                  }
                  if (err != null) JEntry(JNull, Vector(err))
                  else JEntry(acc, Vector.empty, ve.meta)
              }
            }
          } else {
            (doc, env) => locate(doc, env) match {
              case Left(m) => one(JEntry(JNull, Vector(m)))
              case Right(segsList) =>
                var acc: JDoc = doc
                var err: String = null
                segsList.foreach { segs =>
                  if (err == null) JOps.getPath(acc, segs) match {
                    case Left(m) => err = m
                    case Right(cur) => fv(cur, env).headOption match {
                      case None                           => err = "update produced no output"
                      case Some(ve) if ve.errors.nonEmpty => err = ve.errors.head
                      case Some(ve) => JOps.setPath(acc, segs, ve.doc) match {
                        case Right(nd) => acc = nd
                        case Left(m)   => err = m
                      }
                    }
                  }
                }
                if (err != null) one(JEntry(JNull, Vector(err)))
                else one(JEntry.ok(acc))
            }
          }
        case Some(segs) =>
          val fv = compile(valueAst)
          if (!update) {
            // `.p = e`: e runs against the ROOT input; one output per entry
            (doc, env) => fv(doc, env).map { ve =>
              if (ve.errors.nonEmpty) ve
              else JOps.setPath(doc, segs, ve.doc) match {
                case Right(out) => JEntry(out, Vector.empty, ve.meta)
                case Left(msg)  => JEntry(JNull, Vector(msg))
              }
            }
          } else {
            // `.p |= f`: f runs against the CURRENT value; first output wins
            def general(doc: JDoc, env: Env): Vector[JEntry] = JOps.getPath(doc, segs) match {
              case Left(msg) => one(JEntry(JNull, Vector(msg)))
              case Right(cur) =>
                fv(cur, env).headOption match {
                  case None => one(JEntry(JNull, Vector("update produced no output")))
                  case Some(ve) if ve.errors.nonEmpty => one(ve)
                  case Some(ve) =>
                    JOps.setPath(doc, segs, ve.doc) match {
                      case Right(out) => one(JEntry(out, Vector.empty, ve.meta))
                      case Left(msg)  => one(JEntry(JNull, Vector(msg)))
                    }
                }
            }
            new Pipe {
              def apply(doc: JDoc, env: Env) = general(doc, env)
              override def value(doc: JDoc, env: Env) = JOps.getPath(doc, segs) match {
                case Right(cur) =>
                  val v = headValue(fv, cur, env)
                  if (v == null) null else JOps.setPath(doc, segs, v).getOrElse(null)
                case Left(_) => null
              }
            }
          }
      }
  }

  /** `.key` and a bare identifier. The position the key was found at
    * last is tried first ([[graft.json.JObj.indexOf]]'s hint): the rows
    * of one column mostly share a shape. A hint written by another thread
    * is still only a guess the lookup checks. */
  private def keyAccess(key: String, opt: Boolean): Pipe = new Pipe {
    private[this] var hint = 0
    private def find(doc: JDoc): JDoc = doc match {
      case o: JObj =>
        val i = o.indexOf(key, hint)
        if (i < 0) null else { hint = i; o.props(i)._2 }
      case _ => null
    }
    def apply(doc: JDoc, env: Env) = {
      val v = find(doc)
      if (v != null) one(JEntry.ok(v)) else err(s"cannot index $key into ${doc.typeName}", opt)
    }
    override def value(doc: JDoc, env: Env) = find(doc)
    override def values(doc: JDoc, env: Env, out: ValueBuf) = {
      val v = find(doc)
      if (v != null) { out += v; true } else opt // `.key?` that misses is the empty stream
    }
  }

  /** Negation and `not`: `op` over each error-free output. */
  private def unary(f: Pipe, op: JDoc => JDoc): Pipe = new Pipe {
    def apply(doc: JDoc, env: Env) = f(doc, env).map(mapOk(_)(op))
    override def value(doc: JDoc, env: Env) = {
      val v = f.value(doc, env)
      if (v == null) null else op(v)
    }
  }

  /** The envelope of every combined entry of a plain evaluation, whose
    * operands carry no envelope or this same one. */
  private val combinedMeta: Option[JObj] = JMeta.newMerged(None, None)

  /** Flatten a parsed path (`.a.b[0]` arrives as a Pipe chain of
    * IndexKey/Ident/IndexNum) into static segments; None if any node is
    * not a static segment. */
  private def flattenPath(ast: Ast): Option[List[JOps.PathSeg]] = ast match {
    case Identity          => Some(Nil)
    case IndexKey(k, _)    => Some(List(Left(k)))
    case Ident(k, _)       => Some(List(Left(k)))
    case IndexNum(n, _)    => Some(List(Right(n)))
    case Pipe(l, r)        =>
      for { a <- flattenPath(l); b <- flattenPath(r) } yield a ++ b
    case Iterate(single :: Nil, _) => flattenPath(single) // `.[N]` parses as 1-item Iterate
    case _                 => None
  }

  // ----------------------------------------- path-mode evaluation (path(f))

  /** (current value, path so far, env) → stream of (path, value) pairs or
    * per-output errors. */
  private type PathPipe = (JDoc, Vector[JDoc], Env) => Vector[Either[String, (Vector[JDoc], JDoc)]]

  /** Path-mode compiler (jq `path(f)`): the (path, value) stream a
    * NAVIGATION filter denotes. Supported: identity, `.key`/`."key"`/bare
    * idents (through objects and null — a missing key denotes a location
    * with value null), `.[n]` (negative wraps against the actual array and
    * the path records the ABSOLUTE index, jq's rule), `.[]`, `..`, pipes,
    * `(p1, p2)` comma streams, `?`, `select(g)`, `if/then/elif/else`,
    * `empty`. Object iteration
    * follows canonical (key-sorted) order — same as value-mode `.[]`.
    * Slices and computations are not locations here: they compile to a
    * runtime "invalid path expression" error entry (jq errors likewise;
    * slice-paths specifically are unsupported because this engine's
    * PathSeg model is key-or-index, JDoc.scala:450). select/if gate on the
    * condition's first/any truthy output — same documented simplification
    * as recurse(f; cond). */
  private def compilePath(ast: Ast): PathPipe = ast match {
    case Identity =>
      (cur, path, _) => Vector(Right((path, cur)))
    case OptMark(e) =>
      val f = compilePath(e)
      (c, p, env) => f(c, p, env).filter(_.isRight)
    case Pipe(l, r) =>
      val fl = compilePath(l)
      val fr = compilePath(r)
      (c, p, env) => fl(c, p, env).flatMap {
        case Right((pp, v)) => fr(v, pp, env)
        case left           => Vector(left)
      }
    case Comma(l, r) =>
      // `path(.a, .b)` / `(.a, .b) |= f`: both operands' (path, value)
      // streams, left first — jq's comma in path mode (ADVICE r5).
      val fl = compilePath(l)
      val fr = compilePath(r)
      (c, p, env) => fl(c, p, env) ++ fr(c, p, env)
    case IndexKey(k, opt) => pathKey(k, opt)
    case Ident(k, opt)    => pathKey(k, opt)
    case IndexNum(n, opt) => pathIdx(n, opt)
    case Iterate(single :: Nil, opt) => // `.[N]` parses as a 1-item Iterate
      val f = compilePath(single)
      if (!opt) f else (c, p, env) => f(c, p, env).filter(_.isRight)
    case IterValues(opt) =>
      (cur, path, _) => cur match {
        case JArr(items) =>
          Vector.tabulate(items.length)(i => Right((path :+ JLong(i.toLong), items(i))))
        case o: JObj =>
          o.props.map { case (k, v) => Right((path :+ JStr(k), v)) }
        case other =>
          if (opt) Vector.empty
          else Vector(Left(s"cannot iterate over ${other.typeName}"))
      }
    case Recurse =>
      (cur, path, _) => {
        val out = Vector.newBuilder[Either[String, (Vector[JDoc], JDoc)]]
        def walk(v: JDoc, p: Vector[JDoc]): Unit = {
          out += Right((p, v))
          v match {
            case JArr(items) =>
              var i = 0
              while (i < items.length) { walk(items(i), p :+ JLong(i.toLong)); i += 1 }
            case o: JObj     => o.props.foreach { case (k, c) => walk(c, p :+ JStr(k)) }
            case _           =>
          }
        }
        walk(cur, path)
        out.result()
      }
    case IfElse(cond, thenB, elseB) =>
      val fc = compile(cond)
      val ft = compilePath(thenB)
      val fe = elseB.map(compilePath)
      (cur, path, env) => fc(cur, env).headOption match {
        case Some(ce) if ce.errors.nonEmpty  => Vector(Left(ce.errors.head))
        case Some(ce) if JOps.truthy(ce.doc) => ft(cur, path, env)
        case Some(_) => fe match {
          case Some(f) => f(cur, path, env)
          case None    => Vector(Right((path, cur)))
        }
        case None => Vector.empty
      }
    case Call("select", List(cond)) =>
      val fc = compile(cond)
      (cur, path, env) => {
        val outs = fc(cur, env)
        outs.collectFirst { case e if e.errors.nonEmpty => e.errors.head } match {
          case Some(m) => Vector(Left(m))
          case None =>
            if (outs.exists(e => JOps.truthy(e.doc))) Vector(Right((path, cur)))
            else Vector.empty
        }
      }
    case Call("empty", Nil) =>
      (_, _, _) => Vector.empty
    case Call("recurse", Nil) => // bare recurse IS `..`
      compilePath(Recurse)
    case Call("getpath", List(arg)) =>
      // getpath(p) is a location: extend the current path by p's segments
      // (evaluated in VALUE mode against the current value)
      val fa = compile(arg)
      (cur, path, env) => fa(cur, env).map {
        case e if e.errors.nonEmpty => Left(e.errors.head)
        case e => e.doc match {
          case JArr(segs) if segs.forall(s => s.isInstanceOf[JStr] || s.isInstanceOf[JLong]) =>
            val segList = segs.map {
              case JStr(k)  => Left(k): JOps.PathSeg
              case JLong(n) => Right(n): JOps.PathSeg
              case _        => Left("") // unreachable by the guard
            }.toList
            Right((path ++ segs, JOps.getPath(cur, segList).getOrElse(JNull)))
          case other => Left(s"getpath requires an array of strings/numbers, got ${JsonText.canonical(other)}")
        }
      }
    case other =>
      (_, _, _) => Vector(Left(s"invalid path expression (${other.getClass.getSimpleName} does not denote document locations)"))
  }

  private def pathKey(k: String, opt: Boolean): PathPipe =
    (cur, path, _) => cur match {
      case o: JObj => Vector(Right((path :+ JStr(k), o.get(k).getOrElse(JNull))))
      case JNull   => Vector(Right((path :+ JStr(k), JNull)))
      case other =>
        if (opt) Vector.empty
        else Vector(Left(s"cannot index $k into ${other.typeName}"))
    }

  private def pathIdx(off: Long, opt: Boolean): PathPipe =
    (cur, path, _) => cur match {
      case JArr(items) =>
        val n = items.length.toLong
        val o = if (off < 0) off + n else off
        if (o < 0) {
          if (opt) Vector.empty
          else Vector(Left(s"array index $off out of bounds"))
        } else Vector(Right((path :+ JLong(o), if (o < n) items(o.toInt) else JNull)))
      case JNull =>
        if (off >= 0) Vector(Right((path :+ JLong(off), JNull)))
        else if (opt) Vector.empty
        else Vector(Left(s"cannot resolve negative index $off against null"))
      case other =>
        if (opt) Vector.empty
        else Vector(Left(s"cannot index $off into ${other.typeName}"))
    }

  /** Capture-group INDEX → literal `(?<name>...)` name; scans the pattern
    * text (Java exposes no name-by-index API), so only literal named
    * groups surface — same rule as capture()/match(). */
  private def regexGroupNames(re: String): Vector[Option[String]] = {
    val out = Vector.newBuilder[Option[String]]
    var i = 0
    while (i < re.length) {
      val c = re.charAt(i)
      if (c == '\\') i += 2
      else if (c == '[') { // character class: groups inside don't count
        i += 1
        if (i < re.length && re.charAt(i) == ']') i += 1
        while (i < re.length && re.charAt(i) != ']') {
          if (re.charAt(i) == '\\') i += 1
          i += 1
        }
        i += 1
      } else if (c == '(') {
        if (i + 1 < re.length && re.charAt(i + 1) == '?') {
          if (i + 3 < re.length && re.charAt(i + 2) == '<' &&
              re.charAt(i + 3) != '=' && re.charAt(i + 3) != '!') {
            val end = re.indexOf('>', i + 3)
            if (end < 0) return out.result() // malformed; Pattern.compile will error
            out += Some(re.substring(i + 3, end))
            i = end + 1
          } else i += 2 // (?: (?= (?! (?<= (?<! — non-capturing
        } else { out += None; i += 1 }
      } else i += 1
    }
    out.result()
  }

  /** jq regex-flags string → (java Pattern flags, global?). Supported:
    * `g` (global — meaningful to sub/match; a no-op where the op is
    * already global), `i` (case-insensitive), `x` (extended/comments),
    * `s` (single-line: `.` matches newline → Pattern.DOTALL), `m`
    * (multi-line: `^`/`$` match at line breaks → Pattern.MULTILINE;
    * NOTE jq/Oniguruma's `m` historically means DOTALL — this dialect
    * follows the flag LETTERS' conventional PCRE meanings, documented
    * here because the two disagree). Any other letter is an ERROR
    * entry, not a silent no-op — jq's remaining flags (n/l/p) change
    * semantics we don't implement, and ignoring them would return
    * wrong-looking answers quietly. */
  private def regexFlags(name: String, flags: String): Either[String, (Int, Boolean)] = {
    var jf = 0
    var g  = false
    var i  = 0
    while (i < flags.length) {
      flags.charAt(i) match {
        case 'i' => jf |= java.util.regex.Pattern.CASE_INSENSITIVE
        case 'x' => jf |= java.util.regex.Pattern.COMMENTS
        case 's' => jf |= java.util.regex.Pattern.DOTALL
        case 'm' => jf |= java.util.regex.Pattern.MULTILINE
        case 'g' => g = true
        case c   => return Left(s"$name: unsupported regex flag '$c' (supported: g, i, x, s, m)")
      }
      i += 1
    }
    Right((jf, g))
  }

  // ----------------------------------------- RFC 4648 base32 (@base32)

  private val Base32Alphabet = "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"

  private def base32Encode(in: Array[Byte]): String = {
    val sb = new StringBuilder((in.length + 4) / 5 * 8)
    var i = 0
    while (i < in.length) {
      val n = math.min(5, in.length - i)
      var acc = 0L
      var j = 0
      while (j < 5) { acc = (acc << 8) | (if (j < n) in(i + j) & 0xffL else 0L); j += 1 }
      val outChars = (n * 8 + 4) / 5
      j = 0
      while (j < 8) {
        sb += (if (j < outChars) Base32Alphabet(((acc >> (35 - 5 * j)) & 31L).toInt) else '=')
        j += 1
      }
      i += 5
    }
    sb.toString
  }

  private def base32Decode(s: String): Either[String, Array[Byte]] = {
    val body = s.takeWhile(_ != '=')
    if (s.drop(body.length).exists(_ != '=')) return Left("invalid base32: data after padding")
    val out = new java.io.ByteArrayOutputStream
    var acc = 0L
    var bits = 0
    for (c <- body) {
      val v = Base32Alphabet.indexOf(c.toUpper)
      if (v < 0) return Left(s"invalid base32 character '$c'")
      acc = (acc << 5) | v.toLong
      bits += 5
      if (bits >= 8) {
        bits -= 8
        out.write(((acc >> bits) & 0xffL).toInt)
      }
    }
    Right(out.toByteArray)
  }

  private def mapOk(e: JEntry)(f: JDoc => JDoc): JEntry =
    if (e.errors.nonEmpty) e else JEntry(f(e.doc), e.errors)

  // `type`'s outputs, shared across rows
  private val TypeNull = JStr("null")
  private val TypeBoolean = JStr("boolean")
  private val TypeNumber = JStr("number")
  private val TypeString = JStr("string")
  private val TypeArray = JStr("array")
  private val TypeObject = JStr("object")

  private def binKernel(op: BinOp): (JDoc, JDoc) => JDoc = {
    import BinOp._
    op match {
      case Add    => JOps.add
      case Sub    => JOps.sub
      case Mul    => JOps.mul
      case Div    => JOps.div
      case Rem    => JOps.rem
      case Eq     => (a, b) => JBool.of(JOps.eqDoc(a, b))
      case Ne     => (a, b) => JBool.of(!JOps.eqDoc(a, b))
      // collation comparisons; incomparable (NaN) → false, and `<=` is the
      // CORRECT relation, not the reference's copy/paste `>=`
      // (reference bug at src/ops.rs:1272; SURVEY.md §2.5). Incomparable
      // is Int.MinValue, so only `<` and `<=` need to rule it out.
      case Lt     => (a, b) => { val c = JOps.cmp(a, b); JBool.of(c < 0 && c != JOps.Incomparable) }
      case Le     => (a, b) => { val c = JOps.cmp(a, b); JBool.of(c <= 0 && c != JOps.Incomparable) }
      case Gt     => (a, b) => JBool.of(JOps.cmp(a, b) > 0)
      case Ge     => (a, b) => JBool.of(JOps.cmp(a, b) >= 0)
      case Shl    => JOps.shl
      case Shr    => JOps.shr
      case BitAnd => JOps.bitAnd
      case BitXor => JOps.bitXor
      case BitOr  => JOps.bitOr
      case And    => (a, b) => JBool.of(JOps.truthy(a) && JOps.truthy(b))
      case Or     => (a, b) => JBool.of(JOps.truthy(a) || JOps.truthy(b))
    }
  }

  /** `{...}` construction (reference: src/ops.rs:600-739): per pair, every
    * produced key becomes its own property (keys expand within one object);
    * multi-valued VALUE streams fan out as a cartesian product across
    * output objects (first pair varies slowest). Errored or non-string keys
    * skip the property but keep their errors. Shorthand pairs look the key
    * up in the input document. */
  private def compileDict(pairs: List[DictPair]): Pipe = {
    val compiled: List[(Pipe, Option[Pipe])] =
      pairs.map(p => (compile(p.key), p.value.map(compile)))

    (doc, env) => {
      val props: List[(JEntry, Vector[JEntry])] = compiled.flatMap { case (fk, fvOpt) =>
        val keys = fk(doc, env)
        fvOpt match {
          case Some(fv) =>
            val values = fv(doc, env)
            keys.map(k => (k, values))
          case None =>
            // dynamic shorthand: value = input doc's field named by the key
            keys.map { k =>
              val v = k.doc match {
                case JStr(s) =>
                  JOps.getKey(doc, s) match {
                    case Some(value) => JEntry.ok(value)
                    case None        => JEntry(JNull, Vector(s"cannot index $s into ${doc.typeName}"))
                  }
                case _ => JEntry.ok(JNull) // non-string key: skipped below anyway
              }
              (k, Vector(v))
            }
        }
      }
      if (props.isEmpty) one(JEntry.ok(JObj.empty))
      else if (props.exists(_._2.isEmpty)) Vector.empty // a value pipeline produced nothing
      else {
        // cartesian product over value choices; first prop varies slowest
        def product(ps: List[(JEntry, Vector[JEntry])]): Vector[List[(JEntry, JEntry)]] =
          ps match {
            case Nil => Vector(Nil)
            case (k, vs) :: tail =>
              val tails = product(tail)
              vs.flatMap(v => tails.map(t => (k, v) :: t))
          }
        product(props).map { combo =>
          val errors = Vector.newBuilder[String]
          val kvs = List.newBuilder[(String, JDoc)]
          combo.foreach { case (ke, ve) =>
            errors ++= ke.errors
            errors ++= ve.errors
            if (ke.errors.isEmpty && ve.errors.isEmpty) {
              ke.doc match {
                case JStr(s) => kvs += ((s, ve.doc))
                case _       => () // non-string key skipped (reference: src/ops.rs:693-697)
              }
            }
          }
          JEntry(JObj.fromProps(kvs.result()), errors.result(),
            JMeta.newMerged(combo.flatMap(p => Seq(p._1.meta, p._2.meta)))) // ops.rs:701
        }
      }
    }
  }

  /** Runtime path array → static segments (getpath/setpath/delpaths):
    * strings index objects, integers index arrays. */
  private def runtimeSegs(d: JDoc): Either[String, List[JOps.PathSeg]] = d match {
    case JArr(segs) =>
      val out = List.newBuilder[JOps.PathSeg]
      segs.foreach {
        case JStr(s)  => out += Left(s)
        case JLong(n) => out += Right(n)
        case other    => return Left(s"path segment must be a string or integer, got ${other.typeName}")
      }
      Right(out.result())
    case other => Left(s"path must be an array, got ${other.typeName}")
  }

  /** A user `def`: params, the once-compiled body pipe (valid for
    * value-param-only defs — indirects through the definition cell for
    * recursion), the raw body AST (re-specialized per call site when the
    * def has FILTER params), and the definition-scope table (lexical
    * scoping for the specialization). */
  private final case class UserFunc(params: List[FuncParam], cellBody: Pipe,
                                    bodyAst: Ast, defTable: () => Map[String, UserFunc])

  /** Compile-time function scope for user defs. Only read inside
    * [[compile]] (single-threaded per compilation; executors re-enter
    * through the Defs case when they lazily compile, re-establishing the
    * scope), never captured by the compiled closures themselves. */
  private val funcScope =
    new scala.util.DynamicVariable[Map[String, UserFunc]](Map.empty)

  /** One call-site specialization of a filter-param def, identified by
    * the def and the IDENTITIES of its filter-arg bindings. Reference
    * equality is the point: jq's recursive-closure pattern
    * (`def walk(f): ... map(walk(f)) ... f ...`) re-calls the def with
    * the SAME bound param, so the inner call's key equals the in-flight
    * outer one and compiles to an indirection through the outer cell
    * instead of specializing forever. */
  private final class SpecKey(val uf: UserFunc, val bindings: List[UserFunc]) {
    override def hashCode: Int =
      bindings.foldLeft(System.identityHashCode(uf))(
        (h, b) => h * 31 + System.identityHashCode(b))
    override def equals(o: Any): Boolean = o match {
      case k: SpecKey =>
        (k.uf eq uf) && k.bindings.length == bindings.length &&
          k.bindings.lazyZip(bindings).forall(_ eq _)
      case _ => false
    }
  }

  /** Filled when a specialization finishes compiling; recursive calls
    * compiled mid-specialization indirect through it at RUNTIME (by then
    * it is always filled — compilation completes before any row runs). */
  private final class SpecCell { var pipe: Pipe = null }

  /** In-flight filter-param specializations (compile-time only). */
  private val specCells =
    new scala.util.DynamicVariable[Map[SpecKey, SpecCell]](Map.empty)

  /** Nesting depth of filter-param specialization: a recursive closure
    * whose inner call does NOT canonicalize to an in-flight key (e.g.
    * `def w(f): w(f | .) ...`) would specialize forever — the depth guard
    * turns that into an error entry instead of a compiler stack overflow.
    * Legitimate programs nest far below this (each distinct call SITE
    * adds one level, not each runtime recursion). */
  private val specDepth = new scala.util.DynamicVariable[Int](0)
  private val MaxSpecDepth = 64

  /** RUNTIME user-def call depth (per thread; the interpreter recurses on
    * the JVM stack, so unbounded jq recursion — `def f: f; f` — would
    * stack-overflow the executor thread). 200 is far above any per-row
    * document program and measured to fire well before the JVM stack
    * does (~350 interpreter calls fit a default 1 MB thread stack),
    * turning runaway recursion into an error ENTRY (the errors-as-data
    * contract) instead of a task crash; JqGuard's StackOverflowError
    * backstop covers pathological non-call recursion. */
  private val callDepth = new ThreadLocal[Array[Int]] {
    override def initialValue(): Array[Int] = Array(0)
  }
  private val MaxCallDepth = 200

  /** User-def call: args evaluate against the call input WITH the
    * call-site env (they may use $vars in scope), but the body runs under
    * the DEFINITION scope — params only, lexical not dynamic scoping.
    * Multi-output args fan out as a cartesian product, first arg slowest
    * (dict fan-out order). */
  private def compileUserCall(name: String, uf: UserFunc, args: List[Ast]): Pipe = {
    if (args.length != uf.params.length)
      return (_, _) => one(JEntry(JNull,
        Vector(s"$name expects ${uf.params.length} args, got ${args.length}")))
    val filterParams = uf.params.zipWithIndex.filter(_._1.filter)
    // per-call-site closure env for wrapped filter args: armed with the
    // call-site runtime env on every invocation (dynamic extent covers
    // the whole body run, so recursive re-entry still reads the ORIGINAL
    // call's env — withValue stacks per thread)
    lazy val callEnv = new scala.util.DynamicVariable[Env](Nil)
    var armCallEnv = false
    val body: Pipe =
      if (filterParams.isEmpty) uf.cellBody
      else {
        // FILTER params (jq closure-valued parameters): re-specialize the
        // def body at THIS call site with each filter argument bound as a
        // zero-arg user function. The filter pipe runs against whatever
        // value the body applies it to.
        //
        // A filter argument that is itself a bare zero-arg call (the
        // `walk(f)` inside walk's own body) CANONICALIZES to the resolved
        // UserFunc instead of a fresh wrapper, so the recursive call's
        // SpecKey equals the in-flight outer one and the recursion
        // becomes a runtime indirection through the outer cell — jq's
        // recursive-closure pattern compiles in one pass. Non-canonical
        // self reference (`w(f | .)`) still diverges; the depth guard
        // makes that an error entry, not a stack overflow.
        //
        // A wrapped filter argument is a CLOSURE over the call site: it
        // runs with the call-site runtime env (so `$x` bound outside the
        // call works inside the argument, jq's rule), carried through a
        // per-call-site dynamic cell the returned pipe arms on every
        // invocation — the body's own env stays invisible to the
        // argument, which is exactly lexical scoping.
        val bindings: List[(FuncParam, UserFunc)] = filterParams.map { case (p, i) =>
          def wrapper(): UserFunc = {
            val fp = compile(args(i)) // call-site lexical scope
            armCallEnv = true
            val cell = callEnv
            UserFunc(Nil, (d: JDoc, _: Env) => fp(d, cell.value), args(i), () => funcScope.value)
          }
          val b = args(i) match {
            case Call(n, Nil) =>
              funcScope.value.get(n) match {
                case Some(g) if g.params.isEmpty => g
                case _ => wrapper()
              }
            case _ => wrapper()
          }
          (p, b)
        }
        val key = new SpecKey(uf, bindings.map(_._2))
        specCells.value.get(key) match {
          case Some(cell) =>
            (doc: JDoc, env: Env) => cell.pipe(doc, env)
          case None =>
            if (specDepth.value >= MaxSpecDepth)
              return (_, _) => one(JEntry(JNull,
                Vector(s"filter-parameter specialization of $name exceeds depth " +
                  s"$MaxSpecDepth — non-convergent recursive closure")))
            val cell = new SpecCell
            val bound = bindings.map { case (p, b) => p.name -> b }.toMap
            specCells.withValue(specCells.value + (key -> cell)) {
              specDepth.withValue(specDepth.value + 1) {
                funcScope.withValue(uf.defTable() ++ bound) {
                  cell.pipe = compile(uf.bodyAst)
                }
              }
            }
            cell.pipe
        }
      }
    val valueArgs = uf.params.zip(args).collect { case (p, a) if !p.filter => (p.name, compile(a)) }
    (doc, env) => {
      def go(ps: List[(String, Pipe)], bound: Env): Vector[JEntry] = ps match {
        case Nil => body(doc, bound)
        case (p, f) :: pt =>
          breakFlatMap(f(doc, env)) { e =>
            if (e.errors.nonEmpty) one(e)
            else go(pt, (p, e.doc) :: bound)
          }
      }
      val depth = callDepth.get()
      if (depth(0) >= MaxCallDepth)
        one(JEntry(JNull, Vector(
          s"call depth exceeded $MaxCallDepth calling $name — runaway recursion")))
      else {
        depth(0) += 1
        try {
          if (armCallEnv) callEnv.withValue(env) { go(valueArgs, Nil) }
          else go(valueArgs, Nil)
        } finally depth(0) -= 1
      }
    }
  }

  /** Builtin dispatch (reference: src/query.rs:226-242; semantics from
    * src/ops.rs:1418-1579 and the specified-but-dead impls at
    * src/ops.rs:1583-1713 with their test vectors). User defs are checked
    * FIRST — they shadow builtins of the same name (jq's rule). */
  private def compileCall(name: String, args: List[Ast]): Pipe = {
    funcScope.value.get(name) match {
      case Some(uf) => return compileUserCall(name, uf, args)
      case None     => ()
    }
    val compiledArgs = args.map(compile)

    def inputFor(doc: JDoc, env: Env): Vector[JEntry] =
      if (compiledArgs.isEmpty) one(JEntry.ok(doc)) else compiledArgs.head(doc, env)

    def overInput(f: JDoc => Either[String, JDoc]): Pipe = {
      def step(d: JDoc): JEntry = f(d) match {
        case Right(v)  => JEntry.ok(v)
        case Left(msg) => JEntry(JNull, Vector(msg))
      }
      if (compiledArgs.isEmpty) new Pipe { // the input is the one value
        def apply(doc: JDoc, env: Env) = one(step(doc))
        override def value(doc: JDoc, env: Env) = f(doc) match {
          case Right(v) => v
          case Left(_)  => null
        }
      }
      else (doc, env) => compiledArgs.head(doc, env).map { e =>
        if (e.errors.nonEmpty) e else step(e.doc)
      }
    }

    /** first output of the compiled arg against `d` (builtin arg position,
      * reference: `thunk(value)?.remove(0)`): its value when it has one. */
    def firstOut(f: Pipe, d: JDoc, env: Env): Either[String, JEntry] = {
      val v = f.value(d, env)
      if (v != null) Right(JEntry.ok(v))
      else {
        val out = f(d, env)
        if (out.isEmpty) Left(s"$name: argument produced no output") else Right(out.head)
      }
    }

    def wrongArity: Pipe =
      (_, _) => one(JEntry(JNull, Vector(s"expected 1 args, got ${args.length}")))

    /** Shared preamble of every one-argument builtin: resolve the
      * argument's first output, propagate its errors, then hand
      * (input doc, argument value) to the builtin body. Hand-rolled
      * copies of this forget the error-propagation arm (it happened). */
    def withArgValue(fa: Pipe)(f: (JDoc, JDoc) => Vector[JEntry]): Pipe =
      (doc, env) => firstOut(fa, doc, env) match {
        case Left(msg)                       => one(JEntry(JNull, Vector(msg)))
        case Right(e) if e.errors.nonEmpty   => one(JEntry(JNull, e.errors))
        case Right(e)                        => f(doc, e.doc)
      }

    name match {
      case "length" =>
        if (args.length > 1)
          return (_, _) => one(JEntry(JNull, Vector("invalid number of args for length")))
        overInput { d =>
          JOps.lengthOf(d) match {
            case Some(n) => Right(JLong(n))
            case None    => Left(s"cannot find length for ${d.typeName}")
          }
        }

      case "chars" | "explode" =>
        // `explode` is jq's name for the same codepoint-array op (the
        // reference calls it chars); both resolve here
        if (args.length > 1)
          return (_, _) => one(JEntry(JNull, Vector(s"invalid number of args for $name")))
        overInput { d =>
          JOps.intoIter(d) match {
            case Some(vs) => Right(JArr(vs))
            case None     => Left(s"cannot find $name for ${d.typeName}")
          }
        }

      case "keys" =>
        if (args.length > 1)
          return (_, _) => one(JEntry(JNull, Vector("invalid number of args for keys")))
        overInput { d =>
          JOps.keysOf(d) match {
            case Some(v) => Right(v)
            case None    => Left(s"cannot find keys for ${d.typeName}")
          }
        }

      case "has" =>
        // membership of the arg's value in the input container
        // (reference: src/ops.rs:1583-1606)
        if (args.length != 1) return wrongArity
        val fa = compiledArgs.head
        (doc, env) => firstOut(fa, doc, env) match {
          case Left(msg) => one(JEntry(JNull, Vector(msg)))
          case Right(item) =>
            doc match {
              case JArr(elems) => one(JEntry.ok(JBool(elems.exists(JOps.eqDoc(_, item.doc)))))
              case JObj(props) => one(JEntry.ok(JBool(props.exists(p => JOps.eqDoc(JStr(p._1), item.doc)))))
              case other       => one(JEntry(JNull, Vector(s"${other.typeName} not iterable")))
            }
        }

      case "in" =>
        // membership of the input value in the arg's container
        // (reference: src/ops.rs:1608-1630)
        if (args.length != 1) return wrongArity
        val fa = compiledArgs.head
        (doc, env) => firstOut(fa, doc, env) match {
          case Left(msg) => one(JEntry(JNull, Vector(msg)))
          case Right(container) =>
            container.doc match {
              case JArr(elems) => one(JEntry.ok(JBool(elems.exists(JOps.eqDoc(_, doc)))))
              case JObj(props) => one(JEntry.ok(JBool(props.exists(p => JOps.eqDoc(JStr(p._1), doc)))))
              case other       => one(JEntry(JNull, Vector(s"${other.typeName} not iterable")))
            }
        }

      case "map" =>
        // string/array → array of f(item); object → object of f(value)
        // (reference: src/ops.rs:1632-1656)
        if (args.length != 1) return wrongArity
        val fa = compiledArgs.head
        def evalMap(doc: JDoc, env: Env): Vector[JEntry] = doc match {
          case JStr(_) | JArr(_) =>
            val items = JOps.intoIter(doc).get
            val out = Vector.newBuilder[JDoc]
            items.foreach { item =>
              firstOut(fa, item, env) match {
                case Left(msg)                     => return one(JEntry(JNull, Vector(msg)))
                case Right(e) if e.errors.nonEmpty => return one(JEntry(JNull, e.errors))
                case Right(e)                      => out += e.doc
              }
            }
            one(JEntry.ok(JArr(out.result())))
          case JObj(props) =>
            val out = Vector.newBuilder[(String, JDoc)]
            props.foreach { case (k, v) =>
              firstOut(fa, v, env) match {
                case Left(msg)                     => return one(JEntry(JNull, Vector(msg)))
                case Right(e) if e.errors.nonEmpty => return one(JEntry(JNull, e.errors))
                case Right(e)                      => out += ((k, e.doc))
              }
            }
            one(JEntry.ok(JObj(out.result()))) // same keys, still sorted
          case other => one(JEntry(JNull, Vector(s"cannot map over ${other.typeName}")))
        }
        (doc, env) => evalMap(doc, env)

      case "walk" =>
        // EXTENSION (jq walk): bottom-up structural transform — children
        // first, then f on the rebuilt node; FIRST output of f per node
        // (the map convention). Provided natively so walk works without a
        // user def; a user `def walk(f):` shadows this (user defs resolve
        // first) and ALSO works now via specialization cells.
        if (args.length != 1) return wrongArity
        val fw = compiledArgs.head
        // `step` on every node, children first; null as soon as a step is.
        // A container whose children all come back as they were is kept.
        def wk(doc: JDoc, step: JDoc => JDoc): JDoc = {
          val rebuilt: JDoc = doc match {
            case JArr(xs) =>
              var out: Array[AnyRef] = null
              var i = 0
              while (i < xs.length) {
                val v = wk(xs(i), step)
                if (v == null) return null
                if (out == null && (v ne xs(i))) { out = new Array[AnyRef](xs.length); xs.copyToArray(out, 0, i) }
                if (out != null) out(i) = v
                i += 1
              }
              if (out == null) doc else JArr(vectorOf(out))
            case JObj(props) =>
              // same keys in the same (sorted, unique) order: no re-sort
              var out: Array[AnyRef] = null
              var i = 0
              while (i < props.length) {
                val kv = props(i)
                val v = wk(kv._2, step)
                if (v == null) return null
                if (out == null && (v ne kv._2)) { out = new Array[AnyRef](props.length); props.copyToArray(out, 0, i) }
                if (out != null) out(i) = if (v eq kv._2) kv else (kv._1, v)
                i += 1
              }
              if (out == null) doc else JObj(vectorOf(out))
            case other => other
          }
          step(rebuilt)
        }
        new Pipe {
          def apply(doc: JDoc, env: Env) = {
            var failure: String = null
            val d = wk(doc, n => firstOut(fw, n, env) match {
              case Left(m)                       => failure = m; null
              case Right(e) if e.errors.nonEmpty => failure = e.errors.head; null
              case Right(e)                      => e.doc
            })
            if (d == null) one(JEntry(JNull, Vector(failure))) else one(JEntry.ok(d))
          }
          override def value(doc: JDoc, env: Env) = wk(doc, headValue(fw, _, env))
        }

      case "map_values" =>
        // EXTENSION (jq map_values): `.[] |= f` — array/object with each
        // value replaced by f's FIRST output; values where f yields
        // NOTHING are dropped (jq's update-assignment empty rule — the
        // difference from map, which errors shape-wise and collects)
        if (args.length != 1) return wrongArity
        val fmv = compiledArgs.head
        def evalMapValues(doc: JDoc, env: Env): Vector[JEntry] = doc match {
          case JArr(xs) =>
            val out = Vector.newBuilder[JDoc]
            xs.foreach { x =>
              val es = fmv(x, env)
              es.headOption match {
                case Some(e) if e.errors.nonEmpty => return one(JEntry(JNull, e.errors))
                case Some(e)                      => out += e.doc
                case None                         => () // empty → drop element
              }
            }
            one(JEntry.ok(JArr(out.result())))
          case JObj(props) =>
            val out = Vector.newBuilder[(String, JDoc)]
            props.foreach { case (k, v) =>
              val es = fmv(v, env)
              es.headOption match {
                case Some(e) if e.errors.nonEmpty => return one(JEntry(JNull, e.errors))
                case Some(e)                      => out += ((k, e.doc))
                case None                         => () // empty → drop key
              }
            }
            one(JEntry.ok(JObj(out.result()))) // a subset of sorted keys is sorted
          case other => one(JEntry(JNull, Vector(s"cannot map_values over ${other.typeName}")))
        }
        (doc, env) => evalMapValues(doc, env)

      case "match" | "scan" =>
        // EXTENSION (jq match/scan): match(re) → the FIRST match as jq's
        // match object {offset,length,string,captures}; match(re; "g"-in-
        // flags) → every match as a stream. Offsets/lengths are CODEPOINT
        // counts (jq's rule), not UTF-16 units. scan(re) → per match
        // (always global): the matched string, or the array of capture
        // strings when the pattern has groups. Capture NAMES are read
        // from literal `(?<name>...)` pattern text, like capture().
        if (name == "scan" && args.length != 1) return wrongArity
        if (name == "match" && (args.length < 1 || args.length > 2))
          return (_, _) => one(JEntry(JNull,
            Vector(s"match takes 1 or 2 args, got ${args.length}")))
        val fre2 = compiledArgs.head
        val fflags = if (args.length > 1) Some(compiledArgs(1)) else None
        // capture-group INDEX → literal (?<name>...) name (object-level
        // helper, shared with sub/gsub)
        def groupNames(re: String): Vector[Option[String]] = regexGroupNames(re)
        def matchObj(s: String, m: java.util.regex.Matcher, names: Vector[Option[String]]): JDoc = {
          val caps = (1 to m.groupCount()).toVector.map { gi =>
            val nm: JDoc = names.lift(gi - 1).flatten.map(JStr(_): JDoc).getOrElse(JNull)
            if (m.group(gi) == null)
              JObj.fromProps(List("offset" -> JLong(-1L), "length" -> JLong(0L),
                "string" -> JNull, "name" -> nm))
            else JObj.fromProps(List(
              "offset" -> JLong(s.codePointCount(0, m.start(gi)).toLong),
              "length" -> JLong(s.codePointCount(m.start(gi), m.end(gi)).toLong),
              "string" -> JStr(m.group(gi)), "name" -> nm))
          }
          JObj.fromProps(List(
            "offset" -> JLong(s.codePointCount(0, m.start()).toLong),
            "length" -> JLong(s.codePointCount(m.start(), m.end()).toLong),
            "string" -> JStr(m.group()),
            "captures" -> JArr(caps)))
        }
        def runMatch(s: String, re: String, flags: String, env: Env): Vector[JEntry] =
          try {
            val (jf, gflag) = regexFlags(name, flags) match {
              case Left(m)  => return one(JEntry(JNull, Vector(m)))
              case Right(x) => x
            }
            val global = name == "scan" || gflag
            val p = java.util.regex.Pattern.compile(re, jf)
            val names = groupNames(re)
            val m = p.matcher(s)
            val out = Vector.newBuilder[JEntry]
            var from = 0
            var go = true
            while (go && from <= s.length && m.find(from)) {
              if (name == "match") out += JEntry.ok(matchObj(s, m, names))
              else if (m.groupCount() == 0) out += JEntry.ok(JStr(m.group()))
              else out += JEntry.ok(JArr((1 to m.groupCount()).toVector.map { gi =>
                Option(m.group(gi)).map(JStr(_): JDoc).getOrElse(JNull)
              }))
              if (!global) go = false
              else from = if (m.end() == m.start()) m.end() + 1 else m.end() // zero-width: step past
            }
            out.result()
          } catch {
            case ex: java.util.regex.PatternSyntaxException =>
              one(JEntry(JNull, Vector(s"invalid regex: ${ex.getDescription}")))
          }
        (doc, env) => doc match {
          case JStr(s) => firstOut(fre2, doc, env) match {
            case Left(m)                       => one(JEntry(JNull, Vector(m)))
            case Right(e) if e.errors.nonEmpty => one(JEntry(JNull, e.errors))
            case Right(e) => e.doc match {
              case JStr(re) =>
                val flagsE: Either[String, String] = fflags match {
                  case None => Right("")
                  case Some(ff) => firstOut(ff, doc, env) match {
                    case Left(m)                        => Left(m)
                    case Right(fe) if fe.errors.nonEmpty => Left(fe.errors.mkString("; "))
                    case Right(fe) => fe.doc match {
                      case JStr(f) => Right(f)
                      case other   => Left(s"match flags must be a string, got ${other.typeName}")
                    }
                  }
                }
                flagsE match {
                  case Left(m)      => one(JEntry(JNull, Vector(m)))
                  case Right(flags) => runMatch(s, re, flags, env)
                }
              case other => one(JEntry(JNull, Vector(s"$name pattern must be a string, got ${other.typeName}")))
            }
          }
          case other => one(JEntry(JNull, Vector(s"cannot $name over ${other.typeName}")))
        }

      case "any" | "all" if args.length == 2 =>
        // EXTENSION (jq 2-arity): any(gen; cond) == [gen | cond] | any(.) —
        // desugared so the 1-arity literal-true convention carries over
        compile(Pipe(MkList(List(Pipe(args(0), args(1))), opt = false),
          Call(name, List(Identity))))

      case "add" if args.length == 1 =>
        // EXTENSION (jq 1.8 add(f)): sum of f's output stream == [f] | add
        compile(Pipe(MkList(args, opt = false), Call("add", Nil)))

      case "any" | "all" =>
        // only a literal `true` output counts as true
        // (reference: `boolean().unwrap_or(false)`, src/ops.rs:1658-1713)
        if (args.length != 1) return wrongArity
        val fa = compiledArgs.head
        val isAny = name == "any"
        def evalAnyAll(doc: JDoc, env: Env): Vector[JEntry] = {
          val itemsOpt: Option[Vector[JDoc]] = doc match {
            case JStr(_) | JArr(_) => JOps.intoIter(doc)
            case JObj(props)       => Some(props.map(_._2))
            case _                 => None
          }
          itemsOpt match {
            case None => one(JEntry(JNull, Vector(s"cannot iterate over ${doc.typeName}")))
            case Some(items) =>
              items.foreach { item =>
                firstOut(fa, item, env) match {
                  case Left(msg)                     => return one(JEntry(JNull, Vector(msg)))
                  case Right(e) if e.errors.nonEmpty => return one(JEntry(JNull, e.errors))
                  case Right(e) =>
                    val b = e.doc == JBool(true)
                    if (isAny && b) return one(JEntry.ok(JBool(true)))
                    if (!isAny && !b) return one(JEntry.ok(JBool(false)))
                }
              }
              one(JEntry.ok(JBool(!isAny)))
          }
        }
        (doc, env) => evalAnyAll(doc, env)

      // ---- EXTENSION builtins (not in the reference's set of 8; jq's own
      // everyday vocabulary, with jq semantics over this document model).
      // All unary ones follow the reference convention: an argument, if
      // given, selects the input (`sort(.items)` ≡ `.items | sort`).

      case "type" =>
        // int/float both report "number" (jq collapses numeric kinds)
        overInput { d =>
          Right(d match {
            case JNull => TypeNull
            case _: JBool => TypeBoolean
            case _: JLong | _: JBigInt | _: JDouble => TypeNumber
            case _: JStr => TypeString
            case _: JArr => TypeArray
            case _: JObj => TypeObject
          })
        }

      case "add" =>
        overInput {
          case JArr(items) =>
            if (items.isEmpty) Right(JNull)
            else Right(items.reduceLeft(JOps.add))
          case other => Left(s"cannot add over ${other.typeName}")
        }

      case "sort" | "unique" =>
        val uniq = name == "unique"
        overInput {
          case JArr(items) =>
            // totalCmp, NOT cmp: a partial comparator (NaN) makes TimSort
            // throw mid-task on >=32 elements — never an option here
            val sorted = items.sortWith((a, b) => JOps.totalCmp(a, b) < 0)
            if (!uniq) Right(JArr(sorted))
            else {
              val out = Vector.newBuilder[JDoc]
              var last: JDoc = null
              sorted.foreach { d =>
                if (last == null || JOps.totalCmp(last, d) != 0) { out += d; last = d }
              }
              Right(JArr(out.result()))
            }
          case other => Left(s"cannot sort ${other.typeName}")
        }

      case "reverse" =>
        overInput {
          case JArr(items) => Right(JArr(items.reverse))
          case other       => Left(s"cannot reverse ${other.typeName}")
        }

      case "min" | "max" =>
        val isMin = name == "min"
        overInput {
          case JArr(items) =>
            if (items.isEmpty) Right(JNull)
            else Right(items.reduceLeft { (a, b) =>
              val c = JOps.totalCmp(a, b)
              if (if (isMin) c <= 0 else c >= 0) a else b
            })
          case other => Left(s"cannot find ${if (isMin) "min" else "max"} of ${other.typeName}")
        }

      case "tostring" =>
        overInput {
          case s: JStr => Right(s)
          case d       => Right(JStr(JsonText.canonical(d)))
        }

      case "tonumber" =>
        overInput {
          case n @ (_: JLong | _: JDouble) => Right(n)
          case JStr(s) =>
            try JsonText.parse(s) match {
              case n @ (_: JLong | _: JDouble) => Right(n)
              case _ => Left(s"cannot parse '$s' as number")
            } catch { case _: JsonText.JsonParseException => Left(s"cannot parse '$s' as number") }
          case other => Left(s"cannot convert ${other.typeName} to number")
        }

      case "floor" | "ceil" | "sqrt" | "abs" | "round" =>
        overInput { d =>
          (name, d) match {
            case ("round", n: JLong)  => Right(n)
            case ("round", JDouble(v)) =>
              // jq rounds half AWAY from zero (C round), not half-even
              Right(JDouble(if (v >= 0) math.floor(v + 0.5) else math.ceil(v - 0.5)))
            case ("floor", n: JLong)  => Right(n)
            case ("floor", JDouble(v)) => Right(JDouble(math.floor(v)))
            case ("ceil",  n: JLong)  => Right(n)
            case ("ceil",  JDouble(v)) => Right(JDouble(math.ceil(v)))
            case ("sqrt",  JLong(v))   => Right(JDouble(math.sqrt(v.toDouble)))
            case ("sqrt",  JDouble(v)) => Right(JDouble(math.sqrt(v)))
            case ("abs",   JLong(Long.MinValue)) =>
              Right(JDouble(9.223372036854775808e18)) // |MinValue| overflows Long; widen like jq
            case ("abs",   JLong(v))   => Right(JLong(math.abs(v)))
            case ("abs",   JDouble(v)) => Right(JDouble(math.abs(v)))
            case (_, other)            => Left(s"$name requires a number, got ${other.typeName}")
          }
        }

      case "ascii_downcase" | "ascii_upcase" =>
        // EXTENSION (jq): ASCII-only case mapping (no locale surprises)
        val down = name == "ascii_downcase"
        overInput {
          case JStr(s) => Right(JStr(s.map { c =>
            if (down && c >= 'A' && c <= 'Z') (c + 32).toChar
            else if (!down && c >= 'a' && c <= 'z') (c - 32).toChar
            else c
          }))
          case other => Left(s"cannot case-map ${other.typeName}")
        }

      case "startswith" | "endswith" =>
        // EXTENSION (jq): string prefix/suffix predicate
        if (args.length != 1) return wrongArity
        val starts = name == "startswith"
        withArgValue(compiledArgs.head) {
          case (JStr(s), JStr(p)) =>
            one(JEntry.ok(JBool(if (starts) s.startsWith(p) else s.endsWith(p))))
          case (JStr(_), other) => one(JEntry(JNull, Vector(s"$name argument must be a string, got ${other.typeName}")))
          case (other, _)       => one(JEntry(JNull, Vector(s"cannot $name on ${other.typeName}")))
        }

      case "ltrimstr" | "rtrimstr" =>
        // EXTENSION (jq): strip a prefix/suffix when present; non-string
        // inputs and non-matches pass through unchanged (jq's definition)
        if (args.length != 1) return wrongArity
        val leftTrim = name == "ltrimstr"
        withArgValue(compiledArgs.head) {
          case (JStr(s), JStr(p)) if leftTrim && s.startsWith(p) =>
            one(JEntry.ok(JStr(s.substring(p.length))))
          case (JStr(s), JStr(p)) if !leftTrim && s.endsWith(p) =>
            one(JEntry.ok(JStr(s.substring(0, s.length - p.length))))
          case (doc, _) => one(JEntry.ok(doc))
        }

      case "split" if args.length == 2 =>
        // EXTENSION (jq split(re; flags) — ',' separates args here):
        // regex split collected to an array, == [splits(re, flags)]
        compile(MkList(List(Call("splits", args)), opt = false))

      case "split" =>
        // EXTENSION (jq split(sep)): literal-separator split — the builtin
        // spelling of the `/` string-division semantics
        if (args.length != 1) return wrongArity
        withArgValue(compiledArgs.head) {
          case (JStr(s), JStr(sep)) =>
            one(JEntry.ok(JArr(JOps.splitLiteral(s, sep).map(JStr(_)))))
          case (JStr(_), other) => one(JEntry(JNull, Vector(s"split separator must be a string, got ${other.typeName}")))
          case (other, _)       => one(JEntry(JNull, Vector(s"cannot split ${other.typeName}")))
        }

      case "contains" | "inside" =>
        // EXTENSION (jq): deep containment — substring for strings, per-
        // element containment for arrays, key-and-value containment for
        // objects, equality for same-kind scalars. `inside` is the same
        // relation with the roles flipped (`. inside(b)` ⇔ `b contains .`,
        // jq defines it exactly so). A TOP-LEVEL kind mismatch is an
        // error (jq: "cannot check containment"), so a typo'd argument
        // shape surfaces instead of silently filtering everything out;
        // nested mismatches are just not-contained.
        if (args.length != 1) return wrongArity
        val flipped = name == "inside"
        def within(a: JDoc, b: JDoc): Boolean = (a, b) match {
          case (JStr(s), JStr(p))   => s.contains(p)
          case (JArr(xs), JArr(ys)) => ys.forall(y => xs.exists(x => within(x, y)))
          case (ao: JObj, bo: JObj) =>
            bo.props.forall { case (k, bv) => ao.get(k).exists(av => within(av, bv)) }
          case _ => JOps.eqDoc(a, b)
        }
        def sameKind(a: JDoc, b: JDoc): Boolean = (a, b) match {
          case (_: JStr, _: JStr) | (_: JArr, _: JArr) | (_: JObj, _: JObj) => true
          case (_: JStr | _: JArr | _: JObj, _) | (_, _: JStr | _: JArr | _: JObj) => false
          case _ => true // scalar vs scalar: equality applies
        }
        withArgValue(compiledArgs.head) { (doc, b) =>
          val (outer, inner) = if (flipped) (b, doc) else (doc, b)
          if (!sameKind(outer, inner))
            one(JEntry(JNull, Vector(
              s"cannot check containment of ${inner.typeName} in ${outer.typeName}")))
          else one(JEntry.ok(JBool(within(outer, inner))))
        }

      case "indices" | "index" | "rindex" =>
        // EXTENSION (jq): occurrence positions. String input + string
        // arg → BYTE offsets (the dialect's string-offset convention,
        // same as length/slice), overlapping matches included; array
        // input + scalar arg → indices of equal elements; array input +
        // array arg → start indices of the contiguous subsequence
        // (overlapping). index/rindex are first/last or null; null input
        // → null (jq's rule). Empty pattern → no matches.
        if (args.length != 1) return wrongArity
        def occurrences(doc: JDoc, pat: JDoc): Either[String, Vector[Long]] = (doc, pat) match {
          case (JStr(s), JStr(p)) =>
            if (p.isEmpty) Right(Vector.empty)
            else {
              val hay = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
              val needle = p.getBytes(java.nio.charset.StandardCharsets.UTF_8)
              val out = Vector.newBuilder[Long]
              var i = 0
              while (i <= hay.length - needle.length) {
                var j = 0
                while (j < needle.length && hay(i + j) == needle(j)) j += 1
                if (j == needle.length) out += i.toLong
                i += 1
              }
              Right(out.result())
            }
          case (JArr(xs), JArr(ys)) =>
            if (ys.isEmpty) Right(Vector.empty)
            else Right((0 to xs.length - ys.length).collect {
              case i if ys.indices.forall(j => JOps.eqDoc(xs(i + j), ys(j))) => i.toLong
            }.toVector)
          case (JArr(xs), p) =>
            val out = Vector.newBuilder[Long]
            var i = 0
            while (i < xs.length) { if (JOps.eqDoc(xs(i), p)) out += i.toLong; i += 1 }
            Right(out.result())
          case (other, _) => Left(s"cannot find $name in ${other.typeName}")
        }
        withArgValue(compiledArgs.head) { (doc, pat) =>
          if (doc == JNull) one(JEntry.ok(JNull))
          else occurrences(doc, pat) match {
            case Left(m) => one(JEntry(JNull, Vector(m)))
            case Right(is) => name match {
              case "indices" => one(JEntry.ok(JArr(is.map(JLong(_)))))
              case "index"   => one(JEntry.ok(is.headOption.map(JLong(_): JDoc).getOrElse(JNull)))
              case _         => one(JEntry.ok(is.lastOption.map(JLong(_): JDoc).getOrElse(JNull)))
            }
          }
        }

      case "transpose" =>
        // EXTENSION (jq transpose): array of arrays → transposed, short
        // rows padded with null to the longest (jq's rule)
        overInput {
          case JArr(rows) if rows.forall(_.isInstanceOf[JArr]) =>
            val rs = rows.map(_.asInstanceOf[JArr].items)
            val width = if (rs.isEmpty) 0 else rs.map(_.length).max
            Right(JArr((0 until width).toVector.map { j =>
              JArr(rs.map(r => if (j < r.length) r(j) else JNull))
            }))
          case other => Left(s"cannot transpose ${other.typeName}")
        }

      case "debug" =>
        // EXTENSION (jq debug / debug(msg)): identity passthrough. jq
        // writes ["DEBUG:", .] (or the msg outputs) to stderr; per-row
        // stderr from executors is noise, not observability — the
        // passthrough keeps programs using debug for tracing runnable
        // unchanged. debug(msg) still EVALUATES msg so its errors
        // surface (a typo'd trace shouldn't vanish silently).
        if (args.length > 1) return wrongArity
        if (args.isEmpty) (doc, _) => one(JEntry.ok(doc))
        else {
          val fm = compiledArgs.head
          (doc, env) => {
            val msgErrs = fm(doc, env).filter(_.errors.nonEmpty)
            if (msgErrs.nonEmpty) one(JEntry(JNull, msgErrs.head.errors))
            else one(JEntry.ok(doc))
          }
        }

      case "toarray" =>
        // EXTENSION (jq 1.8 toarray): arrays pass through, everything
        // else wraps in a singleton array
        if (args.nonEmpty) return wrongArity
        overInput {
          case a: JArr => Right(a)
          case other   => Right(JArr(Vector(other)))
        }

      case "empty" =>
        // EXTENSION (jq empty): the empty stream
        new Pipe {
          def apply(doc: JDoc, env: Env) = Vector.empty
          override def values(doc: JDoc, env: Env, out: ValueBuf) = true
        }

      case "first" | "last" =>
        // EXTENSION: bare first/last are .[0]/.[-1]; with an argument,
        // the first/last output of that pipeline
        val takeFirst = name == "first"
        if (args.length > 1) return wrongArity
        if (args.isEmpty) {
          (doc, env) => {
            val v = JOps.elementAt(doc, if (takeFirst) 0 else -1)
            if (v != null) one(JEntry.ok(v)) else one(JEntry(JNull, Vector(s"cannot index ${doc.typeName}")))
          }
        } else {
          val fa = compiledArgs.head
          (doc, env) => {
            val out = fa(doc, env)
            if (out.isEmpty) Vector.empty
            else Vector(if (takeFirst) out.head else out.last)
          }
        }

      case "nth" =>
        // EXTENSION (jq nth): nth(n) is `.[n]` (dialect-consistent: missing
        // index errors, like .[n] itself); nth(n; f) is the 0-based n-th
        // output of f — FEWER outputs than n+1 yields EMPTY, a documented
        // deviation from jq's accidental last-output fallback
        // (jq defines nth($n; g) = last(limit($n+1; g)))
        if (args.isEmpty || args.length > 2)
          return (_, _) => one(JEntry(JNull, Vector(s"nth takes 1-2 args, got ${args.length}")))
        val fn = compiledArgs.head
        val fg = compiledArgs.lift(1)
        (doc, env) => firstOut(fn, doc, env) match {
          case Left(m)                       => one(JEntry(JNull, Vector(m)))
          case Right(e) if e.errors.nonEmpty => one(JEntry(JNull, e.errors))
          case Right(e) => e.doc match {
            case JLong(n) => fg match {
              case None =>
                val v = JOps.elementAt(doc, n)
                if (v != null) one(JEntry.ok(v)) else one(JEntry(JNull, Vector(s"cannot index ${doc.typeName}")))
              case Some(g) =>
                if (n < 0) one(JEntry(JNull, Vector("nth: index must not be negative")))
                else {
                  val out = g(doc, env)
                  if (n < out.length) Vector(out(n.toInt)) else Vector.empty
                }
            }
            case other => one(JEntry(JNull, Vector(s"nth index must be a number, got ${other.typeName}")))
          }
        }

      case "range" =>
        // EXTENSION (jq range, comma-separated args — this dialect has no
        // ';' argument separator): range(n) → 0..n-1, range(a, b) → a..b-1.
        // Capped: a query-driven bound must be an error entry, never an
        // OOM or an uncaught exception (same policy as JOps.MaxPathPad).
        if (args.isEmpty || args.length > 3)
          return ((_, _) => one(JEntry(JNull,
            Vector(s"range takes 1 to 3 args, got ${args.length}"))))
        val fs = compiledArgs
        val MaxRange = 1000000L
        def stepped(a: Long, b: Long, step: Long): Vector[JEntry] = {
          if (step == 0)
            return one(JEntry(JNull, Vector("range step must be non-zero")))
          // span check BEFORE materializing; BigInt dodges Long overflow
          val span = (BigInt(b) - BigInt(a)) / BigInt(step)
          if (span > MaxRange)
            return one(JEntry(JNull, Vector("refusing to generate a range of more than 1000000 values")))
          val out = Vector.newBuilder[JEntry]
          var i = a
          while (if (step > 0) i < b else i > b) { out += JEntry.ok(JLong(i)); i += step }
          out.result()
        }
        (doc, env) => {
          val bounds = fs.map(f => firstOut(f, doc, env))
          bounds.collectFirst { case Left(m) => m } match {
            case Some(m) => one(JEntry(JNull, Vector(m)))
            case None =>
              val entries = bounds.map(_.toOption.get)
              entries.find(_.errors.nonEmpty) match {
                case Some(e) => one(JEntry(JNull, e.errors)) // propagate, don't type-check a placeholder
                case None => entries.map(_.doc) match {
                  case Seq(JLong(n))                     => stepped(0L, n, 1L)
                  case Seq(JLong(a), JLong(b))           => stepped(a, b, 1L)
                  case Seq(JLong(a), JLong(b), JLong(s)) => stepped(a, b, s)
                  case other => one(JEntry(JNull,
                    Vector(s"range bounds must be integers, got ${other.map(_.typeName).mkString(", ")}")))
                }
              }
          }
        }

      case "to_entries" =>
        // EXTENSION: object → [{"key": k, "value": v}, ...]
        overInput {
          case JObj(props) => Right(JArr(props.map { case (k, v) =>
            JObj.fromProps(Seq("key" -> JStr(k), "value" -> v))
          }))
          case other => Left(s"cannot convert ${other.typeName} to entries")
        }

      case "from_entries" =>
        // EXTENSION: inverse of to_entries; accepts jq's key/k/name and
        // value/v spellings, last key wins
        overInput {
          case JArr(items) =>
            var err: String = null
            val props = Vector.newBuilder[(String, JDoc)]
            val it = items.iterator
            while (err == null && it.hasNext) {
              it.next() match {
                case o: JObj =>
                  val key = Seq("key", "k", "name").flatMap(o.get).headOption
                  val value = Seq("value", "v").flatMap(o.get).headOption.getOrElse(JNull)
                  key match {
                    case Some(JStr(k)) => props += ((k, value))
                    case Some(other)   => err = s"entry key must be a string, got ${other.typeName}"
                    case None          => err = "entry object has no key field"
                  }
                case other => err = s"entries must be objects, got ${other.typeName}"
              }
            }
            if (err != null) Left(err) else Right(JObj.fromProps(props.result()))
          case other => Left(s"cannot build object from ${other.typeName}")
        }

      case "select" =>
        // EXTENSION (jq select): emit the INPUT once per truthy output of
        // the predicate — `if f then . else empty end` with fan-out
        if (args.length != 1) return wrongArity
        val fa = compiledArgs.head
        new Pipe {
          def apply(doc: JDoc, env: Env) = {
            val v = fa.value(doc, env)
            if (v != null) { if (JOps.truthy(v)) one(JEntry.ok(doc)) else Vector.empty }
            else breakFlatMap(fa(doc, env)) { e =>
              if (e.errors.nonEmpty) one(JEntry(JNull, e.errors))
              else if (JOps.truthy(e.doc)) one(JEntry.ok(doc))
              else Vector.empty
            }
          }
          override def values(doc: JDoc, env: Env, out: ValueBuf) = {
            // the predicate's outputs land on the tail; one `doc` replaces
            // them per truthy output
            val start = out.size
            fa.values(doc, env, out) && {
              var truthy = 0
              var i = start
              while (i < out.size) { if (JOps.truthy(out(i))) truthy += 1; i += 1 }
              out.truncate(start)
              while (truthy > 0) { out += doc; truthy -= 1 }
              true
            }
          }
        }

      case "test" if args.length == 2 =>
        // EXTENSION (jq test(re, flags)): "i" case-insensitive, "x"
        // comments; "g" is accepted and meaningless (test only asks IF a
        // match exists). ','-separated args like every call here.
        val fre = compiledArgs(0)
        val ffl = compiledArgs(1)
        (doc, env) => firstOut(fre, doc, env) match {
          case Left(m)                       => one(JEntry(JNull, Vector(m)))
          case Right(e) if e.errors.nonEmpty => one(JEntry(JNull, e.errors))
          case Right(e) => (doc, e.doc) match {
            case (JStr(s), JStr(re)) =>
              firstOut(ffl, doc, env) match {
                case Left(m)                        => one(JEntry(JNull, Vector(m)))
                case Right(fe) if fe.errors.nonEmpty => one(JEntry(JNull, fe.errors))
                case Right(fe) => fe.doc match {
                  case JStr(flags) =>
                    regexFlags("test", flags) match {
                      case Left(m) => one(JEntry(JNull, Vector(m)))
                      case Right((jf, _)) => // 'g' is a no-op: test is a single find
                        try one(JEntry.ok(JBool(
                          java.util.regex.Pattern.compile(re, jf).matcher(s).find())))
                        catch {
                          case e: java.util.regex.PatternSyntaxException =>
                            one(JEntry(JNull, Vector(s"invalid regex: ${e.getDescription}")))
                        }
                    }
                  case other => one(JEntry(JNull,
                    Vector(s"test flags must be a string, got ${other.typeName}")))
                }
              }
            case (JStr(_), other) => one(JEntry(JNull,
              Vector(s"test pattern must be a string, got ${other.typeName}")))
            case (other, _) => one(JEntry(JNull,
              Vector(s"cannot test ${other.typeName}")))
          }
        }

      case "test" =>
        // EXTENSION (jq test): regex find over a string input; a literal
        // pattern resolves ONCE at plan time on the driver — including a
        // literal pattern that does not compile, which becomes a constant
        // error entry instead of a per-row compile-throw-catch cycle
        if (args.length != 1) return wrongArity
        val preCompiled: Option[Either[String, java.util.regex.Pattern]] = args.head match {
          case Lit(JStr(re)) =>
            try Some(Right(java.util.regex.Pattern.compile(re)))
            catch {
              case e: java.util.regex.PatternSyntaxException =>
                Some(Left(s"invalid regex: ${e.getDescription}"))
            }
          case _ => None
        }
        val fa = compiledArgs.head
        (doc, env) => doc match {
          case JStr(s) =>
            preCompiled match {
              case Some(Right(p)) => one(JEntry.ok(JBool(p.matcher(s).find())))
              case Some(Left(msg)) => one(JEntry(JNull, Vector(msg)))
              case None =>
                firstOut(fa, doc, env) match {
                  case Left(msg) => one(JEntry(JNull, Vector(msg)))
                  case Right(re) if re.errors.nonEmpty => one(JEntry(JNull, re.errors))
                  case Right(re) => re.doc match {
                    case JStr(r) =>
                      try one(JEntry.ok(JBool(
                        java.util.regex.Pattern.compile(r).matcher(s).find())))
                      catch {
                        case e: java.util.regex.PatternSyntaxException =>
                          one(JEntry(JNull, Vector(s"invalid regex: ${e.getDescription}")))
                      }
                    case other => one(JEntry(JNull, Vector(s"test pattern must be a string, got ${other.typeName}")))
                  }
                }
            }
          case other => one(JEntry(JNull, Vector(s"cannot test ${other.typeName}")))
        }

      case "del" =>
        // EXTENSION (jq del(f) — and del(p1, p2, ...) since this dialect
        // separates call args with ','): delete the locations the
        // argument filters denote. A single static .key/.index chain
        // resolves at compile time; anything else goes through the
        // path-mode evaluator and deletes in DESCENDING path order
        // (delpaths' rule — earlier array deletions never shift the
        // indices of later ones)
        if (args.isEmpty) return wrongArity
        (if (args.length == 1) flattenPath(args.head) else None) match {
          case Some(segs) =>
            (doc, env) => JOps.removePath(doc, segs) match {
              case Right(out) => one(JEntry.ok(out))
              case Left(msg)  => one(JEntry(JNull, Vector(msg)))
            }
          case None =>
            val pfs = args.map(compilePath)
            (doc, env) => {
              val results = pfs.toVector.flatMap(pf => pf(doc, Vector.empty, env))
              results.collectFirst { case Left(m) => m } match {
                case Some(m) => one(JEntry(JNull, Vector(m)))
                case None =>
                  val paths = results.collect { case Right((p, _)) => JArr(p) }
                  if (paths.exists(_.items.isEmpty))
                    one(JEntry(JNull, Vector("del: cannot delete the root document")))
                  else {
                    val ordered = paths.distinct
                      .sortWith((a, b) => JOps.totalCmp(a, b) > 0)
                      .map(p => runtimeSegs(p).toOption.get) // built from JStr/JLong segs
                    var cur: Either[String, JDoc] = Right(doc)
                    ordered.foreach { segs => cur = cur.flatMap(d => JOps.removePath(d, segs)) }
                    cur match {
                      case Right(out) => one(JEntry.ok(out))
                      case Left(m)    => one(JEntry(JNull, Vector(m)))
                    }
                  }
              }
            }
        }

      case "join" =>
        // jq join: separator is the ARGUMENT, input is the array; scalar
        // elements stringify (null → ""), containers are an error
        if (args.length != 1) return wrongArity
        val fa = compiledArgs.head
        (doc, env) => firstOut(fa, doc, env) match {
          case Left(msg) => one(JEntry(JNull, Vector(msg)))
          case Right(sepE) => (sepE.doc, doc) match {
            case (JStr(sep), JArr(items)) =>
              val parts = items.map {
                case JStr(s) => Right(s)
                case JNull   => Right("")
                case s @ (_: JBool | _: JLong | _: JDouble) => Right(JsonText.canonical(s))
                case other   => Left(s"cannot join ${other.typeName}")
              }
              parts.collectFirst { case Left(m) => m } match {
                case Some(m) => one(JEntry(JNull, Vector(m)))
                case None    => one(JEntry.ok(JStr(parts.map(_.toOption.get).mkString(sep))))
              }
            case (_: JStr, other) => one(JEntry(JNull, Vector(s"cannot join ${other.typeName}")))
            case (other, _)       => one(JEntry(JNull, Vector(s"join separator must be a string, got ${other.typeName}")))
          }
        }

      case "sort_by" | "unique_by" | "group_by" | "min_by" | "max_by" =>
        // EXTENSION (jq's *_by family): the sort key of element x is the
        // array of ALL outputs of f on x (jq collects the argument's full
        // stream). The sort is STABLE (TimSort under Ordering), so: group
        // members keep input order, min_by returns the FIRST minimal
        // element, max_by the LAST maximal one (jq's sort-then-.[0]/.[-1]
        // tie-breaking), and unique_by keeps the first of each key run.
        // totalCmp, NOT cmp — same NaN-safety note as `sort`.
        if (args.length != 1) return wrongArity
        val fa = compiledArgs.head
        def keyed(items: Vector[JDoc], env: Env): Either[Vector[String], Vector[(JDoc, JDoc)]] = {
          val out = Vector.newBuilder[(JDoc, JDoc)]
          items.foreach { item =>
            val v = fa.value(item, env)
            if (v != null) out += ((JArr(Vector.empty :+ v), item))
            else {
              val entries = fa(item, env)
              entries.find(_.errors.nonEmpty) match {
                case Some(e) => return Left(e.errors)
                case None    => out += ((JArr(entries.map(_.doc)), item))
              }
            }
          }
          Right(out.result())
        }
        val byKey: Ordering[(JDoc, JDoc)] =
          (a, b) => JOps.totalCmp(a._1, b._1)
        def ordered(kv: Vector[(JDoc, JDoc)]): JDoc = {
          val sorted = kv.sorted(byKey)
          name match {
            case "sort_by" => JArr(sorted.map(_._2))
            case "unique_by" =>
              val out = sorted.foldLeft(Vector.empty[(JDoc, JDoc)]) { (acc, d) =>
                if (acc.nonEmpty && JOps.totalCmp(acc.last._1, d._1) == 0) acc
                else acc :+ d
              }
              JArr(out.map(_._2))
            case "group_by" =>
              val groups = Vector.newBuilder[JDoc]
              var cur = Vector.empty[JDoc]
              var curKey: Option[JDoc] = None
              sorted.foreach { case (k, v) =>
                curKey match {
                  case Some(ck) if JOps.totalCmp(ck, k) == 0 => cur :+= v
                  case Some(_) => groups += JArr(cur); cur = Vector(v); curKey = Some(k)
                  case None    => cur = Vector(v); curKey = Some(k)
                }
              }
              if (curKey.isDefined) groups += JArr(cur)
              JArr(groups.result())
            case "min_by" => sorted.headOption.map(_._2).getOrElse(JNull)
            case _        => sorted.lastOption.map(_._2).getOrElse(JNull) // max_by
          }
        }
        new Pipe {
          def apply(doc: JDoc, env: Env) = doc match {
            case JArr(items) =>
              keyed(items, env) match {
                case Left(errs) => one(JEntry(JNull, errs))
                case Right(kv)  => one(JEntry.ok(ordered(kv)))
              }
            case other => one(JEntry(JNull, Vector(s"cannot $name over ${other.typeName}")))
          }
          override def value(doc: JDoc, env: Env): JDoc = doc match {
            case JArr(items) =>
              // each key from the argument's value stream
              val kv = Vector.newBuilder[(JDoc, JDoc)]
              val keys = new ValueBuf
              val it = items.iterator
              while (it.hasNext) {
                val item = it.next()
                val v = fa.value(item, env)
                if (v != null) kv += ((JArr(Vector.empty :+ v), item))
                else {
                  keys.truncate(0)
                  if (!fa.values(item, env, keys)) return null
                  kv += ((JArr(keys.toVector), item))
                }
              }
              ordered(kv.result())
            case _ => null
          }
        }

      case "flatten" =>
        // EXTENSION (jq): flatten nested arrays. The optional argument is
        // the DEPTH (jq's flatten(2)), a deliberate exception to the
        // arg-selects-input convention — join/getpath set the precedent of
        // jq-faithful argument meaning. No argument = fully flat.
        if (args.length > 1) return wrongArity
        val fa = compiledArgs.headOption
        (doc, env) => {
          val depthE: Either[Vector[String], Long] = fa match {
            case None => Right(Long.MaxValue)
            case Some(f) => firstOut(f, doc, env) match {
              case Left(m)                       => Left(Vector(m))
              case Right(e) if e.errors.nonEmpty => Left(e.errors)
              case Right(e) => e.doc match {
                case JLong(v) if v >= 0 => Right(v)
                case other => Left(Vector(s"flatten depth must be a non-negative integer, got ${JsonText.canonical(other)}"))
              }
            }
          }
          (depthE, doc) match {
            case (Left(errs), _) => one(JEntry(JNull, errs))
            case (Right(d), JArr(items)) =>
              def flat(xs: Vector[JDoc], d: Long): Vector[JDoc] =
                xs.flatMap {
                  case JArr(inner) if d > 0 => flat(inner, d - 1)
                  case x                    => Vector(x)
                }
              one(JEntry.ok(JArr(flat(items, d))))
            case (_, other) => one(JEntry(JNull, Vector(s"cannot flatten ${other.typeName}")))
          }
        }

      case "path" =>
        // EXTENSION (jq path(f) — and path(p1, p2, ...) since this
        // dialect separates call args with ',', like del): the path
        // arrays the argument filters denote, via the path-mode
        // compiler — the runtime companion of paths/getpath/setpath/
        // delpaths
        if (args.isEmpty) return wrongArity
        val pfs = args.map(compilePath)
        (doc, env) => pfs.toVector.flatMap(pf => pf(doc, Vector.empty, env).map {
          case Right((p, _)) => JEntry.ok(JArr(p))
          case Left(m)       => JEntry(JNull, Vector(m))
        })

      case "paths" if args.length == 1 =>
        // EXTENSION (jq paths(f)): pre-order subpaths (root excluded)
        // whose VALUE satisfies f — any truthy output selects, an erroring
        // selector surfaces as an error entry
        val fsel = compiledArgs.head
        (doc, env) => {
          val out = Vector.newBuilder[JEntry]
          def walk(d: JDoc, p: Vector[JDoc]): Unit = {
            if (p.nonEmpty) {
              val outs = fsel(d, env)
              outs.collectFirst { case e if e.errors.nonEmpty => e } match {
                case Some(e) => out += e
                case None    => if (outs.exists(e => JOps.truthy(e.doc))) out += JEntry.ok(JArr(p))
              }
            }
            d match {
              case JArr(items) =>
                var i = 0
                while (i < items.length) { walk(items(i), p :+ JLong(i.toLong)); i += 1 }
              case o: JObj     => o.props.foreach { case (k, c) => walk(c, p :+ JStr(k)) }
              case _           =>
            }
          }
          walk(doc, Vector.empty)
          out.result()
        }

      case "paths" | "leaf_paths" =>
        val leavesOnly = name == "leaf_paths"
        // EXTENSION (jq): one path array per sub-value, pre-order, root
        // excluded; object fields visited in document (canonical) order —
        // the same traversal `..` uses, but emitting paths not values
        def walk(d: JDoc, path: Vector[JDoc], emit: JDoc => Unit): Unit = {
          val leaf = d match {
            case _: JArr | _: JObj => false
            case _                 => true
          }
          if (path.nonEmpty && (!leavesOnly || leaf)) emit(JArr(path))
          d match {
            case JArr(items) =>
              var i = 0
              while (i < items.length) { walk(items(i), path :+ JLong(i.toLong), emit); i += 1 }
            case JObj(props) =>
              props.foreach { case (k, v) => walk(v, path :+ JStr(k), emit) }
            case _ => ()
          }
        }
        new Pipe {
          def apply(doc: JDoc, env: Env) = breakFlatMap(inputFor(doc, env)) { e =>
            if (e.errors.nonEmpty) one(e)
            else {
              val out = Vector.newBuilder[JEntry]
              walk(e.doc, Vector.empty, p => out += JEntry.ok(p))
              out.result()
            }
          }
          // over `.` only: an argument selecting the input keeps the general form
          override def values(doc: JDoc, env: Env, out: ValueBuf) =
            compiledArgs.isEmpty && { walk(doc, Vector.empty, out += _); true }
        }

      case "getpath" =>
        // EXTENSION (jq): navigate by a path ARRAY (the runtime companion
        // of the static .a.b chain); missing / non-navigable steps yield
        // null, matching jq's "elements that do not exist" contract
        if (args.length != 1) return wrongArity
        withArgValue(compiledArgs.head) { (doc, pathDoc) =>
          pathDoc match {
            case JArr(segs) =>
              var cur: JDoc = doc
              var alive = true
              segs.foreach { seg =>
                if (alive) (cur, seg) match {
                  case (JObj(props), JStr(k)) =>
                    props.find(_._1 == k) match {
                      case Some((_, v)) => cur = v
                      case None         => alive = false
                    }
                  case (JArr(items), JLong(i)) =>
                    val idx = if (i < 0) items.length + i else i
                    if (idx >= 0 && idx < items.length) cur = items(idx.toInt)
                    else alive = false
                  case _ => alive = false
                }
              }
              one(JEntry.ok(if (alive) cur else JNull))
            case other =>
              one(JEntry(JNull, Vector(s"getpath path must be an array, got ${other.typeName}")))
          }
        }

      case "sub" | "gsub" =>
        // EXTENSION (jq sub/gsub — ','-separated args, optional third
        // flags arg like test/splits): regex replace, first match / all
        // matches. The replacement is a jq FILTER evaluated per match
        // against the CAPTURE OBJECT ({name: captured-or-null} for the
        // pattern's literal (?<name>...) groups), jq's rule — so
        // gsub("(?<h>\\d+)", "[\(.h)]") interpolates captures. FIRST
        // replacement output per match (the map convention; jq fans out
        // every combination — pinned simplification). A literal pattern
        // resolves once at plan time like test().
        if (args.length < 2 || args.length > 3)
          return (_, _) => one(JEntry(JNull, Vector(s"$name takes 2-3 args, got ${args.length}")))
        // gsub is always global; sub("…"; rep; "g") ALSO goes global — jq's
        // rule, and consistent with match/scan honoring 'g' (ADVICE r5).
        val baseGlobal = name == "gsub"
        val preCompiled: Option[Either[String, (java.util.regex.Pattern, Vector[Option[String]])]] =
          (args.head, args.lift(2)) match {
            case (Lit(JStr(re)), None) =>
              try Some(Right((java.util.regex.Pattern.compile(re), regexGroupNames(re))))
              catch {
                case e: java.util.regex.PatternSyntaxException =>
                  Some(Left(s"invalid regex: ${e.getDescription}"))
              }
            case _ => None
          }
        val fre = compiledArgs(0)
        val frep = compiledArgs(1)
        val fflags3 = compiledArgs.lift(2)
        (doc, env) => doc match {
          case JStr(s) =>
            val patE: Either[String, (java.util.regex.Pattern, Vector[Option[String]], Boolean)] =
              preCompiled match {
                case Some(x) => x.map { case (p, names) => (p, names, baseGlobal) }
                case None => firstOut(fre, doc, env) match {
                  case Left(m)                       => Left(m)
                  case Right(e) if e.errors.nonEmpty => Left(e.errors.mkString("; "))
                  case Right(e) => e.doc match {
                    case JStr(r) =>
                      val flagsE: Either[String, (Int, Boolean)] = fflags3 match {
                        case None => Right((0, false))
                        case Some(ff) => firstOut(ff, doc, env) match {
                          case Left(m)                        => Left(m)
                          case Right(fe) if fe.errors.nonEmpty => Left(fe.errors.mkString("; "))
                          case Right(fe) => fe.doc match {
                            case JStr(flags) => regexFlags(name, flags)
                            case other => Left(s"$name flags must be a string, got ${other.typeName}")
                          }
                        }
                      }
                      flagsE.flatMap { case (jf, gflag) =>
                        try Right((java.util.regex.Pattern.compile(r, jf), regexGroupNames(r),
                          baseGlobal || gflag))
                        catch {
                          case ex: java.util.regex.PatternSyntaxException =>
                            Left(s"invalid regex: ${ex.getDescription}")
                        }
                      }
                    case other => Left(s"$name pattern must be a string, got ${other.typeName}")
                  }
                }
              }
            patE match {
              case Left(m) => one(JEntry(JNull, Vector(m)))
              case Right((p, names, global)) =>
                val m = p.matcher(s)
                val sb = new java.lang.StringBuilder
                var last = 0
                var search = 0
                var stop = false
                var err: String = null
                while (!stop && err == null && search <= s.length && m.find(search)) {
                  val capObj = JObj.fromProps(
                    names.zipWithIndex.collect { case (Some(nm), idx) =>
                      nm -> (if (m.group(idx + 1) == null) JNull: JDoc else JStr(m.group(idx + 1)))
                    }.toList)
                  frep(capObj, env).headOption match {
                    case None => err = s"$name replacement produced no output"
                    case Some(re2) if re2.errors.nonEmpty => err = re2.errors.head
                    case Some(re2) => re2.doc match {
                      case JStr(rep) =>
                        sb.append(s, last, m.start()).append(rep)
                        last = m.end()
                        if (m.end() == m.start()) {
                          // zero-width match: carry one char, step forward
                          if (m.start() < s.length) { sb.append(s.charAt(m.start())); last = m.start() + 1 }
                          search = m.end() + 1
                        } else search = m.end()
                        if (!global) stop = true
                      case other => err = s"$name replacement must be a string, got ${other.typeName}"
                    }
                  }
                }
                if (err != null) one(JEntry(JNull, Vector(err)))
                else {
                  sb.append(s, last, s.length)
                  one(JEntry.ok(JStr(sb.toString)))
                }
            }
          case other => one(JEntry(JNull, Vector(s"cannot $name over ${other.typeName}")))
        }

      case "splits" =>
        // EXTENSION (jq splits): REGEX split as a stream of parts (the
        // literal-separator `split` returns an array; this is its regex
        // sibling with jq's stream shape). Trailing empty parts kept
        // (limit -1), matching split's byte-faithful behavior. Optional
        // second arg = flags ("i" case-insensitive, "x" comments), same
        // dialect as test(re, flags).
        if (args.isEmpty || args.length > 2) return wrongArity
        val fre = compiledArgs.head
        val ffl = compiledArgs.lift(1)
        (doc, env) => doc match {
          case JStr(s) => firstOut(fre, doc, env) match {
            case Left(m)                       => one(JEntry(JNull, Vector(m)))
            case Right(e) if e.errors.nonEmpty => one(JEntry(JNull, e.errors))
            case Right(e) => e.doc match {
              case JStr(re) =>
                val flagsE: Either[Vector[String], Int] = ffl match {
                  case None => Right(0)
                  case Some(ff) => firstOut(ff, doc, env) match {
                    case Left(m)                        => Left(Vector(m))
                    case Right(fe) if fe.errors.nonEmpty => Left(fe.errors)
                    case Right(fe) => fe.doc match {
                      case JStr(flags) =>
                        // 'g' is a no-op: splitting is inherently global
                        regexFlags("splits", flags).left.map(Vector(_)).map(_._1)
                      case other => Left(Vector(s"splits flags must be a string, got ${other.typeName}"))
                    }
                  }
                }
                flagsE match {
                  case Left(errs) => one(JEntry(JNull, errs))
                  case Right(jf) =>
                    try java.util.regex.Pattern.compile(re, jf).split(s, -1).toVector
                      .map(p => JEntry.ok(JStr(p)))
                    catch {
                      case ex: java.util.regex.PatternSyntaxException =>
                        one(JEntry(JNull, Vector(s"invalid regex: ${ex.getDescription}")))
                    }
                }
              case other => one(JEntry(JNull, Vector(s"splits pattern must be a string, got ${other.typeName}")))
            }
          }
          case other => one(JEntry(JNull, Vector(s"cannot splits ${other.typeName}")))
        }

      case "capture" =>
        // EXTENSION (jq capture): named groups of the FIRST regex match as
        // an object (unmatched optional groups → null); no match → empty
        // stream. Group names are read from the pattern text (Java exposes
        // no API for them), so only literal `(?<name>...)` groups surface.
        if (args.length != 1) return wrongArity
        val groupNameRe = "\\(\\?<([a-zA-Z][a-zA-Z0-9]*)>".r
        val fre = compiledArgs.head
        def run(s: String, re: String): Vector[JEntry] =
          try {
            val p = java.util.regex.Pattern.compile(re)
            val names = groupNameRe.findAllMatchIn(re).map(_.group(1)).toList
            val m = p.matcher(s)
            if (!m.find()) Vector.empty
            else one(JEntry.ok(JObj.fromProps(names.map { n =>
              n -> Option(m.group(n)).map(JStr(_): JDoc).getOrElse(JNull)
            })))
          } catch {
            case e: java.util.regex.PatternSyntaxException =>
              one(JEntry(JNull, Vector(s"invalid regex: ${e.getDescription}")))
          }
        (doc, env) => doc match {
          case JStr(s) => firstOut(fre, doc, env) match {
            case Left(m)                       => one(JEntry(JNull, Vector(m)))
            case Right(e) if e.errors.nonEmpty => one(JEntry(JNull, e.errors))
            case Right(e) => e.doc match {
              case JStr(re) => run(s, re)
              case other    => one(JEntry(JNull, Vector(s"capture pattern must be a string, got ${other.typeName}")))
            }
          }
          case other => one(JEntry(JNull, Vector(s"cannot capture over ${other.typeName}")))
        }

      case "implode" =>
        // EXTENSION (jq implode): codepoint array → string, the inverse
        // of `chars`; invalid codepoints (surrogates, out of range) are
        // error entries
        overInput {
          case JArr(items) =>
            val sb = new java.lang.StringBuilder
            var bad: Option[String] = None
            items.foreach {
              case JLong(cp) if bad.isEmpty =>
                if (cp >= 0 && cp <= 0x10FFFF && !(cp >= 0xD800 && cp <= 0xDFFF))
                  sb.appendCodePoint(cp.toInt)
                else bad = Some(s"invalid codepoint $cp")
              case other if bad.isEmpty => bad = Some(s"codepoint must be an integer, got ${other.typeName}")
              case _ => ()
            }
            bad.toLeft(JStr(sb.toString))
          case other => Left(s"cannot implode ${other.typeName}")
        }

      case "limit" =>
        // EXTENSION (jq limit(n; f) — ','-separated here): first n
        // outputs of the filter
        if (args.length != 2)
          return (_, _) => one(JEntry(JNull, Vector(s"limit takes 2 args, got ${args.length}")))
        val fn = compiledArgs(0)
        val ff = compiledArgs(1)
        (doc, env) => firstOut(fn, doc, env) match {
          case Left(m)                       => one(JEntry(JNull, Vector(m)))
          case Right(e) if e.errors.nonEmpty => one(JEntry(JNull, e.errors))
          case Right(e) => e.doc match {
            case JLong(n) if n >= 0 => ff(doc, env).take(math.min(n, Int.MaxValue).toInt)
            case other =>
              one(JEntry(JNull, Vector(s"limit count must be a non-negative integer, got ${JsonText.canonical(other)}")))
          }
        }

      case "while" | "until" =>
        // EXTENSION (jq loops, first-output update — multi-output update
        // fan-out is jq's tree recursion, deliberately simplified to the
        // first output and documented): while emits every value for which
        // cond holds; until applies update until cond holds and emits the
        // final value. Capped like range — a divergent loop must be an
        // error entry, never a hang.
        if (args.length != 2)
          return (_, _) => one(JEntry(JNull, Vector(s"$name takes 2 args, got ${args.length}")))
        val fc = compiledArgs(0)
        val fu = compiledArgs(1)
        val isWhile = name == "while"
        val MaxIters = 100000
        (doc, env) => {
          val out = Vector.newBuilder[JEntry]
          var cur = doc
          var iters = 0
          var done = false
          var result: Vector[JEntry] = null
          while (!done) {
            if (iters > MaxIters) {
              result = one(JEntry(JNull, Vector(s"$name exceeded $MaxIters iterations")))
              done = true
            } else firstOut(fc, cur, env) match {
              case Left(m)                       => result = one(JEntry(JNull, Vector(m))); done = true
              case Right(e) if e.errors.nonEmpty => result = one(JEntry(JNull, e.errors)); done = true
              case Right(e) =>
                val condTrue = JOps.truthy(e.doc)
                if (isWhile && !condTrue) { result = out.result(); done = true }
                else if (!isWhile && condTrue) { result = one(JEntry.ok(cur)); done = true }
                else {
                  if (isWhile) out += JEntry.ok(cur)
                  firstOut(fu, cur, env) match {
                    case Left(m)                        => result = one(JEntry(JNull, Vector(m))); done = true
                    case Right(u) if u.errors.nonEmpty  => result = one(JEntry(JNull, u.errors)); done = true
                    case Right(u)                       => cur = u.doc; iters += 1
                  }
                }
            }
          }
          result
        }

      case "setpath" =>
        // EXTENSION (jq setpath(p; v)): set at a RUNTIME path array — the
        // dynamic companion of the static `.a.b = v`; missing containers
        // are created, arrays pad (JOps.setPath)
        if (args.length != 2)
          return (_, _) => one(JEntry(JNull, Vector(s"setpath takes 2 args, got ${args.length}")))
        val fp = compiledArgs(0)
        val fv = compiledArgs(1)
        (doc, env) => (firstOut(fp, doc, env), firstOut(fv, doc, env)) match {
          case (Left(m), _) => one(JEntry(JNull, Vector(m)))
          case (_, Left(m)) => one(JEntry(JNull, Vector(m)))
          case (Right(pe), _) if pe.errors.nonEmpty => one(JEntry(JNull, pe.errors))
          case (_, Right(ve)) if ve.errors.nonEmpty => one(JEntry(JNull, ve.errors))
          case (Right(pe), Right(ve)) =>
            runtimeSegs(pe.doc) match {
              case Left(m) => one(JEntry(JNull, Vector(m)))
              case Right(segs) => JOps.setPath(doc, segs, ve.doc) match {
                case Right(out) => one(JEntry.ok(out))
                case Left(m)    => one(JEntry(JNull, Vector(m)))
              }
            }
        }

      case "delpaths" =>
        // EXTENSION (jq delpaths): delete several runtime paths; applied
        // in DESCENDING path order so earlier array deletions never shift
        // the indices of later ones (jq's own rule)
        if (args.length != 1) return wrongArity
        withArgValue(compiledArgs.head) { (doc, pathsDoc) =>
          pathsDoc match {
            case JArr(paths) =>
              val segsE = paths.map(runtimeSegs)
              segsE.collectFirst { case Left(m) => m } match {
                case Some(m) => one(JEntry(JNull, Vector(m)))
                case None =>
                  val ordered = paths.zip(segsE.map(_.toOption.get))
                    .sortWith((a, b) => JOps.totalCmp(a._1, b._1) > 0).map(_._2)
                  var cur: Either[String, JDoc] = Right(doc)
                  ordered.foreach { segs =>
                    cur = cur.flatMap(d => JOps.removePath(d, segs))
                  }
                  cur match {
                    case Right(out) => one(JEntry.ok(out))
                    case Left(m)    => one(JEntry(JNull, Vector(m)))
                  }
              }
            case other =>
              one(JEntry(JNull, Vector(s"delpaths takes an array of paths, got ${other.typeName}")))
          }
        }

      case "tostream" =>
        // EXTENSION (jq tostream): depth-first stream of [path, leaf]
        // events plus a [path-to-last-child] CLOSING event after each
        // non-empty container (jq's wire form for streaming/diffing).
        // Empty containers and scalars are leaves; a top-level scalar is
        // [[], value].
        (doc, env) => breakFlatMap(inputFor(doc, env)) { e =>
          if (e.errors.nonEmpty) one(e)
          else {
            val out = Vector.newBuilder[JEntry]
            def walk(d: JDoc, path: Vector[JDoc]): Unit = {
              val children: Vector[(JDoc, JDoc)] = d match {
                case JArr(items) => Vector.tabulate(items.length)(i => (JLong(i.toLong): JDoc, items(i)))
                case JObj(props) => props.toVector.map { case (k, v) => (JStr(k): JDoc, v) }
                case _           => Vector.empty
              }
              d match {
                case (_: JArr | _: JObj) if children.nonEmpty =>
                  children.foreach { case (k, v) => walk(v, path :+ k) }
                  out += JEntry.ok(JArr(Vector(JArr(path :+ children.last._1))))
                case _ =>
                  out += JEntry.ok(JArr(Vector(JArr(path), d)))
              }
            }
            walk(e.doc, Vector.empty)
            out.result()
          }
        }

      case "fromstream" =>
        // EXTENSION (jq fromstream, dialect adaptation: the input is the
        // COLLECTED event array — `[tostream] | fromstream` round-trips —
        // because builtins here take values, not generator arguments).
        // Leaf events setpath into the accumulator; closing events are
        // skipped; a root leaf ([[], v]) replaces the accumulator.
        overInput {
          case JArr(events) =>
            var acc: JDoc = JNull
            var bad: Option[String] = None
            events.foreach {
              case JArr(Vector(JArr(path), value)) if bad.isEmpty =>
                if (path.isEmpty) acc = value
                else runtimeSegs(JArr(path)) match {
                  case Left(m) => bad = Some(m)
                  case Right(segs) => JOps.setPath(acc, segs, value) match {
                    case Right(next) => acc = next
                    case Left(m)     => bad = Some(m)
                  }
                }
              case JArr(Vector(JArr(_))) => () // closing event
              case other if bad.isEmpty =>
                bad = Some(s"invalid stream event ${JsonText.canonical(other)}")
              case _ => ()
            }
            bad.toLeft(acc)
          case other => Left(s"fromstream takes an event array, got ${other.typeName}")
        }

      case "not" =>
        // EXTENSION (jq `| not`): truthiness negation as a builtin — the
        // pipe-position form of the `!` operator
        overInput(d => Right(JOps.not(d)))

      case "error" =>
        // EXTENSION (jq error): raise a custom error-as-data. With an
        // argument, the message is its first output; bare `error` uses
        // the input string — data-validation pipelines branch on it like
        // any other error entry
        if (args.length > 1) return wrongArity
        if (args.isEmpty) {
          (doc, _) => doc match {
            case JStr(s) => one(JEntry(JNull, Vector(s)))
            case d       => one(JEntry(JNull, Vector(JsonText.canonical(d))))
          }
        } else {
          val fa = compiledArgs.head
          (doc, env) => firstOut(fa, doc, env) match {
            case Left(m)                       => one(JEntry(JNull, Vector(m)))
            case Right(e) if e.errors.nonEmpty => one(JEntry(JNull, e.errors))
            case Right(e) => e.doc match {
              case JStr(s) => one(JEntry(JNull, Vector(s)))
              case d       => one(JEntry(JNull, Vector(JsonText.canonical(d))))
            }
          }
        }

      case "todate" =>
        // EXTENSION (jq todate): epoch SECONDS → ISO-8601 UTC
        // ("2015-03-05T23:51:47Z"); fractional input truncates toward
        // zero like jq's integer output
        overInput {
          case JLong(n) => Right(JStr(
            java.time.format.DateTimeFormatter.ISO_INSTANT.format(
              java.time.Instant.ofEpochSecond(n))))
          case JDouble(x) if !x.isNaN && !x.isInfinite => Right(JStr(
            java.time.format.DateTimeFormatter.ISO_INSTANT.format(
              java.time.Instant.ofEpochSecond(x.toLong))))
          case other => Left(s"todate requires a number, got ${other.typeName}")
        }

      case "fromdate" =>
        // EXTENSION (jq fromdate): ISO-8601 UTC → epoch seconds
        overInput {
          case JStr(s) =>
            try Right(JLong(java.time.Instant.from(
              java.time.format.DateTimeFormatter.ISO_INSTANT.parse(s)).getEpochSecond))
            catch {
              case _: java.time.format.DateTimeParseException =>
                Left(s"fromdate cannot parse '$s' as ISO-8601")
            }
          case other => Left(s"fromdate requires a string, got ${other.typeName}")
        }

      case "gmtime" =>
        // EXTENSION (jq gmtime): epoch seconds → broken-down UTC time in
        // jq's field order [year, month 0-11, day, hour, minute, second,
        // weekday (Sunday=0), yearday 0-365]
        overInput {
          case JLong(n) =>
            val t = java.time.Instant.ofEpochSecond(n).atOffset(java.time.ZoneOffset.UTC)
            Right(JArr(Vector[JDoc](
              JLong(t.getYear.toLong), JLong((t.getMonthValue - 1).toLong),
              JLong(t.getDayOfMonth.toLong), JLong(t.getHour.toLong),
              JLong(t.getMinute.toLong), JLong(t.getSecond.toLong),
              JLong((t.getDayOfWeek.getValue % 7).toLong), // ISO Mon=1..Sun=7 → Sun=0
              JLong((t.getDayOfYear - 1).toLong))))
          case other => Left(s"gmtime requires a number, got ${other.typeName}")
        }

      case "mktime" =>
        // EXTENSION (jq mktime): gmtime's array back to epoch seconds;
        // fields past the first six are ignored (weekday/yearday are
        // derived, jq does the same)
        overInput {
          case JArr(fs) if fs.length >= 6 && fs.forall(_.isInstanceOf[JLong]) =>
            val v = fs.map(_.asInstanceOf[JLong].v.toInt)
            try Right(JLong(java.time.LocalDateTime
              .of(v(0), v(1) + 1, v(2), v(3), v(4), v(5))
              .toEpochSecond(java.time.ZoneOffset.UTC)))
            catch {
              case e: java.time.DateTimeException => Left(s"mktime: ${e.getMessage}")
            }
          case JArr(_) => Left("mktime requires at least 6 integer fields")
          case other   => Left(s"mktime requires an array, got ${other.typeName}")
        }

      case "strftime" =>
        // EXTENSION (jq strftime): epoch-seconds input formatted with a
        // C-style pattern — the documented subset %Y %m %d %e %H %M %S
        // %j %Z %%; an unknown specifier is an error entry, not silent
        // passthrough (a formatting bug should not hash-match anything)
        if (args.length != 1) return wrongArity
        withArgValue(compiledArgs.head) { (doc, fmtDoc) =>
          (doc, fmtDoc) match {
            case (JLong(n), JStr(fmt)) =>
              val t = java.time.Instant.ofEpochSecond(n).atOffset(java.time.ZoneOffset.UTC)
              val sb = new java.lang.StringBuilder
              var i = 0
              var err: String = null
              while (i < fmt.length && err == null) {
                val c = fmt.charAt(i)
                if (c != '%' || i + 1 >= fmt.length) { sb.append(c); i += 1 }
                else {
                  fmt.charAt(i + 1) match {
                    case 'Y' => sb.append(t.getYear)
                    case 'm' => sb.append(f"${t.getMonthValue}%02d")
                    case 'd' => sb.append(f"${t.getDayOfMonth}%02d")
                    case 'e' => sb.append(f"${t.getDayOfMonth}%2d")
                    case 'H' => sb.append(f"${t.getHour}%02d")
                    case 'M' => sb.append(f"${t.getMinute}%02d")
                    case 'S' => sb.append(f"${t.getSecond}%02d")
                    case 'j' => sb.append(f"${t.getDayOfYear}%03d")
                    case 'Z' => sb.append("UTC")
                    case '%' => sb.append('%')
                    case o   => err = s"strftime: unsupported specifier %$o"
                  }
                  i += 2
                }
              }
              if (err != null) one(JEntry(JNull, Vector(err)))
              else one(JEntry.ok(JStr(sb.toString)))
            case (JLong(_), other) =>
              one(JEntry(JNull, Vector(s"strftime format must be a string, got ${other.typeName}")))
            case (other, _) =>
              one(JEntry(JNull, Vector(s"strftime requires a number, got ${other.typeName}")))
          }
        }

      case "trim" | "ltrim" | "rtrim" =>
        // EXTENSION (jq 1.7): whitespace trim
        overInput {
          case JStr(s) => Right(JStr(name match {
            case "trim"  => s.strip()
            case "ltrim" => s.stripLeading()
            case _       => s.stripTrailing()
          }))
          case other => Left(s"cannot $name ${other.typeName}")
        }

      case "nan"      => overInput(_ => Right(JDouble(Double.NaN)))
      case "infinite" => overInput(_ => Right(JDouble(Double.PositiveInfinity)))
      case "isnan" => overInput {
        case JDouble(v) => Right(JBool(v.isNaN))
        case _: JLong   => Right(JBool(false))
        case other      => Left(s"isnan requires a number, got ${other.typeName}")
      }
      case "isinfinite" => overInput {
        case JDouble(v) => Right(JBool(v.isInfinite))
        case _: JLong   => Right(JBool(false))
        case other      => Left(s"isinfinite requires a number, got ${other.typeName}")
      }

      case "@text" => overInput {
        case s: JStr => Right(s)
        case d       => Right(JStr(JsonText.canonical(d)))
      }

      case "@json" => overInput(d => Right(JStr(JsonText.canonical(d))))

      case "@sh" =>
        // EXTENSION (jq @sh): POSIX-shell quoting — strings single-quoted
        // with the '\'' escape, other scalars canonical, arrays
        // space-joined; containers inside are an error (jq's rule)
        overInput { d =>
          def q(x: JDoc): Either[String, String] = x match {
            case JStr(s) => Right("'" + s.replace("'", "'\\''") + "'")
            case JNull | _: JBool | _: JLong | _: JDouble => Right(JsonText.canonical(x))
            case other => Left(s"@sh cannot format ${other.typeName}")
          }
          d match {
            case JArr(items) =>
              val parts = items.map(q)
              parts.collectFirst { case Left(m) => m } match {
                case Some(m) => Left(m)
                case None    => Right(JStr(parts.map(_.toOption.get).mkString(" ")))
              }
            case other => q(other).map(JStr(_))
          }
        }

      case "@csv" | "@tsv" =>
        // EXTENSION (jq format strings): one delimited row from an array.
        // CSV: strings double-quoted with "" escaping; TSV: unquoted with
        // \t \n \r \\ escapes. Numbers/booleans render canonically,
        // null → empty field; containers are an error (jq's rule).
        val isCsv = name == "@csv"
        overInput {
          case JArr(items) =>
            val parts = items.map {
              case JStr(s) =>
                if (isCsv) Right("\"" + s.replace("\"", "\"\"") + "\"")
                else Right(s.replace("\\", "\\\\").replace("\t", "\\t")
                  .replace("\n", "\\n").replace("\r", "\\r"))
              case JNull => Right("")
              case d @ (_: JBool | _: JLong | _: JDouble) => Right(JsonText.canonical(d))
              case other => Left(s"$name cannot format ${other.typeName} fields")
            }
            parts.collectFirst { case Left(m) => m } match {
              case Some(m) => Left(m)
              case None => Right(JStr(parts.map(_.toOption.get)
                .mkString(if (isCsv) "," else "\t")))
            }
          case other => Left(s"$name requires an array, got ${other.typeName}")
        }

      case "@base64" => overInput {
        case JStr(s) => Right(JStr(java.util.Base64.getEncoder
          .encodeToString(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))))
        case other => Left(s"@base64 requires a string, got ${other.typeName}")
      }

      case "@base32" => overInput {
        case JStr(s) => Right(JStr(base32Encode(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))))
        case other => Left(s"@base32 requires a string, got ${other.typeName}")
      }

      case "@base32d" => overInput {
        case JStr(s) => base32Decode(s).map(b => JStr(new String(b, java.nio.charset.StandardCharsets.UTF_8)))
        case other => Left(s"@base32d requires a string, got ${other.typeName}")
      }

      case "@base64d" => overInput {
        case JStr(s) =>
          try Right(JStr(new String(java.util.Base64.getDecoder.decode(s),
            java.nio.charset.StandardCharsets.UTF_8)))
          catch { case _: IllegalArgumentException => Left("invalid base64") }
        case other => Left(s"@base64d requires a string, got ${other.typeName}")
      }

      case "@uri" => overInput {
        case JStr(s) =>
          // RFC 3986: unreserved chars pass through, everything else is
          // %XX over the UTF-8 bytes
          val sb = new java.lang.StringBuilder
          s.getBytes(java.nio.charset.StandardCharsets.UTF_8).foreach { b =>
            val c = b.toChar
            if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
                (c >= '0' && c <= '9') || c == '-' || c == '_' || c == '.' || c == '~')
              sb.append(c)
            else sb.append(f"%%${b & 0xFF}%02X")
          }
          Right(JStr(sb.toString))
        case other => Left(s"@uri requires a string, got ${other.typeName}")
      }

      case "@html" => overInput {
        case JStr(s) => Right(JStr(s.replace("&", "&amp;").replace("<", "&lt;")
          .replace(">", "&gt;").replace("'", "&#39;").replace("\"", "&quot;")))
        case other => Left(s"@html requires a string, got ${other.typeName}")
      }

      case "tojson" =>
        // differs from tostring exactly where jq's does: strings are
        // QUOTED/escaped ("a" → "\"a\"")
        overInput(d => Right(JStr(JsonText.canonical(d))))

      case "fromjson" =>
        overInput {
          case JStr(s) =>
            try Right(JsonText.parse(s))
            catch { case e: JsonText.JsonParseException => Left(s"fromjson: ${e.getMessage}") }
          case other => Left(s"cannot parse ${other.typeName} as json")
        }

      // ------------------------------------------------ type filters

      case "arrays" | "objects" | "booleans" | "numbers" | "strings" |
           "nulls" | "values" | "iterables" | "scalars" =>
        // EXTENSION (jq type filters): emit the input unchanged iff it has
        // the named type, else emit NOTHING — select semantics, not errors
        if (args.nonEmpty)
          return (_, _) => one(JEntry(JNull, Vector(s"$name takes no arguments")))
        (doc, env) => inputFor(doc, env).flatMap { e =>
          if (e.errors.nonEmpty) one(e)
          else {
            val keep = name match {
              case "arrays"    => e.doc.isInstanceOf[JArr]
              case "objects"   => e.doc.isInstanceOf[JObj]
              case "booleans"  => e.doc.isInstanceOf[JBool]
              case "numbers"   => e.doc.isInstanceOf[JLong] || e.doc.isInstanceOf[JDouble]
              case "strings"   => e.doc.isInstanceOf[JStr]
              case "nulls"     => e.doc == JNull
              case "values"    => e.doc != JNull
              case "iterables" => e.doc.isInstanceOf[JArr] || e.doc.isInstanceOf[JObj]
              case _           => !(e.doc.isInstanceOf[JArr] || e.doc.isInstanceOf[JObj]) // scalars
            }
            if (keep) one(e) else Vector.empty
          }
        }

      case "utf8bytelength" =>
        // EXTENSION (jq): explicit byte-length name. This dialect's `length`
        // is ALREADY byte length on strings (reference: src/json.rs string
        // length), so on strings the two agree; utf8bytelength additionally
        // rejects non-strings instead of dispatching on type.
        if (args.nonEmpty)
          return (_, _) => one(JEntry(JNull, Vector("utf8bytelength takes no arguments")))
        overInput {
          case JStr(s) => Right(JLong(s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong))
          case other   => Left(s"utf8bytelength requires a string, got ${other.typeName}")
        }

      case "combinations" =>
        // EXTENSION (jq): cartesian product of an array of arrays — one
        // output array per combination; [] input yields one [] output, an
        // empty inner array yields no outputs
        if (args.nonEmpty)
          return (_, _) => one(JEntry(JNull, Vector("combinations takes no arguments")))
        (doc, env) => inputFor(doc, env).flatMap { e =>
          if (e.errors.nonEmpty) one(e)
          else e.doc match {
            case JArr(xs) =>
              val inner = Vector.newBuilder[Vector[JDoc]]
              var err: String = null
              xs.foreach {
                case JArr(ys) => inner += ys
                case other    => if (err == null) err = s"combinations requires arrays, got ${other.typeName}"
              }
              if (err != null) one(JEntry(JNull, Vector(err)))
              else inner.result()
                .foldLeft(Vector(Vector.empty[JDoc])) { (acc, ys) =>
                  for { p <- acc; y <- ys } yield p :+ y
                }
                .map(c => JEntry.ok(JArr(c)))
            case other => one(JEntry(JNull, Vector(s"combinations requires an array, got ${other.typeName}")))
          }
        }

      case "with_entries" =>
        // EXTENSION (jq): to_entries | map(f) | from_entries — desugared at
        // compile time so the entry builtins carry the semantics
        if (args.length != 1) return wrongArity
        compile(Pipe(Call("to_entries", Nil),
          Pipe(Call("map", args), Call("from_entries", Nil))))

      // ------------------------------------------------ math builtins

      case "exp" | "exp2" | "exp10" | "log" | "log2" | "log10" | "fabs" | "trunc" =>
        // EXTENSION (jq math): always Float results (jq/C convention even
        // for integer inputs); log2 answers exact powers of two with the
        // exact integer exponent (as C log2 does) and the log-ratio
        // elsewhere — conformance pins only the exact cases, oracles never
        // hash transcendental outputs
        if (args.nonEmpty)
          return (_, _) => one(JEntry(JNull, Vector(s"$name takes no arguments")))
        overInput { d =>
          val vOpt = d match {
            case JLong(v)   => Some(v.toDouble)
            case JDouble(v) => Some(v)
            case _          => None
          }
          vOpt match {
            case None => Left(s"$name requires a number, got ${d.typeName}")
            case Some(v) =>
              val r = name match {
                case "exp"   => math.exp(v)
                case "exp2"  => math.pow(2.0, v)
                case "exp10" => math.pow(10.0, v)
                case "log"   => math.log(v)
                case "log10" => math.log10(v) // exact for 10^n by Math.log10 contract
                case "log2"  =>
                  val bits = java.lang.Double.doubleToLongBits(v)
                  val mant = bits & ((1L << 52) - 1)
                  val biased = (bits >>> 52) & 0x7ffL
                  if (v > 0 && mant == 0L && biased != 0L && biased != 0x7ffL)
                    biased.toDouble - 1023.0
                  else math.log(v) / 0.6931471805599453
                case "fabs"  => math.abs(v)
                case _       => if (v < 0) math.ceil(v) else math.floor(v) // trunc
              }
              Right(JDouble(r))
          }
        }

      case "pow" =>
        // EXTENSION (jq): pow(x; y) — ','-separated args in this dialect,
        // both evaluated against the input; Float result
        if (args.length != 2)
          return (_, _) => one(JEntry(JNull, Vector(s"pow takes 2 args, got ${args.length}")))
        val fx = compiledArgs(0)
        val fy = compiledArgs(1)
        (doc, env) => {
          def num(p: Pipe, which: String): Either[Vector[String], Double] =
            firstOut(p, doc, env) match {
              case Left(msg)                     => Left(Vector(msg))
              case Right(e) if e.errors.nonEmpty => Left(e.errors)
              case Right(e) => e.doc match {
                case JLong(v)   => Right(v.toDouble)
                case JDouble(v) => Right(v)
                case other      => Left(Vector(s"pow $which must be a number, got ${other.typeName}"))
              }
            }
          (num(fx, "base"), num(fy, "exponent")) match {
            case (Right(x), Right(y)) => one(JEntry.ok(JDouble(math.pow(x, y))))
            case (Left(errs), _)      => one(JEntry(JNull, errs))
            case (_, Left(errs))      => one(JEntry(JNull, errs))
          }
        }

      case "recurse" =>
        // EXTENSION (jq): bare `recurse` IS `..`; recurse(f) / recurse(f;
        // cond) expand strictly as `., (f | select(cond) | recurse)`. The
        // descent gate uses cond's FIRST output (documented simplification
        // of jq's select fan-out, conformance-pinned); a depth guard turns
        // runaway generators (`recurse(.+1)`) into an error entry rather
        // than a hung task — same policy as the user-def call-depth guard.
        if (args.isEmpty)
          (doc, env) => inputFor(doc, env).flatMap { e =>
            if (e.errors.nonEmpty) one(e) else JOps.recurse(e.doc).map(JEntry.ok)
          }
        else if (args.length <= 2) {
          val f = compiledArgs.head
          val condOpt = compiledArgs.lift(1)
          val MaxDepth = 512
          // NOTE: does NOT use inputFor — the argument is the descent
          // generator, not the input expression
          (doc, env) => {
            val out = Vector.newBuilder[JEntry]
            def go(d: JDoc, depth: Int): Unit = {
              out += JEntry.ok(d)
              if (depth >= MaxDepth) {
                out += JEntry(JNull, Vector(s"recurse: depth limit $MaxDepth exceeded"))
                return
              }
              f(d, env).foreach { e =>
                if (e.errors.nonEmpty) out += e
                else {
                  val descend = condOpt match {
                    case None => true
                    case Some(fc) => fc(e.doc, env).headOption match {
                      case Some(ce) if ce.errors.nonEmpty => out += ce; false
                      case Some(ce)                       => JOps.truthy(ce.doc)
                      case None                           => false
                    }
                  }
                  if (descend) go(e.doc, depth + 1)
                }
              }
            }
            go(doc, 0)
            out.result()
          }
        } else (_, _) => one(JEntry(JNull, Vector(s"recurse takes 0-2 args, got ${args.length}")))

      case "truncate_stream" =>
        // EXTENSION (jq truncate_stream, ','-separated args in this
        // dialect): drop the first n path segments from each [path, value]
        // stream event; events whose path is not longer than n vanish
        if (args.length != 2)
          return (_, _) => one(JEntry(JNull, Vector(s"truncate_stream takes 2 args, got ${args.length}")))
        val fn = compiledArgs.head
        val fs = compiledArgs(1)
        (doc, env) => firstOut(fn, doc, env) match {
          case Left(m)                       => one(JEntry(JNull, Vector(m)))
          case Right(e) if e.errors.nonEmpty => one(JEntry(JNull, e.errors))
          case Right(e) => e.doc match {
            case JLong(n) if n >= 0 =>
              fs(doc, env).flatMap { ev =>
                if (ev.errors.nonEmpty) Vector(ev)
                else ev.doc match {
                  case JArr(items) if items.nonEmpty =>
                    items.head match {
                      case JArr(path) =>
                        if (path.length > n)
                          one(JEntry.ok(JArr(JArr(path.drop(n.toInt)) +: items.tail)))
                        else Vector.empty
                      case other => one(JEntry(JNull,
                        Vector(s"truncate_stream: event path must be an array, got ${other.typeName}")))
                    }
                  case other => one(JEntry(JNull,
                    Vector(s"truncate_stream: events must be [path, value] arrays, got ${other.typeName}")))
                }
              }
            case other => one(JEntry(JNull,
              Vector(s"truncate_stream depth must be a non-negative number, got ${JsonText.canonical(other)}")))
          }
        }

      case "pick" =>
        // EXTENSION (jq 1.8 pick): the minimal document keeping only the
        // locations f denotes — reduce path(f) as $p (null;
        // setpath($p; $top | getpath($p))), built on the path-mode
        // compiler (the (path, value) pairs already carry the values)
        if (args.length != 1) return wrongArity
        val pf = compilePath(args.head)
        (doc, env) => {
          val results = pf(doc, Vector.empty, env)
          results.collectFirst { case Left(m) => m } match {
            case Some(m) => one(JEntry(JNull, Vector(m)))
            case None =>
              var acc: JDoc = JNull
              var err: String = null
              results.foreach {
                case Right((p, v)) if err == null =>
                  runtimeSegs(JArr(p)) match {
                    case Right(segs) => JOps.setPath(acc, segs, v) match {
                      case Right(nd) => acc = nd
                      case Left(m)   => err = m
                    }
                    case Left(m) => err = m
                  }
                case _ =>
              }
              if (err != null) one(JEntry(JNull, Vector(err)))
              else one(JEntry.ok(acc))
          }
        }

      case other =>
        (_, _) => one(JEntry(JNull, Vector(s"unknown builtin $other")))
    }
  }
}
