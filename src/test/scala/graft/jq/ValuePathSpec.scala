package graft.jq

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import graft.json._

/** The single- and multi-value forms of a compiled node against its
  * general form: wherever `value` returns a document, `apply` on the same
  * input must return exactly one error-free entry holding that document;
  * wherever `values` returns true, `apply` must return error-free entries
  * holding exactly the appended documents, in order. Checked for every
  * sub-expression of the jq_scan programs, the interactive query
  * templates and the golden programs, over random documents with missing
  * keys, wrong types, NaN, wide integers and surrogate-pair keys; and
  * `values` must leave a mid-stream error or a reached `break` to the
  * general form. Beside
  * it, the two `graft.json` orderings the value path leans on: `cmpStr`
  * against a code-point reference, and parsed objects against
  * `JObj.fromProps`. */
class ValuePathSpec extends AnyFunSuite {

  private def forAllN[A](gen: Gen[A], n: Int)(f: A => Unit): Unit = {
    val seed0 = org.scalacheck.rng.Seed(0x5eedL)
    Iterator.iterate(seed0)(_.next).take(n).foreach { seed =>
      gen.apply(Gen.Parameters.default, seed).foreach(f)
    }
  }

  private val scanPrograms = JqKernelLoop.programs.map(_._2)

  private val interactiveTemplates = Seq(
    ".user.country", ".user.tier", ".meta.source",
    "\"\\(.user.country)/\\(.user.tier)\"",
    """.items.[0].tags | if length > 0 then .[0] else "none" end""",
    """if ([.items.[] | select(.qty > 3)] | length) > 1 then "hi" else "lo" end""",
    ".items | length",
    "reduce .items.[] as $it (0; . + ($it | .qty))",
    ".meta.flags.gift", ".meta.flags.promo", ".meta.flags.express",
    ".user.age >= 42")

  private val goldenPrograms = Seq(
    "label $f | 1 | (., break $f)",
    "[label $f | .items.[] | .qty | if . > 3 then (., break $f) else . end]",
    "label $f | .user | .name | (., break $f)",
    "[label $f | (1, 2, 3) | if . == 2 then break $f else . end]",
    "label $out | reduce .items.[] as $it (0; if . > 5 then (., break $out) else . + ($it | .qty) end)",
    "(1,2) + (10,20,30)", "[(1,2) + (10,20,30)]", "(1,2) * 3", "[.[] | . + 1]",
    "{k: .a, v: (.b, .c)}", """[.a, error("x")]""", """[error("x")]""", "[.a.[]?]",
    "[.a, .b]", "[]", """.a + error("e")""", """error("l") + error("r")""",
    """walk(if type == "number" then . + 1 else . end)""", "walk(.)",
    """walk(if type == "object" then del(.a) else . end)""",
    """walk(if type == "array" then length else . end)""",
    "map(. * 10)", "map_values(select(. > 1))", "[paths]", "[leaf_paths]",
    """[paths(type == "number")]""", "[tostream]", "[path(..)]", "[path(.z.y.[])]",
    "indices(1)", "\"\\(.a)-\\(.b)\"", ".a + .b", "{x: .a}", ".a | . + 1 | tostring",
    "(1,2) + (10,20)", ".a", "[.a] | length", ".a + 1 | [., 2]")

  /** Forms the value path covers that the programs above reach rarely. */
  private val valueForms = Seq(
    "-(.a) | not", "!.a or !(.b)", "-.a + 1", ".a? | type", "(.a)? | length", ".[-1] < .[0]",
    ".a == .b and (.c | not)",
    "if .a then .b elif .c then 1 else $x end", "$x | .a", ".a as $v | $v + 1",
    "def f: .a; f + 1", "def length: 7; length", ".a / .b", ".a <= .b", ".a > .b")

  private val programs = (scanPrograms ++ interactiveTemplates ++ goldenPrograms ++ valueForms).distinct

  /** The node and every node under it. */
  private def subtrees(a: Ast): Iterator[Ast] = Iterator.single(a) ++ children(a).flatMap(subtrees)
  private def children(x: Any): Iterator[Ast] = x match {
    case p: Product => p.productIterator.flatMap {
      case a: Ast => Iterator.single(a)
      case other  => children(other)
    }
    case _ => Iterator.empty
  }

  private val asts: Vector[Ast] = programs.flatMap(p => subtrees(JqParser.parse(p))).distinct.toVector

  private def names(a: Ast, pick: PartialFunction[Ast, String]): Set[String] =
    subtrees(a).collect(pick).toSet

  private val keys: Vector[String] =
    (asts.flatMap(names(_, { case Ast.IndexKey(k, _) => k; case Ast.Ident(k, _) => k })) ++
      Seq("a", "b", "c", "\uD83D\uDE00", "\uE000k", "k\uD800\uDC00")).distinct

  private val genScalar: Gen[JDoc] = Gen.oneOf(
    Gen.const(JNull), Gen.oneOf(JBool.True, JBool.False),
    Gen.choose(-5L, 9L).map(JLong(_)), Gen.oneOf(JLong(Long.MaxValue), JLong(Long.MinValue)),
    Gen.const(JBigInt(BigInt(2).pow(70))),
    Gen.oneOf(JDouble(Double.NaN), JDouble(-0.0), JDouble(2.5), JDouble(Double.PositiveInfinity)),
    Gen.oneOf(JStr(""), JStr("number"), JStr("x\uD83D\uDE00"), JStr("\uE000")))

  private def genDoc(depth: Int): Gen[JDoc] =
    if (depth <= 0) genScalar
    else Gen.frequency(
      3 -> genScalar,
      2 -> Gen.choose(0, 4).flatMap(n => Gen.listOfN(n, genDoc(depth - 1))).map(xs => JArr(xs.toVector)),
      4 -> Gen.choose(0, 5).flatMap(n => Gen.listOfN(n, Gen.zip(Gen.oneOf(keys), genDoc(depth - 1))))
        .map(JObj.fromProps(_)))

  /** An order in jq_scan's shape, each field missing or of the wrong
    * type now and then. */
  private val genOrder: Gen[JDoc] = {
    def field(k: String, v: Gen[JDoc]): Gen[Option[(String, JDoc)]] =
      Gen.frequency(7 -> v.map(x => Some(k -> x)), 1 -> Gen.const(None), 1 -> genScalar.map(x => Some(k -> x)))
    def obj(fs: Gen[Option[(String, JDoc)]]*): Gen[JDoc] =
      Gen.sequence[List[Option[(String, JDoc)]], Option[(String, JDoc)]](fs).map(xs => JObj.fromProps(xs.flatten))
    val str = Gen.oneOf("NZ", "DE", "gold", "a", "\uD83D\uDE00").map(JStr(_): JDoc)
    val num = Gen.frequency(5 -> Gen.choose(0L, 9L).map(JLong(_): JDoc), 1 -> genScalar)
    val item = obj(field("sku", str), field("qty", num), field("price", num),
      field("tags", Gen.listOf(str).map(xs => JArr(xs.toVector))))
    obj(
      field("user", obj(field("name", str), field("country", str), field("tier", str), field("age", num))),
      field("items", Gen.choose(0, 4).flatMap(n => Gen.listOfN(n, item)).map(xs => JArr(xs.toVector))),
      field("meta", obj(field("flags", obj(field("gift", genScalar), field("promo", genScalar),
        field("express", genScalar))), field("source", str))),
      field("a", genDoc(2)), field("b", genDoc(1)), field("c", genDoc(1)))
  }

  private val genInput: Gen[JDoc] = Gen.frequency(3 -> genOrder, 2 -> genDoc(3))

  /** Exact sameness: NaN is itself, -0.0 is not 0.0. */
  private def identical(a: JDoc, b: JDoc): Boolean = (a, b) match {
    case (JDouble(x), JDouble(y)) =>
      java.lang.Double.doubleToRawLongBits(x) == java.lang.Double.doubleToRawLongBits(y)
    case (JArr(x), JArr(y)) => x.length == y.length && x.indices.forall(i => identical(x(i), y(i)))
    case (JObj(x), JObj(y)) =>
      x.length == y.length && x.indices.forall(i => x(i)._1 == y(i)._1 && identical(x(i)._2, y(i)._2))
    case _ => a == b
  }

  test("value form: one error-free general output with the same doc, over every sub-expression") {
    val compiled = asts.map { a =>
      (a, Interp.compile(a), names(a, { case Ast.Var(n) => n }).toList)
    }
    val hitAsts = scala.collection.mutable.Set.empty[Ast]
    var hits = 0
    forAllN(Gen.zip(genInput, genDoc(2)), 200) { case (doc, bound) =>
      compiled.foreach { case (ast, pipe, vars) =>
        val env = vars.map(_ -> bound)
        Seq(Nil, env).distinct.foreach { e =>
          val v = pipe.value(doc, e)
          if (v != null) {
            hits += 1
            hitAsts += ast
            val out = pipe(doc, e)
            assert(out.length == 1 && out.head.errors.isEmpty && identical(out.head.doc, v),
              s"$ast on ${JsonText.canonical(doc)}: value ${JsonText.canonical(v)}, general " +
                out.map(o => JsonText.canonical(o.doc) + o.errors.mkString("[", ";", "]")).mkString(", "))
          }
        }
      }
    }
    // the check is not vacuous: most value-form nodes produced values
    assert(hits > 10000, s"only $hits value-form outputs")
    val covered = Seq[Ast => Boolean](
      _.isInstanceOf[Ast.IndexKey], _.isInstanceOf[Ast.IndexNum], _.isInstanceOf[Ast.Bin],
      _.isInstanceOf[Ast.Pipe], _.isInstanceOf[Ast.IfElse], _.isInstanceOf[Ast.Var],
      _.isInstanceOf[Ast.Not], _.isInstanceOf[Ast.Neg], _.isInstanceOf[Ast.StrInterp],
      _.isInstanceOf[Ast.OptMark], _ == Ast.Call("type", Nil), _ == Ast.Call("length", Nil),
      _ == Ast.Call("not", Nil))
    covered.zipWithIndex.foreach { case (kind, i) =>
      assert(hitAsts.exists(kind), s"no value produced by value-form kind #$i")
    }
  }

  /** Forms the multi-value path covers that the programs above reach rarely. */
  private val streamForms = Seq(
    "[..]", "[.[]?]", "[.a, .b]", "[.a.[]?, empty]", "[leaf_paths]", "[.[] | select(. > 1)]",
    "sort_by(.a)", "sort_by(.a, .b)", "group_by(.a) | length", "reduce (1, 2) as $i (.; [.])",
    ".a |= (.b, .c)", "walk(.a?)", "[.[]?.a?]", "(.a, .b) | .[]?")

  test("multi-value form: the general form's outputs, all error-free and in order, over every sub-expression") {
    val streamAsts = (asts ++ streamForms.flatMap(p => subtrees(JqParser.parse(p)))).distinct
    val compiled = streamAsts.map { a =>
      (a, Interp.compile(a), names(a, { case Ast.Var(n) => n }).toList)
    }
    val hitAsts = scala.collection.mutable.Set.empty[Ast]
    var hits = 0
    var multi = 0
    forAllN(Gen.zip(genInput, genDoc(2)), 200) { case (doc, bound) =>
      compiled.foreach { case (ast, pipe, vars) =>
        val env = vars.map(_ -> bound)
        Seq(Nil, env).distinct.foreach { e =>
          val out = new Interp.ValueBuf
          if (pipe.values(doc, e, out)) {
            hits += 1
            if (out.size != 1) multi += 1
            hitAsts += ast
            val general = pipe(doc, e)
            assert(general.length == out.size && general.indices.forall { i =>
                general(i).errors.isEmpty && identical(general(i).doc, out(i))
              },
              s"$ast on ${JsonText.canonical(doc)}: values " +
                out.toVector.map(JsonText.canonical).mkString("[", ", ", "]") + ", general " +
                general.map(o => JsonText.canonical(o.doc) + o.errors.mkString("[", ";", "]")).mkString(", "))
          }
        }
      }
    }
    // the check is not vacuous: streams of every length, from every form
    assert(hits > 10000 && multi > 2000, s"only $hits value streams, $multi not of one value")
    val covered = Seq[Ast => Boolean](
      _.isInstanceOf[Ast.Pipe], _.isInstanceOf[Ast.Comma], _.isInstanceOf[Ast.IterValues],
      _.isInstanceOf[Ast.MkList], _.isInstanceOf[Ast.Reduce], _.isInstanceOf[Ast.Assign],
      _ == Ast.Recurse, _ == Ast.IterValues(opt = true), _ == Ast.Call("paths", Nil),
      _ == Ast.Call("leaf_paths", Nil), _ == Ast.Call("empty", Nil),
      { case Ast.Call("select", _) => true; case _ => false },
      { case Ast.Call("walk", _) => true; case _ => false },
      { case Ast.Call("sort_by", _) => true; case _ => false })
    covered.zipWithIndex.foreach { case (kind, i) =>
      assert(hitAsts.exists(kind), s"no value stream produced by multi-value kind #$i")
    }
  }

  test("multi-value form: a mid-stream error and a break leave the stream to the general form") {
    val doc = JsonText.parse("""{"items":[{"qty":1},{"sku":"x"},{"qty":3}]}""")
    def values(program: String): Option[Vector[JDoc]] = {
      val out = new Interp.ValueBuf
      if (Interp.compile(JqParser.parse(program)).values(doc, Nil, out)) Some(out.toVector) else None
    }
    def general(program: String): Vector[String] =
      Interp.run(program, doc).map(e => JsonText.canonical(e.doc) + e.errors.mkString("[", ";", "]"))
    // the second item has no qty: an error between two values
    for (p <- Seq("[.items.[] | .qty]", ".items.[] | .qty")) {
      assert(values(p).isEmpty, p)
      assert(general(p).exists(_.contains("[cannot index qty")), p)
    }
    assert(values("[.items.[] | .qty?]").contains(Vector(JArr(Vector(JLong(1), JLong(3))))))
    // a reached break: its label's outputs come from the general form only
    val broken = Seq(
      "label $f | .items.[] | (., break $f)" -> Vector("""{"qty":1}[]"""),
      "[label $f | (1, 2, 3) | if . == 2 then break $f else . end]" -> Vector("[1][]"),
      "label $f | (1, break $f, 2)" -> Vector("1[]"))
    broken.foreach { case (p, expected) =>
      assert(values(p).isEmpty, p)
      assert(general(p) == expected, p)
    }
  }

  /** Code-point order by decoding both strings whole. */
  private def codePointCmp(a: String, b: String): Int = {
    val x = a.codePoints.toArray; val y = b.codePoints.toArray
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n && x(i) == y(i)) i += 1
    if (i < n) Integer.compare(x(i), y(i)) else Integer.compare(x.length, y.length)
  }

  private val genChunk: Gen[String] = Gen.oneOf(
    Gen.choose('a', 'e').map(_.toString),
    Gen.choose(0xE000, 0xFFFF).map(c => c.toChar.toString),
    Gen.choose(0x10000, 0x10FFFF).map(cp => new String(Character.toChars(cp))),
    Gen.oneOf("\uD800", "\uDBFF", "\uDC00", "\uD7FF")) // lone surrogates decode to themselves
  private val genMixed: Gen[String] = Gen.choose(0, 4).flatMap(n => Gen.listOfN(n, genChunk)).map(_.mkString)

  test("cmpStr agrees with code-point order on ASCII, U+E000-U+FFFF and surrogate pairs") {
    forAllN(Gen.zip(genMixed, genMixed, genMixed), 2000) { case (prefix, x, y) =>
      val (a, b) = (prefix + x, prefix + y)
      assert(Integer.signum(JOps.cmpStr(a, b)) == codePointCmp(a, b), s"${a.map(_.toInt)} vs ${b.map(_.toInt)}")
      assert(Integer.signum(JOps.cmpStr(b, a)) == -codePointCmp(a, b))
    }
  }

  /** A JSON string literal with every char of `s` written as `\\uXXXX`. */
  private def escapedAll(s: String): String = s.map(c => f"\\u${c.toInt}%04x").mkString("\"", "", "\"")

  test("parsed objects equal fromProps over unsorted, duplicate and escaped keys") {
    val genKey = Gen.oneOf("b", "a", "ab", "\"q\"", "back\\slash", "nl\n", "\u0001", "é", "\uE000",
      "\uD83D\uDE00", "z")
    val genPair = Gen.zip(genKey, Gen.oneOf[JDoc](JLong(1), JStr("v"), JNull, JArr(Vector(JLong(2)))),
      Gen.oneOf(true, false))
    forAllN(Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, genPair)), 1000) { pairs =>
      val text = pairs.map { case (k, v, escape) =>
        val sb = new java.lang.StringBuilder
        if (escape) sb.append(escapedAll(k)) else JsonText.writeString(sb, k)
        sb.append(':').append(JsonText.canonical(v)).toString
      }.mkString("{", ",", "}")
      val kvs = pairs.map { case (k, v, _) => (k, v) }
      val parsed = JsonText.parse(text)
      assert(parsed == JObj.fromProps(kvs), text)
      val lastWins = kvs.foldLeft(Vector.empty[(String, JDoc)])((acc, kv) => acc.filterNot(_._1 == kv._1) :+ kv)
      assert(parsed == JObj(lastWins.sortWith((x, y) => codePointCmp(x._1, y._1) < 0)), text)
    }
  }
}
