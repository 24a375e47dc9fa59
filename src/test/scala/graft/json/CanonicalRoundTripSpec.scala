package graft.json

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** The canonical round trip `parse(canonical(parse(x))) == parse(x)`, on
  * which jq over `readJsonl`'s `doc` reading the line's parse instead of
  * its canonical text rests (graft.plans.JqPathCompile). It holds for
  * every accepted text except those holding a negative zero or a
  * non-finite double, which `parseOnce` flags; for every text
  * `Parsed.readBack` is exactly what parsing the canonical text gives.
  * Doubles compare by their bits, so `-0.0` and `0.0` differ. */
class CanonicalRoundTripSpec extends AnyFunSuite {

  private def forAllN[A](gen: Gen[A], n: Int = 400)(f: A => Unit): Unit = {
    val seed0 = org.scalacheck.rng.Seed(0x5eedca11L)
    Iterator.iterate(seed0)(_.next).take(n).foreach { seed =>
      gen.apply(Gen.Parameters.default.withSize(30), seed).foreach(f)
    }
  }

  private def same(a: JDoc, b: JDoc): Boolean = (a, b) match {
    case (JDouble(x), JDouble(y)) =>
      java.lang.Double.doubleToRawLongBits(x) == java.lang.Double.doubleToRawLongBits(y)
    case (JArr(x), JArr(y)) => x.length == y.length && x.indices.forall(i => same(x(i), y(i)))
    case (JObj(x), JObj(y)) =>
      x.length == y.length && x.indices.forall(i => x(i)._1 == y(i)._1 && same(x(i)._2, y(i)._2))
    case _ => a == b
  }

  private def depthOf(d: JDoc): Int = d match {
    case JArr(items) => 1 + items.map(depthOf).maxOption.getOrElse(0)
    case JObj(props) => 1 + props.map(p => depthOf(p._2)).maxOption.getOrElse(0)
    case _ => 0
  }

  /** Does `d` hold a value without a canonical round trip? */
  private def unround(d: JDoc): Boolean = d match {
    case JDouble(v) => v.isInfinite || java.lang.Double.doubleToRawLongBits(v) == Long.MinValue
    case JArr(items) => items.exists(unround)
    case JObj(props) => props.exists(p => unround(p._2))
    case _ => false
  }

  private val genInteger: Gen[String] = Gen.oneOf(
    Gen.choose(Long.MinValue, Long.MaxValue).map(_.toString),
    // JBigInt: 64 to 127 bits
    Gen.zip(Gen.choose(64, 126), Gen.oneOf("", "-")).map { case (bits, sign) =>
      sign + ((BigInt(1) << bits) + BigInt(bits * 7919L)).toString },
    // past i128, degraded to a double; past 309 digits, saturated
    Gen.zip(Gen.choose(40, 400), Gen.oneOf("", "-", "+")).map { case (n, sign) => sign + "9" * n },
    Gen.oneOf("0", "-0", "007", "+5"))

  private val genFloat: Gen[String] = for {
    bits <- Gen.choose(Long.MinValue, Long.MaxValue)
    d = java.lang.Double.longBitsToDouble(bits)
    small <- Gen.choose(-1000000, 1000000).map(_ / 1000.0)
    v = if (d.isNaN || d.isInfinite) small else d
    text <- Gen.oneOf(
      java.lang.Double.toString(v), JsonText.rustSci(v), "%.3f".formatLocal(java.util.Locale.ROOT, small),
      s"${small}e0", "0.1", ".5", "-.25", "02e-1", "1E+2", "4.9e-324", "1.7976931348623157e308")
  } yield text

  private val keys = Vector("a", "b", "A", "", "é", "😀", "～", "k\"q")

  private def escape(s: String, raw: Boolean): String = {
    val sb = new java.lang.StringBuilder
    if (raw) JsonText.writeString(sb, s)
    else {
      sb.append('"')
      s.foreach(c => sb.append(f"\\u${c.toInt}%04x"))
      sb.append('"')
    }
    sb.toString
  }

  private val genString: Gen[String] = for {
    n <- Gen.choose(0, 4)
    cps <- Gen.listOfN(n, Gen.oneOf("x", "\"", "\\", "/", "\n", "\u0001", "é", "😀", " "))
    raw <- Gen.oneOf(true, false)
  } yield escape(cps.mkString, raw)

  private val genScalar: Gen[String] = Gen.frequency(
    4 -> genInteger, 6 -> genFloat, 3 -> genString,
    1 -> Gen.oneOf("null", "true", "false"))

  private def genValue(depth: Int): Gen[String] =
    if (depth <= 0) genScalar
    else Gen.frequency(
      3 -> genScalar,
      1 -> Gen.choose(0, 4).flatMap(n => Gen.listOfN(n, genValue(depth - 1))).map(_.mkString("[", ", ", "]")),
      // keys repeat often: the object is last-wins on a duplicate
      1 -> Gen.choose(0, 5).flatMap(n => Gen.listOfN(n, Gen.zip(Gen.oneOf(keys), genValue(depth - 1))))
        .map(_.map { case (k, v) => escape(k, raw = true) + ":" + v }.mkString("{", ",", "}")))

  /** A scalar inside exactly `n` containers. */
  private def nested(n: Int, inner: String, objects: Boolean): String =
    (0 until n).foldLeft(inner)((acc, i) => if (objects && i % 2 == 0) s"""{"d":$acc}""" else s"[$acc]")

  private val genDoc: Gen[String] = Gen.frequency(
    8 -> genValue(4),
    1 -> Gen.zip(genScalar, Gen.oneOf(true, false)).map { case (s, o) => nested(JsonText.MaxDepth, s, o) },
    1 -> Gen.oneOf("-0.0", "-0e0", "-.0", "1e999", "-1e999", "[1, -0.0]", """{"z": 1e999}"""))

  test("property: canonical text parses back to the parse, except the flagged values") {
    var flagged = 0
    var deep = 0
    forAllN(genDoc) { text =>
      val p = JsonText.parseOnce(text)
      assert(p.error == null, s"generated text failed to parse: $text")
      assert(p.exact == !unround(p.doc), s"flag disagrees with the document: $text")
      val viaText = scala.util.Try(JsonText.parse(JsonText.canonical(p.doc)))
      if (p.exact) {
        assert(viaText.isSuccess && same(viaText.get, p.doc), s"round trip changed $text")
        assert(p.readBack eq p.doc)
      } else {
        flagged += 1
        assert(viaText.isFailure || !same(viaText.get, p.doc), s"flagged text round-trips: $text")
      }
      // readBack is what parsing the canonical text gives, flag or not
      val read = scala.util.Try(p.readBack)
      assert(read.isSuccess == viaText.isSuccess, text)
      if (read.isSuccess) assert(same(read.get, viaText.get), text)
      else assert(read.failed.get == viaText.failed.get, text)
      if (depthOf(p.doc) == JsonText.MaxDepth) deep += 1
    }
    assert(flagged > 0 && deep > 0, s"generator missed a case: flagged=$flagged deep=$deep")
  }

  test("the two flagged exceptions: -0.0 reads back as 0.0, 1e999 does not read back") {
    val negZero = JsonText.parseOnce("-0.0")
    assert(!negZero.exact && JsonText.canonical(negZero.doc) == "0e0")
    assert(same(negZero.readBack, JDouble(0.0)) && !same(negZero.readBack, negZero.doc))
    val inf = JsonText.parseOnce("1e999")
    assert(!inf.exact && JsonText.canonical(inf.doc) == "inf")
    assert(intercept[JsonText.JsonParseException](inf.readBack).getMessage ==
      intercept[JsonText.JsonParseException](JsonText.parse("inf")).getMessage)
    // 0.0, saturated integers and errors stay exact
    Seq("0.0", "[0, 0e0]", "9" * 400, "-" + "9" * 400).foreach(t => assert(JsonText.parseOnce(t).exact, t))
    val bad = JsonText.parseOnce("[" * (JsonText.MaxDepth + 1))
    assert(bad.doc == null && bad.error.contains("nesting deeper"))
  }
}
