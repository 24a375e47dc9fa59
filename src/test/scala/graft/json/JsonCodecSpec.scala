package graft.json

import org.scalatest.funsuite.AnyFunSuite

/** Golden-file conformance for the JSON codec: the reference's corpus of
  * 52 values (reference: testdata/test_simple.jsons →
  * testdata/test_simple.jsons.ref.jsons, driver test src/json.rs:1130-1187;
  * the file repeats "0.0e-1" and "2e-1", and the duplicates are kept so
  * the port is 1:1 in reference order), transcribed to
  * src/test/resources/golden_cases.jsonl as tab-separated
  * (input, expected-canonical) pairs. */
class JsonCodecSpec extends AnyFunSuite {

  private val cases: Seq[(String, String)] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/golden_cases.jsonl"), "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { line =>
      val i = line.indexOf('\t')
      (line.substring(0, i), line.substring(i + 1))
    }.toList
    finally src.close()
  }

  test("golden corpus: parse + canonical serialization") {
    // 1:1 with the reference file's 52 values (54 lines minus brackets)
    assert(cases.length == 52)
    cases.foreach { case (in, expected) =>
      val got = JsonText.canonical(JsonText.parse(in))
      assert(got == expected, s"\ninput: <$in>\nexpected: <$expected>\ngot: <$got>")
    }
  }

  test("canonical form is a fixpoint") {
    cases.foreach { case (_, expected) =>
      val got = JsonText.canonical(JsonText.parse(expected))
      assert(got == expected, s"not a fixpoint: <$expected> → <$got>")
    }
  }

  test("parseManyLenient streams whitespace-separated values") {
    val (docs, err) = JsonText.parseManyLenient("""null  true {"a": 1}
      [1, 2]   "x" 10 10.5""")
    assert(docs.map(JsonText.canonical) ==
      Vector("null", "true", """{"a":1}""", "[1,2]", "\"x\"", "10", "1.05e1"))
    assert(err == None)
  }

  test("objects sort keys with last-wins duplicate upsert") {
    val d = JsonText.parse("""{"b":1, "a":2, "b":3}""")
    assert(JsonText.canonical(d) == """{"a":2,"b":3}""")
  }

  test("numbers outside long range still parse") {
    assert(JsonText.canonical(JsonText.parse("1e300")) == "1e300")
  }

  test("rustSci is the SHORTEST round-trip decimal (adversarial bit patterns)") {
    val rnd = new scala.util.Random(7)
    var i = 0
    while (i < 5000) {
      val d = java.lang.Double.longBitsToDouble(rnd.nextLong())
      if (!d.isNaN && !d.isInfinite && d != 0.0) {
        val s = JsonText.rustSci(d)
        assert(java.lang.Double.parseDouble(s) == d, s"not a round trip: $s vs $d")
        // independence check: BOTH one-digit-shorter neighbors (truncate,
        // truncate+1) must fail to round-trip — i.e. no shorter decimal
        // denotes this double
        val ePos = s.indexOf('e')
        val digits = s.substring(0, ePos).replace(".", "").replace("-", "")
        if (digits.length > 1) {
          val e10 = s.substring(ePos + 1).toInt
          val scale = digits.length - 2 - e10 // scale of the shortened mantissa
          val trunc = new java.math.BigInteger(digits.substring(0, digits.length - 1))
          Seq(trunc, trunc.add(java.math.BigInteger.ONE)).foreach { m =>
            val cand = new java.math.BigDecimal(m, scale).doubleValue()
            assert(math.abs(cand) != math.abs(d),
              s"shorter decimal ${m}e${-scale} also denotes $d (emitted $s)")
          }
        }
      }
      i += 1
    }
  }

  test("hostile nesting is a parse error (errors-as-data), not a StackOverflowError") {
    val deep = "[" * 100000 + "]" * 100000
    val e = intercept[JsonText.JsonParseException](JsonText.parse(deep))
    assert(e.getMessage.contains("nesting"))
    // nesting at the limit still parses
    val ok = "[" * JsonText.MaxDepth + "]" * JsonText.MaxDepth
    assert(JsonText.canonical(JsonText.parse(ok)).startsWith("[["))
  }

  test("rendering stops at the parser's depth bound with a typed error, so every canonical text re-parses") {
    def nest(n: Int, wrap: JDoc => JDoc): JDoc = (1 to n).foldLeft(JLong(1): JDoc)((d, _) => wrap(d))
    val arr: JDoc => JDoc = d => JArr(Vector(d))
    val obj: JDoc => JDoc = d => JObj(Vector("k" -> d))
    for (wrap <- Seq(arr, obj)) {
      val atLimit = JsonText.canonical(nest(JsonText.MaxDepth, wrap))
      assert(JsonText.canonical(JsonText.parse(atLimit)) == atLimit)
      val e = intercept[JsonText.JsonDepthException](JsonText.canonical(nest(JsonText.MaxDepth + 1, wrap)))
      assert(e.limit == JsonText.MaxDepth)
      // far past the bound: still the typed error, not a StackOverflowError
      intercept[JsonText.JsonDepthException](JsonText.canonical(nest(100000, wrap)))
    }
  }
}
