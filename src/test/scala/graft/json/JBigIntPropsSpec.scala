package graft.json

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** Property pins for the exact wide-integer path (round-7 i128 parity;
  * widened to the FULL i128 domain in round 10): JBigInt must behave as
  * the mathematical integers across the whole [−2^127, 2^127−1] window —
  * arithmetic against a BigInt model, total numeric order across the two
  * Integer widths, byte-exact text round-trips, and lossless CBOR bignum
  * round-trips. */
class JBigIntPropsSpec extends AnyFunSuite {

  private def forAllN[A](gen: Gen[A], n: Int = 300)(f: A => Unit): Unit = {
    val seed0 = org.scalacheck.rng.Seed(0xb16b00b5L)
    Iterator.iterate(seed0)(_.next).take(n).foreach { seed =>
      gen.apply(Gen.Parameters.default, seed).foreach(f)
    }
  }

  /** Integers spanning both widths: long-range and 64–127 bit (the full
    * i128 parse domain). */
  private val genInt: Gen[BigInt] = Gen.oneOf(
    Gen.choose(Long.MinValue, Long.MaxValue).map(BigInt(_)),
    for {
      bits <- Gen.choose(64, 127)
      bytes <- Gen.listOfN(bits / 8 + 1, Gen.choose(0, 255))
      neg <- Gen.oneOf(true, false)
    } yield {
      val m = bytes.foldLeft(BigInt(0))((a, b) => (a << 8) | b) % (JInt.MaxI128 + 1)
      if (neg) -m else m
    })

  private def num(v: BigInt): JDoc = JInt.of(v)
  private def asBig(d: JDoc): Option[BigInt] = d match {
    case JLong(v)   => Some(BigInt(v))
    case JBigInt(v) => Some(v)
    case _          => None
  }

  test("property: +, -, * and % against the BigInt model across widths") {
    // in-i128 results are exact integers; results OUTSIDE i128 degrade to
    // double (round 10: JInt.of closes arithmetic over the representable
    // domain — the reference's i128 cannot hold wider either)
    def expectInt(got: JDoc, model: BigInt, what: String): Unit =
      if (JInt.inI128(model)) assert(asBig(got).contains(model), what)
      else assert(got == JDouble(model.toDouble), s"$what (out-of-i128 degrade)")
    forAllN(Gen.zip(genInt, genInt)) { case (a, b) =>
      // the narrow JLong⊗JLong case keeps its PRE-EXISTING wrapping
      // 64-bit semantics (pinned below); the exact BigInt model applies
      // whenever either operand is wide
      val wide = !a.isValidLong || !b.isValidLong
      if (wide) {
        expectInt(JOps.add(num(a), num(b)), a + b, s"$a + $b")
        expectInt(JOps.sub(num(a), num(b)), a - b, s"$a - $b")
        expectInt(JOps.mul(num(a), num(b)), a * b, s"$a * $b")
        if (b != 0) expectInt(JOps.rem(num(a), num(b)), a % b, s"$a % $b")
        else assert(JOps.rem(num(a), num(b)) == JNull)
      } else {
        assert(JOps.add(num(a), num(b)) == JLong(a.toLong + b.toLong))
        assert(JOps.sub(num(a), num(b)) == JLong(a.toLong - b.toLong))
        assert(JOps.mul(num(a), num(b)) == JLong(a.toLong * b.toLong))
      }
      assert(asBig(JOps.neg(num(a))).contains(-a), s"-$a") // genInt ⊂ (MinI128, MaxI128]
    }
  }

  test("arithmetic closes over i128: a boundary-crossing result degrades to double and round-trips") {
    val max = JInt.MaxI128
    val over = JOps.add(JBigInt(max), JLong(1))
    assert(over == JDouble((max + 1).toDouble), s"i128max + 1 → $over")
    // the degraded value canonicalizes and re-parses as ITSELF — no value
    // the engine produces breaks the parse(canonical(x)) == x invariant
    assert(JsonText.parse(JsonText.canonical(over)) == over)
    assert(JOps.neg(JBigInt(JInt.MinI128)) == JDouble((-JInt.MinI128).toDouble))
    assert(JOps.mul(JBigInt(max), JBigInt(max)) == JDouble((max * max).toDouble))
  }

  test("degrade saturates past double range: every produced value stays finite and re-parseable") {
    // a CBOR bignum (or any widening) beyond 2^1024 must NOT become
    // JDouble(inf) — canonical "inf" is unparseable JSON. jq's clamp
    // discipline applies: saturate to ±Double.MaxValue.
    val huge = BigInt(2).pow(1100)
    assert(JInt.of(huge) == JDouble(Double.MaxValue))
    assert(JInt.of(-huge) == JDouble(Double.MinValue))
    val viaC = CborCodec.decode(CborCodec.encode(JBigInt(huge))) // tag-2 bignum path
    assert(viaC == JDouble(Double.MaxValue), s"cbor bignum degrade: $viaC")
    assert(JsonText.parse(JsonText.canonical(viaC)) == viaC)
    // a 400-digit JSON integer literal rides the same saturation
    val wide = JsonText.parse("9" * 400)
    assert(wide == JDouble(Double.MaxValue))
    assert(JsonText.parse(JsonText.canonical(wide)) == wide)
    assert(JsonText.parse("-" + "9" * 400) == JDouble(Double.MinValue))
    // float LITERALS keep the reference's Rust parse semantics (inf)
    assert(JsonText.parse("1e999") == JDouble(Double.PositiveInfinity))
  }

  test("property: numeric total order across widths matches BigInt compare") {
    forAllN(Gen.zip(genInt, genInt)) { case (a, b) =>
      val got = JOps.cmp(num(a), num(b))
      assert(got != JOps.Incomparable && Integer.signum(got) == a.compare(b).sign, s"cmp($a, $b)")
      assert(JOps.eqDoc(num(a), num(b)) == (a == b), s"eq($a, $b)")
    }
  }

  test("property: text and CBOR round-trips are byte/value exact") {
    forAllN(genInt) { a =>
      val d = num(a)
      assert(JsonText.parse(a.toString) == d, s"parse($a)")
      assert(JsonText.canonical(d) == a.toString, s"canonical($a)")
      assert(CborCodec.decode(CborCodec.encode(d)) == d, s"cbor($a)")
      assert(JsonText.parse(JsonText.canonical(d)) == d, s"roundtrip($a)")
    }
  }

  test("i128 domain bounds: ±2^127 boundaries parse exactly, one-past degrades to double") {
    val max = JInt.MaxI128 // 170141183460469231731687303715884105727 (39 digits)
    val min = JInt.MinI128
    assert(max.toString.length == 39 && min.toString.length == 40)
    for (v <- Seq(max, min, max - 1, min + 1, BigInt(10).pow(38), -BigInt(10).pow(38))) {
      assert(JsonText.parse(v.toString) == JBigInt(v), s"parse($v)")
      assert(JsonText.canonical(JBigInt(v)) == v.toString, s"canonical($v)")
      assert(JsonText.parse(JsonText.canonical(JBigInt(v))) == JBigInt(v), s"roundtrip($v)")
    }
    // one past the i128 domain degrades to double (jq behavior, reference
    // json.rs:469 can represent no wider) — never an error
    assert(JsonText.parse((max + 1).toString) == JDouble((max + 1).toDouble))
    assert(JsonText.parse((min - 1).toString) == JDouble((min - 1).toDouble))
    assert(JsonText.parse("1" + "0" * 39) == JDouble(1e39))
    // the jq literal parser rides the same ladder
    import graft.jq.Interp
    val out = Interp.run(max.toString, JNull).map(_.doc)
    assert(out == Vector(JBigInt(max)), s"jq literal at i128 max: $out")
  }

  test("JInt.of normalizes the boundary: ±2^63 land on the right variants") {
    assert(JInt.of(BigInt(Long.MaxValue)) == JLong(Long.MaxValue))
    assert(JInt.of(BigInt(Long.MinValue)) == JLong(Long.MinValue))
    assert(JInt.of(BigInt(Long.MaxValue) + 1) == JBigInt(BigInt(Long.MaxValue) + 1))
    assert(JInt.of(BigInt(Long.MinValue) - 1) == JBigInt(BigInt(Long.MinValue) - 1))
    // neg of the wide value just past the boundary re-enters long range
    assert(JOps.neg(JBigInt(BigInt(Long.MinValue).abs)) == JLong(Long.MinValue))
  }
}
