package graft.json

import java.io.{ByteArrayOutputStream, DataOutputStream}

/** CBOR (RFC 8949) codec for [[JDoc]] — the "second Document
  * implementation" the reference README declares as future work
  * (reference README:19-22: the `Document` trait exists so codecs beyond
  * JSON text can carry the same value model; JDoc is likewise
  * format-agnostic, so CBOR needs only this codec, no engine changes).
  *
  * Encoding (deterministic, round-trip exact):
  *   - null/true/false → simple values 0xF6/0xF5/0xF4;
  *   - JLong → major type 0 (≥0) or 1 (<0) with the shortest length form;
  *   - JDouble → always the 8-byte 0xFB form (never half/single), so
  *     every double round-trips bit-exactly and encoding is unambiguous;
  *   - JStr → major type 3 (definite-length UTF-8);
  *   - JArr → major type 4, JObj → major type 5 with keys in the JObj
  *     invariant order (sorted by code point). NOTE: RFC 8949 §4.2
  *     canonical CBOR sorts keys by ENCODED bytes (length-first); we keep
  *     the document model's own collation so JSON and CBOR forms of one
  *     document list keys identically. Deterministic either way.
  *
  * Decoding accepts the full RFC numeric surface (half/single/double
  * floats, 64-bit negatives), definite-length containers, and rejects
  * what the document model cannot hold (tags, byte strings, indefinite
  * lengths, unsigned values above 2^63-1) with [[CborCodec.CborException]]
  * — callers route that to the errors-as-data path exactly like a JSON
  * parse error. Depth-guarded like the JSON parser. */
object CborCodec {

  final case class CborException(msg: String) extends Exception(msg)

  // ---------------------------------------------------------------- encode

  def encode(d: JDoc): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    write(out, d)
    out.flush()
    bos.toByteArray
  }

  private def writeTypeLen(out: DataOutputStream, major: Int, n: Long): Unit = {
    val m = major << 5
    if (n < 24) out.writeByte(m | n.toInt)
    else if (n < (1L << 8)) { out.writeByte(m | 24); out.writeByte(n.toInt) }
    else if (n < (1L << 16)) { out.writeByte(m | 25); out.writeShort(n.toInt) }
    else if (n < (1L << 32)) { out.writeByte(m | 26); out.writeInt(n.toInt) }
    else { out.writeByte(m | 27); out.writeLong(n) }
  }

  private def write(out: DataOutputStream, d: JDoc): Unit = d match {
    case JNull        => out.writeByte(0xF6)
    case JBool(true)  => out.writeByte(0xF5)
    case JBool(false) => out.writeByte(0xF4)
    case JLong(v)     =>
      if (v >= 0) writeTypeLen(out, 0, v)
      else writeTypeLen(out, 1, -(v + 1)) // major 1 encodes -1-n
    case JBigInt(v)   =>
      // RFC 8949 §3.4.3 bignum: tag 2 (positive) / 3 (negative, -1-n),
      // content = big-endian magnitude byte string
      val (tag, mag) = if (v.signum >= 0) (2L, v) else (3L, -(v + 1))
      writeTypeLen(out, 6, tag)
      val raw = mag.toByteArray
      val bytes = { val t = raw.dropWhile(_ == 0); if (t.isEmpty) Array(0.toByte) else t }
      writeTypeLen(out, 2, bytes.length.toLong)
      out.write(bytes)
    case JDouble(v)   => out.writeByte(0xFB); out.writeLong(java.lang.Double.doubleToLongBits(v))
    case JStr(s)      =>
      val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      writeTypeLen(out, 3, bytes.length.toLong)
      out.write(bytes)
    case JArr(items)  =>
      writeTypeLen(out, 4, items.length.toLong)
      items.foreach(write(out, _))
    case JObj(props)  =>
      writeTypeLen(out, 5, props.length.toLong)
      props.foreach { case (k, v) =>
        val kb = k.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        writeTypeLen(out, 3, kb.length.toLong)
        out.write(kb)
        write(out, v)
      }
  }

  // ---------------------------------------------------------------- decode

  def decode(bytes: Array[Byte]): JDoc = {
    val p = new Decoder(bytes)
    val v = p.readValue(0)
    if (p.pos != bytes.length)
      throw CborException(s"trailing content at offset ${p.pos}")
    v
  }

  /** CBOR is self-delimiting, so concatenated values form a document
    * stream (the binary analogue of the reference's `Jsons` format):
    * decode as many leading values as possible; a malformed remainder
    * becomes the error half of the result (errors-as-data for scans). */
  def decodeMany(bytes: Array[Byte]): (Vector[JDoc], Option[String]) = {
    val p = new Decoder(bytes)
    JsonText.readMany[CborException](p.pos < bytes.length, p.readValue(0))
  }

  private final class Decoder(bytes: Array[Byte]) {
    var pos = 0

    private def fail(msg: String): Nothing = throw CborException(s"$msg at offset $pos")

    private def u8(): Int = {
      if (pos >= bytes.length) fail("unexpected end of input")
      val b = bytes(pos) & 0xFF; pos += 1; b
    }
    private def uN(n: Int): Long = {
      var v = 0L
      var i = 0
      while (i < n) { v = (v << 8) | u8(); i += 1 }
      v
    }

    /** Argument of the initial byte; -1 marks indefinite length (rejected). */
    private def arg(info: Int): Long = info match {
      case i if i < 24 => i.toLong
      case 24 => uN(1)
      case 25 => uN(2)
      case 26 => uN(4)
      case 27 =>
        val v = uN(8)
        if (v < 0) fail("unsigned value beyond 2^63-1") // overflowed Long
        v
      case 31 => fail("indefinite-length items not supported")
      case _  => fail(s"reserved additional info $info")
    }

    def readValue(depth: Int): JDoc = {
      if (depth > JsonText.MaxDepth) fail(s"nesting deeper than ${JsonText.MaxDepth}")
      val ib = u8()
      val major = ib >>> 5
      val info = ib & 0x1F
      major match {
        case 0 =>
          // u64 beyond 2^63-1 widens exactly instead of rejecting
          if (info == 27) JInt.of(BigInt(java.lang.Long.toUnsignedString(uN(8))))
          else JLong(arg(info))
        case 1 =>
          // -1-n covers the full u64 domain via the same exact widening
          if (info == 27) JInt.of(-BigInt(java.lang.Long.toUnsignedString(uN(8))) - 1)
          else JLong(-arg(info) - 1)
        case 2 => fail("byte strings have no document representation")
        case 3 =>
          val len = arg(info)
          if (len > Int.MaxValue || pos + len > bytes.length) fail("string length out of range")
          val s = new String(bytes, pos, len.toInt, java.nio.charset.StandardCharsets.UTF_8)
          pos += len.toInt
          JStr(s)
        case 4 =>
          val len = arg(info)
          if (len > Int.MaxValue) fail("array length out of range")
          val items = Vector.newBuilder[JDoc]
          var i = 0L
          while (i < len) { items += readValue(depth + 1); i += 1 }
          JArr(items.result())
        case 5 =>
          val len = arg(info)
          if (len > Int.MaxValue) fail("map length out of range")
          val props = Vector.newBuilder[(String, JDoc)]
          var i = 0L
          while (i < len) {
            readValue(depth + 1) match {
              case JStr(k) => props += ((k, readValue(depth + 1)))
              case other   => fail(s"map key must be a text string, got ${other.typeName}")
            }
            i += 1
          }
          JObj.fromProps(props.result()) // sorted, last-wins — the JObj invariant
        case 6 =>
          // bignum tags only (RFC 8949 §3.4.3) — the inverse of encode;
          // all other tags remain unsupported
          arg(info) match {
            case tag @ (2L | 3L) =>
              val ib2 = u8()
              if ((ib2 >>> 5) != 2) fail("bignum content must be a byte string")
              val len = arg(ib2 & 0x1F)
              if (pos + len > bytes.length) fail("bignum length out of range")
              // any length decodes (the old 64-byte cap rejected bytes the
              // ENCODER itself can emit): values leave the exact domain
              // through JInt.of's saturating degrade. The saturate-vs-exact
              // decision keys on SIGNIFICANT bytes — RFC 8949 permits
              // non-preferred leading-zero padding, so a 600-byte encoding
              // of the integer 5 must still decode as 5, not ±MaxValue —
              // and a genuinely ≫2^1024 magnitude saturates with no
              // allocation proportional to an adversarial payload.
              val end = pos + len.toInt
              var off = pos
              while (off < end && bytes(off) == 0) off += 1
              if (end - off > 512) {
                pos = end
                JDouble(if (tag == 2L) Double.MaxValue else Double.MinValue)
              } else {
                val mag =
                  if (off == end) BigInt(0)
                  else BigInt(1, bytes.slice(off, end))
                pos = end
                JInt.of(if (tag == 2L) mag else -mag - 1)
              }
            case t => fail(s"tag $t not supported")
          }
        case 7 => info match {
          case 20 => JBool(false)
          case 21 => JBool(true)
          case 22 => JNull
          case 23 => fail("undefined has no document representation")
          case 25 => JDouble(halfToDouble(uN(2).toInt))
          case 26 => // single precision widens via its shortest decimal, like JqInput
            JDouble(java.lang.Float.toString(
              java.lang.Float.intBitsToFloat(uN(4).toInt)).toDouble)
          case 27 => JDouble(java.lang.Double.longBitsToDouble(uN(8)))
          case _  => fail(s"unsupported simple value $info")
        }
      }
    }
  }

  /** IEEE 754 half-precision → double (RFC 8949 appendix D). */
  private def halfToDouble(half: Int): Double = {
    val exp = (half >> 10) & 0x1F
    val mant = half & 0x3FF
    val v =
      if (exp == 0) mant * math.pow(2, -24)
      else if (exp != 31) (mant + 1024) * math.pow(2, exp - 25)
      else if (mant == 0) Double.PositiveInfinity
      else Double.NaN
    if ((half & 0x8000) != 0) -v else v
  }
}
