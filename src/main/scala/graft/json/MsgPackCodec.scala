package graft.json

import java.io.{ByteArrayOutputStream, DataOutputStream}

/** MessagePack codec for [[JDoc]] — the third Document codec beside JSON
  * text and CBOR (reference README:19-22 lists binary codecs as the
  * declared growth path of its `Document` trait; the value model maps
  * 1:1). Same contract as [[CborCodec]]: deterministic smallest-form
  * encoding, exact round trips, errors-as-data on foreign shapes.
  *
  * Encoding: nil/bool → fixed bytes; integers → the smallest of
  * fixint/uint8/16/32/int8/16/32/64; doubles → always float64 (exact
  * round trip); strings → fixstr/str8/16/32 (UTF-8); arrays →
  * fixarray/array16/32; objects → fixmap/map16/32 with keys in the JObj
  * collation order. Decoding additionally accepts float32 (widened via
  * its shortest decimal, like the CBOR and struct input paths) and
  * uint64 beyond Long range widens to an exact [[JBigInt]] on decode
  * (encode narrows JBigInt to float64 — MessagePack has no bignum);
  * bin/ext families are rejected with
  * [[MsgPackCodec.MsgPackException]]. Depth-guarded like the parsers. */
object MsgPackCodec {

  final case class MsgPackException(msg: String) extends Exception(msg)

  // ---------------------------------------------------------------- encode

  def encode(d: JDoc): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    write(out, d)
    out.flush()
    bos.toByteArray
  }

  private def writeStrHeader(out: DataOutputStream, len: Int): Unit = {
    if (len < 32) out.writeByte(0xA0 | len)
    else if (len < (1 << 8)) { out.writeByte(0xD9); out.writeByte(len) }
    else if (len < (1 << 16)) { out.writeByte(0xDA); out.writeShort(len) }
    else { out.writeByte(0xDB); out.writeInt(len) }
  }

  private def write(out: DataOutputStream, d: JDoc): Unit = d match {
    case JNull        => out.writeByte(0xC0)
    case JBool(false) => out.writeByte(0xC2)
    case JBool(true)  => out.writeByte(0xC3)
    case JLong(v) =>
      if (v >= 0) {
        if (v < 128) out.writeByte(v.toInt)
        else if (v < (1L << 8)) { out.writeByte(0xCC); out.writeByte(v.toInt) }
        else if (v < (1L << 16)) { out.writeByte(0xCD); out.writeShort(v.toInt) }
        else if (v < (1L << 32)) { out.writeByte(0xCE); out.writeInt(v.toInt) }
        else { out.writeByte(0xD3); out.writeLong(v) }
      } else {
        if (v >= -32) out.writeByte(0xE0 | (v + 32).toInt)
        else if (v >= Byte.MinValue) { out.writeByte(0xD0); out.writeByte(v.toInt) }
        else if (v >= Short.MinValue) { out.writeByte(0xD1); out.writeShort(v.toInt) }
        else if (v >= Int.MinValue) { out.writeByte(0xD2); out.writeInt(v.toInt) }
        else { out.writeByte(0xD3); out.writeLong(v) }
      }
    // MessagePack has no bignum family — DOCUMENTED NARROWING at this
    // codec boundary only: a >64-bit integer serializes as float64
    // (JSON text and CBOR keep it exact; see CborCodec bignum tags)
    case JBigInt(v) => out.writeByte(0xCB); out.writeLong(java.lang.Double.doubleToLongBits(v.toDouble))
    case JDouble(v) => out.writeByte(0xCB); out.writeLong(java.lang.Double.doubleToLongBits(v))
    case JStr(s) =>
      val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      writeStrHeader(out, bytes.length)
      out.write(bytes)
    case JArr(items) =>
      val n = items.length
      if (n < 16) out.writeByte(0x90 | n)
      else if (n < (1 << 16)) { out.writeByte(0xDC); out.writeShort(n) }
      else { out.writeByte(0xDD); out.writeInt(n) }
      items.foreach(write(out, _))
    case JObj(props) =>
      val n = props.length
      if (n < 16) out.writeByte(0x80 | n)
      else if (n < (1 << 16)) { out.writeByte(0xDE); out.writeShort(n) }
      else { out.writeByte(0xDF); out.writeInt(n) }
      props.foreach { case (k, v) =>
        val kb = k.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        writeStrHeader(out, kb.length)
        out.write(kb)
        write(out, v)
      }
  }

  // ---------------------------------------------------------------- decode

  def decode(bytes: Array[Byte]): JDoc = {
    val p = new Decoder(bytes)
    val v = p.readValue(0)
    if (p.pos != bytes.length) throw MsgPackException(s"trailing content at offset ${p.pos}")
    v
  }

  /** Concatenated-values stream decode (see CborCodec.decodeMany). */
  def decodeMany(bytes: Array[Byte]): (Vector[JDoc], Option[String]) = {
    val p = new Decoder(bytes)
    JsonText.readMany[MsgPackException](p.pos < bytes.length, p.readValue(0))
  }

  private final class Decoder(bytes: Array[Byte]) {
    var pos = 0

    private def fail(msg: String): Nothing = throw MsgPackException(s"$msg at offset $pos")

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

    private def str(len: Long): JDoc = {
      if (len > Int.MaxValue || pos + len > bytes.length) fail("string length out of range")
      val s = new String(bytes, pos, len.toInt, java.nio.charset.StandardCharsets.UTF_8)
      pos += len.toInt
      JStr(s)
    }

    private def arr(len: Long, depth: Int): JDoc = {
      if (len > Int.MaxValue) fail("array length out of range")
      val items = Vector.newBuilder[JDoc]
      var i = 0L
      while (i < len) { items += readValue(depth + 1); i += 1 }
      JArr(items.result())
    }

    private def map(len: Long, depth: Int): JDoc = {
      if (len > Int.MaxValue) fail("map length out of range")
      val props = Vector.newBuilder[(String, JDoc)]
      var i = 0L
      while (i < len) {
        readValue(depth + 1) match {
          case JStr(k) => props += ((k, readValue(depth + 1)))
          case other   => fail(s"map key must be a string, got ${other.typeName}")
        }
        i += 1
      }
      JObj.fromProps(props.result())
    }

    def readValue(depth: Int): JDoc = {
      if (depth > JsonText.MaxDepth) fail(s"nesting deeper than ${JsonText.MaxDepth}")
      val b = u8()
      b match {
        case x if x < 0x80  => JLong(x.toLong)              // positive fixint
        case x if x >= 0xE0 => JLong((x - 256).toLong)      // negative fixint
        case x if (x & 0xF0) == 0x80 => map((x & 0x0F).toLong, depth)  // fixmap
        case x if (x & 0xF0) == 0x90 => arr((x & 0x0F).toLong, depth)  // fixarray
        case x if (x & 0xE0) == 0xA0 => str((x & 0x1F).toLong)         // fixstr
        case 0xC0 => JNull
        case 0xC1 => fail("reserved byte 0xc1")
        case 0xC2 => JBool(false)
        case 0xC3 => JBool(true)
        case 0xC4 | 0xC5 | 0xC6 => fail("bin family has no document representation")
        case 0xC7 | 0xC8 | 0xC9 | 0xD4 | 0xD5 | 0xD6 | 0xD7 | 0xD8 => fail("ext family not supported")
        case 0xCA => JDouble(java.lang.Float.toString(
          java.lang.Float.intBitsToFloat(uN(4).toInt)).toDouble)
        case 0xCB => JDouble(java.lang.Double.longBitsToDouble(uN(8)))
        case 0xCC => JLong(uN(1))
        case 0xCD => JLong(uN(2))
        case 0xCE => JLong(uN(4))
        case 0xCF =>
          val v = uN(8)
          // beyond 2^63-1: widen exactly (JBigInt) instead of rejecting
          if (v < 0) JBigInt(BigInt(java.lang.Long.toUnsignedString(v)))
          else JLong(v)
        case 0xD0 => JLong(uN(1).toByte.toLong)
        case 0xD1 => JLong(uN(2).toShort.toLong)
        case 0xD2 => JLong(uN(4).toInt.toLong)
        case 0xD3 => JLong(uN(8))
        case 0xD9 => str(uN(1))
        case 0xDA => str(uN(2))
        case 0xDB => str(uN(4))
        case 0xDC => arr(uN(2), depth)
        case 0xDD => arr(uN(4), depth)
        case 0xDE => map(uN(2), depth)
        case 0xDF => map(uN(4), depth)
        case other => fail(s"unknown format byte 0x${"%02x".format(other)}")
      }
    }
  }
}
