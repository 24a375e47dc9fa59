package graft.json

/** RFC 8259 JSON text codec with the reference's lenient extensions and
  * canonical output form (reference: src/json.rs:74-463, 481-609).
  *
  * Parser extensions beyond strict RFC 8259 (reference `parse_num`,
  * src/json.rs:226-249 consumes a run of `[0-9+-.eE]` and defers to the
  * runtime's int/float parse): leading zeros (`00`, `001`), bare fractions
  * (`.2`, `-.00`), leading `+`, and zero-padded exponents (`02e-1`).
  *
  * Canonical serializer (reference `Display`, src/json.rs:568-609): object
  * keys sorted, floats in Rust `{:e}` scientific notation with
  * shortest-round-trip mantissa, strings escaped per the reference's ESCAPE
  * table (control chars, quote and backslash only; `/` NOT escaped).
  */
object JsonText {

  final case class JsonParseException(msg: String, offset: Int)
      extends Exception(s"$msg at offset $offset")

  /** A value nested deeper than [[MaxDepth]] has no canonical text: the
    * parser would reject it, and the recursive writer would overflow the
    * stack. Only computed values get here (`reduce range(n) as $x ([]; [.])`),
    * never parsed ones. */
  final case class JsonDepthException(limit: Int)
      extends Exception(s"cannot render a value nested deeper than $limit")

  /** Parse one JSON value; trailing content is an error. */
  def parse(text: String): JDoc = new Parser(text).document()

  /** One parse of a JSON text, kept for several readers: the document, or
    * the parse error's message (`doc` is then null).
    *
    * `exact` is false when the document holds a negative zero or a
    * non-finite double, the only values whose canonical text does not
    * parse back to them: `-0.0` renders `0e0`, which reads back as `0.0`,
    * and `1e999` renders `inf`, which does not read back at all. */
  final class Parsed private[JsonText] (val doc: JDoc, val error: String, val exact: Boolean) {

    /** The document a parse of `canonical(doc)` gives: `doc` itself when
      * `exact`, else that parse, which throws [[JsonParseException]] on
      * a non-finite double as reading the canonical text would. */
    def readBack: JDoc = if (exact) doc else parse(canonical(doc))
  }

  /** [[parse]], with a malformed text as a [[Parsed]] error instead of an
    * exception. */
  def parseOnce(text: String): Parsed = {
    val p = new Parser(text)
    try { val v = p.document(); new Parsed(v, null, p.exact) }
    catch { case e: JsonParseException => failed(e) }
  }

  /** A parse that failed with `e`. */
  def failed(e: JsonParseException): Parsed = new Parsed(null, e.getMessage, true)

  /** Parse as many leading whitespace-separated values as possible (the
    * reference's `Jsons` scan format, src/json.rs:123-160); on malformed
    * input returns everything parsed so far plus the error for the
    * remainder (the error-as-data discipline for whole-file scans). */
  def parseManyLenient(text: String): (Vector[JDoc], Option[String]) = {
    val p = new Parser(text)
    readMany[JsonParseException]({ p.skipWs(); !p.atEnd }, p.parseValue())
  }

  /** The lenient stream loop every codec shares: values from `next` while
    * `more`, until `next` throws an `E`, whose message ends the stream. */
  private[json] def readMany[E <: Exception: scala.reflect.ClassTag](more: => Boolean, next: => JDoc)
      : (Vector[JDoc], Option[String]) = {
    val out = Vector.newBuilder[JDoc]
    try {
      while (more) out += next
      (out.result(), None)
    } catch { case e: E => (out.result(), Some(e.getMessage)) }
  }

  /** Max container nesting: deeper input raises [[JsonParseException]] (the
    * errors-as-data path) instead of a StackOverflowError that would kill
    * the whole Spark task. 512 is far beyond any real document and well
    * inside the JVM's default stack for the recursive-descent walk. */
  val MaxDepth = 512

  private val NegZeroBits = java.lang.Double.doubleToRawLongBits(-0.0)

  private final class Parser(val text: String) {
    var pos = 0
    private var depth = 0
    /** No negative zero or non-finite double parsed so far (see [[Parsed]]). */
    var exact = true
    def atEnd: Boolean = pos >= text.length

    /** One value and nothing after it. */
    def document(): JDoc = {
      skipWs()
      val v = parseValue()
      skipWs()
      if (!atEnd) fail("trailing content")
      v
    }
    def skipWs(): Unit = {
      while (pos < text.length && (text.charAt(pos) match {
        case ' ' | '\t' | '\n' | '\r' => true
        case _ => false
      })) pos += 1
    }
    private def fail(msg: String): Nothing = throw JsonParseException(msg, pos)

    def parseValue(): JDoc = {
      skipWs()
      if (atEnd) fail("unexpected end of input")
      text.charAt(pos) match {
        case 'n' => expect("null"); JNull
        case 't' => expect("true"); JBool.True
        case 'f' => expect("false"); JBool.False
        case '"' => JStr(parseString())
        case '[' => parseArray()
        case '{' => parseObject()
        case c if c == '-' || c == '+' || c == '.' || c == 'e' || c == 'E' || (c >= '0' && c <= '9') =>
          parseNum()
        case c => fail(s"invalid token $c")
      }
    }

    private def expect(word: String): Unit = {
      if (pos + word.length > text.length || text.substring(pos, pos + word.length) != word)
        fail(s"expected $word")
      pos += word.length
    }

    /** Reference `parse_num` (src/json.rs:226-249): take the run of number
      * chars; float iff it contains `.`/`e`/`E`, else 64-bit integer. */
    private def parseNum(): JDoc = {
      val start = pos
      var isFloat = false
      var done = false
      while (pos < text.length && !done) {
        text.charAt(pos) match {
          case c if (c >= '0' && c <= '9') || c == '+' || c == '-' => pos += 1
          case '.' | 'e' | 'E' => isFloat = true; pos += 1
          case _ => done = true
        }
      }
      val s = text.substring(start, pos)
      try {
        if (isFloat) {
          val d = java.lang.Double.parseDouble(s)
          // the integer branch below saturates, so only here can a value
          // without a canonical round trip arise
          if (java.lang.Double.isInfinite(d) || java.lang.Double.doubleToRawLongBits(d) == NegZeroBits)
            exact = false
          JDouble(d)
        } else JLong(java.lang.Long.parseLong(s))
      } catch {
        case _: NumberFormatException if !isFloat =>
          // Reference i128 semantics (json.rs:234,469): an integer past
          // ±2^63-1 stays EXACT as a JBigInt over the full i128 range —
          // a 39-digit id inside ±2^127 round-trips bit-exactly
          // (DuckDB's HUGEINT is the same domain). Outside i128 it
          // degrades to double (jq's behavior) instead of erroring the
          // whole document: at corpus scale one absurd literal must
          // not kill the batch.
          val digits = s.length - (if (s.startsWith("-") || s.startsWith("+")) 1 else 0)
          val wide =
            if (digits <= JInt.MaxDigits)
              try Some(BigInt(s)).filter(JInt.inI128).map(JInt.of)
              catch { case _: NumberFormatException => None }
            else None
          wide.getOrElse {
            // integer ladder overflow saturates (JInt.satDouble policy)
            // so the degraded value stays canonicalizable + re-parseable
            try JDouble(JInt.satDouble(java.lang.Double.parseDouble(s)))
            catch { case _: NumberFormatException => fail(s"invalid number $s") }
          }
        case _: NumberFormatException => fail(s"invalid number $s")
      }
    }

    /** String with RFC 8259 escapes incl. UTF-16 surrogate pairs
      * (reference: src/json.rs:251-365). A string with no escape is one
      * `substring` of the text. */
    def parseString(): String = {
      if (text.charAt(pos) != '"') fail("not a string")
      pos += 1
      val start = pos
      while (pos < text.length && text.charAt(pos) != '"' && text.charAt(pos) != '\\') pos += 1
      if (atEnd) fail("incomplete string")
      if (text.charAt(pos) == '"') { pos += 1; return text.substring(start, pos - 1) }
      val sb = new java.lang.StringBuilder(pos - start + 16)
      sb.append(text, start, pos)
      while (true) {
        if (atEnd) fail("incomplete string")
        val c = text.charAt(pos)
        pos += 1
        c match {
          case '"' => return sb.toString
          case '\\' =>
            if (atEnd) fail("incomplete string escape")
            val e = text.charAt(pos)
            pos += 1
            e match {
              case '"'  => sb.append('"')
              case '\\' => sb.append('\\')
              case '/'  => sb.append('/')
              case 'b'  => sb.append('\b')
              case 'f'  => sb.append('\f')
              case 'n'  => sb.append('\n')
              case 'r'  => sb.append('\r')
              case 't'  => sb.append('\t')
              case 'u'  =>
                val code1 = hex4()
                if (code1 >= 0xDC00 && code1 <= 0xDFFF) fail(s"invalid string codepoint $code1")
                else if (code1 >= 0xD800 && code1 <= 0xDBFF) {
                  if (pos + 1 >= text.length || text.charAt(pos) != '\\' || text.charAt(pos + 1) != 'u')
                    fail("invalid surrogate pair")
                  pos += 2
                  val code2 = hex4()
                  if (code2 < 0xDC00 || code2 > 0xDFFF) fail(s"invalid string codepoint $code2")
                  val cp = (((code1 - 0xD800) << 10) | (code2 - 0xDC00)) + 0x10000
                  sb.appendCodePoint(cp)
                } else sb.appendCodePoint(code1)
              case other => fail(s"invalid string escape $other")
            }
          case other => sb.append(other)
        }
      }
      throw new IllegalStateException("unreachable")
    }

    private def hex4(): Int = {
      if (pos + 4 > text.length) fail("incomplete string escape code")
      var code = 0
      var i = 0
      while (i < 4) {
        val c = text.charAt(pos)
        val d =
          if (c >= '0' && c <= '9') c - '0'
          else if (c >= 'a' && c <= 'f') c - 'a' + 10
          else if (c >= 'A' && c <= 'F') c - 'A' + 10
          else fail(s"invalid string escape code $c")
        code = code * 16 + d
        pos += 1; i += 1
      }
      code
    }

    private def parseArray(): JDoc = {
      depth += 1
      if (depth > MaxDepth) fail(s"nesting deeper than $MaxDepth")
      pos += 1 // '['
      val items = Vector.newBuilder[JDoc]
      skipWs()
      if (!atEnd && text.charAt(pos) == ']') { pos += 1; depth -= 1; return JArr(items.result()) }
      var done = false
      while (!done) {
        items += parseValue()
        skipWs()
        if (atEnd) fail("incomplete array")
        text.charAt(pos) match {
          case ',' => pos += 1
          case ']' => pos += 1; done = true
          case c   => fail(s"expected , or ] but got $c")
        }
      }
      depth -= 1
      JArr(items.result())
    }

    private def parseObject(): JDoc = {
      depth += 1
      if (depth > MaxDepth) fail(s"nesting deeper than $MaxDepth")
      pos += 1 // '{'
      skipWs()
      if (!atEnd && text.charAt(pos) == '}') { pos += 1; depth -= 1; return JObj.empty }
      val props = new JObj.Builder(8)
      var done = false
      while (!done) {
        skipWs()
        if (atEnd || text.charAt(pos) != '"') fail("expected object key string")
        val key = parseString()
        skipWs()
        if (atEnd || text.charAt(pos) != ':') fail("expected :")
        pos += 1
        val value = parseValue()
        props += ((key, value))
        skipWs()
        if (atEnd) fail("incomplete object")
        text.charAt(pos) match {
          case ',' => pos += 1
          case '}' => pos += 1; done = true
          case c   => fail(s"expected , or } but got $c")
        }
      }
      depth -= 1
      props.result()
    }
  }

  // ---------------------------------------------------------------- output

  /** Canonical text form (sorted keys come free from the JObj invariant).
    * Throws [[JsonDepthException]] past [[MaxDepth]], the parser's own
    * bound, so every canonical text re-parses. */
  def canonical(d: JDoc): String = {
    val sb = new java.lang.StringBuilder
    write(sb, d)
    sb.toString
  }

  def write(sb: java.lang.StringBuilder, d: JDoc): Unit = write(sb, d, 0)

  /** `depth` counts the containers around `d`. */
  private def write(sb: java.lang.StringBuilder, d: JDoc, depth: Int): Unit = d match {
    case JNull         => sb.append("null")
    case JBool(true)   => sb.append("true")
    case JBool(false)  => sb.append("false")
    case JLong(v)      => sb.append(v)
    case JBigInt(v)    => sb.append(v.toString)
    case JDouble(v)    => sb.append(rustSci(v))
    case JStr(s)       => writeString(sb, s)
    case JArr(items)   =>
      if (depth >= MaxDepth) throw JsonDepthException(MaxDepth)
      sb.append('[')
      var i = 0
      while (i < items.length) {
        if (i > 0) sb.append(',')
        write(sb, items(i), depth + 1)
        i += 1
      }
      sb.append(']')
    case JObj(props)   =>
      if (depth >= MaxDepth) throw JsonDepthException(MaxDepth)
      sb.append('{')
      var i = 0
      while (i < props.length) {
        if (i > 0) sb.append(',')
        writeString(sb, props(i)._1)
        sb.append(':')
        write(sb, props(i)._2, depth + 1)
        i += 1
      }
      sb.append('}')
  }

  /** Escape per the reference's ESCAPE table (src/json.rs.lookup:37-90):
    * named escapes for \b \t \n \f \r, \uXXXX for other control chars,
    * plus `"` and `\`; everything else verbatim (no `/` escaping). */
  def writeString(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"'  => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\b' => sb.append("\\b")
        case '\t' => sb.append("\\t")
        case '\n' => sb.append("\\n")
        case '\f' => sb.append("\\f")
        case '\r' => sb.append("\\r")
        case _ if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
        case _ => sb.append(c)
      }
      i += 1
    }
    sb.append('"')
  }

  /** Rust `{:e}` float formatting: shortest-round-trip mantissa normalized
    * to one leading digit, exponent always present without `+` (golden
    * corpus: `10.2` → `1.02e1`, `0.2` → `2e-1`, `-0.0` → `0e0`).
    *
    * The shortest decimal is computed directly (smallest precision whose
    * correctly-rounded decimal round-trips to the same double) rather than
    * trusting `Double.toString`: on JDK 17 the JDK string is round-trip
    * but NOT always shortest (JDK-4511638, fixed only in JDK 19+), which
    * would diverge from the reference's Rust `{:e}` output. HALF_EVEN on
    * the exact binary expansion matches Ryu's digit selection. */
  def rustSci(d: Double): String = {
    if (d.isNaN) return "NaN"
    if (d == java.lang.Double.POSITIVE_INFINITY) return "inf"
    if (d == java.lang.Double.NEGATIVE_INFINITY) return "-inf"
    if (d == 0.0) return "0e0" // golden corpus drops the sign of -0.0
    val neg = d < 0
    val ad = math.abs(d)
    val exact = new java.math.BigDecimal(ad)
    def roundAt(p: Int): java.math.BigDecimal =
      exact.round(new java.math.MathContext(p, java.math.RoundingMode.HALF_EVEN))
    // Seed the precision from the JDK string's significant-digit count —
    // it round-trips, and the correctly-rounded decimal at the same
    // precision is at least as close, so it round-trips too. Then probe
    // DOWNWARD for shorter (JDK 17 strings are occasionally 1-2 digits
    // over shortest, JDK-4511638): 2-3 roundings per double on the
    // canonical-output hot path instead of up to 17 ascending probes.
    val jdk = java.lang.Double.toString(ad)
    val ePos = jdk.indexOf('E')
    val mant = if (ePos >= 0) jdk.substring(0, ePos) else jdk
    val sig = mant.replace(".", "").dropWhile(_ == '0').reverse.dropWhile(_ == '0').reverse
    val seed = math.max(1, math.min(17, sig.length))
    var bd = roundAt(seed)
    if (bd.doubleValue() != ad) {
      // defensive: should be unreachable (see above); widen until exact
      var p = seed + 1
      while (bd.doubleValue() != ad && p <= 17) { bd = roundAt(p); p += 1 }
      if (bd.doubleValue() != ad) bd = exact
    } else {
      var p = seed - 1
      var shorter = true
      while (p >= 1 && shorter) {
        val cand = roundAt(p)
        if (cand.doubleValue() == ad) { bd = cand; p -= 1 } else shorter = false
      }
    }
    val unscaled = bd.unscaledValue.toString
    val e = unscaled.length - 1 - bd.scale
    val digits = {
      val t = unscaled.reverse.dropWhile(_ == '0').reverse
      if (t.isEmpty) "0" else t
    }
    val m = if (digits.length == 1) digits else s"${digits.head}.${digits.tail}"
    (if (neg) "-" else "") + m + "e" + e
  }
}
