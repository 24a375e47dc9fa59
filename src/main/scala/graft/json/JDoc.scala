package graft.json

/** Dynamically-typed JSON document value — the engine's core data model.
  *
  * Mirrors the semantics (NOT the implementation) of the reference's `Json`
  * enum (reference: src/json.rs:469-478) and its `Document` trait
  * (reference: src/db.rs:33-132):
  *
  *   - total order across types: Null < Bool < Integer < Float < String <
  *     Array < Object (reference: src/db.rs:21-30) — int/float are NOT
  *     numerically unified for comparison.
  *   - objects hold key-sorted unique properties with last-wins upsert
  *     (reference: src/json.rs:501-507, src/prop.rs:86-110).
  *   - integers are 64-bit [[JLong]] in the common range and widen to an
  *     exact [[JBigInt]] past ±2^63-1 over the reference's FULL i128
  *     domain [−2^127, 2^127−1]; outside i128 they degrade to [[JDouble]]
  *     (see SURVEY.md §1.4; round-7 VERDICT item 8, widened in round 10).
  *
  * All values are immutable and `Serializable`, so kernels over them can run
  * inside Catalyst expressions on executors.
  */
sealed trait JDoc extends Serializable {
  /** Cross-type collation rank (reference: src/db.rs:21-30). */
  def typeOrder: Int
  /** Type name as the reference's `Doctype` Debug format prints it. */
  def typeName: String
}

case object JNull extends JDoc { val typeOrder = 0; val typeName = "Null" }
final case class JBool(v: Boolean) extends JDoc { val typeOrder = 1; val typeName = "Bool" }
object JBool {
  /** The two booleans, shared: comparisons and predicates return these
    * instead of allocating a result per call. */
  val True: JBool = new JBool(true)
  val False: JBool = new JBool(false)
  def of(b: Boolean): JBool = if (b) True else False
}
final case class JLong(v: Long) extends JDoc { val typeOrder = 2; val typeName = "Integer" }

/** Exact integer beyond ±2^63-1 — the reference's i128 literals
  * (reference: src/json.rs:234,469) stay exact over the FULL i128 range
  * [−2^127, 2^127−1]; only literals outside i128 degrade to double
  * (jq's behavior). DuckDB's HUGEINT is the same i128, so oracles
  * compare exactly at full width. Same collation class as [[JLong]]
  * ("Integer"); [[JInt.of]] maintains the invariant that long-range
  * values ALWAYS use JLong, so a JBigInt is never numerically equal to
  * any JLong and variant-strict equality stays coherent. */
final case class JBigInt(v: BigInt) extends JDoc { val typeOrder = 2; val typeName = "Integer" }

object JInt {
  /** The i128 domain (reference json.rs:469). */
  val MinI128: BigInt = BigInt(-1) << 127
  val MaxI128: BigInt = (BigInt(1) << 127) - 1
  /** Fast digit pre-filter for the parse ladders: i128 values carry at
    * most 39 digits; a 39-digit string still needs the range check. */
  val MaxDigits = 39
  def inI128(v: BigInt): Boolean = v >= MinI128 && v <= MaxI128
  /** Normalizing constructor: long-range → JLong; i128-range → JBigInt;
    * OUTSIDE i128 → JDouble. The last arm closes arithmetic over the
    * representable domain: the reference's i128 cannot hold a wider value
    * (its arithmetic would overflow there), and degrading to Float keeps
    * errors-as-data batches alive while preserving the invariant that
    * every Integer the engine ever produces round-trips exactly through
    * parse/canonical (a >i128 JBigInt would canonicalize to text the
    * parse ladder can only re-read as a double). */
  def of(v: BigInt): JDoc =
    if (v.isValidLong) JLong(v.toLong)
    else if (inI128(v)) JBigInt(v)
    else JDouble(toDoubleSat(v))

  /** Integer-degrade conversion with jq's overflow discipline: a value
    * beyond double range saturates to ±Double.MaxValue instead of ±inf
    * (jq clamps overflowing numeric literals the same way), so every
    * degraded value stays finite — canonicalizable AND re-parseable.
    * Without this a CBOR bignum ≥ 2^1024 became JDouble(inf), whose
    * canonical text "inf" no JSON parser reads back (round-10 review
    * finding). Float LITERALS (1e999) keep the reference's Rust parse
    * semantics (inf) — this policy covers only the integer widening
    * ladder, which is this engine's own extension. */
  def toDoubleSat(v: BigInt): Double = satDouble(v.toDouble)

  /** The ONE clamp the integer-degrade paths share (JInt.of, and the
    * >39-digit fallbacks in JsonText.parseNum / the jq literal lexer). */
  def satDouble(d: Double): Double =
    if (d == Double.PositiveInfinity) Double.MaxValue
    else if (d == Double.NegativeInfinity) Double.MinValue
    else d
}

final case class JDouble(v: Double) extends JDoc { val typeOrder = 3; val typeName = "Float" }
final case class JStr(v: String) extends JDoc { val typeOrder = 4; val typeName = "String" }
final case class JArr(items: Vector[JDoc]) extends JDoc { val typeOrder = 5; val typeName = "Array" }

/** Object with key-sorted, unique properties (invariant maintained by
  * [[JObj.fromProps]]; reference: src/prop.rs:86-110). */
final case class JObj(props: Vector[(String, JDoc)]) extends JDoc {
  val typeOrder = 6; val typeName = "Object"
  def get(key: String): Option[JDoc] = {
    val i = search(key)
    if (i < 0) None else Some(props(i)._2)
  }

  /** Position of `key` in [[props]], or -1. The position `hint` is
    * checked before the binary search: a call site that reads one key
    * from a stream of same-shaped objects passes the position it found
    * last time and skips the search. */
  def indexOf(key: String, hint: Int): Int =
    if (hint < props.length && props(hint)._1 == key) hint
    else math.max(search(key), -1)

  /** Binary search over the sorted props (reference: src/prop.rs:86-110):
    * >=0 found index, else -(insertion point)-1. */
  private def search(key: String): Int = {
    var lo = 0; var hi = props.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val c = JOps.cmpStr(props(mid)._1, key)
      if (c == 0) return mid
      else if (c < 0) lo = mid + 1
      else hi = mid - 1
    }
    -(lo + 1)
  }
}

object JObj {
  val empty: JObj = JObj(Vector.empty)

  /** Build from properties in encounter order with last-wins upsert on
    * duplicate keys, result sorted by key (reference: src/json.rs:501-507). */
  def fromProps(pairs: Iterable[(String, JDoc)]): JObj = {
    val b = new Builder(pairs.knownSize)
    pairs.foreach(b += _)
    b.result()
  }

  /** [[fromProps]] one property at a time: the properties are kept sorted
    * in place in one array (a binary-search insert, last key wins; keys
    * arriving in order append), and the result wraps that array as the
    * props vector without another copy when it holds at most 32. */
  final class Builder(sizeHint: Int) {
    private var arr = new Array[AnyRef](if (sizeHint > 0) sizeHint else 8)
    private var n = 0

    private def keyAt(i: Int): String = arr(i).asInstanceOf[(String, JDoc)]._1

    def +=(kv: (String, JDoc)): Unit = {
      val key = kv._1
      if (n > 0 && JOps.cmpStr(keyAt(n - 1), key) >= 0) {
        var lo = 0; var hi = n - 1
        while (lo <= hi) {
          val mid = (lo + hi) >>> 1
          val c = JOps.cmpStr(keyAt(mid), key)
          if (c == 0) { arr(mid) = kv; return }
          else if (c < 0) lo = mid + 1
          else hi = mid - 1
        }
        insert(lo, kv)
      } else insert(n, kv)
    }

    private def insert(at: Int, kv: (String, JDoc)): Unit = {
      if (n == arr.length) arr = java.util.Arrays.copyOf(arr, n * 2)
      System.arraycopy(arr, at, arr, at + 1, n - at)
      arr(at) = kv
      n += 1
    }

    def result(): JObj =
      if (n == 0) empty
      else {
        val exact = if (n == arr.length) arr else java.util.Arrays.copyOf(arr, n)
        // an AnyRef-array ArraySeq of at most 32 elements becomes the
        // Vector's own leaf array
        JObj(Vector.from(scala.collection.immutable.ArraySeq.unsafeWrapArray(exact))
          .asInstanceOf[Vector[(String, JDoc)]])
      }
  }
}

/** Value-level operator kernels — the reference's polymorphic semantics
  * (reference: src/json.rs:870-1130). Null is the silent result of any
  * unsupported combination; it is never an error. */
object JOps {

  /** UTF-8 byte-order string comparison (Rust `String: Ord` compares UTF-8
    * bytes; equivalent to comparing Unicode code points). UTF-16 chars
    * compare in code-point order except when both sides of the first
    * difference are at or above U+D800, where a surrogate (half of a
    * supplementary code point) may sort after U+E000–U+FFFF: only that
    * case decodes code points, from the start of the one that differs. */
  def cmpStr(a: String, b: String): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val ca = a.charAt(i); val cb = b.charAt(i)
      if (ca != cb) {
        if (ca < 0xD800 || cb < 0xD800) return ca - cb
        return cmpCodePoints(a, b, if (i > 0 && Character.isHighSurrogate(a.charAt(i - 1))) i - 1 else i)
      }
      i += 1
    }
    a.length - b.length
  }

  /** Code-point comparison from `from`, where both strings split into
    * the same code points before it. */
  private def cmpCodePoints(a: String, b: String, from: Int): Int = {
    var i = from
    while (i < a.length && i < b.length) {
      val ca = a.codePointAt(i); val cb = b.codePointAt(i)
      if (ca != cb) return java.lang.Integer.compare(ca, cb)
      i += Character.charCount(ca)
    }
    java.lang.Integer.compare(a.length - i, b.length - i)
  }

  /** Truthiness: null/false falsy, everything else truthy
    * (reference: src/json.rs:553-557). */
  def truthy(d: JDoc): Boolean = d match {
    case JNull | JBool(false) => false
    case _                    => true
  }

  /** Structural equality with the reference's derived-`PartialEq` quirks
    * (reference: src/json.rs:469, src/prop.rs:70-77):
    *   - variant-strict: `1 == 1.0` is FALSE (Integer vs Float variants);
    *   - object equality compares KEYS ONLY (Property eq is key-only).
    */
  def eqDoc(a: JDoc, b: JDoc): Boolean = a match {
    case JNull      => b eq JNull
    case JBool(x)   => b match { case JBool(y) => x == y; case _ => false }
    case JLong(x)   => b match { case JLong(y) => x == y; case _ => false }
    case JBigInt(x) => b match { case JBigInt(y) => x == y; case _ => false } // JLong↔JBigInt never equal (JInt.of invariant)
    case JDouble(x) => b match { case JDouble(y) => x == y; case _ => false } // IEEE: NaN != NaN, -0.0 == 0.0
    case JStr(x)    => b match { case JStr(y) => x == y; case _ => false }
    case JArr(x)    => b match {
      case JArr(y) => x.length == y.length && x.indices.forall(i => eqDoc(x(i), y(i)))
      case _       => false
    }
    case JObj(x)    => b match {
      case JObj(y) => x.length == y.length && x.indices.forall(i => x(i)._1 == y(i)._1)
      case _       => false
    }
  }

  /** [[cmp]]'s result for an incomparable pair (NaN). No comparable pair
    * gives it: every other result is a `compare` sign or a difference of
    * two chars or two string lengths. */
  final val Incomparable = Int.MinValue

  /** Cross-type collation compare (reference: src/db.rs:21-30 derive order;
    * within-type per derived `PartialOrd` on src/json.rs:469): the sign
    * orders `a` against `b`, or [[Incomparable]] (NaN). Objects compare by
    * KEYS ONLY (reference: src/prop.rs:79-83), arrays lexicographically. */
  def cmp(a: JDoc, b: JDoc): Int = {
    if (a.typeOrder != b.typeOrder) return java.lang.Integer.compare(a.typeOrder, b.typeOrder)
    a match {
      case JNull    => 0
      case JBool(x) => java.lang.Boolean.compare(x, b.asInstanceOf[JBool].v)
      // Integer class spans both widths: order numerically
      case JLong(x) => b match {
        case JLong(y)   => java.lang.Long.compare(x, y)
        case JBigInt(y) => BigInt(x).compare(y)
        case _          => Incomparable // unreachable: same typeOrder
      }
      case JBigInt(x) => b match {
        case JLong(y)   => x.compare(BigInt(y))
        case JBigInt(y) => x.compare(y)
        case _          => Incomparable // unreachable: same typeOrder
      }
      case JDouble(x) =>
        val y = b.asInstanceOf[JDouble].v
        if (x.isNaN || y.isNaN) Incomparable
        else if (x < y) -1 else if (x > y) 1 else 0 // IEEE: -0.0 == 0.0
      case JStr(x)  => cmpStr(x, b.asInstanceOf[JStr].v)
      case JArr(x)  =>
        val y = b.asInstanceOf[JArr].items
        var i = 0
        val n = math.min(x.length, y.length)
        while (i < n) {
          val c = cmp(x(i), y(i))
          if (c != 0) return c
          i += 1
        }
        java.lang.Integer.compare(x.length, y.length)
      case JObj(x)  =>
        val y = b.asInstanceOf[JObj].props
        var i = 0
        val n = math.min(x.length, y.length)
        while (i < n) {
          val c = cmpStr(x(i)._1, y(i)._1)
          if (c != 0) return c
          i += 1
        }
        java.lang.Integer.compare(x.length, y.length)
    }
  }

  /** TOTAL collation order for sorting: like [[cmp]] but NaN compares —
    * below every other float, equal to itself — at ANY nesting depth
    * (arrays recurse with this same comparator, so [NaN] vs [1] is
    * ordered, not "equal to everything"). A partial or intransitive
    * comparator fed to TimSort throws IllegalArgumentException mid-task
    * on ≥32 elements; sort/unique/min/max must never do that. */
  def totalCmp(a: JDoc, b: JDoc): Int = {
    if (a.typeOrder != b.typeOrder) return java.lang.Integer.compare(a.typeOrder, b.typeOrder)
    (a, b) match {
      case (JDouble(x), JDouble(y)) =>
        val nx = x.isNaN; val ny = y.isNaN
        if (nx || ny) { if (nx && ny) 0 else if (nx) -1 else 1 }
        else if (x < y) -1 else if (x > y) 1 else 0 // IEEE: -0.0 == 0.0
      case (JArr(x), JArr(y)) =>
        var i = 0
        val n = math.min(x.length, y.length)
        while (i < n) {
          val c = totalCmp(x(i), y(i))
          if (c != 0) return c
          i += 1
        }
        java.lang.Integer.compare(x.length, y.length)
      case _ => cmp(a, b) // scalar/object cases are already total (no NaN here)
    }
  }

  /** Remove the value at a static path (jq `del`): deleting a missing
    * key/index or navigating through null is a no-op (the document is
    * returned unchanged); deleting through a scalar is an error; the
    * empty path cannot be deleted. */
  def removePath(d: JDoc, segs: List[PathSeg]): Either[String, JDoc] = segs match {
    case Nil => Left("cannot delete the document root")
    case seg :: Nil => (seg, d) match {
      case (Left(key), o: JObj)    => Right(JObj(o.props.filterNot(_._1 == key)))
      case (Right(idx), JArr(items)) =>
        val i = if (idx < 0) idx + items.length else idx
        if (i >= 0 && i < items.length)
          Right(JArr(items.patch(i.toInt, Nil, 1)))
        else Right(d) // out-of-range delete is a no-op
      case (_, JNull) => Right(JNull)
      case (Left(k), other)  => Left(s"cannot index ${other.typeName} with $k")
      case (Right(i), other) => Left(s"cannot index ${other.typeName} with $i")
    }
    case seg :: rest =>
      def into(child: JDoc, rebuild: JDoc => JDoc): Either[String, JDoc] =
        removePath(child, rest).map(rebuild)
      (seg, d) match {
        case (Left(key), o: JObj) => o.get(key) match {
          case None        => Right(d) // missing path: no-op
          case Some(child) => into(child, nv => JObj.fromProps(o.props :+ (key -> nv)))
        }
        case (Right(idx), JArr(items)) =>
          val i = if (idx < 0) idx + items.length else idx
          if (i >= 0 && i < items.length)
            into(items(i.toInt), nv => JArr(items.updated(i.toInt, nv)))
          else Right(d)
        case (_, JNull) => Right(JNull)
        case (Left(k), other)  => Left(s"cannot index ${other.typeName} with $k")
        case (Right(i), other) => Left(s"cannot index ${other.typeName} with $i")
      }
  }

  /** `a + b` (reference: src/json.rs:963-995): numeric add (any float side →
    * float), string/array concat, object shallow merge (right wins). */
  def add(a: JDoc, b: JDoc): JDoc = (a, b) match {
    case (JLong(x), JLong(y))     => JLong(x + y)
    case (JLong(x), JDouble(y))   => JDouble(x + y)
    case (JDouble(x), JLong(y))   => JDouble(x + y)
    case (JDouble(x), JDouble(y)) => JDouble(x + y)
    case (JBigInt(x), JLong(y))   => JInt.of(x + y)
    case (JLong(x), JBigInt(y))   => JInt.of(y + x)
    case (JBigInt(x), JBigInt(y)) => JInt.of(x + y)
    case (JBigInt(x), JDouble(y)) => JDouble(x.toDouble + y)
    case (JDouble(x), JBigInt(y)) => JDouble(x + y.toDouble)
    case (JStr(x), JStr(y))       => JStr(x + y)
    case (JArr(x), JArr(y))       => JArr(x ++ y)
    case (JObj(x), JObj(y))       => JObj.fromProps(x ++ y)
    case _                        => JNull
  }

  /** `a - b` (reference: src/json.rs:997-1017): numeric sub; array minus
    * array removes the FIRST occurrence of each rhs element (the reference's
    * `Vec::remove_item`; jq removes all — we match the reference). */
  def sub(a: JDoc, b: JDoc): JDoc = (a, b) match {
    case (JLong(x), JLong(y))     => JLong(x - y)
    case (JLong(x), JDouble(y))   => JDouble(x - y)
    case (JDouble(x), JLong(y))   => JDouble(x - y)
    case (JDouble(x), JDouble(y)) => JDouble(x - y)
    case (JBigInt(x), JLong(y))   => JInt.of(x - y)
    case (JLong(x), JBigInt(y))   => JInt.of(BigInt(x) - y)
    case (JBigInt(x), JBigInt(y)) => JInt.of(x - y)
    case (JBigInt(x), JDouble(y)) => JDouble(x.toDouble - y)
    case (JDouble(x), JBigInt(y)) => JDouble(x - y.toDouble)
    case (JArr(x), JArr(y))       =>
      val buf = x.toBuffer
      y.foreach { item =>
        val idx = buf.indexWhere(e => eqDoc(e, item))
        if (idx >= 0) buf.remove(idx)
      }
      JArr(buf.toVector)
    case _                        => JNull
  }

  /** `a * b` (reference: src/json.rs:893-917): numeric mul; string repeat
    * (`"s" * 0` → null; negative counts → null, the reference would panic);
    * object deep recursive merge (reference `mixin_object`,
    * src/json.rs:1103-1122, with intended right-wins leaf semantics). */
  def mul(a: JDoc, b: JDoc): JDoc = (a, b) match {
    case (JLong(x), JLong(y))     => JLong(x * y)
    case (JLong(x), JDouble(y))   => JDouble(x * y)
    case (JDouble(x), JLong(y))   => JDouble(x * y)
    case (JDouble(x), JDouble(y)) => JDouble(x * y)
    case (JBigInt(x), JLong(y))   => JInt.of(x * y)
    case (JLong(x), JBigInt(y))   => JInt.of(y * x)
    case (JBigInt(x), JBigInt(y)) => JInt.of(x * y)
    case (JBigInt(x), JDouble(y)) => JDouble(x.toDouble * y)
    case (JDouble(x), JBigInt(y)) => JDouble(x * y.toDouble)
    case (JStr(s), JLong(n))      => if (n <= 0 || n > Int.MaxValue) JNull else JStr(s * n.toInt)
    case (JLong(n), JStr(s))      => if (n <= 0 || n > Int.MaxValue) JNull else JStr(s * n.toInt)
    case (JObj(_), JObj(_))       => deepMerge(a.asInstanceOf[JObj], b.asInstanceOf[JObj])
    case _                        => JNull
  }

  /** Recursive object merge: same-key objects merge recursively; otherwise
    * the right side wins (reference: src/json.rs:1103-1122 intent). */
  def deepMerge(l: JObj, r: JObj): JObj =
    JObj.fromProps(l.props ++ r.props.map { case (k, rv) =>
      (l.get(k), rv) match {
        case (Some(lo: JObj), ro: JObj) => (k, deepMerge(lo, ro))
        case _                          => (k, rv)
      }
    })

  /** `a / b` (reference: src/json.rs:919-941): int/int → float ALWAYS;
    * divide-by-zero → null; string / separator → split array (Rust `split`
    * semantics, empty parts preserved). */
  def div(a: JDoc, b: JDoc): JDoc = (a, b) match {
    case (JLong(_) | JDouble(_) | JBigInt(_), JLong(0))               => JNull
    case (JLong(_) | JDouble(_) | JBigInt(_), JDouble(y)) if y == 0.0 => JNull
    case (JLong(x), JLong(y))     => JDouble(x.toDouble / y)
    case (JLong(x), JDouble(y))   => JDouble(x / y)
    case (JDouble(x), JLong(y))   => JDouble(x / y)
    case (JDouble(x), JDouble(y)) => JDouble(x / y)
    // int/int → float rule covers the wide variant too (JBigInt is
    // never zero-valued: zero is long-range)
    case (JBigInt(x), JLong(y))   => JDouble(x.toDouble / y)
    case (JLong(x), JBigInt(y))   => JDouble(x.toDouble / y.toDouble)
    case (JBigInt(x), JBigInt(y)) => JDouble(x.toDouble / y.toDouble)
    case (JBigInt(x), JDouble(y)) => JDouble(x.toDouble / y)
    case (JDouble(x), JBigInt(y)) => JDouble(x / y.toDouble)
    case (JStr(s), JStr(sep))     => JArr(splitLiteral(s, sep).map(JStr(_)))
    case _                        => JNull
  }

  /** Rust `str::split` with a literal pattern: keeps empty leading/trailing
    * parts; empty separator yields "" + each char + "". */
  def splitLiteral(s: String, sep: String): Vector[String] = {
    if (sep.isEmpty) {
      val parts = Vector.newBuilder[String]
      parts += ""
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        parts += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      parts += ""
      parts.result()
    } else {
      val parts = Vector.newBuilder[String]
      var from = 0
      var idx = s.indexOf(sep, from)
      while (idx >= 0) {
        parts += s.substring(from, idx)
        from = idx + sep.length
        idx = s.indexOf(sep, from)
      }
      parts += s.substring(from)
      parts.result()
    }
  }

  /** `a % b` (reference: src/json.rs:943-961): numeric remainder
    * (truncated, like Rust/Java); mod-by-zero → null; int%int stays int. */
  def rem(a: JDoc, b: JDoc): JDoc = (a, b) match {
    case (JLong(_) | JDouble(_) | JBigInt(_), JLong(0))               => JNull
    case (JLong(_) | JDouble(_) | JBigInt(_), JDouble(y)) if y == 0.0 => JNull
    case (JLong(x), JLong(y))     => JLong(x % y)
    case (JLong(x), JDouble(y))   => JDouble(x % y)
    case (JDouble(x), JLong(y))   => JDouble(x % y)
    case (JDouble(x), JDouble(y)) => JDouble(x % y)
    case (JBigInt(x), JLong(y))   => JInt.of(x % y)
    case (JLong(x), JBigInt(y))   => JInt.of(BigInt(x) % y)
    case (JBigInt(x), JBigInt(y)) => JInt.of(x % y)
    case (JBigInt(x), JDouble(y)) => JDouble(x.toDouble % y)
    case (JDouble(x), JBigInt(y)) => JDouble(x % y.toDouble)
    case _                        => JNull
  }

  /** `-a` (reference: src/json.rs:872-882). */
  def neg(a: JDoc): JDoc = a match {
    case JLong(x)   => if (x == Long.MinValue) JBigInt(-BigInt(x)) else JLong(-x)
    case JBigInt(x) => JInt.of(-x) // -(2^63) re-enters long range
    case JDouble(x) => JDouble(-x)
    case _          => JNull
  }

  /** `!a`: truthiness negation, always a bool (reference: src/json.rs:884-891). */
  def not(a: JDoc): JDoc = JBool.of(!truthy(a))

  /** Shifts and bitwise ops: integer-only, else null
    * (reference: src/json.rs:1019-1072). Shift counts outside [0, 63] →
    * null (the reference would panic; nothing exercises them). */
  def shl(a: JDoc, b: JDoc): JDoc = (a, b) match {
    case (JLong(x), JLong(y)) if y >= 0 && y <= 63 => JLong(x << y)
    case _ => JNull
  }
  def shr(a: JDoc, b: JDoc): JDoc = (a, b) match {
    case (JLong(x), JLong(y)) if y >= 0 && y <= 63 => JLong(x >> y)
    case _ => JNull
  }
  def bitAnd(a: JDoc, b: JDoc): JDoc = (a, b) match {
    case (JLong(x), JLong(y)) => JLong(x & y)
    case _ => JNull
  }
  def bitXor(a: JDoc, b: JDoc): JDoc = (a, b) match {
    case (JLong(x), JLong(y)) => JLong(x ^ y)
    case _ => JNull
  }
  def bitOr(a: JDoc, b: JDoc): JDoc = (a, b) match {
    case (JLong(x), JLong(y)) => JLong(x | y)
    case _ => JNull
  }

  /** `length` semantics (reference: src/json.rs:630-638): string → UTF-8
    * BYTE length, array/object → element count, null → 0; None = error. */
  def lengthOf(d: JDoc): Option[Long] = d match {
    case JStr(s)  => Some(utf8Len(s))
    case JArr(a)  => Some(a.length.toLong)
    case JObj(p)  => Some(p.length.toLong)
    case JNull    => Some(0L)
    case _        => None
  }

  def utf8Len(s: String): Long = {
    var n = 0L; var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      n += (if (cp < 0x80) 1 else if (cp < 0x800) 2 else if (cp < 0x10000) 3 else 4)
      i += Character.charCount(cp)
    }
    n
  }

  /** `chars` / value iteration (reference: src/json.rs:782-802): string →
    * array of Unicode code point integers; array → its elements. */
  def intoIter(d: JDoc): Option[Vector[JDoc]] = d match {
    case JStr(s) =>
      val b = Vector.newBuilder[JDoc]
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        b += JLong(cp.toLong)
        i += Character.charCount(cp)
      }
      Some(b.result())
    case JArr(a) => Some(a)
    case _       => None
  }

  /** `keys` (reference: src/ops.rs:1522-1579): array → [0..n-1],
    * object → sorted key array. */
  def keysOf(d: JDoc): Option[JDoc] = d match {
    case JArr(a) => Some(JArr(a.indices.map(i => JLong(i.toLong)).toVector))
    case JObj(p) => Some(JArr(p.map(kv => JStr(kv._1))))
    case _       => None
  }

  /** `.[]` values (reference: src/ops.rs:1741-1754): array elements or
    * object values (key-sorted order); None for scalars. */
  def docValues(d: JDoc): Option[Vector[JDoc]] = d match {
    case JArr(a) => Some(a)
    case JObj(p) => Some(p.map(_._2))
    case _       => None
  }

  /** `..` pre-order recursive descent (reference: src/json.rs:704-718):
    * containers emit themselves then recurse into each element/value;
    * scalars emit themselves. */
  def recurse(d: JDoc): Vector[JDoc] = {
    val out = Vector.newBuilder[JDoc]
    def walk(v: JDoc): Unit = v match {
      case JArr(items) => out += v; items.foreach(walk)
      case JObj(props) => out += v; props.foreach(p => walk(p._2))
      case _           => out += v
    }
    walk(d)
    out.result()
  }

  /** Array index with negative-wraps-from-end normalization
    * (reference: src/util.rs:25-29, src/json.rs:720-729); null when there
    * is no such element. */
  def elementAt(d: JDoc, off: Long): JDoc = d match {
    case JArr(a) =>
      val n = a.length.toLong
      val o = if (off < 0) off + n else off
      if (o >= 0 && o < n) a(o.toInt) else null
    case _ => null
  }

  /** Object field get; None on missing key or non-object
    * (reference: src/json.rs:750-758). */
  def getKey(d: JDoc, key: String): Option[JDoc] = d match {
    case o: JObj => o.get(key)
    case _       => None
  }

  // ----------------------------------------- static paths (jq `=` / `|=`)

  /** One static path segment: an object key or an array offset. */
  type PathSeg = Either[String, Long]

  /** Cap on null-padding an array during a path write (an assignment to
    * `.a[1000000000]` must be an error, not an OOM). */
  val MaxPathPad = 1000000L

  /** Value at a static path: missing keys/indexes and null containers
    * read as null (jq path semantics); indexing a scalar is an error. */
  def getPath(d: JDoc, segs: List[PathSeg]): Either[String, JDoc] = segs match {
    case Nil => Right(d)
    case Left(key) :: rest => d match {
      case o: JObj => getPath(o.get(key).getOrElse(JNull), rest)
      case JNull   => getPath(JNull, rest)
      case other   => Left(s"cannot index ${other.typeName} with $key")
    }
    case Right(idx) :: rest => d match {
      case JArr(items) =>
        val i = if (idx < 0) idx + items.length else idx
        getPath(if (i >= 0 && i < items.length) items(i.toInt) else JNull, rest)
      case JNull  => getPath(JNull, rest)
      case other  => Left(s"cannot index ${other.typeName} with $idx")
    }
  }

  /** Functional write at a static path: missing intermediate containers
    * are created (null → object/array per the next segment), arrays pad
    * with nulls up to the written offset, negative offsets wrap. */
  def setPath(d: JDoc, segs: List[PathSeg], v: JDoc): Either[String, JDoc] = segs match {
    case Nil => Right(v)
    case Left(key) :: rest => d match {
      case o: JObj =>
        setPath(o.get(key).getOrElse(JNull), rest, v)
          .map(nv => JObj.fromProps(o.props :+ (key -> nv)))
      case JNull =>
        setPath(JNull, rest, v).map(nv => JObj.fromProps(Seq(key -> nv)))
      case other => Left(s"cannot index ${other.typeName} with $key")
    }
    case Right(idx) :: rest =>
      def intoArr(items: Vector[JDoc]): Either[String, JDoc] = {
        val n = items.length
        val i = if (idx < 0) idx + n else idx
        if (i < 0) Left(s"array index $idx out of range")
        // guard only actual PADDING: writes to existing slots of a large
        // array are always fine
        else if (i >= n && i > MaxPathPad) Left(s"refusing to pad array to $i entries")
        else {
          val padded =
            if (i < n) items else items ++ Vector.fill((i - n + 1).toInt)(JNull: JDoc)
          setPath(if (i < n) items(i.toInt) else JNull, rest, v)
            .map(nv => JArr(padded.updated(i.toInt, nv)))
        }
      }
      d match {
        case JArr(items) => intoArr(items)
        case JNull       => intoArr(Vector.empty)
        case other       => Left(s"cannot index ${other.typeName} with $idx")
      }
  }

  /** Slice of array (by element) or string (by UTF-8 byte offset) with
    * negative-offset normalization; None when out of range or start > end
    * (reference: src/util.rs:4-23, src/json.rs:817-836). `end` of
    * Long.MaxValue means "to the end". */
  def slice(d: JDoc, start: Long, end: Long): Option[JDoc] = {
    def rangeCheck(len: Int): Option[(Int, Int)] = {
      val n = len.toLong
      val s = if (start < 0) start + n else start
      if (s < 0 || s >= n) return None
      val e = if (end < 0) end + n else if (end == Long.MaxValue) n else end
      if (e < 0 || e > n) return None
      if (s > e) return None
      Some((s.toInt, e.toInt))
    }
    d match {
      case JArr(a) => rangeCheck(a.length).map { case (s, e) => JArr(a.slice(s, e)) }
      case JStr(str) =>
        val bytes = str.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        rangeCheck(bytes.length).map { case (s, e) =>
          JStr(new String(bytes, s, e - s, java.nio.charset.StandardCharsets.UTF_8))
        }
      case _ => None
    }
  }
}
