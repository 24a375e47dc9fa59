package graft.json

/** The lineage half of the entry envelope (reference: src/meta.rs,
  * src/entry.rs:5-28): an optional `{domains, sources, keys}` document
  * carried beside every entry and list-append-merged when operators
  * combine entries.
  *
  * Reference semantics reproduced exactly:
  *   - `Meta::new()` → all three keys present as empty arrays
  *     (meta.rs:13-25);
  *   - `append(key, v)`: missing key is set; same-type values append
  *     (array ++ array, string ++ string, object upsert-merge)
  *     (meta.rs:42-61 — the reference panics on a type mismatch; nothing
  *     can produce one since no source populates meta, and this engine's
  *     errors-as-data discipline forbids throwing, so a mismatch keeps
  *     the existing value);
  *   - `merge`: merging None is a no-op; merging into None starts from an
  *     empty object so the result carries exactly the other side's keys
  *     (meta.rs:64-75);
  *   - `Entry::new_merged` (binary operators, list/dict construction,
  *     reference ops.rs:591, 701, 832+) starts from `Meta::new()` and
  *     merges every operand's meta — so combined entries ALWAYS carry an
  *     envelope, even when every operand had none.
  */
object JMeta {

  val Keys: Seq[String] = Seq("domains", "sources", "keys")

  /** `Meta::new()`: every key an empty array. A cached val — JObj is
    * immutable, and combining operators fold from this seed once per
    * output entry on the per-row hot path. */
  val init: JObj = JObj.fromProps(Keys.map(k => k -> (JArr(Vector.empty): JDoc)))

  private val emptyMerged: Option[JObj] = Some(init)

  /** Normalize a user-seeded envelope to the reference's canonical
    * three-key shape (meta.rs `Meta::some` always holds all of
    * domains/sources/keys; `Meta::init` materializes each as an empty
    * array). Missing canonical keys become `[]`; present values — and any
    * extra keys — are preserved verbatim. Applied once at seed time so
    * every envelope observable downstream satisfies the meta invariant,
    * regardless of which operators (cloning navigation vs combining)
    * touched it. */
  def normalize(m: JObj): JObj =
    Keys.foldLeft(m) { (acc, k) =>
      if (acc.get(k).isDefined) acc
      else JObj.fromProps(acc.props :+ (k -> (JArr(Vector.empty): JDoc)))
    }

  /** `Meta::append` (meta.rs:42-61). */
  def append(m: JObj, key: String, value: JDoc): JObj = m.get(key) match {
    case None => JObj.fromProps(m.props :+ (key -> value))
    case Some(existing) =>
      val merged: JDoc = (existing, value) match {
        case (JStr(a), JStr(b))   => JStr(a + b)
        case (JArr(a), JArr(b))   => JArr(a ++ b)
        case (a: JObj, b: JObj)   => JObj.fromProps(a.props ++ b.props)
        case _                    => existing // mismatch: reference panics; see scaladoc
      }
      JObj.fromProps(m.props.map { case (k, v) => if (k == key) (k, merged) else (k, v) })
  }

  /** `Meta::merge` (meta.rs:64-75). Merging the shared [[init]] appends
    * an empty array to each canonical key, which is exactly [[normalize]]:
    * that case returns `self` itself when it already holds all three keys
    * (and the shared `Some(init)` for None), so a combine over envelope-less
    * operands allocates nothing; `init` into `init` is `self` with no
    * lookup. */
  def merge(self: Option[JObj], other: Option[JObj]): Option[JObj] = other match {
    case None => self
    case Some(o) if o eq init =>
      self match {
        case None => emptyMerged
        case Some(s) if s eq init => self
        case Some(s) =>
          val n = normalize(s)
          if (n eq s) self else Some(n)
      }
    case Some(o) =>
      val base = self.getOrElse(JObj.empty)
      Some(Keys.foldLeft(base) { (acc, k) =>
        o.get(k) match {
          case Some(v) => append(acc, k, v)
          case None    => acc
        }
      })
  }

  /** `Entry::new_merged`'s meta fold (entry.rs:22-29): start from
    * `Meta::new()`, merge each operand in order — always Some. The fold
    * starts from the shared `Some(init)`, and [[merge]] keeps it for a None
    * or `init` operand, so when every operand is one of those (every row of
    * a plain Catalyst jq projection, where combined entries carry `init`
    * into later combines) the result is that shared constant and no
    * envelope is allocated. */
  def newMerged(metas: IterableOnce[Option[JObj]]): Option[JObj] =
    metas.iterator.foldLeft(emptyMerged)(merge)

  /** [[newMerged]] of two operands (binary operators), without a sequence. */
  def newMerged(a: Option[JObj], b: Option[JObj]): Option[JObj] =
    merge(merge(emptyMerged, a), b)
}
