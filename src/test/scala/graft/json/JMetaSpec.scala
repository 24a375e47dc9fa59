package graft.json

import org.scalatest.funsuite.AnyFunSuite
import graft.jq.{Interp, JEntry}

/** Conformance for the lineage meta envelope (reference: src/meta.rs
  * test_meta at meta.rs:90-120, entry merge at entry.rs:22-29). */
class JMetaSpec extends AnyFunSuite {

  test("Meta::new carries the three keys as empty arrays (meta.rs:13-25)") {
    assert(JsonText.canonical(JMeta.init) == """{"domains":[],"keys":[],"sources":[]}""")
  }

  test("append + merge reproduce the reference test vector (meta.rs:104-119)") {
    // let mut m = Meta::new(); m.set("domains", []); m.append("domains", [null])
    var m = JMeta.init
    m = JMeta.append(m, "domains", JArr(Vector(JNull)))
    assert(m.get("domains").contains(JArr(Vector(JNull))))
    // let mut meta = Meta::new(); meta.merge(m)
    val merged = JMeta.merge(Some(JMeta.init), Some(m))
    assert(merged.map(JsonText.canonical).contains(
      """{"domains":[null],"keys":[],"sources":[]}"""))
  }

  test("merge semantics: None no-op, into-None adopts, strings/objects append") {
    assert(JMeta.merge(None, None).isEmpty)
    val m = JMeta.append(JMeta.init, "sources", JArr(Vector(JStr("a.jsons"))))
    assert(JMeta.merge(Some(m), None).contains(m))
    // merging into None starts from an empty object: exactly the other's keys
    assert(JMeta.merge(None, Some(m)).map(JsonText.canonical).contains(
      JsonText.canonical(m)))
    // same-type append: string ++ string, object upsert-merge
    val s1 = JObj.fromProps(Seq("domains" -> JStr("ab")))
    val s2 = JMeta.append(s1, "domains", JStr("cd"))
    assert(s2.get("domains").contains(JStr("abcd")))
    val o1 = JObj.fromProps(Seq("keys" -> JObj.fromProps(Seq("x" -> JLong(1)))))
    val o2 = JMeta.append(o1, "keys", JObj.fromProps(Seq("y" -> JLong(2))))
    assert(JsonText.canonical(o2.get("keys").get) == """{"x":1,"y":2}""")
  }

  test("binary operators new_merge their operands' metas (ops.rs:832+)") {
    // operands without meta still produce the always-Some merged envelope
    val out = Interp.run("1 + 2", JNull)
    assert(out.map(_.doc) == Vector(JLong(3)))
    assert(out.head.meta.map(JsonText.canonical).contains(
      """{"domains":[],"keys":[],"sources":[]}"""))
  }

  test("combining operators keep the input entry's lineage (merged once)") {
    // reference operand entries each carry the input meta clone, so
    // new_merged would append it once PER OPERAND; we merge it exactly
    // once at the entry boundary — duplicate-free lists, same lineage
    val m = JMeta.append(JMeta.init, "sources", JArr(Vector(JStr("f.jsons"))))
    val in = Vector(JEntry.withMeta(JsonText.parse("""{"a":1,"b":2}"""), m))
    val out = in.flatMap(Interp.compileE(graft.jq.JqParser.parse(".a + .b"))(_, Nil))
    assert(out.map(_.doc) == Vector(JLong(3)))
    assert(out.head.meta.map(JsonText.canonical).contains(
      """{"domains":[],"keys":[],"sources":["f.jsons"]}"""))
  }

  /** `Meta::merge` as the reference folds it, with no shortcut for `init`:
    * the oracle the shared-constant paths must agree with. */
  private def generalMerge(self: Option[JObj], other: Option[JObj]): Option[JObj] = other match {
    case None => self
    case Some(o) =>
      Some(JMeta.Keys.foldLeft(self.getOrElse(JObj.empty)) { (acc, k) =>
        o.get(k).fold(acc)(v => JMeta.append(acc, k, v))
      })
  }

  private val seeded = JMeta.normalize(JsonText.parse(
    """{"sources":["f.jsons"],"domains":["web"]}""").asInstanceOf[JObj])
  private val noKeys = JsonText.parse("""{"domains":["d"],"sources":["s"]}""").asInstanceOf[JObj]
  private val mistyped = JsonText.parse(
    """{"domains":"abc","keys":{"x":1},"sources":["q"],"extra":1}""").asInstanceOf[JObj]

  test("merging the shared init equals the general fold for every envelope shape") {
    for (x <- Seq(None, Some(JMeta.init), Some(seeded), Some(noKeys), Some(mistyped))) {
      val fast = JMeta.merge(x, Some(JMeta.init))
      assert(fast == generalMerge(x, Some(JMeta.init)), s"merge($x, Some(init))")
      assert(fast.map(JsonText.canonical) == generalMerge(x, Some(JMeta.init)).map(JsonText.canonical))
    }
    // an envelope that already holds the three keys comes back as itself
    val s = Some(seeded)
    assert(JMeta.merge(s, Some(JMeta.init)) eq s)
    assert(JMeta.merge(None, Some(JMeta.init)).get eq JMeta.init)
    // the general path is untouched: merging a seeded envelope into init
    assert(JMeta.merge(Some(JMeta.init), Some(seeded)) == generalMerge(Some(JMeta.init), Some(seeded)))
  }

  test("newMerged over any mix of None and init is the shared init, by reference") {
    val mixes: Seq[Seq[Option[JObj]]] = Seq(
      Nil, Seq(None), Seq(Some(JMeta.init)), Seq(None, None), Seq(None, Some(JMeta.init)),
      Seq(Some(JMeta.init), None), Seq(Some(JMeta.init), Some(JMeta.init)),
      Seq(None, Some(JMeta.init), None, Some(JMeta.init)))
    for (m <- mixes) {
      assert(JMeta.newMerged(m).get eq JMeta.init, s"newMerged($m)")
      if (m.length == 2) assert(JMeta.newMerged(m(0), m(1)).get eq JMeta.init, s"newMerged(${m(0)}, ${m(1)})")
    }
    // any other operand still folds from Meta::new()
    val expected = Seq(Some(seeded), None, Some(noKeys)).foldLeft(Option(JMeta.init))(generalMerge)
    assert(JMeta.newMerged(Seq(Some(seeded), None, Some(noKeys))) == expected)
    assert(JMeta.newMerged(Some(seeded), Some(mistyped)) ==
      Seq(Some(seeded), Some(mistyped)).foldLeft(Option(JMeta.init))(generalMerge))
  }

  test("navigation clones the input entry's meta onto its outputs (ops.rs:432)") {
    val m = JMeta.append(JMeta.init, "sources", JArr(Vector(JStr("f.jsons"))))
    val doc = JsonText.parse("""{"a": {"b": 7}}""")
    // pipe: the envelope attached after the first stage must survive `.b`
    val stage1 = Vector(JEntry.withMeta(JsonText.parse("""{"b": 7}"""), m))
    val out = stage1.flatMap(Interp.compileE(graft.jq.JqParser.parse(".b"))(_, Nil))
    assert(out.map(_.doc) == Vector(JLong(7)))
    assert(out.head.meta.contains(m))
    assert(Interp.run(".a | .b", doc).head.doc == JLong(7)) // behavior unchanged
  }
}
