package graft.jq

import org.scalatest.funsuite.AnyFunSuite
import graft.json._

/** Golden outputs of the evaluator, recorded from the closure compiler
  * before its single-output fast path (one-entry streams, no-builder
  * combinators, the shared empty lineage envelope): every expected string
  * lists one entry per line as the canonical `[doc, errors, meta]`, with
  * `meta` null for an entry that carries no envelope. A program with a
  * seeded envelope runs through [[Interp.compileE]], as `jq_eval_meta`
  * does. */
class JqGoldenSpec extends AnyFunSuite {

  // three fixed orders in the shape of perfbench's jq_scan input
  private val o1 = """{"id":1,"user":{"name":"ada","country":"NZ","tier":"gold","age":41},"items":[{"sku":"A1","qty":2,"price":300,"tags":["red","sale"]},{"sku":"B2","qty":5,"price":120,"tags":[]},{"sku":"C3","qty":4,"price":999,"tags":["red","new","sale"]}],"meta":{"flags":{"gift":true,"promo":false,"express":true},"source":"web","ts":1700000000}}"""
  private val o2 = """{"id":2,"user":{"name":"bo","country":"DE","tier":"basic","age":19},"items":[{"sku":"Z9","qty":1,"price":50,"tags":["x"]}],"meta":{"flags":{"gift":false,"promo":false,"express":false},"source":"app","ts":1}}"""
  private val o3 = """{"id":3,"user":{"name":"cy","country":"JP","tier":"silver","age":67},"items":[{"sku":"K1","qty":7,"price":10,"tags":["a","b"]},{"sku":"K2","qty":3,"price":11,"tags":["b","c"]},{"sku":"K3","qty":9,"price":9,"tags":["a"]},{"sku":"K4","qty":4,"price":700,"tags":[]},{"sku":"K5","qty":1,"price":12,"tags":["c","d","e"]},{"sku":"K6","qty":6,"price":13,"tags":["e"]},{"sku":"K7","qty":2,"price":8,"tags":["f","a"]},{"sku":"K8","qty":8,"price":14,"tags":["g"]}],"meta":{"flags":{"gift":false,"promo":true,"express":true},"source":"api","ts":42}}"""
  private val nested = """{"z":{"y":[1,{"b":2,"a":3}],"x":"s"},"a":{"c":{"d":4,"e":[5,[6]]}},"m":null}"""
  // lineage envelopes: seeded, missing two keys, and a mistyped key
  private val seeded = """{"sources":["f.jsons"],"domains":["web"]}"""
  private val partial = """{"sources":["p"]}"""
  private val oddType = """{"domains":"abc","keys":[],"sources":["q"],"extra":1}"""

  private def render(es: Vector[JEntry]): String = es.map { e =>
    JsonText.canonical(JArr(Vector(e.doc, JArr(e.errors.map(JStr(_): JDoc)), e.meta.getOrElse(JNull))))
  }.mkString("\n")

  private def run(program: String, input: String, meta: Option[String]): Vector[JEntry] = meta match {
    case None => Interp.run(program, JsonText.parse(input))
    case Some(m) => Interp.compileE(JqParser.parse(program))(
      JEntry(JsonText.parse(input), Vector.empty, Some(JsonText.parse(m).asInstanceOf[JObj])), Nil)
  }

  /** (program, input, seeded envelope, expected entries) */
  private def check(cases: (String, String, Option[String], String)*): Unit =
    cases.foreach { case (program, input, meta, expected) =>
      assert(render(run(program, input, meta)) == expected, s"$program on $input with envelope $meta")
    }

  test("the ten jq_scan programs on three fixed orders") {
    check(
      (".user.name", o1, None,
        """["ada",[],null]"""),
      ("[.items.[] | .qty * .price] | add", o1, None,
        """[5196,[],{"domains":[],"keys":[],"sources":[]}]"""),
      ("[.items.[] | select(.qty > 3) | .sku] | length", o1, None,
        """[2,[],{"domains":[],"keys":[],"sources":[]}]"""),
      ("reduce .items.[] as $it (0; . + ($it | .qty))", o1, None,
        "[11,[],null]"),
      (".items |= sort_by(.price) | .items.[0].price", o1, None,
        "[120,[],null]"),
      (""""\(.user.country)/\(.user.tier)"""", o1, None,
        """["NZ/gold",[],null]"""),
      ("[paths] | length", o1, None,
        """[34,[],{"domains":[],"keys":[],"sources":[]}]"""),
      ("""walk(if type == "number" then . * 2 else . end) | [.items.[] | .qty] | add""", o1, None,
        """[22,[],{"domains":[],"keys":[],"sources":[]}]"""),
      ("[.items.[] | .tags.[]] | unique | length", o1, None,
        """[3,[],{"domains":[],"keys":[],"sources":[]}]"""),
      ("[.meta.flags.[] | select(.)] | length", o1, None,
        """[2,[],{"domains":[],"keys":[],"sources":[]}]"""),
      (".user.name", o2, None,
        """["bo",[],null]"""),
      ("[.items.[] | .qty * .price] | add", o2, None,
        """[50,[],{"domains":[],"keys":[],"sources":[]}]"""),
      ("[.items.[] | select(.qty > 3) | .sku] | length", o2, None,
        """[0,[],{"domains":[],"keys":[],"sources":[]}]"""),
      ("reduce .items.[] as $it (0; . + ($it | .qty))", o2, None,
        "[1,[],null]"),
      (".items |= sort_by(.price) | .items.[0].price", o2, None,
        "[50,[],null]"),
      (""""\(.user.country)/\(.user.tier)"""", o2, None,
        """["DE/basic",[],null]"""),
      ("[paths] | length", o2, None,
        """[20,[],{"domains":[],"keys":[],"sources":[]}]"""),
      ("""walk(if type == "number" then . * 2 else . end) | [.items.[] | .qty] | add""", o2, None,
        """[2,[],{"domains":[],"keys":[],"sources":[]}]"""),
      ("[.items.[] | .tags.[]] | unique | length", o2, None,
        """[1,[],{"domains":[],"keys":[],"sources":[]}]"""),
      ("[.meta.flags.[] | select(.)] | length", o2, None,
        """[0,[],{"domains":[],"keys":[],"sources":[]}]"""),
      (".user.name", o3, None,
        """["cy",[],null]"""),
      ("[.items.[] | .qty * .price] | add", o3, None,
        """[3202,[],{"domains":[],"keys":[],"sources":[]}]"""),
      ("[.items.[] | select(.qty > 3) | .sku] | length", o3, None,
        """[5,[],{"domains":[],"keys":[],"sources":[]}]"""),
      ("reduce .items.[] as $it (0; . + ($it | .qty))", o3, None,
        "[40,[],null]"),
      (".items |= sort_by(.price) | .items.[0].price", o3, None,
        "[8,[],null]"),
      (""""\(.user.country)/\(.user.tier)"""", o3, None,
        """["JP/silver",[],null]"""),
      ("[paths] | length", o3, None,
        """[66,[],{"domains":[],"keys":[],"sources":[]}]"""),
      ("""walk(if type == "number" then . * 2 else . end) | [.items.[] | .qty] | add""", o3, None,
        """[80,[],{"domains":[],"keys":[],"sources":[]}]"""),
      ("[.items.[] | .tags.[]] | unique | length", o3, None,
        """[7,[],{"domains":[],"keys":[],"sources":[]}]"""),
      ("[.meta.flags.[] | select(.)] | length", o3, None,
        """[2,[],{"domains":[],"keys":[],"sources":[]}]"""))
  }

  test("label/break through one-output pipes keeps the pre-break outputs") {
    check(
      ("label $f | 1 | (., break $f)", "null", None,
        "[1,[],null]"),
      ("[label $f | .items.[] | .qty | if . > 3 then (., break $f) else . end]", o1, None,
        """[[2,5],[],{"domains":[],"keys":[],"sources":[]}]"""),
      ("label $f | .user | .name | (., break $f)", o1, None,
        """["ada",[],null]"""),
      ("[label $f | (1, 2, 3) | if . == 2 then break $f else . end]", "null", None,
        """[[1],[],{"domains":[],"keys":[],"sources":[]}]"""),
      ("label $out | reduce .items.[] as $it (0; if . > 5 then (., break $out) else . + ($it | .qty) end)", o3, None,
        "[7,[],null]"))
  }

  test("multi-output Bin zips and truncates to the shorter stream") {
    check(
      ("(1,2) + (10,20,30)", "null", None,
        """[11,[],{"domains":[],"keys":[],"sources":[]}]""" + "\n" +
        """[22,[],{"domains":[],"keys":[],"sources":[]}]"""),
      ("[(1,2) + (10,20,30)]", "null", None,
        """[[11,22],[],{"domains":[],"keys":[],"sources":[]}]"""),
      ("(1,2) * 3", "null", None,
        """[3,[],{"domains":[],"keys":[],"sources":[]}]"""),
      ("[.[] | . + 1]", "[1,2,3]", None,
        """[[2,3,4],[],{"domains":[],"keys":[],"sources":[]}]"""),
      ("{k: .a, v: (.b, .c)}", """{"a":"x","b":1,"c":2}""", None,
        """[{"k":"x","v":1},[],{"domains":[],"keys":[],"sources":[]}]""" + "\n" +
        """[{"k":"x","v":2},[],{"domains":[],"keys":[],"sources":[]}]"""))
  }

  test("errors merge in list construction and binary operators") {
    check(
      ("""[.a, error("x")]""", """{"a":1}""", None,
        """[[1,null],["x"],{"domains":[],"keys":[],"sources":[]}]"""),
      ("""[error("x")]""", "null", None,
        """[[null],["x"],{"domains":[],"keys":[],"sources":[]}]"""),
      ("[.a.[]?]", """{"a":5}""", None,
        """[[],[],{"domains":[],"keys":[],"sources":[]}]"""),
      ("[.a, .b]", """{"a":1,"b":[2]}""", None,
        """[[1,[2]],[],{"domains":[],"keys":[],"sources":[]}]"""),
      ("[]", "null", None,
        """[[],[],{"domains":[],"keys":[],"sources":[]}]"""),
      (""".a + error("e")""", """{"a":1}""", None,
        """[null,["e"],{"domains":[],"keys":[],"sources":[]}]"""),
      ("""error("l") + error("r")""", "null", None,
        """[null,["l","r"],{"domains":[],"keys":[],"sources":[]}]"""))
  }

  test("walk, map and map_values over nested objects") {
    check(
      ("""walk(if type == "number" then . + 1 else . end)""", nested, None,
        """[{"a":{"c":{"d":5,"e":[6,[7]]}},"m":null,"z":{"x":"s","y":[2,{"a":4,"b":3}]}},[],null]"""),
      ("walk(.)", nested, None,
        """[{"a":{"c":{"d":4,"e":[5,[6]]}},"m":null,"z":{"x":"s","y":[1,{"a":3,"b":2}]}},[],null]"""),
      ("""walk(if type == "object" then del(.a) else . end)""", nested, None,
        """[{"m":null,"z":{"x":"s","y":[1,{"b":2}]}},[],null]"""),
      ("""walk(if type == "array" then length else . end)""", nested, None,
        """[{"a":{"c":{"d":4,"e":2}},"m":null,"z":{"x":"s","y":2}},[],null]"""),
      ("map(. * 10)", """{"b":1,"a":2}""", None,
        """[{"a":20,"b":10},[],null]"""),
      ("map_values(select(. > 1))", """{"c":3,"b":1,"a":2}""", None,
        """[{"a":2,"c":3},[],null]"""))
  }

  test("paths, leaf_paths, paths(f), tostream, path(..) and indices") {
    check(
      ("[paths]", nested, None,
        """[[["a"],["a","c"],["a","c","d"],["a","c","e"],["a","c","e",0],["a","c","e",1],["a","c","e",1,0],["m"],["z"],["z","x"],["z","y"],["z","y",0],["z","y",1],["z","y",1,"a"],["z","y",1,"b"]],[],{"domains":[],"keys":[],"sources":[]}]"""),
      ("[leaf_paths]", nested, None,
        """[[["a","c","d"],["a","c","e",0],["a","c","e",1,0],["m"],["z","x"],["z","y",0],["z","y",1,"a"],["z","y",1,"b"]],[],{"domains":[],"keys":[],"sources":[]}]"""),
      ("""[paths(type == "number")]""", nested, None,
        """[[["a","c","d"],["a","c","e",0],["a","c","e",1,0],["z","y",0],["z","y",1,"a"],["z","y",1,"b"]],[],{"domains":[],"keys":[],"sources":[]}]"""),
      ("[tostream]", nested, None,
        """[[[["a","c","d"],4],[["a","c","e",0],5],[["a","c","e",1,0],6],[["a","c","e",1,0]],[["a","c","e",1]],[["a","c","e"]],[["a","c"]],[["m"],null],[["z","x"],"s"],[["z","y",0],1],[["z","y",1,"a"],3],[["z","y",1,"b"],2],[["z","y",1,"b"]],[["z","y",1]],[["z","y"]],[["z"]]],[],{"domains":[],"keys":[],"sources":[]}]"""),
      ("[path(..)]", nested, None,
        """[[[],["a"],["a","c"],["a","c","d"],["a","c","e"],["a","c","e",0],["a","c","e",1],["a","c","e",1,0],["m"],["z"],["z","x"],["z","y"],["z","y",0],["z","y",1],["z","y",1,"a"],["z","y",1,"b"]],[],{"domains":[],"keys":[],"sources":[]}]"""),
      ("[path(.z.y.[])]", nested, None,
        """[[["z","y",0],["z","y",1]],[],{"domains":[],"keys":[],"sources":[]}]"""),
      ("indices(1)", "[1,2,1,3,1]", None,
        "[[0,2,4],[],null]"),
      (""""\(.a)-\(.b)"""", """{"a":"x","b":[1]}""", None,
        """["x-[1]",[],null]"""))
  }

  test("lineage envelopes through combining operators") {
    check(
      (".a + .b", """{"a":1,"b":2}""", Some(seeded),
        """[3,[],{"domains":["web"],"keys":[],"sources":["f.jsons"]}]"""),
      ("[.a, .b]", """{"a":1,"b":2}""", Some(seeded),
        """[[1,2],[],{"domains":["web"],"keys":[],"sources":["f.jsons"]}]"""),
      ("{x: .a}", """{"a":1,"b":2}""", Some(seeded),
        """[{"x":1},[],{"domains":["web"],"keys":[],"sources":["f.jsons"]}]"""),
      (".a | . + 1 | tostring", """{"a":1,"b":2}""", Some(seeded),
        """["2",[],{"domains":["web"],"keys":[],"sources":["f.jsons"]}]"""),
      ("(1,2) + (10,20)", "null", Some(seeded),
        """[11,[],{"domains":["web"],"keys":[],"sources":["f.jsons"]}]""" + "\n" +
        """[22,[],{"domains":["web"],"keys":[],"sources":["f.jsons"]}]"""),
      (".a", """{"a":1}""", Some(seeded),
        """[1,[],{"domains":["web"],"sources":["f.jsons"]}]"""),
      (".a + .b", """{"a":1,"b":2}""", Some(partial),
        """[3,[],{"domains":[],"keys":[],"sources":["p"]}]"""),
      ("[.a] | length", """{"a":1}""", Some(partial),
        """[1,[],{"domains":[],"keys":[],"sources":["p"]}]"""),
      (".a + .b", """{"a":1,"b":2}""", Some(oddType),
        """[3,[],{"domains":[],"keys":[],"sources":["q"]}]"""),
      (".a + 1 | [., 2]", """{"a":1}""", Some(oddType),
        """[[2,2],[],{"domains":[],"keys":[],"sources":["q"]}]"""))
  }
}
