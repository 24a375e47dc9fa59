package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's records are pure functions of its timings — spec'd without
  * Spark. */
class BenchSpec extends AnyFunSuite {

  test("detailJson: a row whose runs stay above VarBar at MaxRuns is unresolved; the host carries Harness.cpus") {
    // "wide" took every run the rule allows and still spans 2x; "steady"
    // agreed within the bar; "fail" threw, which is a failure, not noise
    val wide = Harness.Timing(1.0, Vector(2.0, 1.0, 1.9, 1.8), None, 0L)
    val steady = Harness.Timing(0.5, Vector(0.55, 0.5), None, 4096L)
    val fail = Harness.Timing(-1.0, Vector.empty, Some("IllegalStateException: boom"), 0L)
    assert(wide.runs.size == Harness.MaxRuns && wide.band > Harness.VarBar && !wide.resolved)
    assert(steady.resolved && fail.resolved)
    val json = Bench.detailJson(Seq("fail" -> fail, "steady" -> steady, "wide" -> wide),
      "/d/sf0.1", loadStart = 0.25, loadEnd = 1.5, only = false)
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    assert(root.get("unresolved").toString == """["wide"]""")
    assert(root.get("host").get("cpus").asInt() == Harness.cpus)
    assert(root.get("host").get("loadavg_end").asDouble() == 1.5)
    assert(root.get("queries").toString == """{"fail":-1,"steady":0.5,"wide":1.0}""")
    assert(root.get("runs").get("wide").toString == "[2.0,1.0,1.9,1.8]")
    assert(root.get("runs").get("fail").toString == "[]")
    assert(root.get("leaked_bytes").toString == """{"steady":4096}""")
    assert(root.get("n_queries").asInt() == 2 && root.get("n_failed").asInt() == 1)
    assert(!root.has("only") && root.get("sf").asText() == "/d/sf0.1")
  }

  test("summaryLine: a 214-entry run ends on a compact line under 1500 chars") {
    // the driver keeps only the last 2000 chars of stdout; the full
    // 214-entry map (~6 KB) overflowed it and parsed as null for rounds
    val results = SparkEntry.selected(None).map(_.name).zipWithIndex.map {
      case (n, i) => n -> (if (i % 50 == 7) -1.0 else 100.0 + i / 7.0)
    }
    assert(results.size == 214)
    val line = Bench.summaryLine(results, "/d/sf0.1")
    assert(line.length <= 1500, s"${line.length} chars")
    val keys = "\"([a-z_]+)\":".r.findAllMatchIn(line).map(_.group(1)).toSeq
    assert(keys == Seq("metric", "value", "unit", "n_queries", "n_failed", "sf", "detail_file"))
    assert(line.startsWith("{\"metric\":\"total\",") && line.endsWith("}"))
    val ok = results.map(_._2).filter(_ >= 0)
    assert(line.contains(s"\"n_queries\":${ok.size},\"n_failed\":${214 - ok.size},"))
    assert(line.contains("\"value\":" + String.format(java.util.Locale.ROOT, "%.3f", Double.box(ok.sum))))
    assert(line.contains("\"sf\":\"/d/sf0.1\""))
  }
}
