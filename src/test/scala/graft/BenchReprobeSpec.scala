package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench re-probe bookkeeping is pure logic — spec'd without Spark.
  * Round-11 contract: after the main pass, the N slowest successful
  * entries are re-timed once and the ledger takes the min of all runs, so
  * a transient host-load spike during the main pass cannot survive into
  * the ledger (the r10 driver run passed a 2.0 start gate at loadavg 1.92
  * and still carried 12 queries inflated up to 15×). */
class BenchReprobeSpec extends AnyFunSuite {

  test("selectReprobe: N slowest successful queries, failures never re-run, ties by name") {
    val first = Seq("a" -> 3.0, "b" -> -1.0, "c" -> 9.0, "d" -> 1.0, "e" -> 3.0)
    assert(Bench.selectReprobe(first, 3) == Seq("c", "a", "e"))
    assert(Bench.selectReprobe(first, 99) == Seq("c", "a", "e", "d")) // b failed: excluded
    assert(Bench.selectReprobe(first, 0) == Seq.empty)
    assert(Bench.selectReprobe(first, -5) == Seq.empty)
  }

  test("mergeReprobe: ledger takes min of first-pass and probe; failed probe changes nothing") {
    val first = Seq("a" -> 10.0, "b" -> 2.0, "c" -> 5.0, "d" -> -1.0)
    val probes = Map("a" -> 1.0, "b" -> 4.0, "c" -> -1.0, "d" -> 3.0)
    val (merged, improved) = Bench.mergeReprobe(first, probes)
    assert(merged == Seq("a" -> 1.0, "b" -> 2.0, "c" -> 5.0, "d" -> -1.0))
    // only a survives the 1.5× improvement bar (10 -> 1); b's probe was
    // slower (kept min), c's probe failed, d failed the first pass —
    // a probe can never resurrect a failed query with a bogus time
    assert(improved == 1)
  }

  test("mergeReprobe: improvement factor boundary is strict") {
    val first = Seq("x" -> 3.0, "y" -> 3.0)
    val (_, improved) = Bench.mergeReprobe(first, Map("x" -> 2.0, "y" -> 1.9), 1.5)
    // 2.0*1.5 == 3.0 is NOT < 3.0 (not counted); 1.9*1.5 = 2.85 < 3.0 is
    assert(improved == 1)
  }

  test("mergeReprobe: sub-second JIT wobble is min'd into the ledger but not counted as contention") {
    // 0.37 -> 0.16 is a >2× relative improvement but only 0.21s absolute —
    // typical warm-up noise on tiny queries, not host contention
    val (merged, improved) = Bench.mergeReprobe(Seq("t" -> 0.37), Map("t" -> 0.16))
    assert(merged == Seq("t" -> 0.16) && improved == 0)
    // 13.75 -> 0.83 (the actual r10 dedup_paragraph inflation) IS counted
    val (_, imp2) = Bench.mergeReprobe(Seq("d" -> 13.75), Map("d" -> 0.83))
    assert(imp2 == 1)
  }

  test("mergeReprobe preserves order and never drops entries") {
    val first = (1 to 50).map(i => s"q$i" -> i.toDouble)
    val (merged, _) = Bench.mergeReprobe(first, Map("q50" -> 0.5))
    assert(merged.map(_._1) == first.map(_._1))
    assert(merged.last == ("q50" -> 0.5))
  }

  test("selectReprobeWithHistory: >2x-over-previous entries join the set below the slowest-N cutoff") {
    // r11 shape: narrow queries inflated ~2x sat below the top-N and
    // survived into the ledger. With history they are re-probed too.
    val first = Seq("big1" -> 9.0, "big2" -> 8.0, "narrow" -> 2.1, "ok" -> 1.0, "fail" -> -1.0)
    val prev = Map("big1" -> 8.8, "big2" -> 8.1, "narrow" -> 0.9, "ok" -> 0.95, "fail" -> 1.0)
    val got = Bench.selectReprobeWithHistory(first, 2, prev)
    // slowest-2 first (ledger-rank order), then history-flagged extras
    assert(got == Seq("big1", "big2", "narrow"))
    // failures never re-run even when history flags them
    assert(!Bench.selectReprobeWithHistory(first, 0, prev).contains("fail"))
    // the absolute noise floor keeps sub-second wobble out: 0.4 -> 0.85
    // is >2x but only 0.45s
    val wobble = Bench.selectReprobeWithHistory(Seq("t" -> 0.85), 0, Map("t" -> 0.4))
    assert(wobble.isEmpty)
    // no history -> plain slowest-N
    assert(Bench.selectReprobeWithHistory(first, 2, Map.empty) == Seq("big1", "big2"))
    // no double entries when a slowest-N member is also history-flagged
    val both = Bench.selectReprobeWithHistory(Seq("a" -> 9.0), 5, Map("a" -> 1.0))
    assert(both == Seq("a"))
  }

  test("parsePrevLedger: sf + queries from a detail file; malformed input degrades to empty") {
    val (sf, qs) = Bench.parsePrevLedger(
      """{"metric":"total","sf":"/root/testdata/sf0.1","queries":{"q1":1.5,"q2":-1}}""")
    assert(sf == "/root/testdata/sf0.1" && qs == Map("q1" -> 1.5, "q2" -> -1.0))
    assert(Bench.parsePrevLedger("not json") == ("", Map.empty))
    assert(Bench.parsePrevLedger("""{"metric":"total"}""") == ("", Map.empty))
  }

  test("suspectEntries: load-spiked entries and uncorrected 2x-over-history inflation") {
    val results = Seq("spiked" -> 1.0, "inflated" -> 3.0, "fine" -> 1.0, "fail" -> -1.0)
    val loadAt = Map("spiked" -> 30.0, "inflated" -> 5.0, "fine" -> 5.0, "fail" -> 40.0)
    val prev = Map("inflated" -> 1.0, "fine" -> 0.9)
    // spiked: load sample above the ceiling; inflated: final value still
    // 3x its committed history under a contended run (the re-probe did
    // not rescue it); fine: neither; fail: no bogus suspect for a crash
    val got = Bench.suspectEntries(results, loadAt, spikeMax = 24.0,
      prev, contendedMidrun = true)
    assert(got == Seq("inflated", "spiked"))
    // on an uncontended run, history deltas alone are not suspicion —
    // they are real regressions the judge SHOULD see
    val calm = Bench.suspectEntries(results, Map.empty, 24.0, prev, contendedMidrun = false)
    assert(calm.isEmpty)
  }

  test("stillInflated: second-pass set is exactly the entries >2x history by >0.5s") {
    val results = Seq(
      "still_bad" -> 5.34,  // r12's curation_decontam_spans shape: 3.4x history
      "barely" -> 1.9,      // <2x history — not re-probed
      "tiny" -> 0.9,        // 3x history but only +0.6... (0.9-0.3=0.6 > 0.5 → included)
      "noise" -> 0.7,       // 2.3x history but +0.4 absolute — below the floor
      "new" -> 9.0,         // no history — nothing to compare
      "fail" -> -1.0)       // crashes are not timing artifacts
    val prev = Map("still_bad" -> 1.55, "barely" -> 1.0, "tiny" -> 0.3,
      "noise" -> 0.3, "fail" -> 1.0)
    assert(Bench.stillInflated(results, prev) == Seq("still_bad", "tiny"))
    // and with no history at all, the second pass never fires
    assert(Bench.stillInflated(results, Map.empty).isEmpty)
  }

  test("midrunSpikeMax accounts for Spark's own load, never below the idle gate") {
    // Spark itself drives 1-min load to 10-18 on an idle 32-core host — a
    // mid-run sample can only indict an EXTERNAL intruder beyond that
    assert(Bench.midrunSpikeMax(0.8, 32) == 24.0)
    assert(Bench.midrunSpikeMax(0.8, 4) == 3.0)
    // a user-raised gate above the self-load ceiling wins
    assert(Bench.midrunSpikeMax(30.0, 32) == 30.0)
  }

  test("medianOf: lower-middle sample, failures excluded, empty is -1") {
    assert(Bench.medianOf(Seq(3.0, 1.0, 2.0)) == 2.0)
    // even length: the LOWER middle sample, never a fabricated mean
    assert(Bench.medianOf(Seq(1.0, 9.0)) == 1.0)
    assert(Bench.medianOf(Seq(4.0, 1.0, 9.0, 2.0)) == 2.0)
    assert(Bench.medianOf(Seq(-1.0, 5.0, -1.0)) == 5.0)
    assert(Bench.medianOf(Seq(-1.0)) == -1.0)
    assert(Bench.medianOf(Nil) == -1.0)
  }

  test("driftBaseline: only queries stable across the whole window get a baseline") {
    val window = Seq(
      Map("stable" -> 1.0, "bouncy" -> 1.0, "partial" -> 1.0, "failed" -> 1.0),
      Map("stable" -> 1.1, "bouncy" -> 2.0, "failed" -> -1.0),
      Map("stable" -> 0.95, "bouncy" -> 1.2, "partial" -> 1.0))
    val base = Bench.driftBaseline(window)
    assert(base.keySet == Set("stable"), s"got $base")
    assert(base("stable") == 1.0) // median of (1.0, 1.1, 0.95)
    // single-entry window: trivially stable
    val one = Bench.driftBaseline(Seq(Map("q" -> 2.0)))
    assert(one == Map("q" -> 2.0))
    assert(Bench.driftBaseline(Nil).isEmpty)
  }

  test("driftEntries: the sub-2x band the suspect factor misses (r13's sim_* creep)") {
    // the exact r13 numbers: sim_ivf 0.89→1.57 and sim_ivf_refined
    // 1.29→2.12 must flag; a +0.3s wobble on a 0.5s query must not
    val results = Seq("sim_ivf" -> 1.57, "sim_ivf_refined" -> 2.12,
      "wobble" -> 0.8, "steady" -> 1.0, "fail" -> -1.0)
    val base = Map("sim_ivf" -> 0.89, "sim_ivf_refined" -> 1.29,
      "wobble" -> 0.5, "steady" -> 1.05, "fail" -> 1.0)
    assert(Bench.driftEntries(results, base) == Seq("sim_ivf", "sim_ivf_refined"))
    assert(Bench.driftEntries(results, Map.empty).isEmpty)
  }

  test("parseHistoryWindow: same-sf lines only, last N, newest first, junk skipped") {
    val lines = Seq(
      """{"sf":"/d/sf0.1","queries":{"a":1.0}}""",
      "not json at all",
      """{"sf":"/d/sf0.01","queries":{"a":9.0}}""",
      """{"sf":"/d/sf0.1","queries":{"a":2.0}}""",
      """{"sf":"/d/sf0.1","queries":{"a":3.0}}""",
      """{"sf":"/d/sf0.1","queries":{"a":4.0}}""")
    val w = Bench.parseHistoryWindow(lines, "/d/sf0.1", window = 3)
    assert(w.map(_("a")) == Seq(4.0, 3.0, 2.0))
    assert(Bench.parseHistoryWindow(lines, "/d/sf9").isEmpty)
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
