package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry is pure plan construction — spec'd without Spark. */
class QueryRegistrySpec extends AnyFunSuite {

  test("registry: a repeated name throws, every entry carries an oracle, 214 names") {
    // A map keeps the LAST duplicate key — adding a query under an existing
    // name would SHADOW a green oracle row with no error anywhere (it nearly
    // happened in round 10: a second text_bm25 replaced the round-5
    // rational-idf row). The registry refuses the repeat instead.
    val q = Query("q", (s, dir) => SparkEntry.table(s, dir, "events"), "SELECT 1")
    val e = intercept[IllegalArgumentException](
      SparkEntry.registry(Seq(q, q.copy(oracleSql = "SELECT 2"))))
    assert(e.getMessage.contains("duplicate query names: q"))
    // each entry carries both halves, so plan and oracle key sets cannot
    // drift apart; what is left to pin is that no oracle is blank
    val blank = SparkEntry.queries.values.filter(_.oracleSql.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"queries without oracle SQL: $blank")
    assert(SparkEntry.queries.size == 214)
  }

  test("selected: SPARK_GRAFT_ONLY subset comes back exactly and sorted; unknown names throw") {
    val all = SparkEntry.selected(None)
    assert(all.map(_.name) == SparkEntry.queries.keys.toSeq.sorted)
    val sub = SparkEntry.selected(Some(" text_bm25,jq_identity,, rel_histogram,jq_identity"))
    assert(sub.map(_.name) == Seq("jq_identity", "rel_histogram", "text_bm25"))
    assert(sub.forall(q => SparkEntry.queries(q.name) eq q))
    val e = intercept[IllegalArgumentException](
      SparkEntry.selected(Some("jq_identity,jq_identiy")))
    assert(e.getMessage.contains("unknown queries: jq_identiy"))
    intercept[IllegalArgumentException](SparkEntry.selected(Some(" , ")))
  }
}
