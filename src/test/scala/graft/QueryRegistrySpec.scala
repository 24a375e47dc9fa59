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
      SparkEntry.registry(Seq(q, q.copy(oracleSql = Some("SELECT 2")))))
    assert(e.getMessage.contains("duplicate query names: q"))
    // each entry carries both halves, so plan and oracle key sets cannot
    // drift apart; what is left to pin is that no oracle is blank
    val blank = SparkEntry.queries.values.filter(_.oracleSql.exists(_.trim.isEmpty)).map(_.name)
    assert(blank.isEmpty, s"queries without oracle SQL: $blank")
    assert(SparkEntry.queries.values.count(_.oracleSql.isDefined) == 214)
    // a row with neither an oracle nor a scaled run is runnable by nobody
    val mute = intercept[IllegalArgumentException](
      SparkEntry.registry(Seq(q.copy(oracleSql = None))))
    assert(mute.getMessage.contains("neither an oracle nor a scaled run: q"))
  }

  test("registry: every role's twin resolves to a row; a twin typo throws") {
    // the sweep artifact's self-adjudication tags must never name a query
    // that no longer exists — a renamed twin would silently orphan the tag
    val q = Query("q", (s, dir) => SparkEntry.table(s, dir, "events"), "SELECT 1")
    val tagged = q.copy(name = "r", role = Some(Role.Strawman("q")))
    assert(SparkEntry.registry(Seq(q, tagged)).keySet == Set("q", "r"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.registry(Seq(q, tagged.copy(role = Some(Role.RuleTest("qq"))))))
    assert(e.getMessage.contains("role twins that are not queries: r -> qq"))
    val roles = SparkEntry.queries.values.flatMap(r => r.role.map(r.name -> _)).toMap
    assert(roles.keySet == Set("dedup_embedding", "dedup_semantic", "dedup_substring",
      "dedup_simhash", "dedup_semantic_ctuned", "dedup_edit_btuned",
      "dedup_embedding_lsh_htuned", "dedup_embedding_lsh", "sim_ivf_hier_p1"))
    roles.foreach { case (name, role) =>
      assert(SparkEntry.queries.contains(role.twin), s"$name's twin ${role.twin}")
      assert(Set("strawman-quadratic", "rule-test").contains(role.kind))
    }
  }

  test("Scale-only rows: exactly five, never selected for the oracle mains, scaled runs resolve") {
    val scaleOnly = SparkEntry.queries.values.filter(_.oracleSql.isEmpty).map(_.name).toSet
    assert(scaleOnly == Set("dedup_semantic_ctuned", "dedup_edit_btuned", "mm_phash_capped",
      "stream_neardup_hashed", "dedup_embedding_lsh_htuned"))
    assert(SparkEntry.queries.values.filter(_.oracleSql.isEmpty).forall(_.scaled.isDefined))
    val oracle = SparkEntry.selected(None)
    assert(oracle.size == 214 && oracle.forall(_.oracleSql.isDefined))
    val e = intercept[IllegalArgumentException](
      SparkEntry.selected(Some("jq_identity,dedup_edit_btuned")))
    assert(e.getMessage.contains("Scale-only queries (no oracle; graft.Scale runs them): dedup_edit_btuned"))
    // Scale resolves any registered name, Scale-only rows included
    assert(SparkEntry.named("dedup_edit_btuned,jq_identity").map(_.name) ==
      Seq("dedup_edit_btuned", "jq_identity"))
    // the oracle row dedup_semantic_hier runs its fixed centroids under
    // Verify and Bench, and its C ∝ n rule under Scale
    val hier = SparkEntry.queries("dedup_semantic_hier")
    assert(hier.oracleSql.isDefined && hier.scaled.contains(graft.queries.ScaleQueries.semanticHier))
  }

  test("selected: SPARK_GRAFT_ONLY subset comes back exactly and sorted; unknown names throw") {
    val all = SparkEntry.selected(None)
    assert(all.map(_.name) ==
      SparkEntry.queries.values.filter(_.oracleSql.isDefined).map(_.name).toSeq.sorted)
    val sub = SparkEntry.selected(Some(" text_bm25,jq_identity,, rel_histogram,jq_identity"))
    assert(sub.map(_.name) == Seq("jq_identity", "rel_histogram", "text_bm25"))
    assert(sub.forall(q => SparkEntry.queries(q.name) eq q))
    val e = intercept[IllegalArgumentException](
      SparkEntry.selected(Some("jq_identity,jq_identiy")))
    assert(e.getMessage.contains("unknown queries: jq_identiy"))
    intercept[IllegalArgumentException](SparkEntry.selected(Some(" , ")))
  }
}
