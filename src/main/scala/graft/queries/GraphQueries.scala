package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkEntry.table

/** Graph operators over a synthesized citation graph (`graph_`). */
object GraphQueries {

  /** Deterministic sparse citation graph on the documents table (3 LCG
    * out-links per doc): the testdata carries no link column, so the
    * graph operators' fixture is synthesized identically in both engines
    * (same discipline as the crawl URLs). n_docs rides a broadcast
    * one-row frame, never a driver constant. */
  private def citationLinks(docs: DataFrame): DataFrame = {
    val n = docs.agg(count(lit(1)).as("n_docs"))
    docs.select(col("doc_id")).crossJoin(broadcast(n))
      .select(col("doc_id"), col("n_docs"),
        explode(array(lit(1L), lit(2L), lit(3L))).as("j"))
      .select(col("doc_id").as("src"),
        expr("((doc_id * 2654435761L + j * 40503L) % 1000003L) % n_docs").as("dst"))
  }

  val all: Seq[Query] = Seq(
    // link-graph authority prior: fixed-point PageRank over the
    // supplier→part incidence graph, 3 synchronous iterations, one
    // shuffle per iteration (contributions aggregate on dst)
    Query("graph_pagerank", ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val edges = li.select(col("l_suppkey").as("src"),
        (col("l_partkey") + lit(1000000L)).as("dst")).distinct()
      operators.Graph.pageRank(edges, iterations = 3)
        .orderBy(col("rank").desc, col("node").asc).limit(20)
    }),
    // fixed-point PageRank, 3 unrolled synchronous iterations — integer
    // arithmetic end-to-end so the recursion is engine-exact
      """
      WITH e AS (SELECT DISTINCT l_suppkey AS src, l_partkey + 1000000 AS dst FROM lineitem),
      nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
      r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
      c1 AS (SELECT dst, sum(rank // deg) AS s
             FROM e JOIN r0 ON e.src = r0.node JOIN deg USING (src) GROUP BY dst),
      r1 AS (SELECT node, 150000 + (coalesce(s, 0) * 850) // 1000 AS rank
             FROM nodes LEFT JOIN c1 ON node = c1.dst),
      c2 AS (SELECT dst, sum(rank // deg) AS s
             FROM e JOIN r1 ON e.src = r1.node JOIN deg USING (src) GROUP BY dst),
      r2 AS (SELECT node, 150000 + (coalesce(s, 0) * 850) // 1000 AS rank
             FROM nodes LEFT JOIN c2 ON node = c2.dst),
      c3 AS (SELECT dst, sum(rank // deg) AS s
             FROM e JOIN r2 ON e.src = r2.node JOIN deg USING (src) GROUP BY dst),
      r3 AS (SELECT node, 150000 + (coalesce(s, 0) * 850) // 1000 AS rank
             FROM nodes LEFT JOIN c3 ON node = c3.dst)
      SELECT node, CAST(rank AS BIGINT) AS rank FROM r3
      ORDER BY rank DESC, node LIMIT 20"""),

    // exact triangle counting by degree orientation (Suri & Vassilvitskii
    // 2011) over a deterministic sparse citation graph on documents
    // (3 LCG out-links per doc — the testdata has no link column, so the
    // links are synthesized identically in both engines, like the crawl
    // URLs of curation_url_dedup); per-node triangle memberships = the local clustering
    // numerator. Orientation bounds every out-adjacency at O(√m) — no
    // celebrity-node wedge blow-up at crawl scale
    Query("graph_triangles", ((s, dir) =>
      operators.Graph.triangleCount(citationLinks(table(s, dir, "documents")))),
    // triangles enumerated ONCE as ordered triples x<y<z (orientation-
    // free), then each corner counted — the same per-node membership
    // counts the degree-oriented engine emits
      """
      WITH n AS (SELECT count(*) AS n_docs FROM documents),
      links AS (
        SELECT doc_id AS src,
               ((doc_id * 2654435761 + j * 40503) % 1000003) % (SELECT n_docs FROM n) AS dst
        FROM documents, (SELECT unnest([1, 2, 3]) AS j)),
      und AS (
        SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        FROM links WHERE src <> dst),
      tri AS (
        SELECT e1.u AS x, e1.v AS y, e2.v AS z
        FROM und e1 JOIN und e2 ON e1.v = e2.u
        JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v)
      SELECT node, count(*) AS triangles
      FROM (SELECT unnest([x, y, z]) AS node FROM tri) m
      GROUP BY node"""),

    // connected components — pure reuse of the min-label-propagation core
    // (Dedup.nearDupClusters: hop + pointer jump, rotating checkpoints,
    // fixpoint early-stop). The fixture is a HIERARCHICAL containment
    // graph (page → 5-block head → 25-shard head, some blocks detached):
    // diameter ≤ 4 so the fixpoint lands in ~3 rounds, components vary
    // 5..20 in size — the 3-link global graph of graph_triangles is one
    // giant component, a vacuous CC test, and LCG ring graphs have
    // ~100-hop label distances that make an iterative bench query out of
    // what converges in O(1) rounds on real containment/near-dup shapes.
    // Output is the component census (rep, size)
    Query("graph_components", ((s, dir) => {
      val docs = table(s, dir, "documents")
      val l1 = docs.select(col("doc_id").as("src"), expr("(doc_id DIV 5) * 5").as("dst"))
      val l2 = docs.filter(expr("doc_id % 5 = 0 AND (doc_id DIV 5) % 3 != 0"))
        .select(col("doc_id").as("src"), expr("(doc_id DIV 25) * 25").as("dst"))
      val pairs = l1.unionByName(l2).filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("id_a"),
          greatest(col("src"), col("dst")).as("id_b")).distinct()
      operators.Dedup.nearDupClusters(
          docs.select(col("doc_id")), "doc_id", pairs, maxIters = 10)
        .groupBy(col("rep")).agg(count(lit(1)).as("size"))
    }),
    // exact reachability closure (recursive CTE) → min-label rep per
    // node → component census; the engine's label propagation must land
    // the identical labeling
      """
      WITH RECURSIVE links AS (
        SELECT doc_id AS src, (doc_id // 5) * 5 AS dst FROM documents
        UNION ALL
        SELECT doc_id, (doc_id // 25) * 25 FROM documents
        WHERE doc_id % 5 = 0 AND (doc_id // 5) % 3 != 0),
      edges AS (
        SELECT least(src, dst) AS src, greatest(src, dst) AS dst
        FROM links WHERE src <> dst
        UNION
        SELECT greatest(src, dst), least(src, dst) FROM links WHERE src <> dst),
      reach(src, dst) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      labels AS (SELECT src AS id, min(dst) AS rep FROM reach GROUP BY src)
      SELECT rep, count(*) AS size FROM labels GROUP BY rep"""),
  )
}
