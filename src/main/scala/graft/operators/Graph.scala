package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph operators for corpus curation — link-graph authority scores are
  * the classic document-quality prior (rank a crawl's pages/domains by
  * the hyperlink graph before sampling training data from it).
  *
  * All ranks are FIXED-POINT integers (micro-units), never doubles: a
  * float PageRank depends on the summation order of the contribution
  * aggregate, which Spark does not promise across partitionings — the
  * integer formulation makes every iteration a pure function of the edge
  * list, bit-identical across engines, retries and cluster sizes.
  */
object Graph {

  /** PageRank by synchronous power iteration, fixed-point arithmetic.
    *
    * `edges` is (src, dst); ranks start at `scale` micro-units per node
    * and iterate
    *   rank'(v) = (1-d)·scale + d · Σ_{u→v} rank(u) DIV outdeg(u)
    * with d = dampNum/dampDen evaluated as BIGINT (·dampNum, DIV dampDen)
    * and DIV truncating integer division. Nodes = src ∪ dst; dangling
    * mass (nodes with no out-edges) is dropped rather than redistributed
    * — the standard simplification when ranks are used as a relative
    * quality prior (absolute normalization cancels in ranking).
    *
    * Scale shape: each iteration is ONE shuffle — contributions aggregate
    * on dst (partial-agg'd map-side) and join back to the node list; the
    * rank vector is (node, BIGINT), 16 bytes a node, never the edge list.
    * Iterations are a fixed small count (authority scores converge
    * geometrically; curation wants the ordering, not 1e-12 residuals).
    * Like every iterative-fixpoint operator here (see
    * Dedup.nearDupClusters) the per-round state CHECKPOINTS eagerly:
    * without lineage truncation round N re-executes rounds 1..N-1 and
    * the DAG cost is quadratic in iterations. The degree-annotated edge
    * list checkpoints once too (it is read every round; re-deriving it
    * means re-shuffling the raw edges per iteration). Checkpoints
    * ROTATE: rank_{i-1} is released the moment rank_i materializes.
    * Returns one checkpointed frame the caller owns: (node, rank), 16
    * bytes a node. `checkpointDir` switches the checkpoints to reliable
    * storage (see Checkpoints.checkpoint) for long jobs on real
    * clusters; unset uses executor-local blocks. */
  def pageRank(edges: DataFrame, iterations: Int,
               scale: Long = 1000000L, dampNum: Long = 850L,
               dampDen: Long = 1000L,
               checkpointDir: Option[String] = None): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(scale > 0 && dampNum >= 0 && dampDen > 0 && dampNum <= dampDen,
      s"need scale>0 and 0 <= dampNum/dampDen <= 1; got $scale, $dampNum/$dampDen")
    val e = edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
    // Degree annotation by WINDOW count instead of aggregate+join (round
    // 18, guide §2.4/§6): the join formulation derived the caller's edge
    // frame twice (once per side) — two scans + two exchanges of the raw
    // edges per construction; the window derives it once (one exchange on
    // src + a partition-local sort). Same result: every edge row carries
    // its source's out-degree.
    Checkpoints.scope(checkpointDir) { s =>
      val eDeg = s.checkpoint(
        e.withColumn("deg", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("src")))))
      val nodes = s.checkpoint(
        eDeg.select(col("src").as("node"))
          .union(eDeg.select(col("dst").as("node"))).distinct())
      val base = lit(scale * (dampDen - dampNum) / dampDen)
      var ranks = nodes.withColumn("rank", lit(scale))
      var prev: Option[DataFrame] = None
      // Per-iteration shape (round 18, guide §2.4): the previous form
      // aggregated contributions on dst and LEFT-JOINED the node list back
      // in (nodes with no in-edges must keep the base rank) — a
      // SortMergeJoin whose nodes side re-exchanged + re-sorted EVERY round
      // (the checkpoint's AQE-coalesced layout claim cannot match the
      // aggregate side's partition count, measured r17: graph_pagerank 32
      // Exchanges before AND after the layout work). The join is not needed:
      // unioning one zero-contribution row per node into the aggregate
      // computes the identical integer sum — sum(contribs ∪ {0}) ==
      // coalesce(sum(contribs), 0) — so each round is ONE exchange (the
      // contribution groupBy, map-side partial-aggregated as before) and
      // zero joins/sorts on the rank side. `nodes` is distinct by
      // construction, so exactly one zero row per node; a node with no
      // in-edges aggregates to sum=0 → rank = base, as the left join's
      // NULL-coalesce produced.
      val zeros = nodes.select(col("node"), lit(0L).as("contrib"))
      for (_ <- 1 to iterations) {
        val contribs = eDeg
          .join(ranks, eDeg("src") === ranks("node"))
          .select(col("dst").as("node"), expr("rank DIV deg").as("contrib"))
        ranks = s.checkpoint(
          contribs.union(zeros)
            .groupBy(col("node"))
            .agg((base + expr(s"sum(contrib) * $dampNum DIV $dampDen")).as("rank")))
        prev.foreach(s.release)
        prev = Some(ranks)
      }
      ranks
    }
  }

  /** Exact triangle counting by degree orientation (the standard
    * subquadratic formulation: Schank & Wagner 2005 / Suri & Vassilvitskii
    * 2011 "node-iterator++" for MapReduce).
    *
    * Input edges are made undirected-distinct (u < v, self-loops dropped),
    * then each edge is oriented from its LOWER-degree endpoint to the
    * higher (ties by node id). Orientation bounds every out-adjacency at
    * O(√m) regardless of raw skew — the celebrity node with 10⁸ followers
    * contributes no wedge blow-up because wedges pivot only on LOW-degree
    * centers. Each triangle survives in exactly one orientation, so a
    * wedge join (a→b)⋈(b→c) followed by a closing semi-join against
    * (a→c) counts it exactly once.
    *
    * Scale shape: 2 aggregates (degree, count) + 2 equi-joins, all
    * partial-agg'd shuffles on node keys; no all-pairs anywhere. Output
    * is per-node MEMBERSHIP counts (`node`, `triangles`): each closed
    * wedge explodes its three corners, so the result is independent of
    * which orientation found the triangle — the per-node
    * clustering-coefficient numerator; totals are one tiny aggregate
    * away. */
  def triangleCount(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).cast("long").as("u"),
        greatest(col("src"), col("dst")).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val deg = und.select(col("u").as("node")).union(und.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val du = deg.select(col("node").as("u"), col("deg").as("du"))
    val dv = deg.select(col("node").as("v"), col("deg").as("dv"))
    // The oriented edge list is MATERIALIZED once (round 17,
    // optimization): it is read THREE times — both wedge sides and the
    // closing semi-join — and each lazy reference re-executed the whole
    // upstream (edge distinct + degree aggregate + two joins) and
    // inlined it into the plan (the sf0.1 plan text carried the subtree
    // 3×, 69 KB). Two longs per edge, like nearDupClusters' edge frame;
    // only the node-sized result outlives the scope.
    Checkpoints.scope() { s =>
      val oriented = s.checkpoint(und.join(du, "u").join(dv, "v")
        .select(
          when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")), col("u"))
            .otherwise(col("v")).as("a"),
          when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")), col("v"))
            .otherwise(col("u")).as("b")))
      val e1 = oriented.select(col("a"), col("b"))
      val e2 = oriented.select(col("a").as("b"), col("b").as("c"))
      val wedges = e1.join(e2, "b").select(col("a"), col("b"), col("c"))
      val closing = oriented.select(col("a"), col("b").as("c"))
      s.checkpoint(
        wedges.join(closing, Seq("a", "c"), "left_semi")
          .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
          .groupBy(col("node")).agg(count(lit(1)).as("triangles")))
    }
  }

  /** In/out degree per node — the cheap centrality for cut-offs. */
  def degrees(edges: DataFrame): DataFrame = {
    val out = edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("out_deg"))
    val in = edges.groupBy(col("dst").as("node")).agg(count(lit(1)).as("in_deg"))
    out.join(in, Seq("node"), "full")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }
}
