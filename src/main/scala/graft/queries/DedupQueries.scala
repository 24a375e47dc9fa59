package graft
package queries

import org.apache.spark.sql.functions._

import graft.Role.Strawman
import graft.SparkEntry.{nearDupClustersOf, SemCentroids, table}

/** Deduplication: exact, near-duplicate, substring and semantic
  * (`dedup_`). */
object DedupQueries {

  val all: Seq[Query] = Seq(
    // asymmetric containment on the adjacent-pairs list: the
    // doc-inside-doc signal Jaccard misses (see pairwiseContainment)
    Query("dedup_containment", ((s, dir) => {
      val docs = table(s, dir, "documents")
      val pairs = docs.select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
      operators.Dedup.pairwiseContainment(docs, "doc_id", col("text"), n = 3, pairs = pairs)
    }),
      """
      WITH sh AS (
        SELECT doc_id, list_distinct(CASE WHEN len(s) >= 3
          THEN [s[i] || ' ' || s[i+1] || ' ' || s[i+2] for i in range(1, len(s) - 1)]
          ELSE [] END) AS shingles
        FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents))
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CASE WHEN len(a.shingles) > 0
               THEN len(list_intersect(a.shingles, b.shingles))::DOUBLE / len(a.shingles) END AS c_ab,
             CASE WHEN len(b.shingles) > 0
               THEN len(list_intersect(a.shingles, b.shingles))::DOUBLE / len(b.shingles) END AS c_ba
      FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1"""),

    // corpus-wide segment boilerplate removal (RefinedWeb line-dedup
    // restated over 5-word windows): per-doc counts + kept fingerprint
    Query("dedup_paragraph", ((s, dir) =>
      operators.Dedup.segmentBoilerplate(
        table(s, dir, "documents"), "doc_id", col("text"), segWords = 5, minDocs = 3)),
    // same 5-word non-overlapping windows, same 31-polynomial fingerprint,
    // same position-weighted kept sum — all exact integers
      """
      WITH segs AS (
        SELECT doc_id, seg, CAST(pos AS BIGINT) AS pos
        FROM (SELECT doc_id,
                [{'pos': i, 'seg': array_to_string(ws[(i*5+1):(i*5+5)], ' ')}
                   for i in range(0, CAST(ceil(len(ws) / 5.0) AS BIGINT))] AS sl
              FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)) t,
             LATERAL (SELECT unnest(sl, recursive := true)) u(pos, seg)),
      df AS (
        SELECT seg, count(DISTINCT doc_id) AS seg_df FROM segs GROUP BY seg),
      fp AS (
        SELECT doc_id, pos, s.seg, seg_df,
               list_reduce(list_prepend(0::BIGINT,
                 [ord(substring(s.seg, i, 1))::BIGINT for i in range(1, strlen(s.seg) + 1)]),
                 (h, c) -> (h * 31 + c) % 1000000007) AS segfp
        FROM segs s JOIN df ON df.seg = s.seg)
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_segs,
             CAST(sum(CASE WHEN seg_df >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
             CAST(sum(CASE WHEN seg_df >= 3 THEN 0 ELSE (pos + 1) * segfp END) AS BIGINT) AS kept_fp
      FROM fp GROUP BY doc_id"""),

    // --- dedup family (LLM-pipeline layer) ------------------------------
    // grouping key is (xxhash64(props), props): the full key must ride the
    // exchange anyway (it IS the output column), but the 8-byte hash prefix
    // means the sort-based fallback the hash aggregate spills into at scale
    // resolves comparisons on the hash, not the whole document
    Query("dedup_exact", ((s, dir) =>
      table(s, dir, "events")
        .groupBy(xxhash64(col("props")).as("__h"), col("props"))
        .agg(min(col("event_id")).as("keeper"), count(lit(1)).as("n"))
        .drop("__h")),
      "SELECT props, min(event_id) AS keeper, count(*) AS n FROM events GROUP BY props"),

    Query("dedup_exact_docs", ((s, dir) =>
      operators.Dedup.exactDedup(
        table(s, dir, "documents"), Seq(col("text")), col("doc_id"))
        .select(col("doc_id"))),
      "SELECT min(doc_id) AS doc_id FROM documents GROUP BY text"),

    Query("dedup_minhash", ((s, dir) =>
      operators.Dedup.minhashNearDups(
        table(s, dir, "documents"), "doc_id", col("text"), n = 3, threshold = 0.8)),
      """
      WITH sh AS (
        SELECT doc_id, list_distinct(CASE WHEN len(s) >= 3
          THEN [s[i] || ' ' || s[i+1] || ' ' || s[i+2] for i in range(1, len(s) - 1)]
          ELSE [] END) AS shingles
        FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents))
      SELECT id_a, id_b, j FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               len(list_intersect(a.shingles, b.shingles))::DOUBLE
                 / len(list_distinct(a.shingles || b.shingles)) AS j
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id) t
      WHERE j >= 0.8"""),

    // the end-to-end dedup pipeline output: the corpus with one document
    // kept per near-dup cluster (shingle → minhash LSH → verify →
    // components → keep representatives) — what a training-data run
    // actually writes out
    Query("dedup_keep", ((s, dir) => {
      val docs = table(s, dir, "documents")
      val clusters = nearDupClustersOf(docs.select(col("doc_id")),
        operators.Dedup.minhashNearDups(docs, "doc_id", col("text"), 3, 0.8))
      docs.join(clusters.filter(col("id") === col("rep"))
          .select(col("id").as("doc_id")), "doc_id")
        .select(col("doc_id"), col("lang"))
    }),
      """
      WITH RECURSIVE sh AS (
        SELECT doc_id, list_distinct(CASE WHEN len(s) >= 3
          THEN [s[i] || ' ' || s[i+1] || ' ' || s[i+2] for i in range(1, len(s) - 1)]
          ELSE [] END) AS shingles
        FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents)),
      p AS (
        SELECT id_a, id_b FROM (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 len(list_intersect(a.shingles, b.shingles))::DOUBLE
                   / len(list_distinct(a.shingles || b.shingles)) AS j
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id) t
        WHERE j >= 0.8),
      edges AS (SELECT id_a AS src, id_b AS dst FROM p
                UNION SELECT id_b, id_a FROM p),
      reach(src, dst) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
      SELECT d.doc_id, d.lang
      FROM documents d
      JOIN (SELECT src, min(dst) AS rep FROM reach GROUP BY src) c
        ON d.doc_id = c.src AND d.doc_id = c.rep"""),

    // the dedup REDUCE: connected components over the near-dup pairs,
    // one representative (min id) per cluster — what a training-data
    // pipeline actually keeps. Oracle: DuckDB recursive-CTE transitive
    // closure over the same brute-force pair list.
    Query("dedup_clusters", ((s, dir) => {
      val docs = table(s, dir, "documents")
      nearDupClustersOf(docs.select(col("doc_id")),
          operators.Dedup.minhashNearDups(docs, "doc_id", col("text"), 3, 0.8))
        .select(col("id").as("doc_id"), col("rep"))
    }),
      """
      WITH RECURSIVE sh AS (
        SELECT doc_id, list_distinct(CASE WHEN len(s) >= 3
          THEN [s[i] || ' ' || s[i+1] || ' ' || s[i+2] for i in range(1, len(s) - 1)]
          ELSE [] END) AS shingles
        FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents)),
      p AS (
        SELECT id_a, id_b FROM (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 len(list_intersect(a.shingles, b.shingles))::DOUBLE
                   / len(list_distinct(a.shingles || b.shingles)) AS j
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id) t
        WHERE j >= 0.8),
      edges AS (SELECT id_a AS src, id_b AS dst FROM p
                UNION SELECT id_b, id_a FROM p),
      reach(src, dst) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
      SELECT src AS doc_id, min(dst) AS rep FROM reach GROUP BY src"""),

    Query("dedup_simhash", ((s, dir) =>
      operators.Dedup.simhashNearDups(
        table(s, dir, "documents"), "doc_id", col("text"), n = 3, threshold = 0.8)),
      """
      WITH sh AS (
        SELECT doc_id, list_distinct(CASE WHEN len(s) >= 3
          THEN [s[i] || ' ' || s[i+1] || ' ' || s[i+2] for i in range(1, len(s) - 1)]
          ELSE [] END) AS shingles
        FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents))
      SELECT id_a, id_b, j FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               len(list_intersect(a.shingles, b.shingles))::DOUBLE
                 / len(list_distinct(a.shingles || b.shingles)) AS j
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id) t
      WHERE j >= 0.8""")
      .copy(role = Some(Strawman("dedup_simhash_capped"))),

    // the valve-engaged production configuration of the row above
    // (round 15): simhashNearDups was the LAST quadratic candidate
    // surface without a bucket cap (minhash/LSH, dhash and the embedding
    // paths all grew theirs in earlier rounds) — the ×256 sweep priced
    // that gap at 299s where the minhash twin rides its cap. Same
    // oracle-compatibility argument as mm_phash_dedup's engaged cap: the
    // bucket-size valve is a no-op at the driver's gate SFs (measured
    // largest block-pair bucket: 10 at sf0.001, 11 at sf0.01, 59 even at
    // the sf0.1 bench corpus — all far under 256), so the brute-force
    // all-pairs oracle contract (recall = 1 at
    // jaccard ≥ 0.8, Hamming ≤ 12 pigeonhole) is checked UNWEAKENED;
    // at web scale the cap drops only boilerplate-saturated buckets
    // (drop-only-weakens, exact-dedup-first order documented on the
    // operator).
    Query("dedup_simhash_capped", ((s, dir) =>
      operators.Dedup.simhashNearDups(
        table(s, dir, "documents"), "doc_id", col("text"), n = 3, threshold = 0.8,
        maxBucketSize = 256)),
    // identical brute-force contract as dedup_simhash: the cap is a
    // measured no-op at the gate SFs (largest bucket 11 ≪ 256 at
    // sf0.01), so the capped run must STILL find every true pair —
    // recall = 1 is checked unweakened, and any over-dropping valve bug
    // (pruning a bucket it shouldn't) breaks the hash here
      """
      WITH sh AS (
        SELECT doc_id, list_distinct(CASE WHEN len(s) >= 3
          THEN [s[i] || ' ' || s[i+1] || ' ' || s[i+2] for i in range(1, len(s) - 1)]
          ELSE [] END) AS shingles
        FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents))
      SELECT id_a, id_b, j FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               len(list_intersect(a.shingles, b.shingles))::DOUBLE
                 / len(list_distinct(a.shingles || b.shingles)) AS j
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id) t
      WHERE j >= 0.8"""),

    // exact duplicated-substring runs (Lee et al. 2022 shape): k-gram
    // hash anchoring + gaps-and-islands run merge + byte-equality
    // confirm — the distributed stand-in for the paper's suffix array
    Query("dedup_substring", ((s, dir) =>
      operators.Dedup.duplicateRuns(table(s, dir, "documents"),
        "doc_id", col("text"), k = 40, minRunLen = 80)),
      """
      WITH pos AS (
        SELECT doc_id AS d,
               unnest(generate_series(1, len(text) - 40 + 1))::BIGINT AS p, text
        FROM documents WHERE len(text) >= 40),
      g AS (SELECT d, p, substr(text, p, 40) AS gr FROM pos),
      pairs AS (
        SELECT a.d AS d1, b.d AS d2, a.p AS p1, b.p AS p2, a.p - b.p AS diff
        FROM g a JOIN g b ON a.gr = b.gr AND a.d < b.d),
      isl AS (
        SELECT d1, d2, diff, p1,
               p1 - row_number() OVER (PARTITION BY d1, d2, diff ORDER BY p1) AS i
        FROM pairs),
      runs AS (
        SELECT d1, d2, diff, min(p1) AS s1, max(p1) AS e1
        FROM isl GROUP BY d1, d2, diff, i)
      SELECT d1, d2, s1 AS start1, s1 - diff AS start2,
             CAST(e1 - s1 + 40 AS BIGINT) AS run_len
      FROM runs WHERE e1 - s1 + 40 >= 80""")
      .copy(role = Some(Strawman("dedup_substring_capped"))),

    // the CAPPED substring-dedup configuration (round 14) — the mega-gram
    // valve a 100-TB run has engaged (boilerplate grams at B corpus-wide
    // positions are B² pairs of low-signal work) under the hash oracle
    // with the same parameters the ×256 scale curve measures: grams at
    // > 64 positions are dropped BEFORE postings lists form, and the
    // oracle replays the cap (count per gram ≤ 64) so the row is exact
    // at any SF whether or not any gram saturates.
    Query("dedup_substring_capped", ((s, dir) =>
      operators.Dedup.duplicateRuns(table(s, dir, "documents"),
        "doc_id", col("text"), k = 40, minRunLen = 80, maxPositionsPerGram = 64)),
    // the uncapped replay with one extra CTE: grams above 64 positions
    // corpus-wide are dropped before pairing, exactly as the semi-joined
    // count filter does on the Spark side
      """
      WITH pos AS (
        SELECT doc_id AS d,
               unnest(generate_series(1, len(text) - 40 + 1))::BIGINT AS p, text
        FROM documents WHERE len(text) >= 40),
      g0 AS (SELECT d, p, substr(text, p, 40) AS gr FROM pos),
      gc AS (SELECT gr FROM g0 GROUP BY gr HAVING count(*) <= 64),
      g AS (SELECT g0.d, g0.p, g0.gr FROM g0 JOIN gc USING (gr)),
      pairs AS (
        SELECT a.d AS d1, b.d AS d2, a.p AS p1, b.p AS p2, a.p - b.p AS diff
        FROM g a JOIN g b ON a.gr = b.gr AND a.d < b.d),
      isl AS (
        SELECT d1, d2, diff, p1,
               p1 - row_number() OVER (PARTITION BY d1, d2, diff ORDER BY p1) AS i
        FROM pairs),
      runs AS (
        SELECT d1, d2, diff, min(p1) AS s1, max(p1) AS e1
        FROM isl GROUP BY d1, d2, diff, i)
      SELECT d1, d2, s1 AS start1, s1 - diff AS start2,
             CAST(e1 - s1 + 40 AS BIGINT) AS run_len
      FROM runs WHERE e1 - s1 + 40 >= 80"""),

    // intra-document repeats: ≥20-char substrings occurring twice in the
    // SAME document — the self-repetition/boilerplate half of the
    // substring-dedup story
    Query("dedup_substring_self", ((s, dir) =>
      operators.Dedup.selfRepeatRuns(table(s, dir, "documents"),
        "doc_id", col("text"), k = 20, minRunLen = 20)),
      """
      WITH pos AS (
        SELECT doc_id AS d,
               unnest(generate_series(1, len(text) - 20 + 1))::BIGINT AS p, text
        FROM documents WHERE len(text) >= 20),
      g AS (SELECT d, p, substr(text, p, 20) AS gr FROM pos),
      pairs AS (
        SELECT a.d, a.p AS p1, b.p AS p2, a.p - b.p AS diff
        FROM g a JOIN g b ON a.gr = b.gr AND a.d = b.d AND a.p > b.p),
      isl AS (
        SELECT d, diff, p1,
               p1 - row_number() OVER (PARTITION BY d, diff ORDER BY p1) AS i
        FROM pairs),
      runs AS (
        SELECT d, diff, min(p1) AS s1, max(p1) AS e1
        FROM isl GROUP BY d, diff, i)
      SELECT d, s1 AS start1, s1 - diff AS start2,
             CAST(e1 - s1 + 20 AS BIGINT) AS run_len
      FROM runs WHERE e1 - s1 + 20 >= 20"""),

    // incremental corpus-vs-delta dedup: a "new batch" of re-labeled
    // copies probes the corpus's LSH bands. Oracled in the exact regime
    // (threshold 1.0 = equal shingle sets, where banding recall is
    // deterministically 1 — identical sets ⇒ identical signatures);
    // the fuzzy regime is spec-pinned (ScaleOpsSpec)
    Query("dedup_incremental", ((s, dir) => {
      val docs = table(s, dir, "documents")
      val corpus = docs.filter(size(operators.Dedup.wordShingles(col("text"), 3)) > 0)
      val delta = corpus.filter(pmod(col("doc_id"), lit(7)) === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      operators.Dedup.incrementalNearDups(corpus, delta, "doc_id",
        col("text"), n = 3, threshold = 1.0)
    }),
    // exact regime: pairs with EQUAL distinct-shingle sets (jaccard 1);
    // DuckDB compares sorted distinct shingle lists
      """
      WITH sh AS (
        SELECT doc_id, list_sort(list_distinct(CASE WHEN len(s) >= 3
          THEN [s[i] || ' ' || s[i+1] || ' ' || s[i+2] for i in range(1, len(s) - 1)]
          ELSE [] END)) AS g
        FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents)),
      corp AS (SELECT doc_id, g FROM sh WHERE len(g) > 0),
      delta AS (SELECT doc_id + 100000 AS id_d, g FROM corp WHERE doc_id % 7 = 0)
      SELECT d.id_d, c.doc_id AS id_c, CAST(1.0 AS DOUBLE) AS j
      FROM delta d JOIN corp c ON d.g = c.g"""),

    Query("dedup_ngram_pairs", ((s, dir) => {
      val docs = table(s, dir, "documents")
      val pairs = docs.select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
      operators.Dedup.pairwiseJaccard(docs, "doc_id", col("text"), n = 3, pairs = pairs)
    }),
      """
      WITH sh AS (
        SELECT doc_id, list_distinct(CASE WHEN len(s) >= 3
          THEN [s[i] || ' ' || s[i+1] || ' ' || s[i+2] for i in range(1, len(s) - 1)]
          ELSE [] END) AS shingles
        FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents))
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_intersect(a.shingles, b.shingles))::DOUBLE
               / len(list_distinct(a.shingles || b.shingles)) AS j
      FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1"""),

    // exact threshold-range pairs: block-partitioned equi-join (see
    // Similarity.cosineNearDupPairs for why LSH cannot be recall-exact at
    // a 0.45 threshold — the shape here is a distributed GEMM tiling)
    Query("dedup_embedding", ((s, dir) =>
      operators.Similarity.cosineNearDupPairs(table(s, dir, "embeddings"), 0.45)),
      """
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.45""")
      .copy(role = Some(Strawman("dedup_embedding_lsh_derived"))),

    // SemDeDup (Abbas et al. 2023): cluster-scoped embedding dedup —
    // nearest-centroid assignment (literal centroids, zero-exchange
    // projection), pairs only WITHIN a cluster (C balanced tasks, the
    // subquadratic shape all-pairs dedup_embedding cannot have), keep
    // the smallest id of any ≥-threshold pair; micro-quantized integer
    // similarities make assignment + drops engine-exact
    Query("dedup_semantic", ((s, dir) =>
      operators.Similarity.semanticDedup(
        table(s, dir, "embeddings"), SemCentroids, thresholdMicro = 450000L)),
    // same centroid literals as the Spark side (SemCentroids is the one
    // source of truth; the SQL is assembled from it), same micro-quantized
    // integer argmax + threshold — an independent derivation of the full
    // assign→pair→keep pipeline
      {
      def lst(c: Seq[Double]) = c.mkString("[", ", ", "]")
      val sims = SemCentroids
        .map(c => s"CAST(round(1e6 * list_cosine_similarity(v, ${lst(c)})) AS BIGINT)")
        .mkString("[", ", ", "]")
      s"""
      WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      a AS (
        SELECT vec_id, v, CAST(list_position(sims, list_max(sims)) AS BIGINT) AS cluster
        FROM (SELECT vec_id, v, $sims AS sims FROM e)),
      d AS (
        SELECT DISTINCT y.vec_id
        FROM a x JOIN a y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
        WHERE CAST(round(1e6 * list_cosine_similarity(x.v, y.v)) AS BIGINT) >= 450000)
      SELECT vec_id, cluster FROM a WHERE vec_id NOT IN (SELECT vec_id FROM d)"""
    })
      .copy(role = Some(Strawman("dedup_semantic_hier"))),

    // SemDeDup through the HIERARCHICAL assignment kernel (round 14) —
    // the headline production configuration (C ∝ n with S = ⌈√C⌉) under
    // the hash oracle, not just specs and scale curves: superCells = 3
    // over the 8 literal centroids is a genuine two-level search
    // (stride-sampled supers 0/2/4, per-super member lists). The oracle
    // replays the WHOLE two-level argmax independently in SQL — super
    // member assignment from the centroid literals, then per-vector
    // super argmax and member argmax with the kernel's first-max-wins
    // tie rule — so a kernel defect in either level breaks the hash.
    Query("dedup_semantic_hier", ((s, dir) =>
      operators.Similarity.semanticDedup(
        table(s, dir, "embeddings"), SemCentroids, thresholdMicro = 450000L,
        superCells = 3)),
    // the two-level coarse search replayed INDEPENDENTLY of the kernel:
    // super member lists are re-derived here (plain Scala argmax over
    // the centroid literals — not hierAssignFn), the per-vector super
    // and member argmaxes run in SQL over micro-quantized cosine
    // literals with list_position's first-match = the kernel's
    // first-max-wins tie rule, members ascending = ties to lowest cell
      {
      def lst(c: Seq[Double]) = c.mkString("[", ", ", "]")
      def micro(c: Seq[Double]) =
        s"CAST(round(1e6 * list_cosine_similarity(v, ${lst(c)})) AS BIGINT)"
      val cents = SemCentroids
      val nC = cents.length
      val supers = 3
      val stride = math.max(1, nC / supers)
      val superIdx = (0 until nC by stride).take(supers)
      // independent member-list replay (matches hierAssignFn's contract,
      // re-derived from scratch): supers anchor their own list; every
      // other centroid joins its nearest super, micro-cosine first-max
      def microScala(a: Seq[Double], b: Seq[Double]): Long = {
        val dot = a.lazyZip(b).map(_ * _).sum
        val cos = dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
        java.math.BigDecimal.valueOf(cos * 1e6)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
      }
      val anchor = superIdx.zipWithIndex.toMap
      val members = Array.fill(supers)(scala.collection.mutable.ArrayBuffer.empty[Int])
      (0 until nC).foreach { ci =>
        anchor.get(ci) match {
          case Some(s) => members(s) += ci
          case None =>
            val best = superIdx.indices.maxBy(s =>
              (microScala(cents(ci), cents(superIdx(s))), -s))
            members(best) += ci
        }
      }
      val ssims = superIdx.map(si => micro(cents(si))).mkString("[", ", ", "]")
      val arms = superIdx.indices.map { s =>
        val ms = members(s).sorted.toSeq
        val msims = ms.map(ci => micro(cents(ci))).mkString("[", ", ", "]")
        val ids = ms.map(_ + 1).mkString("[", ", ", "]")
        s"WHEN ${s + 1} THEN CAST(($ids)[list_position($msims, list_max($msims))] AS BIGINT)"
      }.mkString(" ")
      s"""
      WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      vs AS (
        SELECT vec_id, v,
               CAST(list_position(ssims, list_max(ssims)) AS BIGINT) AS sbest
        FROM (SELECT vec_id, v, $ssims AS ssims FROM e)),
      a AS (
        SELECT vec_id, v, CASE sbest $arms END AS cluster FROM vs),
      d AS (
        SELECT DISTINCT y.vec_id
        FROM a x JOIN a y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
        WHERE CAST(round(1e6 * list_cosine_similarity(x.v, y.v)) AS BIGINT) >= 450000)
      SELECT vec_id, cluster FROM a WHERE vec_id NOT IN (SELECT vec_id FROM d)"""
    })
      .copy(scaled = Some(ScaleQueries.semanticHier)),

    // subquadratic SRP-LSH near-dup path (high-similarity regime): the
    // corpus is doubled with byte-identical copies; identical vectors hash
    // to identical buckets in every table, so recall on the duplicated
    // pairs is deterministically 1 and the oracle is exact.
    // planesPerTable = 8 is PINNED (round 17): this row is the
    // strawman-tagged uncapped FIXED-width configuration — the API
    // default flipped to the derived width (r16 verdict ask #3), so the
    // old default lives on here explicitly as the rule-test curve.
    Query("dedup_embedding_lsh", ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val copies = emb.withColumn("vec_id", col("vec_id") + lit(1000000))
      operators.Similarity.nearDupPairsLSH(emb.unionByName(copies), threshold = 0.9,
        dim = 64, planesPerTable = 8)
    }),
      "SELECT vec_id AS id_a, vec_id + 1000000 AS id_b FROM embeddings")
      .copy(role = Some(Strawman("dedup_embedding_lsh_capped"))),

    // the same pair operator with the OCCUPANCY-DERIVED signature width
    // (round 14): planesPerTable = 0 sizes H from one corpus count — the
    // configuration the +log₂(growth) scale rule actually ships. The
    // byte-identical-duplicate contract is width-INDEPENDENT (equal
    // vectors share every bucket at any H), so the exact oracle
    // transfers verbatim; threshold 0.9 keeps chance near-dups out at
    // the driver SFs exactly as the fixed-width row does.
    // planesPerTable = 0 is now ALSO the API default (round 17) — this
    // row oracles exactly what a plain caller gets
    Query("dedup_embedding_lsh_derived", ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val copies = emb.withColumn("vec_id", col("vec_id") + lit(1000000))
      operators.Similarity.nearDupPairsLSH(emb.unionByName(copies), threshold = 0.9,
        dim = 64, planesPerTable = 0)
    }),
      "SELECT vec_id AS id_a, vec_id + 1000000 AS id_b FROM embeddings"),

    // the fixed-width operator WITH its round-16 `maxBucketSize` valve —
    // the configuration that survives a growing corpus at fixed signature
    // bits (the `dedup_simhash_capped` playbook, r15 verdict ask #1). The
    // cap is a measured NO-OP at every driver SF (largest (table,bucket)
    // occupancy on this doubled corpus: 64 at sf0.1, 24 at sf0.001 —
    // pinned by Round16OpsSpec's headroom test), so this row sits under
    // the UNWEAKENED exact oracle: every byte-identical pair, nothing
    // else. At sweep scale the cap engages and bounds the bucket
    // self-join (the 4.56×/octave ×256 tail this valve exists for).
    Query("dedup_embedding_lsh_capped", ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val copies = emb.withColumn("vec_id", col("vec_id") + lit(1000000))
      operators.Similarity.nearDupPairsLSH(emb.unionByName(copies), threshold = 0.9,
        dim = 64, planesPerTable = 8, maxBucketSize = 256)
    }),
      "SELECT vec_id AS id_a, vec_id + 1000000 AS id_b FROM embeddings"),

    // edit-distance near-dup under blocking-key candidates (record-linkage
    // shape): first-token + length-band blocks, exact Levenshtein verify.
    // The oracle SQL replays the FULL tuner decision: the round-15
    // engagement floor (largest block > 4×cap AND excess pairs > 4×rows,
    // else the fixed key) and, when engaged, the per-level widen CASE —
    // so the row stays exact at any SF whichever branch the probe takes.
    Query("dedup_edit", ((s, dir) =>
      operators.Dedup.editDistancePairs(
        table(s, dir, "documents"), "doc_id", col("text"), minSim = 0.8)),
    // blocking key + exact Levenshtein verify; the (1.0 - 0.8) length
    // pre-filter bound is written as the SAME double subtraction the
    // Spark side evaluates, so the boundary compare is bit-identical
    // widen-aware oracle (round 14): replays the self-tuning blocking
    // CASE exactly — per-level block counts over the whole corpus, the
    // effective key is the narrowest level within maxBlockSize=16 (the
    // widest level unconditionally), so the oracle stays exact at ANY sf
    // whether or not re-blocking engages (at the sf0.01 gate the largest
    // level-0 block is 7 and every CASE arm picks level 0)
      """
      WITH k AS (SELECT doc_id, text,
          array_to_string((string_split(text, ' '))[1:1], ' ') || '|' ||
            CAST(length(text) // 64 AS VARCHAR) AS k0,
          array_to_string((string_split(text, ' '))[1:2], ' ') || '|' ||
            CAST(length(text) // 64 AS VARCHAR) AS k1,
          array_to_string((string_split(text, ' '))[1:3], ' ') || '|' ||
            CAST(length(text) // 64 AS VARCHAR) AS k2,
          array_to_string((string_split(text, ' '))[1:4], ' ') || '|' ||
            CAST(length(text) // 64 AS VARCHAR) AS k3
        FROM documents),
      c0 AS (SELECT k0, count(*) AS c,
                    max(count(*)) OVER () AS mx,
                    sum(CASE WHEN count(*) > 16
                        THEN count(*)*(count(*)-1)//2 ELSE 0 END) OVER () AS pov,
                    sum(count(*)) OVER () AS n
             FROM k GROUP BY k0),
      c1 AS (SELECT k1, count(*) AS c FROM k GROUP BY k1),
      c2 AS (SELECT k2, count(*) AS c FROM k GROUP BY k2),
      eff AS (SELECT k.doc_id, k.text,
          CASE WHEN c0.mx <= 4*16 OR c0.pov <= 4*c0.n THEN k.k0
               WHEN c0.c <= 16 THEN k.k0
               WHEN c1.c <= 16 THEN k.k1
               WHEN c2.c <= 16 THEN k.k2
               ELSE k.k3 END AS blk
        FROM k JOIN c0 USING (k0) JOIN c1 USING (k1) JOIN c2 USING (k2))
      SELECT id_a, id_b, lev, sim FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev,
               1.0 - levenshtein(a.text, b.text) /
                 CAST(greatest(length(a.text), length(b.text)) AS DOUBLE) AS sim
        FROM eff a JOIN eff b ON a.blk = b.blk AND a.doc_id < b.doc_id
        WHERE CAST(abs(length(a.text) - length(b.text)) AS DOUBLE)
              <= (CAST(1.0 AS DOUBLE) - CAST(0.8 AS DOUBLE))
                 * greatest(length(a.text), length(b.text))) t
      WHERE sim >= 0.8"""),
  )
}
