package graft
package queries

import org.apache.spark.sql.functions._

import graft.SparkEntry.{nearDupClustersOf, SemCentroids, table}

/** Corpus curation: the end-to-end cleaning pipelines (`pipeline_`) and
  * the curation operators (`curation_`). */
object CurationQueries {

  val all: Seq[Query] = Seq(
    // CAPSTONE (round 5): the end-to-end corpus-cleaning run a
    // training-data pipeline actually executes — language gate →
    // punctuation quality gate → exact dedup (hash-keyed, min-id keep) →
    // near-dup keep-one (minhash LSH → exact-jaccard verify → connected
    // components) — composed from the text/dedup operators and hash-checked
    // END TO END against DuckDB running the identical pipeline (gates in
    // SQL, closure via recursive CTE). Every stage is the scale shape:
    // narrow filters, hash-keyed exchange, banded LSH, log-round
    // label propagation.
    Query("pipeline_clean", ((s, dir) => {
      val docs = table(s, dir, "documents")
      val kept = docs
        .filter(operators.TextAnalysis.langId(col("text")) === "en" &&
          operators.TextAnalysis.punctRatio(col("text")) < 0.3)
        .select(col("doc_id"), col("text"))
      // The gated+deduped corpus materializes ONCE (round 18): `exact`
      // is an EXPENSIVE derived frame (text scan → langId/punct gates →
      // full-text hash-window exchange), and its consumers evaluate it
      // four times — minhashNearDups reads its input through three plan
      // arms (signature pass + both verify sides; no stage reuse fires
      // across the aliased sides) and the cluster id list is a fourth.
      // That is 4 gate passes and 4 corpus-text shuffles per run. One
      // SER checkpoint (the pageRank-edge-frame class: corpus-sized by
      // necessity, released the moment the last consumer has
      // materialized) pays the pass once. dedup_keep/dedup_clusters
      // deliberately do NOT get this: their input is a bare pruned
      // parquet scan, which is cheaper re-read than pinned.
      // both minhashNearDups' result and nearDupClusters' labels are
      // eagerly checkpointed inside the calls, so every read of `exact`'s
      // blocks has happened by the time the scope exits
      val clusters = operators.Checkpoints.scope() { s =>
        val exact = s.checkpoint(
          operators.Dedup.exactDedup(kept, Seq(col("text")), col("doc_id")))
        nearDupClustersOf(exact.select(col("doc_id")),
          operators.Dedup.minhashNearDups(exact, "doc_id", col("text"), 3, 0.8))
      }
      // The representatives ARE the answer (round 18): nearDupClusters'
      // output id set is exactly its `ids` input — `exact`'s ids — and
      // reps are a subset of those, so the old `exact ⋈ reps` closing
      // join was an identity semi-join that re-evaluated the whole
      // gates→exactDedup subtree (scan, langId, punctRatio, hash-window
      // exchange) a third time to keep every row it was handed.
      clusters.filter(col("id") === col("rep"))
        .select(col("id").as("doc_id"))
    }),
      """
      WITH RECURSIVE base AS (
        SELECT doc_id, text FROM documents
        WHERE len(list_filter(string_split(text, ' '),
                t -> t IN ('the','a','an','of','and','to','in','is','on','for','with','as','at','by','be','this','that','it','or','are','was','from')))::DOUBLE
              / len(string_split(text, ' ')) >= 0.05
          AND (strlen(text) - strlen(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')))::DOUBLE
              / strlen(text) < 0.3),
      kept AS (
        SELECT min(doc_id) AS doc_id, text FROM base GROUP BY text),
      sh AS (
        SELECT doc_id, list_distinct(CASE WHEN len(s) >= 3
          THEN [s[i] || ' ' || s[i+1] || ' ' || s[i+2] for i in range(1, len(s) - 1)]
          ELSE [] END) AS shingles
        FROM (SELECT doc_id, string_split(text, ' ') AS s FROM kept)),
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
        SELECT doc_id, doc_id FROM kept
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
      SELECT k.doc_id FROM kept k
      JOIN (SELECT src, min(dst) AS rep FROM reach GROUP BY src) c
        ON k.doc_id = c.src AND k.doc_id = c.rep"""),

    // CAPSTONE 2 — corpus PREPARATION: decontaminate (vs the eval split)
    // → stratified sample by language → train/val/test assignment →
    // per-source context-window packing → per-split corpus accounting.
    // Every stage is one of the curation operators; the whole chain has
    // two data-bounded exchanges (decontam hits, final agg) plus the
    // per-source packing window — nothing corpus-sized shuffles twice.
    // Splits draw from a SHIFTED key so sampling and splitting are
    // independent decisions.
    Query("pipeline_prepare", ((s, dir) => {
      val docs = table(s, dir, "documents")
      val bench = docs.filter(pmod(col("doc_id"), lit(37)) === 0)
      val train0 = docs.filter(pmod(col("doc_id"), lit(37)) =!= 0)
      val flagged = operators.Curation.contaminationHits(
        train0, bench, "doc_id", col("text"), n = 3, minOverlap = 2)
      val clean = train0.join(flagged.select(col("doc_id")), Seq("doc_id"), "left_anti")
      val sampled = operators.Curation.stratifiedSample(
        clean, col("lang"), col("doc_id"), Map("en" -> 0.5, "de" -> 0.25), 0.1)
      val split = operators.Curation.assignSplits(
        sampled, col("doc_id") + lit(777), Seq(("train", 0.9), ("val", 0.95)), "test")
      val packed = operators.Curation.packSequential(
        split, col("source"), col("doc_id"),
        operators.TextAnalysis.tokenCount(col("text")), binTokens = 512)
      packed.groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(operators.TextAnalysis.tokenCount(col("text"))).as("n_tokens"),
          count_distinct(concat(col("source"), lit("#"), col("bin"))).as("n_bins"))
    }),
      """
      WITH sh AS (
        SELECT doc_id, list_distinct(CASE WHEN len(s) >= 3
          THEN [s[i] || ' ' || s[i+1] || ' ' || s[i+2] for i in range(1, len(s) - 1)]
          ELSE [] END) AS shingles
        FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents)),
      tr AS (SELECT doc_id, unnest(shingles) AS sgram FROM sh WHERE doc_id % 37 <> 0),
      ev AS (SELECT DISTINCT unnest(shingles) AS sgram FROM sh WHERE doc_id % 37 = 0),
      flagged AS (
        SELECT tr.doc_id FROM tr JOIN ev USING (sgram)
        GROUP BY tr.doc_id HAVING count(DISTINCT tr.sgram) >= 2),
      sampled AS (
        SELECT d.* FROM documents d
        WHERE d.doc_id % 37 <> 0
          AND d.doc_id NOT IN (SELECT doc_id FROM flagged)
          AND (((d.doc_id % 1000003) * 2654435761) % 4294967296)::DOUBLE / 4294967296.0
              < CASE d.lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25 ELSE 0.1 END),
      split AS (
        SELECT *, CASE WHEN u2 < 0.9 THEN 'train'
                       WHEN u2 < 0.95 THEN 'val'
                       ELSE 'test' END AS split
        FROM (SELECT *,
                ((((doc_id + 777) % 1000003) * 2654435761) % 4294967296)::DOUBLE
                  / 4294967296.0 AS u2
              FROM sampled) s0),
      packed AS (
        SELECT split, source, tok,
               CAST(floor((cum - tok) / 512.0) AS BIGINT) AS bin
        FROM (SELECT split, source,
                     len(string_split(text, ' ')) AS tok,
                     sum(len(string_split(text, ' ')))
                       OVER (PARTITION BY source ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
              FROM split) p)
      SELECT split, count(*) AS n_docs, sum(tok)::BIGINT AS n_tokens,
             count(DISTINCT source || '#' || bin) AS n_bins
      FROM packed GROUP BY 1"""),

    // benchmark decontamination: train docs sharing >= 2 distinct 3-gram
    // shingles with the (broadcast) eval split — the eval side never
    // forces a shuffle of the corpus shingles
    Query("pipeline_decontam", ((s, dir) => {
      val docs = table(s, dir, "documents")
      val bench = docs.filter(pmod(col("doc_id"), lit(37)) === 0)
      val train = docs.filter(pmod(col("doc_id"), lit(37)) =!= 0)
      operators.Curation.contaminationHits(train, bench, "doc_id", col("text"),
        n = 3, minOverlap = 2)
    }),
      """
      WITH sh AS (
        SELECT doc_id, list_distinct(CASE WHEN len(s) >= 3
          THEN [s[i] || ' ' || s[i+1] || ' ' || s[i+2] for i in range(1, len(s) - 1)]
          ELSE [] END) AS shingles
        FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents)),
      tr AS (SELECT doc_id, unnest(shingles) AS sgram FROM sh WHERE doc_id % 37 <> 0),
      ev AS (SELECT DISTINCT unnest(shingles) AS sgram FROM sh WHERE doc_id % 37 = 0)
      SELECT tr.doc_id, count(DISTINCT tr.sgram) AS n_hits
      FROM tr JOIN ev USING (sgram)
      GROUP BY tr.doc_id HAVING count(DISTINCT tr.sgram) >= 2"""),

    // deterministic stratified Bernoulli sample — zero-shuffle filter,
    // retry/partitioning-invariant (selection is a pure function of doc_id)
    Query("pipeline_stratified", ((s, dir) =>
      operators.Curation.stratifiedSample(table(s, dir, "documents"),
          col("lang"), col("doc_id"),
          Map("en" -> 0.5, "de" -> 0.25), default = 0.1)
        .select(col("doc_id"), col("lang"), col("source"))),
      """
      SELECT doc_id, lang, source FROM documents
      WHERE (((doc_id % 1000003) * 2654435761) % 4294967296)::DOUBLE / 4294967296.0
            < CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25 ELSE 0.1 END"""),

    // pretraining chunking: long documents → overlapping fixed-length
    // token windows (window 32, stride 16); last chunk = first window
    // reaching the end, every token covered, zero exchanges
    Query("pipeline_chunks", ((s, dir) =>
      operators.TextAnalysis.tokenChunks(table(s, dir, "documents"),
        "doc_id", col("text"), window = 32, stride = 16)),
    // sliding token windows: k in 0..max(0, ceil((len-32)/16)); DuckDB
    // list slicing is 1-based inclusive like Spark's slice
      """
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      k AS (SELECT doc_id, toks, len(toks) AS n,
                   unnest(generate_series(0, greatest(0, (len(toks) - 32 + 16 - 1) // 16))) AS chunk_id
            FROM t)
      SELECT doc_id, chunk_id::BIGINT AS chunk_id,
             len(toks[chunk_id * 16 + 1 : least(chunk_id * 16 + 32, n)])::BIGINT AS n_tokens,
             array_to_string(toks[chunk_id * 16 + 1 : least(chunk_id * 16 + 32, n)], ' ') AS chunk_text
      FROM k"""),

    // temperature (α) source resampling — mT5/XLM-R mixture flattening
    // as a downsample-only deterministic filter; rates derive from the
    // per-source counts (rarest source keeps 100%), micro-quantized so
    // the one pow() step pins identically across engines
    Query("pipeline_temperature", ((s, dir) =>
      operators.Curation.temperatureSample(table(s, dir, "documents"),
          col("lang"), col("doc_id"), alpha = 0.3)
        .select(col("doc_id"), col("lang"))),
    // the same draw; rate = (n_min/n_source)^(1-alpha) micro-quantized
      """
      WITH c AS (SELECT lang AS s, COUNT(*) AS n FROM documents GROUP BY 1),
      r AS (SELECT s, ROUND(POW((SELECT MIN(n) FROM c)::DOUBLE / n, 0.7) * 1e6)
                   AS rate_micro FROM c)
      SELECT d.doc_id, d.lang FROM documents d JOIN r ON d.lang = r.s
      WHERE (((d.doc_id % 1000003) * 2654435761) % 4294967296)::DOUBLE / 4294967296.0
            < rate_micro / 1e6"""),

    // deterministic training-order shuffle: sharded pseudo-random
    // permutation (one exchange on the shard, parallel windows — never a
    // global row_number)
    Query("pipeline_shuffle", ((s, dir) =>
      operators.Curation.shuffleOrder(table(s, dir, "documents"),
          col("doc_id"), shards = 16)
        .select(col("doc_id"), col("shard"), col("pos"))),
      """
      WITH t AS (SELECT doc_id,
                        ((doc_id % 1000003) * 2654435761) % 4294967296 AS d
                 FROM documents)
      SELECT doc_id, (d % 16)::INT AS shard,
             row_number() OVER (PARTITION BY d % 16 ORDER BY d, doc_id) AS pos
      FROM t"""),

    // deterministic train/val/test split assignment — zero shuffles,
    // retry-stable, incremental-refresh-safe (existing rows never move)
    Query("pipeline_splits", ((s, dir) =>
      operators.Curation.assignSplits(table(s, dir, "documents"),
          col("doc_id"), Seq(("train", 0.9), ("val", 0.95)), last = "test")
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n"))),
      """
      WITH t AS (
        SELECT lang,
               CASE WHEN u < 0.9 THEN 'train'
                    WHEN u < 0.95 THEN 'val'
                    ELSE 'test' END AS split
        FROM (SELECT lang,
                     (((doc_id % 1000003) * 2654435761) % 4294967296)::DOUBLE
                       / 4294967296.0 AS u
              FROM documents) d)
      SELECT lang, split, count(*) AS n FROM t GROUP BY 1, 2"""),

    // sequential context-window packing: per-source running-total fill,
    // one exchange on the partition column (never a global order)
    Query("pipeline_pack", ((s, dir) =>
      operators.Curation.packSequential(table(s, dir, "documents"),
          col("source"), col("doc_id"),
          operators.TextAnalysis.tokenCount(col("text")), binTokens = 512)
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(operators.TextAnalysis.tokenCount(col("text"))).as("n_tokens"))),
      """
      WITH t AS (
        SELECT source,
               len(string_split(text, ' ')) AS tok,
               sum(len(string_split(text, ' ')))
                 OVER (PARTITION BY source ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) AS cum
        FROM documents)
      SELECT source, CAST(floor((cum - tok) / 512.0) AS BIGINT) AS bin,
             count(*) AS n_docs, sum(tok)::BIGINT AS n_tokens
      FROM t GROUP BY 1, 2"""),

    // domain mixing by exact per-source quota: deterministic draw ranks
    // within each source, one shuffle on the stratum
    Query("pipeline_mix", ((s, dir) =>
      operators.Curation.mixByQuota(table(s, dir, "documents"),
          col("source"), col("doc_id"),
          Map("src0" -> 15, "src1" -> 10), default = 5)
        .select(col("doc_id"), col("source"))),
      """
      SELECT doc_id, source FROM (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source
                 ORDER BY ((doc_id % 1000003) * 2654435761) % 4294967296, doc_id) AS rk
        FROM documents) t
      WHERE rk <= CASE source WHEN 'src0' THEN 15 WHEN 'src1' THEN 10 ELSE 5 END"""),

    // temperature-scaled source mixing (α = 1/2 so ⌊√n⌋ keeps the whole
    // budget split in exact integers — no cross-engine pow() drift)
    Query("curation_temperature", ((s, dir) =>
      operators.Curation.temperatureMix(
        table(s, dir, "documents"), "source", "doc_id", budget = 200L)),
    // ⌊√n⌋ weights (IEEE sqrt is correctly rounded in every engine) keep
    // the whole budget split in exact integer arithmetic
      """
      WITH c AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(floor(sqrt(count(*))) AS BIGINT) AS w
        FROM documents GROUP BY source),
      t AS (SELECT CAST(sum(w) AS BIGINT) AS w_total FROM c),
      tg AS (SELECT source, n_docs, CAST((w * 200) // w_total AS BIGINT) AS target_n FROM c, t),
      r AS (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        FROM documents)
      SELECT tg.source, tg.n_docs, tg.target_n,
             CAST(count(r.doc_id) AS BIGINT) AS kept_n,
             CAST(coalesce(sum(r.doc_id), 0) AS BIGINT) AS kept_key_sum
      FROM tg LEFT JOIN r ON r.source = tg.source AND r.rn <= tg.target_n
      GROUP BY tg.source, tg.n_docs, tg.target_n"""),

    // DSIR importance resampling: hashed uni+bigram features, add-one
    // smoothed target/raw log-ratios in micro-nat fixed point — the
    // oracle re-derives the whole model (hash, counts, weights, scores)
    // independently; target = the English subset
    Query("curation_dsir", ((s, dir) =>
      operators.Curation.dsirWeights(
        table(s, dir, "documents"), "doc_id", col("text"),
        col("lang") === "en")),
    // full independent DSIR re-derivation: same rolling-hash buckets,
    // add-one smoothing, single-log IEEE chain, micro-nat round
      """
      WITH sp AS (
        SELECT doc_id, lang = 'en' AS tgt, string_split(text, ' ') AS s
        FROM documents),
      uni AS (SELECT doc_id, tgt, unnest(s) AS g FROM sp),
      bi AS (
        SELECT doc_id, tgt, s[i] || ' ' || s[i + 1] AS g
        FROM (SELECT doc_id, tgt, s,
                     unnest(generate_series(1, len(s) - 1))::BIGINT AS i
              FROM sp WHERE len(s) >= 2)),
      gr AS (
        SELECT doc_id, tgt,
               list_reduce(list_prepend(0::BIGINT,
                 [ord(substring(g, i, 1))::BIGINT for i in range(1, strlen(g) + 1)]),
                 (h, c) -> (h * 31 + c) % 1000000007) % 1024 AS b
        FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
      cb AS (
        SELECT b, CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
               CAST(sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS BIGINT) AS n_r
        FROM gr GROUP BY b),
      tot AS (
        SELECT CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS nt_tot,
               CAST(sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS BIGINT) AS nr_tot
        FROM gr),
      model AS (
        SELECT b, CAST(round(ln(
                 ((n_t + 1)::DOUBLE * (nr_tot + 1024)::DOUBLE) /
                 ((n_r + 1)::DOUBLE * (nt_tot + 1024)::DOUBLE)) * 1000000.0) AS BIGINT) AS w_micro
        FROM cb, tot)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
             CAST(sum(w_micro) AS BIGINT) AS score_micro,
             sum(w_micro) > 0 AS keep
      FROM gr JOIN model USING (b)
      GROUP BY doc_id"""),

    // CCNet perplexity bucketing (Wenzek et al. 2020): per-language
    // head/middle/tail thirds by char-trigram LM cost — the LM pass is
    // text_ppl's, the split is exact integer rank arithmetic, and the
    // only new exchange is one language-keyed window
    Query("curation_ccnet_buckets", ((s, dir) =>
      operators.Curation.ccnetBuckets(
        table(s, dir, "documents"), "doc_id", col("text"), col("lang"))),
      """
      WITH tri AS (
        SELECT doc_id, substr(text, i, 3) AS g
        FROM (SELECT doc_id, text,
                     unnest(generate_series(1, len(text) - 2))::BIGINT AS i
              FROM documents WHERE len(text) >= 3)),
      counts AS (SELECT g, count(*) AS c FROM tri GROUP BY g),
      pre AS (SELECT substr(g, 1, 2) AS pre, sum(c) AS cp FROM counts GROUP BY 1),
      model AS (
        SELECT g, CAST(round(ln(c::DOUBLE / cp::DOUBLE) * 1000000.0) AS BIGINT) AS lp
        FROM counts JOIN pre ON substr(g, 1, 2) = pre.pre),
      scored AS (
        SELECT doc_id, count(*) AS n_grams, sum(lp) AS lps
        FROM tri JOIN model USING (g) GROUP BY doc_id),
      j AS (
        SELECT d.doc_id, d.lang,
               CAST((-lps) // n_grams AS BIGINT) AS cost_micro
        FROM scored JOIN documents d USING (doc_id)),
      r AS (
        SELECT doc_id, lang, cost_micro,
               row_number() OVER (PARTITION BY lang ORDER BY cost_micro, doc_id) AS rn,
               count(*) OVER (PARTITION BY lang) AS cnt
        FROM j)
      SELECT doc_id, lang, cost_micro,
             CAST(((rn - 1) * 3) // cnt + 1 AS BIGINT) AS bucket,
             CASE ((rn - 1) * 3) // cnt + 1 WHEN 1 THEN 'head' WHEN 3 THEN 'tail'
                  ELSE 'middle' END AS label
      FROM r"""),

    // cluster-balanced diversity sample: SemDeDup centroid assignment +
    // flat deterministic quota per cluster (WindowGroupLimit bounds the
    // rank exchange to n rows per cluster per input partition)
    Query("curation_cluster_sample", ((s, dir) =>
      operators.Curation.clusterBalancedSample(
        table(s, dir, "embeddings"), SemCentroids, perCluster = 25)),
    // same centroid-argmax CTE as dedup_semantic; the quota draw is the
    // lcg integer replayed verbatim
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
        SELECT vec_id, CAST(list_position(sims, list_max(sims)) AS BIGINT) AS cluster
        FROM (SELECT vec_id, v, $sims AS sims FROM e)),
      r AS (
        SELECT vec_id, cluster,
               CAST(row_number() OVER (PARTITION BY cluster
                 ORDER BY ((vec_id % 1000003) * 2654435761) % 4294967296, vec_id)
                 AS BIGINT) AS rk
        FROM a)
      SELECT vec_id, cluster, rk FROM r WHERE rk <= 25"""
    }),

    // contamination evidence: maximal matched-3-gram word spans per
    // (train doc, bench doc) — the leakage-audit report behind the
    // pipeline_decontam counts (same synthetic bench split)
    Query("curation_decontam_spans", ((s, dir) => {
      val docs = table(s, dir, "documents")
      operators.Curation.contaminationSpans(
        docs.filter(col("doc_id") % 37 =!= 0),
        docs.filter(col("doc_id") % 37 === 0),
        "doc_id", col("text"), n = 3)
    }),
    // positioned 3-grams on both sides, islands by pos - row_number
      """
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
      g AS (
        SELECT doc_id, u.pos, u.g FROM (
          SELECT doc_id, unnest([{'pos': i - 1, 'g': s[i] || ' ' || s[i+1] || ' ' || s[i+2]}
                                 for i in range(1, len(s) - 1)]) AS u
          FROM t WHERE len(s) >= 3)),
      tr AS (SELECT doc_id, pos, g FROM g WHERE doc_id % 37 <> 0),
      ev AS (SELECT DISTINCT doc_id AS bench_id, g FROM g WHERE doc_id % 37 = 0),
      hits AS (
        SELECT tr.doc_id, ev.bench_id, tr.pos,
               tr.pos - row_number() OVER (PARTITION BY tr.doc_id, ev.bench_id
                                           ORDER BY tr.pos) AS island
        FROM tr JOIN ev USING (g))
      SELECT doc_id, bench_id,
             CAST(min(pos) AS BIGINT) AS start_word,
             CAST(max(pos) + 2 AS BIGINT) AS end_word,
             count(*) AS n_grams
      FROM hits GROUP BY doc_id, bench_id, island"""),

    // CAPSTONE 3 — hybrid retrieval with reciprocal-rank fusion: a
    // semantic ranking (exact cosine top-20) and a lexical ranking
    // (distinct-token overlap top-20) fuse by RRF with FIXED-POINT
    // integer contributions (10⁶ DIV (60 + rank)) — ranks are exact
    // ints, so the fused scores hash-match across engines where a
    // float 1/(60+r) sum could not. Top-10 per query, deterministic
    // tiebreak.
    Query("pipeline_rrf", ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val docs = table(s, dir, "documents")
      val cosRanks = operators.Similarity.cosineTopK(
        emb, emb.filter(col("vec_id") < 10), k = 20)
      val toks = docs.select(col("doc_id"),
        explode(array_distinct(operators.TextAnalysis.tokens(col("text")))).as("t"))
      val qtoks = toks.filter(col("doc_id") < 10)
        .select(col("doc_id").as("qid"), col("t"))
      val wLex = org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
        .orderBy(col("c").desc, col("doc_id").asc)
      val lexRanks = qtoks.join(toks, "t")
        .groupBy(col("qid"), col("doc_id")).agg(count(lit(1)).as("c"))
        .withColumn("rnk", row_number().over(wLex)).filter(col("rnk") <= 20)
      val contrib = cosRanks
        .select(col("qid"), col("vec_id").as("id"),
          expr("1000000L DIV (60 + rnk)").as("s"))
        .unionByName(lexRanks
          .select(col("qid"), col("doc_id").as("id"),
            expr("1000000L DIV (60 + rnk)").as("s")))
      val wF = org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
        .orderBy(col("rrf_micro").desc, col("id").asc)
      contrib.groupBy(col("qid"), col("id"))
        .agg(sum(col("s")).as("rrf_micro"))
        .withColumn("rnk", row_number().over(wF).cast("bigint"))
        .filter(col("rnk") <= 10)
        .select(col("qid"), col("rnk"), col("id").as("doc_id"), col("rrf_micro"))
    }),
    // both rankings and the fused score are exact integers end-to-end
      """
      WITH cos AS (
        SELECT qid, id, r FROM (
          SELECT q.vec_id AS qid, e.vec_id AS id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC,
                            e.vec_id) AS r
          FROM embeddings q CROSS JOIN embeddings e
          WHERE q.vec_id < 10) t WHERE r <= 20),
      tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
      ov AS (
        SELECT qt.doc_id AS qid, dt.doc_id AS id, count(*) AS c
        FROM tok qt JOIN tok dt USING (t) WHERE qt.doc_id < 10
        GROUP BY qt.doc_id, dt.doc_id),
      lex AS (
        SELECT qid, id, r FROM (
          SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY c DESC, id) AS r
          FROM ov) t WHERE r <= 20),
      contrib AS (
        SELECT qid, id, 1000000 // (60 + r) AS s FROM cos
        UNION ALL
        SELECT qid, id, 1000000 // (60 + r) AS s FROM lex),
      fused AS (
        SELECT qid, id, CAST(sum(s) AS BIGINT) AS rrf_micro
        FROM contrib GROUP BY qid, id)
      SELECT qid, rnk, id AS doc_id, rrf_micro FROM (
        SELECT qid, id, rrf_micro,
               row_number() OVER (PARTITION BY qid
                 ORDER BY rrf_micro DESC, id) AS rnk
        FROM fused) t WHERE rnk <= 10"""),

    // blocklist decontamination with a Bloom prefilter: bloom-negative
    // rows pass inside the scan's codegen stage (zero exchanges for the
    // bulk of the corpus); only the bloom-positive sliver pays the exact
    // anti-join — output is EXACTLY the anti-join, deterministically
    Query("pipeline_bloom", ((s, dir) => {
      val docs = table(s, dir, "documents")
      val block = docs.filter(pmod(col("doc_id"), lit(41)) === 0)
      operators.Curation.bloomDecontaminate(docs, block, col("text"), col("text"),
          expectedItems = 1000L, fpp = 0.03)
        .select(col("doc_id"), col("lang"), col("source"))
    }),
    // the bloom prefilter is exact-confirmed, so the oracle is the plain
    // anti-join the operator provably equals
      """
      SELECT d.doc_id, d.lang, d.source FROM documents d
      WHERE NOT EXISTS (
        SELECT 1 FROM documents b WHERE b.doc_id % 41 = 0 AND b.text = d.text)"""),

    // data-constrained epoch planner: proportional token allocation as
    // capped repeat epochs, all DECIMAL(38,0) integer arithmetic
    Query("curation_epochs", ((s, dir) =>
      operators.Curation.epochPlan(table(s, dir, "documents"),
        col("source"), col("n_chars"), budget = 2000000L, maxEpochs = 3)),
      """
      WITH s AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS n_tokens
                 FROM documents GROUP BY 1),
      t AS (SELECT CAST(sum(n_tokens) AS HUGEINT) AS tok_total FROM s),
      a AS (SELECT source, n_tokens,
              CAST((CAST(2000000 AS HUGEINT) * n_tokens) // tok_total AS BIGINT)
                AS alloc
            FROM s CROSS JOIN t)
      SELECT source, n_tokens, alloc,
             least(alloc // n_tokens, 3) AS epochs_full,
             CASE WHEN alloc // n_tokens < 3 THEN alloc % n_tokens ELSE 0 END
               AS partial_tokens,
             least(alloc // n_tokens, 3) * n_tokens +
               CASE WHEN alloc // n_tokens < 3 THEN alloc % n_tokens ELSE 0 END
               AS served_tokens,
             alloc - (least(alloc // n_tokens, 3) * n_tokens +
               CASE WHEN alloc // n_tokens < 3 THEN alloc % n_tokens ELSE 0 END)
               AS unused_tokens
      FROM a"""),

    // canonical-URL crawl dedup (C4/RefinedWeb's first pass): URLs are
    // synthesized deterministically from doc columns (scheme/www/port/
    // tracking-param/fragment/trailing-slash variants), canonicalized by
    // Curation.canonicalUrl, grouped; first fetch wins
    Query("curation_url_dedup", ((s, dir) => {
      val docs = table(s, dir, "documents")
      val url = concat(
        when(col("doc_id") % 2 === 0, lit("http://")).otherwise(lit("HTTPS://")),
        when(col("doc_id") % 3 === 0, lit("WWW.")).otherwise(lit("")),
        col("source"), lit(".Example.COM"),
        when(col("doc_id") % 5 === 0, lit(":443")).otherwise(lit("")),
        lit("/docs/"), (col("doc_id") % 50).cast("string"),
        when(col("doc_id") % 7 === 0, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 2 === 0,
          concat(lit("?utm_source=feed&ref="), (col("doc_id") % 10).cast("string")))
          .otherwise(concat(lit("?ref="), (col("doc_id") % 10).cast("string"))),
        when(col("doc_id") % 11 === 0, lit("&fbclid=abc123")).otherwise(lit("")),
        when(col("doc_id") % 4 === 0, lit("#sec")).otherwise(lit("")))
      operators.Curation.urlDedup(docs, col("doc_id"), url)
    }),
    // the canonicalization chain mirrored step-for-step; note RE2 has no
    // lookahead (the engine's regexes avoid it for exactly this reason)
    // and DuckDB's regexp_replace needs the explicit 'g' flag on the one
    // pattern expected to match repeatedly
      """
      WITH raw AS (
        SELECT doc_id,
          (CASE WHEN doc_id % 2 = 0 THEN 'http://' ELSE 'HTTPS://' END)
          || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
          || source || '.Example.COM'
          || (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END)
          || '/docs/' || (doc_id % 50)
          || (CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END)
          || (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&ref=' || (doc_id % 10)
                   ELSE '?ref=' || (doc_id % 10) END)
          || (CASE WHEN doc_id % 11 = 0 THEN '&fbclid=abc123' ELSE '' END)
          || (CASE WHEN doc_id % 4 = 0 THEN '#sec' ELSE '' END) AS url
        FROM documents),
      step1 AS (
        SELECT doc_id,
          regexp_replace(
            regexp_replace(regexp_replace(url, '#.*$', ''),
              '[?&](?:utm_[a-z0-9]+|gclid|fbclid)=[^&#]*', '', 'g'),
            '^([^?]*?)&', '\1?') AS u2
        FROM raw),
      canon AS (
        SELECT doc_id,
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(
                    lower(regexp_extract(u2, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?]*)', 1))
                      || regexp_replace(u2, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*', ''),
                    '^http://', 'https://'),
                  '^(https://)www\.', '\1'),
                '^(https://[^/?:]*):(?:80|443)([/?]|$)', '\1\2'),
              '^(https://[^/?]*/[^?]*[^/?])/(\?|$)', '\1\2'),
            '\?$', '') AS canon_url
        FROM step1)
      SELECT canon_url, min(doc_id) AS keep_id, count(*) AS n_alias
      FROM canon GROUP BY canon_url"""),
  )
}
