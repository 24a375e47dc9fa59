package graft
package queries

import org.apache.spark.sql.functions._

import graft.SparkEntry.table

/** Text analysis over the documents table (`text_`). */
object TextQueries {

  /** Shared CTE chain for the BPE oracles: the (word, freq) vocabulary,
    * its char-tokenized form v0, then per merge i the pair-count argmax
    * b_i (count desc, lexicographic pair tie-break — binary collation on
    * the [a-z0-9] alphabet, identical in both engines) and the rewritten
    * vocabulary v_i via left-to-right non-overlapping `replace`. Token
    * boundaries are TWO spaces and the pattern consumes one per side
    * (" l  r " → " lr "), so back-to-back occurrences all merge in one
    * pass — textbook BPE, mirroring the engine exactly (round 11).
    * MATERIALIZED is load-bearing: DuckDB inlines plain CTEs per
    * reference, making the un-materialized chain exponential in the
    * merge count. */
  private def bpeOracleCtes(n: Int): String = {
    val head = """WITH words AS MATERIALIZED (
        SELECT w, count(*) AS cnt
        FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w FROM documents)
        GROUP BY w),
      v0 AS MATERIALIZED (
        SELECT '  ' || array_to_string(regexp_extract_all(w, '.'), '  ') || '  ' AS toks, cnt
        FROM words)"""
    val iters = (1 to n).map { i =>
      s"""b$i AS MATERIALIZED (
        SELECT u.l AS l, u.r AS r, sum(cnt) AS pc FROM (
          SELECT cnt, unnest([{'l': a[i], 'r': a[i+1]} for i in generate_series(1, len(a)-1)]) AS u
          FROM (SELECT string_split(trim(toks), '  ') AS a, cnt FROM v${i - 1})
        ) GROUP BY 1, 2 ORDER BY pc DESC, l, r LIMIT 1),
      v$i AS MATERIALIZED (
        SELECT replace(toks, (SELECT ' '||l||'  '||r||' ' FROM b$i),
                             (SELECT ' '||l||r||' ' FROM b$i)) AS toks, cnt
        FROM v${i - 1})"""
    }
    (head +: iters).mkString(",\n      ")
  }

  /** The learn oracle: one row per merge from the b_i argmax CTEs. */
  private def bpeLearnOracle(n: Int): String =
    bpeOracleCtes(n) + "\n      " + (1 to n).map { i =>
      s"SELECT CAST($i AS BIGINT) AS merge_rank, l AS lhs, r AS rhs, CAST(pc AS BIGINT) AS pair_count FROM b$i"
    }.mkString("\n      UNION ALL ")

  /** The encode oracle: per-document char tokenization with `|` word
    * sentinels, then the same n merges applied as a replace chain driven
    * by scalar subqueries over the learned b_i pairs. */
  private def bpeEncodeOracle(n: Int): String = {
    val enc0 = """enc0 AS MATERIALIZED (
        SELECT doc_id, '  ' || array_to_string(
          [array_to_string(regexp_extract_all(w, '.'), '  ')
           for w in regexp_extract_all(lower(text), '[a-z0-9]+')], '  |  ') || '  ' AS toks
        FROM documents)"""
    val encs = (1 to n).map { i =>
      s"""enc$i AS MATERIALIZED (
        SELECT doc_id, replace(toks, (SELECT ' '||l||'  '||r||' ' FROM b$i),
                                     (SELECT ' '||l||r||' ' FROM b$i)) AS toks FROM enc${i - 1})"""
    }
    bpeOracleCtes(n) + ",\n      " + (enc0 +: encs).mkString(",\n      ") + s"""
      SELECT doc_id,
        CAST(len(list_filter(string_split(trim(toks), '  '), t -> t != '|')) AS BIGINT) AS n_tokens,
        array_to_string(list_filter(string_split(trim(toks), '  '), t -> t != '|'), ' ') AS tokens
      FROM enc$n"""
  }

  val all: Seq[Query] = Seq(
    // context-window chunking (round 5): overlapping fixed-size chunks,
    // the training-data splitting step — narrow transform+explode, no
    // shuffle; DuckDB replays the same arithmetic with generate_series
    Query("text_chunks", ((s, dir) =>
      operators.TextAnalysis.chunkText(
        table(s, dir, "documents"), col("text"), size = 200, overlap = 40,
        idCols = Seq(col("doc_id")))),
      """
      WITH d AS (
        SELECT doc_id, text,
               greatest(CAST(ceil((length(text) - 40)::DOUBLE / 160) AS BIGINT), 1) AS n
        FROM documents),
      e AS (SELECT doc_id, text, unnest(range(0, n)) AS i FROM d)
      SELECT doc_id, i AS chunk_id, substr(text, i * 160 + 1, 200) AS chunk
      FROM e"""),

    // corpus-level term statistics (round 5): global top-k tokens —
    // explode → partial-agg count → TakeOrdered; deterministic
    // tie-break (count desc, term asc)
    Query("text_term_freq", ((s, dir) =>
      table(s, dir, "documents")
        .select(explode(operators.TextAnalysis.tokens(col("text"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("term").asc)
        .limit(20)),
      """
      SELECT term, count(*) AS n
      FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
      GROUP BY term ORDER BY n DESC, term ASC LIMIT 20"""),

    // inverted-index build: per-term posting list (distinct docs, sorted)
    // — one explode + one partial-agg'd exchange on the term; posting
    // lists serialize to strings for the cross-engine hash. At 100 TB
    // postings for mega-terms are the skew (cap or tier them); df and
    // the list come out of the same aggregate
    Query("text_postings", ((s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"),
          explode(array_distinct(operators.TextAnalysis.tokens(col("text")))).as("term"))
        .filter(length(col("term")) >= 5) // keeps the fixture vocabulary bounded
        .groupBy(col("term"))
        .agg(count(lit(1)).as("df"),
          array_join(sort_array(collect_set(col("doc_id"))), ",").as("postings"))),
      """
      WITH t AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents)
      SELECT term, CAST(count(*) AS BIGINT) AS df,
             string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS postings
      FROM t WHERE length(term) >= 5
      GROUP BY term"""),

    // BM25-style relevance scoring (round 5): tf from one token explode,
    // corpus stats (N, avg length, per-term df) broadcast as a one-row
    // frame, per-term contributions added in WRITTEN order. The idf is
    // the RATIONAL core (N - df + 0.5)/(df + 0.5) — the ln() of textbook
    // BM25 is deliberately omitted: ln is not correctly-rounded-guaranteed
    // across engines, while +,*,/ are, so this variant stays hash-exact
    // (same trick as rel_agg_variance)
    Query("text_bm25", ((s, dir) => {
      val docs = table(s, dir, "documents")
      val toks = docs.select(col("doc_id"),
        explode(operators.TextAnalysis.tokens(col("text"))).as("t"))
      val tf = toks.groupBy(col("doc_id")).agg(
        sum(when(col("t") === "the", 1L).otherwise(0L)).as("tf1"),
        sum(when(col("t") === "data", 1L).otherwise(0L)).as("tf2"),
        sum(when(col("t") === "model", 1L).otherwise(0L)).as("tf3"),
        count(lit(1)).as("len"))
      val stats = tf.agg(
        count(lit(1)).as("n"),
        sum(col("len")).as("toklen"),
        sum(when(col("tf1") > 0, 1L).otherwise(0L)).as("df1"),
        sum(when(col("tf2") > 0, 1L).otherwise(0L)).as("df2"),
        sum(when(col("tf3") > 0, 1L).otherwise(0L)).as("df3"))
      val j = tf.crossJoin(broadcast(stats))
      def term(tfc: org.apache.spark.sql.Column, dfc: org.apache.spark.sql.Column) = {
        val k1 = lit(1.2); val b = lit(0.75)
        val idf = (col("n").cast("double") - dfc.cast("double") + lit(0.5)) /
          (dfc.cast("double") + lit(0.5))
        val avg = col("toklen").cast("double") / col("n").cast("double")
        idf * (tfc.cast("double") * (k1 + lit(1.0))) /
          (tfc.cast("double") + k1 * (lit(1.0) - b + b * col("len").cast("double") / avg))
      }
      j.select(col("doc_id"),
        (term(col("tf1"), col("df1")) + term(col("tf2"), col("df2")) +
          term(col("tf3"), col("df3"))).as("bm25"))
    }),
      """
      WITH tf AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split(text, ' '), x -> x = 'the')) AS BIGINT) AS tf1,
               CAST(len(list_filter(string_split(text, ' '), x -> x = 'data')) AS BIGINT) AS tf2,
               CAST(len(list_filter(string_split(text, ' '), x -> x = 'model')) AS BIGINT) AS tf3,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS len
        FROM documents),
      st AS (
        SELECT count(*) AS n, CAST(sum(len) AS BIGINT) AS toklen,
               CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
               CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2,
               CAST(sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df3
        FROM tf)
      SELECT doc_id,
             (CAST(n AS DOUBLE) - CAST(df1 AS DOUBLE) + 0.5) / (CAST(df1 AS DOUBLE) + 0.5)
               * (CAST(tf1 AS DOUBLE) * (1.2 + 1.0))
               / (CAST(tf1 AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * CAST(len AS DOUBLE)
                    / (CAST(toklen AS DOUBLE) / CAST(n AS DOUBLE))))
           + (CAST(n AS DOUBLE) - CAST(df2 AS DOUBLE) + 0.5) / (CAST(df2 AS DOUBLE) + 0.5)
               * (CAST(tf2 AS DOUBLE) * (1.2 + 1.0))
               / (CAST(tf2 AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * CAST(len AS DOUBLE)
                    / (CAST(toklen AS DOUBLE) / CAST(n AS DOUBLE))))
           + (CAST(n AS DOUBLE) - CAST(df3 AS DOUBLE) + 0.5) / (CAST(df3 AS DOUBLE) + 0.5)
               * (CAST(tf3 AS DOUBLE) * (1.2 + 1.0))
               / (CAST(tf3 AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * CAST(len AS DOUBLE)
                    / (CAST(toklen AS DOUBLE) / CAST(n AS DOUBLE)))) AS bm25
      FROM tf, st"""),

    // character-entropy quality signal (compression proxy: boilerplate/
    // repetition scores low, gibberish high) — one-pass kernel, zero
    // shuffle, fixed-point micro-nat fields so the hash is exact
    Query("text_entropy", ((s, dir) =>
      table(s, dir, "documents")
        .filter(length(col("text")) > 0)
        .select(col("doc_id"),
          operators.TextAnalysis.charEntropy(col("text")).as("e"))
        .select(col("doc_id"), col("e.n_cp").as("n_cp"),
          col("e.ent_sum_micro").as("ent_sum_micro"))),
      """
      WITH ch AS (
        SELECT doc_id, unnest(generate_series(1, len(text)))::BIGINT AS i, text
        FROM documents WHERE len(text) > 0),
      counts AS (
        SELECT doc_id, substring(text, i, 1) AS c, count(*) AS cnt
        FROM ch GROUP BY doc_id, substring(text, i, 1)),
      tot AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n FROM counts GROUP BY doc_id)
      SELECT t.doc_id, t.n AS n_cp,
             CAST(sum(cnt * CAST(round(ln(cnt::DOUBLE / t.n::DOUBLE) * 1000000.0) AS BIGINT)) AS BIGINT)
               AS ent_sum_micro
      FROM counts JOIN tot t USING (doc_id)
      GROUP BY t.doc_id, t.n"""),

    // char-trigram LM self-scoring (CCNet-style quality prior): model and
    // scores in fixed-point micro-nats, every aggregate exact BIGINT;
    // the fused single-gram-pass form (the two-step fit/score API exists
    // for scoring a different corpus)
    Query("text_ppl", ((s, dir) =>
      operators.TextAnalysis.ngramScoreSelf(
        table(s, dir, "documents"), "doc_id", col("text"), n = 3)),
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
        FROM counts JOIN pre ON substr(g, 1, 2) = pre.pre)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
             CAST(sum(lp) AS BIGINT) AS logp_sum_micro
      FROM tri JOIN model USING (g)
      GROUP BY doc_id"""),

    Query("text_langid", ((s, dir) =>
      table(s, dir, "documents").select(
        col("doc_id"),
        operators.TextAnalysis.langId(col("text")).as("lang_pred"))),
      """
      SELECT doc_id,
        CASE WHEN len(list_filter(string_split(text, ' '),
                t -> t IN ('the','a','an','of','and','to','in','is','on','for','with','as','at','by','be','this','that','it','or','are','was','from')))::DOUBLE
              / len(string_split(text, ' ')) >= 0.05
             THEN 'en' ELSE 'unknown' END AS lang_pred
      FROM documents"""),

    Query("text_tokens", ((s, dir) =>
      table(s, dir, "documents").select(
        col("doc_id"),
        operators.TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        operators.TextAnalysis.wordTokenCount(col("text")).as("n_words"))),
      """
      SELECT doc_id,
             len(string_split(text, ' '))::BIGINT AS n_tokens,
             len(regexp_extract_all(lower(text), '[a-z0-9]+'))::BIGINT AS n_words
      FROM documents"""),

    // intra-document repetition rate (Gopher/C4 quality signal): fraction
    // of word 3-grams that repeat within the doc — narrow, zero shuffles
    Query("text_rep_rate", ((s, dir) =>
      table(s, dir, "documents").select(
        col("doc_id"),
        greatest(size(operators.TextAnalysis.tokens(col("text"))) - 2, lit(0))
          .cast("long").as("n3_total"),
        size(operators.Dedup.wordShingles(col("text"), 3)).cast("long").as("n3_uniq"),
        operators.TextAnalysis.repetitionRate(col("text"), 3).as("rep_rate"))),
      """
      WITH t AS (
        SELECT doc_id,
               greatest(len(s) - 2, 0) AS n3_total,
               len(list_distinct(CASE WHEN len(s) >= 3
                 THEN [s[i] || ' ' || s[i+1] || ' ' || s[i+2] for i in range(1, len(s) - 1)]
                 ELSE [] END)) AS n3_uniq
        FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents))
      SELECT doc_id, n3_total::BIGINT AS n3_total, n3_uniq::BIGINT AS n3_uniq,
             CASE WHEN n3_total > 0
                  THEN CAST(1 AS DOUBLE) - n3_uniq::DOUBLE / n3_total
                  ELSE CAST(0 AS DOUBLE) END AS rep_rate
      FROM t"""),

    // PII scrub over text with deterministically planted email/IP/phone
    // (the raw corpus has none — planting makes every row exercise all
    // three patterns); narrow triple regexp_replace, zero shuffles
    Query("text_redact", ((s, dir) => {
      val planted = concat(
        col("text"), lit(" contact u"), col("doc_id").cast("string"),
        lit("@mail.example.org from 10.2."), pmod(col("doc_id"), lit(250)).cast("string"),
        lit(".9 call 415-555-"), lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
      table(s, dir, "documents").select(
        col("doc_id"),
        operators.TextAnalysis.redactPII(planted).as("redacted"),
        operators.TextAnalysis.piiCount(planted).cast("long").as("n_pii"))
    }),
      """
      WITH planted AS (
        SELECT doc_id,
               text || ' contact u' || doc_id || '@mail.example.org from 10.2.' ||
               (doc_id % 250) || '.9 call 415-555-' ||
               lpad((doc_id % 10000)::VARCHAR, 4, '0') AS t
        FROM documents),
      s1 AS (
        SELECT doc_id, t,
               regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                              '<EMAIL>', 'g') AS t1
        FROM planted),
      s2 AS (
        SELECT doc_id, t, t1,
               regexp_replace(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
                              '<IP>', 'g') AS t2
        FROM s1)
      SELECT doc_id,
             regexp_replace(t2, '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g') AS redacted,
             (len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
              + len(regexp_extract_all(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
              + len(regexp_extract_all(t2, '\b\d{3}-\d{3}-\d{4}\b')))::BIGINT AS n_pii
      FROM s2"""),

    Query("text_quality", ((s, dir) =>
      // one-pass TextStats kernel; ratios derived from the struct so the
      // text is scanned once per row, not once per output column
      table(s, dir, "documents")
        .select(col("doc_id"), operators.TextAnalysis.stats(col("text")).as("t"))
        .select(
          col("doc_id"),
          (col("t.n_stop").cast("double") / col("t.n_tokens")).as("stop_ratio"),
          (col("t.n_punct").cast("double") / col("t.n_chars")).as("punct_ratio"),
          (col("t.sum_token_len").cast("double") / col("t.n_tokens")).as("mean_tok_len"))
        .withColumn("quality",
          col("stop_ratio") * lit(0.5) + (lit(1.0) - col("punct_ratio")) * lit(0.3) +
            when(col("mean_tok_len") >= 3 && col("mean_tok_len") <= 8, lit(0.2)).otherwise(lit(0.0)))),
      """
      WITH f AS (
        SELECT doc_id,
          len(list_filter(string_split(text, ' '),
            t -> t IN ('the','a','an','of','and','to','in','is','on','for','with','as','at','by','be','this','that','it','or','are','was','from')))::DOUBLE
            / len(string_split(text, ' ')) AS stop_ratio,
          (strlen(text) - strlen(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')))::DOUBLE
            / strlen(text) AS punct_ratio,
          list_reduce(list_prepend(0::BIGINT, [strlen(t)::BIGINT for t in string_split(text, ' ')]), (a, x) -> a + x)::DOUBLE
            / len(string_split(text, ' ')) AS mean_tok_len
        FROM documents)
      SELECT doc_id, stop_ratio, punct_ratio, mean_tok_len,
             stop_ratio * 0.5 + (1.0 - punct_ratio) * 0.3 +
             CASE WHEN mean_tok_len >= 3 AND mean_tok_len <= 8 THEN 0.2 ELSE 0.0 END AS quality
      FROM f"""),

    Query("text_fingerprint", ((s, dir) =>
      table(s, dir, "documents").select(
        col("doc_id"),
        operators.TextAnalysis.fingerprint(col("text")).as("fp"))),
      """
      SELECT doc_id,
             list_reduce(list_prepend(0::BIGINT,
               [ord(substring(text, i, 1))::BIGINT for i in range(1, strlen(text) + 1)]),
               (h, c) -> (h * 31 + c) % 1000000007) AS fp
      FROM documents"""),

    // Gopher heuristic rules (Rae et al. 2021, App. A) — the published
    // filter set, one narrow zero-shuffle projection; every ratio is an
    // exact integer quotient, re-derived independently by the oracle
    Query("text_gopher", ((s, dir) =>
      // `keep` applies the published thresholds (uniformly false here:
      // the synthetic vocabulary has one required stopword — a real
      // corpus splits); `keep_tuned` is the retuned gate that splits the
      // fixture, so the oracle hash pins a VARYING gate decision too
      table(s, dir, "documents")
        .select(col("doc_id"),
          operators.TextAnalysis.gopherSignals(col("text")).as("g"),
          operators.TextAnalysis.gopherSignals(col("text"),
            minWords = 30L, minStopHits = 1L).as("gt"))
        .select(col("doc_id"),
          col("g.n_words").as("n_words"),
          col("g.mean_word_len").as("mean_word_len"),
          col("g.symbol_ratio").as("symbol_ratio"),
          col("g.bullet_ratio").as("bullet_ratio"),
          col("g.ellipsis_ratio").as("ellipsis_ratio"),
          col("g.alpha_ratio").as("alpha_ratio"),
          col("g.n_stop_hits").as("n_stop_hits"),
          col("g.keep").as("keep"),
          col("gt.keep").as("keep_tuned"))),
    // independent re-derivation of the Gopher rule signals: same word /
    // line decomposition (regex whitespace split, blank lines dropped),
    // exact integer quotients cast to DOUBLE
      """
      WITH d AS (
        SELECT doc_id, text,
               list_filter(string_split_regex(text, '\s+'), w -> length(w) > 0) AS words,
               list_filter(string_split(text, chr(10)), l -> length(trim(l)) > 0) AS lines
        FROM documents),
      m AS (
        SELECT doc_id,
               len(words)::BIGINT AS n_words,
               len(lines)::BIGINT AS n_lines,
               coalesce(list_sum(list_transform(words, w -> length(w))), 0)::BIGINT AS sum_len,
               len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]')))::BIGINT AS n_alpha,
               (list_contains(list_transform(words, w -> lower(w)), 'the')::BIGINT
                + list_contains(list_transform(words, w -> lower(w)), 'be')::BIGINT
                + list_contains(list_transform(words, w -> lower(w)), 'to')::BIGINT
                + list_contains(list_transform(words, w -> lower(w)), 'of')::BIGINT
                + list_contains(list_transform(words, w -> lower(w)), 'and')::BIGINT
                + list_contains(list_transform(words, w -> lower(w)), 'that')::BIGINT
                + list_contains(list_transform(words, w -> lower(w)), 'have')::BIGINT
                + list_contains(list_transform(words, w -> lower(w)), 'with')::BIGINT) AS n_stop_hits,
               (length(text) - length(replace(text, '#', '')))::BIGINT
                 + (length(text) - length(replace(text, chr(8230), '')))::BIGINT
                 + (length(text) - length(replace(text, '...', ''))) // 3 AS n_sym,
               len(list_filter(lines, l -> starts_with(ltrim(l), '-')
                 OR starts_with(ltrim(l), '*') OR starts_with(ltrim(l), chr(8226))))::BIGINT AS n_bullet,
               len(list_filter(lines, l -> ends_with(rtrim(l), '...')
                 OR ends_with(rtrim(l), chr(8230))))::BIGINT AS n_ellend
        FROM d)
      SELECT doc_id, n_words,
             CASE WHEN n_words = 0 THEN NULL ELSE sum_len::DOUBLE / n_words END AS mean_word_len,
             CASE WHEN n_words = 0 THEN NULL ELSE n_sym::DOUBLE / n_words END AS symbol_ratio,
             CASE WHEN n_lines = 0 THEN NULL ELSE n_bullet::DOUBLE / n_lines END AS bullet_ratio,
             CASE WHEN n_lines = 0 THEN NULL ELSE n_ellend::DOUBLE / n_lines END AS ellipsis_ratio,
             CASE WHEN n_words = 0 THEN NULL ELSE n_alpha::DOUBLE / n_words END AS alpha_ratio,
             n_stop_hits,
             CASE WHEN n_words = 0 THEN false ELSE
               n_words >= 50 AND n_words <= 100000
               AND sum_len::DOUBLE / n_words >= 3.0 AND sum_len::DOUBLE / n_words <= 10.0
               AND n_sym::DOUBLE / n_words <= 0.1
               AND n_bullet::DOUBLE / n_lines <= 0.9
               AND n_ellend::DOUBLE / n_lines <= 0.3
               AND n_alpha::DOUBLE / n_words >= 0.8
               AND n_stop_hits >= 2 END AS keep,
             CASE WHEN n_words = 0 THEN false ELSE
               n_words >= 30 AND n_words <= 100000
               AND sum_len::DOUBLE / n_words >= 3.0 AND sum_len::DOUBLE / n_words <= 10.0
               AND n_sym::DOUBLE / n_words <= 0.1
               AND n_bullet::DOUBLE / n_lines <= 0.9
               AND n_ellend::DOUBLE / n_lines <= 0.3
               AND n_alpha::DOUBLE / n_words >= 0.8
               AND n_stop_hits >= 1 END AS keep_tuned
      FROM m"""),

    // C4 cleaning rules (Raffel et al. 2020 §2.2) over a page with line
    // structure. The corpus is single-line word soup, so the page is
    // PLANTED deterministically (the text_redact pattern): 7-word lines
    // whose terminal punctuation varies by (doc_id + line), plus a
    // "lorem ipsum" line on doc_id%11 and a brace+javascript line on
    // doc_id%13 — every rule fires on some rows and the oracle rebuilds
    // the identical page byte-for-byte
    Query("text_c4_rules", ((s, dir) => {
      val words = split(col("text"), " ")
      val nLines = ceil(size(words).cast("double") / 7.0).cast("int")
      val lineArr = transform(sequence(lit(0), nLines - 1), i =>
        concat(array_join(slice(words, i * 7 + 1, lit(7)), " "),
          when(pmod(col("doc_id") + i, lit(3)) === 0, lit("."))
            .when(pmod(col("doc_id") + i, lit(3)) === 1, lit("?"))
            .otherwise(lit(""))))
      val page = concat(array_join(lineArr, "\n"),
        when(pmod(col("doc_id"), lit(11)) === 0,
          lit("\nlorem ipsum dolor sit amet.")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(13)) === 0,
          lit("\nvar x = { javascript }")).otherwise(lit("")))
      table(s, dir, "documents")
        .select(col("doc_id"), operators.TextAnalysis.c4Signals(page).as("c"))
        .select(col("doc_id"),
          col("c.n_lines").as("n_lines"),
          col("c.n_kept_lines").as("n_kept_lines"),
          col("c.n_sentences").as("n_sentences"),
          col("c.has_lorem").as("has_lorem"),
          col("c.has_brace").as("has_brace"),
          col("c.keep").as("keep"))
    }),
      """
      WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      p AS (
        SELECT doc_id,
          array_to_string(list_transform(
            generate_series(0, CAST(ceil(len(ws) / 7.0) AS INT) - 1),
            i -> array_to_string(list_slice(ws, i*7 + 1, i*7 + 7), ' ') ||
                 CASE (doc_id + i) % 3 WHEN 0 THEN '.' WHEN 1 THEN '?' ELSE '' END),
            chr(10)) ||
          CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'lorem ipsum dolor sit amet.' ELSE '' END ||
          CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'var x = { javascript }' ELSE '' END AS page
        FROM w),
      k AS (
        SELECT doc_id, page,
          string_split(page, chr(10)) AS lines,
          list_filter(string_split(page, chr(10)), l ->
            regexp_matches(rtrim(l), '[.!?"]$')
            AND len(list_filter(string_split(l, ' '), x -> length(x) > 0)) >= 3
            AND NOT contains(lower(l), 'javascript')) AS kept
        FROM p),
      f AS (
        SELECT doc_id,
          len(lines)::BIGINT AS n_lines,
          len(kept)::BIGINT AS n_kept_lines,
          (length(array_to_string(kept, chr(10))) -
           length(regexp_replace(array_to_string(kept, chr(10)), '[.!?]', '', 'g')))::BIGINT AS n_sentences,
          contains(lower(page), 'lorem ipsum') AS has_lorem,
          contains(page, '{') AS has_brace
        FROM k)
      SELECT doc_id, n_lines, n_kept_lines, n_sentences, has_lorem, has_brace,
             (NOT has_lorem AND NOT has_brace AND n_sentences >= 5) AS keep
      FROM f"""),

    // Gopher duplicate-n-gram signals (Rae et al. 2021 App. A.2): chars
    // covered by the top 2-gram and by duplicated 3-grams, as exact
    // integers beside the total — vocabulary-sized (id, gram) exchanges,
    // never the text
    Query("text_dup_ngrams", ((s, dir) =>
      operators.TextAnalysis.dupNgramStats(
        table(s, dir, "documents"), "doc_id", col("text"), nTop = 2, nDup = 3)),
      """
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws,
                        length(text)::BIGINT AS chars_total FROM documents),
      g2 AS (SELECT doc_id, array_to_string(list_slice(ws, i, i + 1), ' ') AS g
             FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1))::BIGINT AS i
                   FROM w WHERE len(ws) >= 2)),
      c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g),
      t2 AS (SELECT doc_id, max(c * length(g)) AS top_chars FROM c2 GROUP BY doc_id),
      g3 AS (SELECT doc_id, array_to_string(list_slice(ws, i, i + 2), ' ') AS g
             FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2))::BIGINT AS i
                   FROM w WHERE len(ws) >= 3)),
      c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY doc_id, g),
      d3 AS (SELECT doc_id, sum(CASE WHEN c >= 2 THEN c * length(g) ELSE 0 END) AS dup_chars
             FROM c3 GROUP BY doc_id)
      SELECT w.doc_id, chars_total,
             CAST(coalesce(top_chars, 0) AS BIGINT) AS top_chars,
             CAST(coalesce(dup_chars, 0) AS BIGINT) AS dup_chars
      FROM w LEFT JOIN t2 USING (doc_id) LEFT JOIN d3 USING (doc_id)"""),

    // skip-gram co-occurrence statistics (word2vec/GloVe prep): ordered
    // pairs at distance 1..2, top-50 deterministic cut — equi-joins on
    // (doc, pos+d), one partial-agg'd pair exchange, TakeOrdered
    Query("text_cooccurrence", ((s, dir) =>
      operators.TextAnalysis.cooccurrenceTopK(
        table(s, dir, "documents"), "doc_id", col("text"), window = 2, k = 50)),
      """
      WITH t AS (
        SELECT doc_id, i, ws[i] AS tok
        FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws)))::BIGINT AS i
              FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))
        WHERE length(ws[i]) > 0),
      p AS (
        SELECT a.tok AS w1, b.tok AS w2
        FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        UNION ALL
        SELECT a.tok AS w1, b.tok AS w2
        FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.i = a.i + 2)
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt
      FROM p GROUP BY w1, w2
      ORDER BY cnt DESC, w1, w2 LIMIT 50"""),

    // distributed BPE vocabulary learning (Sennrich et al. 2016): one
    // corpus pass folds to a (word, freq) vocab, then every merge is
    // vocabulary-bounded — the learned merge table, deterministic
    // tie-breaks, all-integer/string output
    Query("text_bpe_learn", ((s, dir) =>
      operators.TextAnalysis.bpeLearn(
        table(s, dir, "documents"), col("text"), merges = 8)),
      bpeLearnOracle(8)),

    // tokenizer ENCODE with the merges learned from the same corpus:
    // the apply side is a zero-shuffle chain of plan-literal replaces
    // (left-to-right non-overlapping = BPE apply order)
    Query("text_bpe_encode", ((s, dir) => {
      val learned = operators.TextAnalysis.bpeLearn(
          table(s, dir, "documents"), col("text"), merges = 8)
        .orderBy("merge_rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      table(s, dir, "documents")
        .select(col("doc_id"),
          operators.TextAnalysis.bpeEncode(col("text"), learned).as("e"))
        .select(col("doc_id"), col("e.n_tokens").as("n_tokens"),
          col("e.tokens").as("tokens"))
    }),
      bpeEncodeOracle(8)),

    // model-based quality filtering: hashed linear classifier with
    // formula-derived integer weights (engine-exact, no weight table)
    Query("text_quality_model", ((s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"), operators.TextAnalysis.qualityModel(col("text")).as("qm"))
        .select(col("doc_id"), col("qm.n_tokens").as("n_tokens"),
          col("qm.score").as("qm_score"), (col("qm.score") > 0).as("keep"))),
    // same token hash as the Spark kernel: 31-polynomial over codepoints
    // mod 1e9+7, bucketed to 256, integer weight formula — bit-exact
      """
      WITH scored AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(list_sum([
                 ((1 + (list_reduce(list_prepend(0::BIGINT,
                     [ord(substring(w, i, 1))::BIGINT for i in range(1, strlen(w) + 1)]),
                   (h, c) -> (h * 31 + c) % 1000000007) % 256)) * 2654435761) % 1000003 - 501001
                 for w in string_split(text, ' ')]) AS BIGINT) AS qm_score
        FROM documents)
      SELECT doc_id, n_tokens, qm_score, qm_score > 0 AS keep FROM scored"""),

    // BM25 top-k retrieval (Okapi): the RANKED-retrieval complement to
    // text_bm25's per-doc rational-idf scoring — textbook ln idf carried
    // as micro-nats, exact integer tf-fraction polynomials, one pinned
    // float step per term (see bm25TopK scaladoc)
    Query("text_bm25_topk", ((s, dir) =>
      operators.TextAnalysis.bm25TopK(
        table(s, dir, "documents"), col("doc_id"), col("text"),
        query = Seq("table", "hash", "data"), k = 10)),
    // tf/df/N over the FULL corpus; the doc_id gate applies to the output
      """
      WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
        FROM documents),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(dl) AS BIGINT) AS t_tokens FROM d),
      tf AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
             FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d)
             WHERE term IN ('table', 'hash', 'data')
             GROUP BY 1, 2, 3),
      df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
      contrib AS (
        SELECT tf.doc_id,
               CAST(round(
                 CAST(round(ln((tot.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0) * 1e6) AS BIGINT)
                 * (CAST(tf.tf * 2200 * 1000 * tot.t_tokens AS DOUBLE)
                    / CAST(tf.tf * 1000000 * tot.t_tokens
                           + 300000 * tot.t_tokens
                           + 900000 * tf.dl * tot.n_docs AS DOUBLE))) AS BIGINT) AS c
        FROM tf JOIN df USING (term), tot),
      score AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS bm25_micro FROM contrib GROUP BY doc_id)
      SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, bm25_micro FROM (
        SELECT doc_id, bm25_micro,
               row_number() OVER (ORDER BY bm25_micro DESC, doc_id ASC) AS rnk
        FROM score) t
      WHERE rnk <= 10"""),

    // multi-query BM25 (round 11): Q queries ranked in ONE corpus pass;
    // the top-k window partitions by qid (WindowGroupLimit partial per
    // partition — no unpartitioned window left in retrieval). Query 1
    // repeats text_bm25_topk's terms, so its ranking cross-checks the
    // single-query row inside the same hash-gated output.
    Query("text_bm25_topk_multi", ((s, dir) =>
      operators.TextAnalysis.bm25TopKMulti(
        table(s, dir, "documents"), col("doc_id"), col("text"),
        queries = Seq(
          1L -> Seq("table", "hash", "data"),
          2L -> Seq("filter", "batch", "scan"),
          3L -> Seq("join", "merge")), k = 10)),
      """
      WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
        FROM documents),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(dl) AS BIGINT) AS t_tokens FROM d),
      tf AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
             FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d)
             WHERE term IN ('table', 'hash', 'data', 'filter', 'batch', 'scan', 'join', 'merge')
             GROUP BY 1, 2, 3),
      df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
      contrib AS (
        SELECT tf.term, tf.doc_id,
               CAST(round(
                 CAST(round(ln((tot.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0) * 1e6) AS BIGINT)
                 * (CAST(tf.tf * 2200 * 1000 * tot.t_tokens AS DOUBLE)
                    / CAST(tf.tf * 1000000 * tot.t_tokens
                           + 300000 * tot.t_tokens
                           + 900000 * tf.dl * tot.n_docs AS DOUBLE))) AS BIGINT) AS c
        FROM tf JOIN df USING (term), tot),
      q AS (SELECT * FROM (VALUES
              (1, 'table'), (1, 'hash'), (1, 'data'),
              (2, 'filter'), (2, 'batch'), (2, 'scan'),
              (3, 'join'), (3, 'merge')) AS v(qid, term)),
      score AS (SELECT q.qid, contrib.doc_id, CAST(sum(contrib.c) AS BIGINT) AS bm25_micro
                FROM contrib JOIN q USING (term) GROUP BY 1, 2)
      SELECT CAST(qid AS BIGINT) AS qid, doc_id, CAST(rnk AS BIGINT) AS rnk, bm25_micro FROM (
        SELECT qid, doc_id, bm25_micro,
               row_number() OVER (PARTITION BY qid ORDER BY bm25_micro DESC, doc_id ASC) AS rnk
        FROM score) t
      WHERE rnk <= 10"""),

    // positional-postings phrase query: consecutive-term equi-join
    Query("text_phrase", ((s, dir) =>
      operators.TextAnalysis.phraseSearch(
        table(s, dir, "documents"), "doc_id", col("text"), "table hash")),
      """
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
      m AS (SELECT doc_id,
              CAST(len([i for i in range(1, len(s))
                        if s[i] = 'table' AND s[i + 1] = 'hash']) AS BIGINT)
                AS n_matches
            FROM t)
      SELECT doc_id, n_matches FROM m WHERE n_matches > 0"""),

    // Zipf slope of the term distribution, micro-nat least squares
    Query("text_zipf", ((s, dir) =>
      operators.TextAnalysis.zipfSlope(
        table(s, dir, "documents"), col("text"), topV = 200)),
    // micro-nat least squares over HUGEINT normal-equation sums — the
    // same integer sums as the Spark DECIMAL(38,0) aggregation, with the
    // final divisions mirrored operation-for-operation in DOUBLE
      """
      WITH f AS (
        SELECT tok, count(*) AS f FROM (
          SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
        WHERE length(tok) > 0
        GROUP BY tok ORDER BY f DESC, tok LIMIT 200),
      r AS (SELECT f, row_number() OVER (ORDER BY f DESC, tok) AS r FROM f),
      p AS (SELECT CAST(round(ln(r) * 1e6) AS BIGINT) AS x,
                   CAST(round(ln(f) * 1e6) AS BIGINT) AS y
            FROM r),
      a AS (SELECT CAST(count(*) AS HUGEINT) AS n,
                   sum(CAST(x AS HUGEINT)) AS sx,
                   sum(CAST(y AS HUGEINT)) AS sy,
                   sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
                   sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx
            FROM p)
      SELECT CAST(n AS BIGINT) AS n_terms,
             round(CAST(n * sxy - sx * sy AS DOUBLE) /
                   CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
             round((CAST(sy AS DOUBLE) -
                    CAST(n * sxy - sx * sy AS DOUBLE) /
                      CAST(n * sxx - sx * sx AS DOUBLE) *
                      CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6) AS intercept
      FROM a"""),

    // per-doc top-k terms by tf·idf with the idf as an exact integer
    // quotient (linear-idf variant — hash-exact where tf·ln cannot be)
    Query("text_tfidf", ((s, dir) =>
      operators.TextAnalysis.tfIdfTopK(
        table(s, dir, "documents"), col("doc_id"), col("text"),
        k = 3, minTermLen = 5)
        .filter(col("doc_id") < 200)),
      """
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents),
      t5 AS (SELECT doc_id, term FROM toks WHERE length(term) >= 5),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM t5 GROUP BY doc_id, term),
      df AS (SELECT term, count(DISTINCT doc_id) AS df FROM t5 GROUP BY term),
      n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
      scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, df.df,
               tf.tf * ((n.n_docs * 1000000) // df.df) AS tfidf_q
        FROM tf JOIN df ON tf.term = df.term, n),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                 ORDER BY tfidf_q DESC, term ASC) AS rk
        FROM scored)
      SELECT doc_id, CAST(rk AS BIGINT) AS rk, term,
             CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, tfidf_q
      FROM ranked WHERE rk <= 3 AND doc_id < 200"""),

    // Unicode text normalization: NFC → casefold → whitespace collapse.
    // The corpus rows prove the pass is safe on clean ASCII; the planted
    // rows pin the interesting contracts (decomposed é == precomposed é,
    // U+212B ANGSTROM → å, tabs/newlines/runs collapse)
    Query("text_normalize", ((s, dir) => {
      val docs = table(s, dir, "documents")
        .filter(col("doc_id") < 100).select(col("doc_id"), col("text"))
      val planted = s.createDataFrame(Seq(
        (10000001L, "Café  du   Monde"),
        (10000002L, "Café du Monde"),
        (10000003L, "Å ring"),
        (10000004L, " tabs\tand\nnewlines  here ")))
        .toDF("doc_id", "text")
      docs.unionByName(planted)
        .select(col("doc_id"),
          operators.TextAnalysis.normalizeText(col("text")).as("norm"))
    }),
    // same planted rows byte-for-byte; nfc_normalize is DuckDB's UAX #15
    // implementation of the engine's NfcNormalize kernel
      ("""
      WITH src AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 100
        UNION ALL VALUES
          (10000001, 'Café  du   Monde'),
          (10000002, 'Café du Monde'),
          (10000003, 'Å ring'),
          (10000004, ' tabs""" + "\tand\nnewlines" + """  here '))
      SELECT doc_id,
             trim(regexp_replace(lower(nfc_normalize(text)), '[ """ +
      "\t\n" + """]+', ' ', 'g')) AS norm
      FROM src""")),

    // main-content extraction from raw HTML (the first transform of any
    // web-crawl pipeline): script/style/comment elimination, tag strip,
    // entity decode (amp last), whitespace fold — the HTML is
    // synthesized from doc columns identically in both engines
    Query("text_html_extract", ((s, dir) => {
      val docs = table(s, dir, "documents").filter(col("doc_id") < 200)
      // script/style/comment payloads span NEWLINES, like real HTML —
      // pins the (?s)/(?is) DOTALL contract (round-9 ADVICE): without it
      // these payloads would leak through the tag-stripper
      val html = concat(
        lit("<html><head><title>doc "), col("doc_id"),
        lit("</title><style>\np { color: red; }\n</style></head><body><h1>Doc "),
        col("doc_id"),
        lit("</h1><p>"),
        regexp_replace(col("text"), " the ", " <b>the</b> "),
        lit("</p><p>A &amp; B &lt;ok&gt; &quot;q&quot; &#39;s&#39;</p>"),
        lit("<script>\ntrack(\""), col("doc_id"),
        lit("\");\n</script><!-- crawler\nnote --></body></html>"))
      docs.select(col("doc_id"),
        operators.TextAnalysis.htmlExtract(html).as("content"))
    }),
    // the same synthesis and the same regex chain, step for step; RE2
    // non-greedy spans, (?i) inline flags, entity decode with amp LAST
      ("""
      WITH h AS (
        SELECT doc_id,
          '<html><head><title>doc ' || doc_id ||
          '</title><style>' || chr(10) || 'p { color: red; }' || chr(10) ||
          '</style></head><body><h1>Doc ' ||
          doc_id || '</h1><p>' ||
          regexp_replace(text, ' the ', ' <b>the</b> ', 'g') ||
          '</p><p>A &amp; B &lt;ok&gt; &quot;q&quot; &#39;s&#39;</p>' ||
          '<script>' || chr(10) || 'track("' || doc_id ||
          '");' || chr(10) || '</script><!-- crawler' || chr(10) ||
          'note --></body></html>' AS html
        FROM documents WHERE doc_id < 200)
      SELECT doc_id,
        trim(regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(
                        regexp_replace(
                          regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                          '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                        '(?s)<!--.*?-->', ' ', 'g'),
                      '<[^>]*>', ' ', 'g'),
                    '&lt;', '<', 'g'),
                  '&gt;', '>', 'g'),
                '&quot;', '"', 'g'),
              '&#39;', '''', 'g'),
            '&amp;', '&', 'g'),
          '[ """ + "\t\n\r" + """]+', ' ', 'g')) AS content
      FROM h""")),
  )
}
