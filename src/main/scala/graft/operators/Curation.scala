package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a training-data pipeline needs beyond
  * dedup/similarity: benchmark decontamination, deterministic stratified
  * sampling, and domain mixing (per-source quotas).
  *
  * Determinism is a first-class requirement here: at 100 TB a sampling
  * decision must not depend on partitioning, task retries, or row order,
  * or the corpus is irreproducible. Every selector below is a pure
  * function of the row's key, so re-running the pipeline (or re-running
  * one failed task) selects the identical corpus.
  */
object Curation {

  // ------------------------------------------------- decontamination

  /** Benchmark decontamination: training docs that share at least
    * `minOverlap` distinct word n-grams with ANY document of the
    * benchmark/eval set. Returns (id, n_hits = distinct contaminated
    * n-grams) for flagged docs — the caller anti-joins to drop them.
    *
    * Shape at 100 TB: the benchmark side (eval suites) is tiny relative
    * to the corpus, so its distinct n-gram set is BROADCAST — the train
    * side never shuffles its shingles; the only exchanges are the
    * bench-side distinct and the final (id, n_hits) count of HITS, both
    * bounded by the benchmark/contamination volume, not the corpus. With
    * `broadcastBench = false` (a genuinely large right side) the join
    * shuffles on (n-gram, xxhash64) — Catalyst promotes the equality
    * confirm into the key set — and the precomputed 8-byte hash keeps
    * per-row compare/hash work cheap inside the shuffled hash join. */
  def contaminationHits(train: DataFrame, bench: DataFrame, id: String,
                        text: Column, n: Int = 8, minOverlap: Int = 1,
                        broadcastBench: Boolean = true): DataFrame = {
    require(n >= 1 && minOverlap >= 1, s"need n>=1, minOverlap>=1; got n=$n minOverlap=$minOverlap")
    val tr = train.select(col(id), explode(Dedup.wordShingles(text, n)).as("s"))
      .withColumn("h", xxhash64(col("s")))
    val ev0 = bench.select(explode(Dedup.wordShingles(text, n)).as("s_ev")).distinct()
      .withColumn("h_ev", xxhash64(col("s_ev")))
    val ev = if (broadcastBench) broadcast(ev0) else ev0
    tr.join(ev, col("h") === col("h_ev"))
      .filter(col("s") === col("s_ev")) // collision confirm (residual, not a shuffle key)
      .groupBy(col(id))
      .agg(count_distinct(col("s")).as("n_hits"))
      .filter(col("n_hits") >= minOverlap)
  }

  /** Contamination EVIDENCE spans — the forensic companion of
    * [[contaminationHits]]: for every (train doc, benchmark doc) pair,
    * the maximal runs of consecutive matched n-grams, as word intervals
    * (`start_word`..`end_word` inclusive, with the matched-gram count).
    * A count says a doc leaked; the spans say WHERE — what an opt-out /
    * takedown / leakage-audit report needs.
    *
    * Scale shape: the train side explodes to positioned n-grams
    * NARROWLY (no corpus shuffle); the benchmark side (eval sets — tiny
    * by definition) deduplicates and broadcasts; only the HIT rows —
    * contamination is sparse by assumption — pay the one exchange for
    * the per-(doc, bench) gaps-and-islands merge. */
  def contaminationSpans(train: DataFrame, bench: DataFrame, id: String,
                         text: Column, n: Int = 8,
                         broadcastBench: Boolean = true): DataFrame = {
    require(n >= 1, s"need n>=1, got n=$n")
    def grams(df: DataFrame, asId: String): DataFrame = {
      val toks = split(text, " ")
      val g = when(size(toks) >= n,
        transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))))
        .otherwise(array().cast("array<string>"))
      df.select(col(id).as(asId), posexplode(g).as(Seq("pos", "g")))
    }
    val tr = grams(train, "doc_id")
    val ev0 = grams(bench, "bench_id").select(col("bench_id"), col("g")).distinct()
    val ev = if (broadcastBench) broadcast(ev0) else ev0
    // consecutive positions share (pos - row_number) — the islands key
    val w = Window.partitionBy(col("doc_id"), col("bench_id")).orderBy(col("pos"))
    tr.join(ev, "g")
      .withColumn("__island", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("bench_id"), col("__island"))
      .agg(min(col("pos")).cast("long").as("start_word"),
        (max(col("pos")) + lit(n - 1)).cast("long").as("end_word"),
        count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("bench_id"),
        col("start_word"), col("end_word"), col("n_grams"))
  }

  /** Blocklist decontamination with a Bloom-filter prefilter: rows of
    * `corpus` whose `key` does NOT appear in `blocklist.blockKey` —
    * exactly an anti-join, computed without ever shuffling the corpus.
    *
    * Shape at 100 TB: the blocklist (eval benchmarks, opt-outs, known-bad
    * URLs) is millions of keys; the corpus is the 100 TB side. A plain
    * anti-join shuffles both sides on the key. Here the blocklist folds
    * into a driver-built Bloom filter (`fpp` sized; ~1.2 MB per million
    * keys at 1%) that ships once per executor: bloom-negative rows pass
    * WITH PROOF (no false negatives) in the same WholeStageCodegen pass
    * as the scan — zero exchanges — and only the bloom-positive sliver
    * (true hits + fpp of the corpus) pays an exact anti-join to drop
    * false positives. Output is therefore EXACTLY the anti-join result,
    * deterministically, while the shuffled volume drops from 100 TB to
    * roughly fpp × corpus.
    *
    * The confirm join broadcasts the blocklist keys when they fit
    * (Catalyst decides by size); a genuinely huge blocklist falls back
    * to a shuffle whose left side is already prefiltered. */
  def bloomDecontaminate(corpus: DataFrame, blocklist: DataFrame,
                         key: Column, blockKey: Column,
                         expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    require(expectedItems > 0 && fpp > 0 && fpp < 1,
      s"need expectedItems>0, 0<fpp<1; got $expectedItems, $fpp")
    val keyed = blocklist.select(blockKey.cast("string").as("__bk")).na.drop()
    val bf = keyed.stat.bloomFilter(col("__bk"), expectedItems, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    // resolve the key against the corpus ONCE (corpus and blocklist often
    // share lineage — a raw `key` in the join condition would be ambiguous)
    val ckd = corpus.withColumn("__ck", key.cast("string"))
    import org.apache.spark.sql.graft.ColumnBridge
    val hit = coalesce(ColumnBridge.column(graft.functions.BloomMightContain(
      ColumnBridge.expression(col("__ck")), bytes)), lit(false))
    val proven = ckd.filter(!hit) // bloom-negative: provably clean
    val candidates = ckd.filter(hit)
      .join(keyed, col("__ck") === col("__bk"), "left_anti") // drop false positives
    proven.unionByName(candidates).drop("__ck")
  }

  // ------------------------------------------------- deterministic selectors

  /** Uniform-looking value in [0,1) from a 64-bit key — production
    * variant: full-width xxhash64 folded to 52 mantissa-exact bits.
    * Codegen'd, narrow, retry-stable. Not replicable in engines without
    * xxhash64 — use [[lcgUniform]] when a cross-engine oracle must
    * reproduce the draw bit-for-bit. */
  def hashUniform(key: Column): Column =
    pmod(xxhash64(key), lit(1L << 52)).cast("double") / lit((1L << 52).toDouble)

  /** Oracle-replicable deterministic uniform: Knuth multiplicative hash
    * ((key mod 1000003) * 2654435761) mod 2^32, scaled to [0,1). Plain
    * BIGINT arithmetic (max intermediate ~2.66e15, no 64-bit overflow —
    * DuckDB errors on BIGINT overflow rather than wrapping, so the
    * pre-reduction mod 1000003 is load-bearing), hence expressible
    * identically in ANSI SQL. The 1000003 pre-fold caps distinct draw
    * values at ~1e6 — fine for rate selection, not for cryptographic
    * uniqueness; [[hashUniform]] is the full-width variant. */
  def lcgUniform(key: Column): Column =
    pmod(pmod(key, lit(1000003L)) * lit(2654435761L), lit(4294967296L))
      .cast("double") / lit(4294967296.0)

  /** Per-stratum rate lookup as a CASE chain (small, literal strata). */
  private def rateOf(stratum: Column, rates: Map[String, Double], default: Double): Column =
    rates.foldLeft(lit(default)) { case (acc, (k, v)) => when(stratum === lit(k), lit(v)).otherwise(acc) }

  /** Deterministic stratified Bernoulli sample: keep a row iff
    * u(key) < rate(stratum). ZERO shuffles — a codegen'd filter that
    * splits with the scan — and the kept set is a pure function of the
    * keys, so it is identical across retries, partitionings, and
    * engines. This is how a 100 TB corpus is downsampled per language /
    * source without materializing anything. */
  def stratifiedSample(df: DataFrame, stratum: Column, key: Column,
                       rates: Map[String, Double], default: Double = 0.0): DataFrame =
    df.filter(lcgUniform(key) < rateOf(stratum, rates, default))

  /** Temperature-based source resampling (the multilingual/mixture
    * α-sampling of mT5 / XLM-R: target share q_i ∝ p_i^α flattens the
    * head and lifts the tail as α → 0; α = 1 keeps natural proportions).
    * Downsample-only formulation: per-stratum keep rate
    * r_i = (n_min/n_i)^(1−α) — the RAREST stratum keeps everything and
    * larger strata shed mass toward the tempered distribution, so no row
    * is ever duplicated (repetition policy stays with the training loop,
    * where epochs belong). Unlike [[stratifiedSample]] the rates come
    * from the DATA: one partial-agg'd count per stratum (a few rows),
    * the min via a broadcast cross-join (never an unpartitioned window),
    * rates broadcast-joined back, and the keep decision is the same
    * pure-function-of-key draw — retry/partitioning/engine-invariant.
    * The one float step (pow) is pinned by micro-quantizing the rate to
    * 1e-6 before the compare, the same pinned-float discipline as BM25.
    * Corpus-side cost: ONE pre-aggregated count pass + a codegen'd
    * broadcast-join filter — nothing corpus-sized shuffles at 100 TB.
    *
    * NULL-stratum contract (deliberate divergence from
    * [[stratifiedSample]], which keeps NULL-stratum rows at the default
    * rate): rows whose stratum is NULL are DROPPED — the inner rate
    * join's equality predicate is null-rejecting, so they match no rate
    * row. Rationale: the rates here are derived FROM the
    * strata, so a row with no stratum has no defined p_i to temper;
    * callers who want NULLs to form their own stratum should coalesce to
    * a sentinel before calling. This matches the oracle's inner-join
    * semantics. */
  def temperatureSample(df: DataFrame, stratum: Column, key: Column,
                        alpha: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha in (0,1], got $alpha")
    val counts = df.groupBy(stratum.as("__s")).agg(count(lit(1)).as("__n"))
    val nmin = counts.agg(min(col("__n")).as("__nmin"))
    val rates = counts.crossJoin(broadcast(nmin))
      .withColumn("__rate_micro",
        round(pow(col("__nmin").cast("double") / col("__n"), 1.0 - alpha) * 1e6))
      .select(col("__s"), col("__rate_micro"))
    df.join(broadcast(rates), stratum === col("__s"))
      .filter(lcgUniform(key) < col("__rate_micro") / 1e6)
      .drop("__s", "__rate_micro")
  }

  /** Deterministic train/val/test assignment: thresholds over the same
    * pure-function-of-key draw as [[stratifiedSample]], so every row gets
    * exactly one split, membership survives retries/repartitioning, and
    * adding rows never reshuffles existing assignments (the property that
    * makes incremental corpus refreshes safe). Zero shuffles.
    * `cuts` are cumulative upper bounds, e.g. Seq(("train", 0.9),
    * ("val", 0.95)) with the remainder going to `last`. */
  def assignSplits(df: DataFrame, key: Column,
                   cuts: Seq[(String, Double)], last: String): DataFrame = {
    require(cuts.nonEmpty && cuts.map(_._2) == cuts.map(_._2).sorted,
      s"cuts must be ascending cumulative bounds, got $cuts")
    val u = lcgUniform(key)
    val expr = cuts.foldRight(lit(last): Column) { case ((name, bound), acc) =>
      when(u < lit(bound), lit(name)).otherwise(acc)
    }
    df.withColumn("split", expr)
  }

  /** Sequential context-window packing: assign each document a bin id so
    * consecutive documents (in `order` within `part`) fill bins of
    * ~`binTokens` tokens — the running-total fill a sequence-packing
    * pipeline does before concatenation. bin = floor((cumsum - tokens) /
    * binTokens): a doc starts a new bin when the budget would overflow ON
    * AVERAGE (cheap streaming-friendly fill, not exact first-fit — a doc
    * longer than the remainder spills into the next bin; exact first-fit
    * is inherently sequential and does not distribute).
    *
    * One exchange on `part`: packing parallelizes across partitions
    * (source/shard), never globally — a global order would serialize
    * 100 TB through one task. */
  def packSequential(df: DataFrame, part: Column, order: Column,
                     tokenCount: Column, binTokens: Long): DataFrame = {
    require(binTokens > 0, s"binTokens must be positive, got $binTokens")
    val w = Window.partitionBy(part).orderBy(order.asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__cum", sum(tokenCount).over(w))
      .withColumn("bin", ((col("__cum") - tokenCount) / lit(binTokens)).cast("long"))
      .drop("__cum")
  }

  /** Deterministic training-order shuffle: assign every row a (shard,
    * pos) so that reading shards in order yields a pseudo-random
    * permutation of the corpus. shard = draw mod `shards` spreads rows
    * uniformly; pos ranks within the shard by (draw, key). One exchange
    * on the shard id + `shards` parallel windows — a GLOBAL row_number
    * would serialize 100 TB through one task, which is why the
    * permutation is sharded (training readers consume shards
    * independently anyway). Pure function of the key: the same corpus
    * always shuffles the same way, across engines and retries. */
  def shuffleOrder(df: DataFrame, key: Column, shards: Int = 256): DataFrame = {
    require(shards >= 1, s"shards must be positive, got $shards")
    val draw = pmod(pmod(key, lit(1000003L)) * lit(2654435761L), lit(4294967296L))
    val w = Window.partitionBy(col("__shard")).orderBy(col("__draw").asc, key.asc)
    df.withColumn("__draw", draw)
      .withColumn("__shard", pmod(col("__draw"), lit(shards.toLong)).cast("int"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .withColumn("shard", col("__shard"))
      .drop("__draw", "__shard")
  }

  /** Domain mixing by exact per-source quota: the `quota(stratum)`
    * rows with the smallest deterministic draw win, ties broken by key.
    * One shuffle (partition by stratum) + in-partition TOP-quota.
    *
    * Scale note: rank-by-draw needs each stratum on one task, so a
    * single stratum must fit a task's spill budget — true for
    * source/language mixing (tens of strata). For quotas over huge
    * strata prefer [[stratifiedSample]] with rate = quota/count(stratum)
    * (two narrow passes, no per-stratum ordering) and accept ±binomial
    * noise around the quota. */
  def mixByQuota(df: DataFrame, stratum: Column, key: Column,
                 quotas: Map[String, Int], default: Int = 0): DataFrame = {
    val w = Window.partitionBy(stratum).orderBy(lcgUniform(key).asc, key.asc)
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= rateOf(stratum, quotas.map { case (k, v) => k -> v.toDouble }, default.toDouble))
      .drop("__rk")
  }

  /** Temperature-scaled source mixing: per-source budgets proportional to
    * n_s^α with α = 1/2 — the multilingual/domain re-balancing rule
    * (XLM-R-style temperature sampling) that upweights small sources
    * without letting a mega-source dominate. α is fixed at 1/2 because
    * IEEE `sqrt` is correctly rounded in every engine, so
    * w_s = ⌊√n_s⌋ is EXACT integer weight — from there the whole budget
    * split (target_s = ⌊budget·w_s / Σw⌋) is integer arithmetic with no
    * cross-engine drift, unlike a general pow(n, α) of libm doubles.
    *
    * The per-source aggregate is tiny (one row per source), so Σw is a
    * broadcast 1-row frame; the only corpus-scale work is one
    * window rank per source (hash exchange on source) to take the
    * `target_s` lowest-keyed docs deterministically. Returns one row per
    * source: count, target, kept count, and the exact kept-key sum as a
    * reproducibility fingerprint. */
  def temperatureMix(df: DataFrame, source: String, key: String,
                     budget: Long): DataFrame = {
    // one row per source — checkpointing this tiny frame stops Spark
    // re-running the corpus-scale count for each of its three consumers
    // (Σw, the rank gate, the final join): exactly 2 corpus passes total
    // (count + rank), at any scale
    Checkpoints.scope() { s =>
      val counts = s.checkpoint(
        df.groupBy(col(source)).agg(count(lit(1)).as("n_docs"))
          .withColumn("w", floor(sqrt(col("n_docs").cast("double"))).cast("long")))
      val total = counts.agg(sum(col("w")).as("w_total"))
      val targets = counts.crossJoin(broadcast(total))
        .withColumn("wb", col("w") * lit(budget))
        // exact integer floor-div: (x - x mod y) is a multiple of y, so the
        // double quotient is exact for any magnitude either engine allows
        .withColumn("target_n",
          ((col("wb") - pmod(col("wb"), col("w_total"))) / col("w_total")).cast("long"))
        .select(col(source), col("n_docs"), col("target_n"))
      val rk = Window.partitionBy(col(source)).orderBy(col(key).asc)
      val kept = df.select(col(source), col(key))
        .withColumn("rn", row_number().over(rk).cast("long"))
        .join(broadcast(targets.select(col(source), col("target_n").as("__t"))), source)
        .filter(col("rn") <= col("__t"))
        .groupBy(col(source))
        .agg(count(lit(1)).as("kept_n"), sum(col(key)).as("kept_key_sum"))
      s.checkpoint(
        targets.join(kept, Seq(source), "left")
          .select(col(source), col("n_docs"), col("target_n"),
            coalesce(col("kept_n"), lit(0L)).as("kept_n"),
            coalesce(col("kept_key_sum"), lit(0L)).as("kept_key_sum")))
    }
  }

  // ------------------------------------------------- importance resampling

  /** DSIR-style data selection with importance resampling (Xie et al.
    * 2023): score every document by how much more likely its hashed
    * n-gram features are under the TARGET distribution (the rows where
    * `isTarget` holds — the trusted high-quality corpus) than under the
    * RAW distribution (the complement — the corpus being selected from;
    * DSIR estimates the two from separate corpora, so the flag
    * partitions the input). Features are word unigrams + bigrams
    * hashed into `buckets` buckets ([[TextAnalysis.fingerprint]] — the
    * cross-engine rolling hash); both distributions are estimated with
    * add-one smoothing, and per-bucket log ratios quantize to micro-nat
    * BIGINTs (the [[TextAnalysis.ngramScoreSelf]] fixed-point trick) so
    * scores are engine-exact and partitioning-invariant. `keep` =
    * importance > 1 (score_micro > 0) — the deterministic counterpart
    * of DSIR's Gumbel resampling draw.
    *
    * Shape at 100 TB: ONE gram pass over the corpus — the per-(doc,
    * bucket) count frame is checkpointed and feeds the bucket counts,
    * the grand totals AND the scoring join; the model is ≤ `buckets`
    * rows (broadcast), the totals one row. Output: (id, n_grams,
    * score_micro, keep). */
  def dsirWeights(docs: DataFrame, id: String, text: Column, isTarget: Column,
                  buckets: Int = 1024): DataFrame = {
    val toks = split(text, " ")
    val bigrams = when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1), i =>
        concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))
      .otherwise(array().cast("array<string>"))
    val grams = concat(toks, bigrams)
    val gr = docs.select(col(id), isTarget.as("tgt"), explode(grams).as("g"))
      .withColumn("b", TextAnalysis.fingerprint(col("g")) % buckets.toLong)
    // one corpus gram pass: per-(doc, bucket) counts serve all three
    // consumers (bucket counts, totals, scoring join)
    Checkpoints.scope() { s =>
      val gb = s.checkpoint(
        gr.groupBy(col(id), col("tgt"), col("b")).agg(count(lit(1)).as("c")))
      val cb = gb.groupBy(col("b")).agg(
        sum(when(col("tgt"), col("c")).otherwise(0L)).as("n_t"),
        sum(when(!col("tgt"), col("c")).otherwise(0L)).as("n_r"))
      val tot = gb.agg(
        sum(when(col("tgt"), col("c")).otherwise(0L)).as("nt_tot"),
        sum(when(!col("tgt"), col("c")).otherwise(0L)).as("nr_tot"))
      val bl = lit(buckets.toLong)
      // single-log form with a fixed evaluation order — both engines
      // compute the identical IEEE double chain before the micro-nat round
      val model = cb.crossJoin(broadcast(tot)).select(col("b"),
        round(log(((col("n_t") + 1L).cast("double") * (col("nr_tot") + bl).cast("double")) /
            ((col("n_r") + 1L).cast("double") * (col("nt_tot") + bl).cast("double"))) * 1e6)
          .cast("long").as("w_micro"))
      s.checkpoint(
        gb.join(broadcast(model), "b")
          .groupBy(col(id))
          .agg(sum(col("c")).as("n_grams"),
            sum(col("c") * col("w_micro")).as("score_micro"))
          .withColumn("keep", col("score_micro") > 0L))
    }
  }

  /** Cluster-balanced diversity sampling: assign every embedding to its
    * nearest centroid ([[Similarity.assignClusters]] — the SemDeDup
    * assignment, zero exchanges), then keep at most
    * `perCluster` rows per cluster by a DETERMINISTIC draw — rank within
    * cluster on ([[lcgUniform]]'s integer form, id). The flat-per-cluster
    * quota is the curation move that stops a corpus's majority mode from
    * swamping a sample (DataComp-style cluster filtering / diversity
    * sampling).
    *
    * Scale shape: ONE exchange on the cluster key for the rank window,
    * and the `rank ≤ n` filter triggers WindowGroupLimit, so each input
    * partition forwards at most n rows per cluster into that exchange —
    * the shuffle carries O(C·n·P_in) bounded rows, never the corpus.
    * The draw is a pure function of the id: the kept set survives
    * retries, repartitioning, and engine ports bit-for-bit. */
  def clusterBalancedSample(vectors: DataFrame, centroids: Seq[Seq[Double]],
                            perCluster: Int): DataFrame = {
    require(perCluster >= 1, s"perCluster must be >= 1, got $perCluster")
    val draw = pmod(pmod(col("vec_id"), lit(1000003L)) * lit(2654435761L), lit(4294967296L))
    val w = Window.partitionBy(col("cluster")).orderBy(draw.asc, col("vec_id").asc)
    Similarity.assignClusters(vectors, centroids)
      .select(col("vec_id"), col("cluster"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= perCluster)
  }

  // ------------------------------------------------- epoch budgeting

  /** Data-constrained epoch planner: split a total token `budget` across
    * sources proportionally to their token mass, then express each
    * source's allocation as repeat epochs over its data, capped at
    * `maxEpochs` (repeating a source beyond a few epochs stops helping —
    * the data-constrained-scaling rule of thumb). Per source:
    * allocation ⌊budget·tokens_s / Σtokens⌋, full epochs alloc DIV
    * tokens_s (capped), the residual partial-epoch tokens when under the
    * cap, tokens actually served and the budget left unserved by the cap.
    * Unused budget is REPORTED, not redistributed — the planner is one
    * deterministic pass; feeding `unused` back is the caller's loop.
    *
    * Everything is DECIMAL(38,0) integer arithmetic — budget·tokens_s
    * overflows BIGINT at real corpus scale (1e14 budget × 1e14 tokens),
    * and exact integers are what make the plan reproducible across
    * engines. Scale shape: one partial-agg'd count pass over the corpus;
    * the plan itself is |sources| rows joined against a broadcast 1-row
    * total. */
  def epochPlan(df: DataFrame, source: Column, tokens: Column,
                budget: Long, maxEpochs: Int = 4): DataFrame = {
    require(budget >= 0 && maxEpochs >= 1,
      s"need budget>=0, maxEpochs>=1; got $budget, $maxEpochs")
    def d(c: Column): Column = c.cast("decimal(38,0)")
    val perSource = df.groupBy(source.as("source"))
      .agg(sum(tokens).as("n_tokens"))
    val total = perSource.agg(sum(col("n_tokens")).as("tok_total"))
    perSource.crossJoin(broadcast(total))
      .withColumn("__bt", d(lit(budget)) * d(col("n_tokens")))
      // exact floor-div on decimals: subtract the remainder first
      .withColumn("alloc",
        ((col("__bt") - pmod(col("__bt"), d(col("tok_total")))) / d(col("tok_total")))
          .cast("decimal(38,0)").cast("long"))
      .withColumn("epochs_full",
        least(expr("alloc DIV n_tokens"), lit(maxEpochs.toLong)))
      .withColumn("partial_tokens",
        when(expr("alloc DIV n_tokens") < maxEpochs.toLong,
          col("alloc") % col("n_tokens")).otherwise(0L))
      .withColumn("served_tokens",
        col("epochs_full") * col("n_tokens") + col("partial_tokens"))
      .withColumn("unused_tokens", col("alloc") - col("served_tokens"))
      .select(col("source"), col("n_tokens"), col("alloc"), col("epochs_full"),
        col("partial_tokens"), col("served_tokens"), col("unused_tokens"))
  }

  // ------------------------------------------------ CCNet ppl buckets

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): score every
    * document under the corpus's own char n-gram LM
    * ([[TextAnalysis.ngramScoreSelf]]), then split each language into
    * `buckets` equal-depth bands by per-gram cost — CCNet's
    * head/middle/tail, the standard "keep the head, sample the middle,
    * drop the tail" curation knob.
    *
    * All arithmetic is exact integers: cost_micro = (−logp_sum_micro)
    * DIV n_grams (micro-nats per gram), and the band is
    * ((rank−1)·buckets) DIV count + 1 over the (cost, id) order — both
    * engines reproduce the identical split, ties and all. Docs shorter
    * than one gram have no defined cost and are absent (the LM has
    * nothing to say about them) — gate such docs on length upstream.
    *
    * Scale shape: the LM fit/score is the one corpus-scale gram pass
    * (see ngramScoreSelf); everything after is id-keyed joins plus ONE
    * language-keyed window exchange carrying 3 small columns per doc.
    * Languages are the natural partition — skew follows the corpus's
    * language mix, the same skew any per-language curation has. */
  def ccnetBuckets(docs: DataFrame, id: String, text: Column, lang: Column,
                   n: Int = 3, buckets: Int = 3): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val scored = TextAnalysis.ngramScoreSelf(docs, id, text, n)
    val costed = docs.select(col(id), lang.as("lang"))
      .join(scored, Seq(id))
      .withColumn("cost_micro", expr("(-logp_sum_micro) DIV n_grams"))
    val w = Window.partitionBy(col("lang")).orderBy(col("cost_micro").asc, col(id).asc)
    val cw = Window.partitionBy(col("lang"))
    costed
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("cnt", count(lit(1)).over(cw))
      .withColumn("bucket", expr(s"((rn - 1) * $buckets) DIV cnt + 1"))
      .select(col(id), col("lang"), col("cost_micro"), col("bucket"),
        when(col("bucket") === 1, lit("head"))
          .when(col("bucket") === buckets.toLong, lit("tail"))
          .otherwise(lit("middle")).as("label"))
  }

  /** Canonical form of a crawl URL — the key web-corpus dedup actually
    * groups on (C4 and RefinedWeb both dedup the crawl by normalized URL
    * before any content pass; the same page arrives via http/https,
    * with/without www., with tracking params, with a fragment).
    * Normalization, in declared order: drop the #fragment; drop
    * utm_ / gclid / fbclid tracking params (promoting the next param to `?`
    * when the first was dropped); lowercase ONLY scheme+host (paths are
    * case-sensitive per RFC 3986 — lowercasing them would merge distinct
    * pages); http→https; drop a www. prefix and default :80/:443 ports;
    * drop one trailing slash on a non-root path; drop a bare trailing
    * `?`. Pure single-row string kernel — codegen'd regexes, zero
    * shuffles, linear at any corpus size. */
  def canonicalUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val noTrack = regexp_replace(noFrag, "[?&](?:utm_[a-z0-9]+|gclid|fbclid)=[^&#]*", "")
    // lazy quantifier: the FIRST '&' becomes '?'; greedy [^?]* would
    // backtrack to the LAST one and scramble multi-param queries
    val fixedQ = regexp_replace(noTrack, "^([^?]*?)&", "$1?")
    val hostLower = concat(
      lower(regexp_extract(fixedQ, "^([A-Za-z][A-Za-z0-9+.-]*://[^/?]*)", 1)),
      regexp_replace(fixedQ, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*", ""))
    val https = regexp_replace(hostLower, "^http://", "https://")
    val noWww = regexp_replace(https, "^(https://)www\\.", "$1")
    // no lookahead: RE2-class engines (the oracle side) don't support it
    val noPort = regexp_replace(noWww, "^(https://[^/?:]*):(?:80|443)([/?]|$)", "$1$2")
    // the [^/?]* host + '/' + [^?]*[^/?] body keeps the ROOT slash alive
    // (https://site.com/ names a resource; the '' form does not) and stops
    // the match at '?' so a slash inside a query value is never touched
    val noSlash = regexp_replace(noPort, "^(https://[^/?]*/[^?]*[^/?])/(\\?|$)", "$1$2")
    regexp_replace(noSlash, "\\?$", "")
  }

  /** URL-keyed crawl dedup: group by [[canonicalUrl]], keep the smallest
    * id (first fetch wins), count the aliases folded away. One
    * partial-agg'd exchange on the canonical key — at crawl scale the
    * canonical-URL space is ~unique per group, so the map-side combine
    * leaves near-distinct keys and the shuffle carries (url, id, count)
    * triples, never documents. */
  def urlDedup(df: DataFrame, id: Column, url: Column): DataFrame =
    df.select(id.as("keep_id"), canonicalUrl(url).as("canon_url"))
      .groupBy(col("canon_url"))
      .agg(min(col("keep_id")).as("keep_id"), count(lit(1)).as("n_alias"))
}
