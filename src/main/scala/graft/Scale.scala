package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Measured scaling proof-point (round-12; VERDICT r11 ask 3).
  *
  * SCALING.md argues the 100-TB posture from plan shapes; this main
  * MEASURES it: the five heaviest operators from the bench ledger
  * (pipeline_clean, graph_pagerank, dedup_keep, graph_components,
  * dedup_clusters) run against self-scaled copies of the sf0.1 corpus at
  * ×1/×8/×32 and the per-row cost is recorded. Near-constant s/row across
  * factors is the near-linearity evidence; the ×1 point additionally
  * separates fixed job overhead (which dominates at sf0.1 — the r10/r11
  * plan audits called these queries "job-count-bound, not data-bound")
  * from marginal per-row cost.
  *
  * Corpus self-scaling is NOT naive replication. A bare ×k union makes
  * every document a near-duplicate of its k−1 replicas, so near-dup
  * candidate pairs grow ~k² and the measurement would conflate "more
  * data" with "radically denser duplicates". Instead each replica i:
  *   - offsets doc_id by a multiple of 75 (replicating, not fusing, the
  *     synthetic component structure graph_components derives from
  *     doc_id mod 5 / mod 3 arithmetic);
  *   - rewrites every non-stopword word through a per-replica BIJECTIVE
  *     letter substitution (affine map j→(a·j+b) mod 26 on the alphabet,
  *     distinct (a,b) per replica). A bijection on words is a bijection
  *     on shingles, so every pairwise shingle-Jaccard relationship WITHIN
  *     a replica is preserved exactly — near-dup density per replica is
  *     sf0.1's density — while shingles never collide ACROSS replicas
  *     (a shared shingle would need all its words to be substitution
  *     fixed points, i.e. all-stopword or letterless). Word lengths,
  *     digits, punctuation and spaces are untouched and stopwords map to
  *     themselves, so langId's stopword ratio, punctRatio, tokenCount,
  *     meanTokenLen and n_chars are preserved to the character — every
  *     quality gate in pipeline_clean passes the identical per-replica
  *     fraction. (A first attempt reordered words by a salted hash; that
  *     CANONICALIZES order, so docs with merely-similar word multisets
  *     collapsed into near-identical sequences and ×2 data produced ~20×
  *     candidate pairs. The bijection has no such failure mode — it is
  *     similarity-preserving, not similarity-creating.)
  * lineitem (graph_pagerank's edge source) offsets l_suppkey/l_partkey
  * by i·2²⁴ — k disjoint copies of the supplier→part graph, keeping
  * degree distribution and component diameter constant (PageRank rounds
  * and pointer-jump depth are diameter-bound, so the expected scaling is
  * linear in edges, not super-linear). embeddings (the similarity/ANN
  * family's corpus) get a per-replica sign-flip transform — see
  * [[scaleEmbeddings]] — which replicates intra-replica cosine structure
  * BIT-exactly while decorrelating replicas.
  *
  * Timing is [[Harness.minOfN]]'s rule, the one Bench uses: noop sink
  * (forces every output column), each (query, factor) runs twice, more
  * while its band exceeds [[Harness.VarBar]], and keeps the min; factors
  * ascend so JIT / codegen warm-up is paid at the cheapest factor.
  * Output: one JSON line with per-(query, factor) seconds plus input row
  * counts; loadavg at start/end for the same host-noise provenance the
  * bench carries.
  *
  * Env: SPARK_GRAFT_SF_DIR is the base corpus, SPARK_GRAFT_CPUS the
  * core count and SPARK_GRAFT_ONLY the queries (see [[Harness]]; unset =
  * the five heaviest, "all" = every registry row — the full-suite
  * robustness sweep; a row with a scaled run, see [[Query.runAt]], is
  * timed through it). Scale's own:
  * SPARK_GRAFT_SCALE_FACTORS (default "1,8,32"),
  * SPARK_GRAFT_SCALE_OUT (default /tmp/graft-scale),
  * SPARK_GRAFT_SCALE_RUNS (default 2 = min-of-2 with warm-up; 1 =
  * single-pass, for sweeps where completion is the question),
  * SPARK_GRAFT_SCALE_REGEN=1 forces corpus regeneration.
  */
object Scale {

  /** Per-salt bijective letter substitution for the alphabet. Salts
    * 1..275: the affine permutation j → (a·j + b) mod 26 with `a`
    * coprime to 26 and (a,b) distinct per salt — the (a, b) cycle
    * lengths are 11 and 25, so the affine family holds exactly
    * lcm(11,25) = 275 distinct non-identity permutations (spec-pinned
    * pairwise distinct). Salts ≥ 276 (round 16, the ×512 frontier —
    * ×k needs k−1 non-identity replicas and the affine family caps the
    * harness at ×273): a seeded Fisher–Yates shuffle of the alphabet,
    * splitmix64-keyed by the salt. EVERY invariant the perturbation
    * proof uses is a property of "bijection on letters, identity on
    * non-letters", not of affinity, so any alphabet permutation
    * qualifies — [[replicaSalt]] admits an extended salt to the
    * schedule only after the same two checks the affine family passed
    * (stopword-escape run ≤ 2 hops; distinct from every permutation
    * already scheduled, affine ones included). */
  def letterPerm(salt: Int): String =
    if (salt >= 276) {
      val arr = ('a' to 'z').toArray
      var z = salt.toLong * 0x9E3779B97F4A7C15L
      def next(): Long = {
        z += 0x9E3779B97F4A7C15L
        var x = z
        x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
        x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
        x ^ (x >>> 31)
      }
      var i = 25
      while (i >= 1) {
        val j = java.lang.Math.floorMod(next(), (i + 1).toLong).toInt
        val t = arr(i); arr(i) = arr(j); arr(j) = t
        i -= 1
      }
      new String(arr)
    } else {
      val coprimes = Seq(3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
      val a = coprimes((salt - 1) % coprimes.size)
      val b = 1 + (salt * 7) % 25 // b>0 so even a-cycle fixed points move
      (0 until 26).map(j => ('a' + (a * j + b) % 26).toChar).mkString
    }

  /** Deterministic per-salt text rewrite: every whitespace token that is
    * not an English stopword has its letters mapped through
    * [[letterPerm]] (both cases, consistently); stopwords, digits,
    * punctuation and spacing pass through unchanged. salt=0 is the
    * identity (the ×1 corpus is a byte-identical rewrite of the base
    * through the same writer path).
    *
    * A translated token that LANDS in the stopword set (the permutation
    * preimage of e.g. "the" is a plausible 3-letter token) would shift
    * stopwordRatio/langId for that replica, making the "quality gates
    * decide identically per replica" invariant probabilistic — so such a
    * token is re-translated (up to three more times) until it leaves the
    * set. Same length, so meanTokenLen stays exact. The chained map is
    * PROVABLY injective on tokens: out(x)=t1(x) colliding with
    * out(y)=t2(y) requires x = t1(y) ∈ SW (contradiction — stopwords
    * pass through), and likewise for every level pair; outputs of the
    * remap are ∉ SW by construction so they cannot collide with
    * pass-through stopwords. The final `otherwise(t4)` arm is provably
    * ∉ SW for every salt in the [[replicaSalt]] schedule: the longest
    * stopword→stopword run under any non-cycle permutation is 2 hops
    * (spec-pinned exhaustively over all 275 affine permutations, and
    * enforced as an ADMISSION check on every extended salt ≥ 276), so
    * t1,t2,t3 ∈ SW implies a 3-hop run — impossible for any scheduled
    * salt. */
  def perturbText(text: Column, salt: Int): Column =
    if (salt == 0) text
    else {
      val lower = letterPerm(salt)
      val from = ('a' to 'z').mkString + ('A' to 'Z').mkString
      val to = lower + lower.toUpperCase
      val sw = array(operators.TextAnalysis.StopwordsEn.map(lit): _*)
      def tr(c: Column): Column = translate(c, from, to)
      array_join(
        transform(split(text, " ", -1), w => {
          val t1 = tr(w)
          val t2 = tr(t1)
          val t3 = tr(t2)
          when(array_contains(sw, w), w)
            .when(!array_contains(sw, t1), t1)
            .when(!array_contains(sw, t2), t2)
            .when(!array_contains(sw, t3), t3)
            .otherwise(tr(t3))
        }),
        " ")
    }

  /** Salts whose affine permutation CYCLES within the stopword set
    * (e.g. salt 77 maps "by"→"or"→… back into SW forever): bounded
    * re-translation can never escape for these, so the replica schedule
    * skips them. The set is a fixed function of the fixed stopword list
    * and the 275-permutation family — exhaustively re-derived and
    * pinned by ScaleHarnessSpec. */
  val SwCycleSalts: Set[Int] = Set(77, 143, 275)

  /** Hard ceiling on schedulable replicas — a practicality bound (the
    * extended Fisher–Yates space is ~26! deep), sized two octaves past
    * the ×512 frontier. */
  val MaxReplicas: Int = 2048

  /** Extended (salt ≥ 276) members of the replica schedule, admitted by
    * the SAME checks the affine family is spec-pinned to: (a) the
    * stopword-escape property — no SW→SW run of 3+ hops, so
    * [[perturbText]]'s final remap arm is provably ∉ SW (the affine
    * family's [[SwCycleSalts]] exclusion, applied per candidate); (b)
    * pairwise distinctness against EVERY scheduled permutation, affine
    * ones included (two replicas sharing a permutation would be mutual
    * exact near-dups — the failure the 275-budget guard existed to
    * prevent); (c) non-identity. Deterministic: candidates are probed in
    * salt order, so the schedule is a pure function of the stopword list.
    */
  private lazy val extendedSalts: Vector[Int] = {
    val sw = operators.TextAnalysis.StopwordsEn.toSet
    def maxRun(p: String): Int = {
      def tr(s: String) = s.map(c => if (c >= 'a' && c <= 'z') p(c - 'a') else c)
      sw.iterator.map { s =>
        var d = 0; var t = tr(s)
        while (sw.contains(t) && d < 40) { d += 1; t = tr(t) }
        d
      }.max
    }
    val seen = scala.collection.mutable.Set.empty[String]
    (1 to 275).filterNot(SwCycleSalts).foreach(s => seen += letterPerm(s))
    val need = MaxReplicas - 1 - seen.size // non-identity slots beyond affine
    val out = Vector.newBuilder[Int]
    var salt = 276
    var accepted = 0
    val identity = ('a' to 'z').mkString
    while (accepted < need) {
      val p = letterPerm(salt)
      if (p != identity && !seen.contains(p) && maxRun(p) <= 2) {
        seen += p; out += salt; accepted += 1
      }
      salt += 1
    }
    out.result()
  }

  /** Replica index → gate-exact salt: i=0 is the identity; 1..272 walk
    * the affine family (1..275 minus [[SwCycleSalts]]); 273 and up walk
    * [[extendedSalts]]. For harness factors ≤ 64 this is the identity
    * mapping on 0..63 (the first skipped salt is 77). */
  def replicaSalt(i: Int): Int = {
    require(i >= 0 && i < MaxReplicas,
      s"replica index beyond the $MaxReplicas-replica budget: $i")
    if (i == 0) 0
    else if (i <= 272) (1 to 275).iterator.filterNot(SwCycleSalts).drop(i - 1).next()
    else extendedSalts(i - 273)
  }

  /** Replicate documents ×k with re-keyed ids and per-replica word
    * reorder. The id offset is the smallest multiple of 75 above the max
    * id so the mod-5/mod-15 arithmetic graph_components builds from
    * doc_id replicates cleanly instead of fusing across replicas. */
  def scaleDocuments(docs: DataFrame, k: Int): DataFrame = {
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val off = ((maxId / 75) + 1) * 75
    (0 until k).map { i =>
      docs.select(
        (col("doc_id") + lit(i * off)).as("doc_id"),
        perturbText(col("text"), replicaSalt(i)).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
  }

  /** Replicate lineitem ×k as disjoint graph copies: both join keys shift
    * by i·2²⁴ (far above sf0.1's key ranges AND the +1e6 node-space split
    * graph_pagerank applies to partkey, so replica node spaces never
    * collide). Non-key columns pass through unchanged. */
  def scaleLineitem(li: DataFrame, k: Int): DataFrame = {
    val off = 1L << 24
    (0 until k).map { i =>
      li.withColumn("l_suppkey", col("l_suppkey") + lit(i * off))
        .withColumn("l_partkey", col("l_partkey") + lit(i * off))
    }.reduce(_ unionByName _)
  }

  /** Deterministic ±1 sign pattern for a replica. salt=0 is all-ones (the
    * identity transform); other salts flip each coordinate independently
    * by a splitmix-style bit mix of (salt, j), so any two replicas differ
    * in ~dim/2 coordinates. */
  def signVec(salt: Int, dim: Int): Seq[Float] =
    if (salt == 0) Seq.fill(dim)(1.0f)
    else (0 until dim).map { j =>
      var z = salt.toLong * 0x9E3779B97F4A7C15L + j * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      if (((z ^ (z >>> 31)) & 1L) == 0L) 1.0f else -1.0f
    }

  /** Replicate embeddings ×k with re-keyed ids and a per-replica sign-flip
    * transform v'_j = s_j·v_j. Sign flips — unlike a coordinate
    * permutation — keep the dot-product summation ORDER unchanged, and
    * s_j² = 1 exactly in IEEE float, so every intra-replica pairwise dot
    * product (hence cosine, hence near-dup pair and exact-top-k structure)
    * is BIT-IDENTICAL to the base corpus; cross-replica cosines collapse
    * toward 0 (a surviving 0.9-cosine pair would need the two replicas'
    * sign patterns to agree on essentially all the pair's mass — with
    * ~dim/2 independent flips that never happens at dim 64). Norms are
    * exactly preserved, so IVF/PQ normalization and LSH hyperplane margins
    * see the replica exactly as they see the base. */
  def scaleEmbeddings(emb: DataFrame, k: Int): DataFrame = {
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val maxId = emb.agg(max(col("vec_id"))).head().getLong(0)
    val off = ((maxId / 1000) + 1) * 1000
    (0 until k).map { i =>
      val signs = array(signVec(i, dim).map(lit): _*)
      emb.select(
        (col("vec_id") + lit(i * off)).as("vec_id"),
        (if (i == 0) col("embedding")
         else zip_with(col("embedding"), signs, (v, s) => (v * s).cast("float")))
          .as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
  }

  /** Artifact JSON for one (query, factor) point: the min-of-N seconds;
    * when ≥2 runs were taken, the band and run count (slopes read off a
    * noisy anchor have false-tailed stream_neardup_hashed twice, so every
    * slope carries its anchor confidence) and an `x{f}_unresolved` marker
    * when the band stayed above [[Harness.VarBar]]; and the failure cause
    * when the point died (`x{f}_err`), so a -1.0 can never be mute: the
    * ×1024 stream_neardup_hashed disk-full death dropped its own stderr
    * line (PrintStream swallows IO errors on a full disk) and the
    * artifact alone had to carry the evidence.
    */
  def pointJson(f: Int, t: Harness.Timing): String = {
    val base = s""""x$f":${Harness.num(t.sec)}"""
    val withBand =
      if (t.runs.size < 2) base
      else s"""$base,"x${f}_band":${Harness.num(t.band)},"x${f}_runs":${t.runs.size}""" +
        (if (t.resolved) "" else s""","x${f}_unresolved":true""")
    t.err match {
      case Some(m) =>
        val esc = m.replace("\\", "\\\\").replace("\"", "\\\"")
          .replace("\n", " ").replace("\r", " ").replace("\t", " ")
        s"""$withBand,"x${f}_err":"$esc""""
      case None => withBand
    }
  }

  /** Scale's rows when SPARK_GRAFT_ONLY is unset: the five heaviest
    * operators from the bench ledger. */
  private val DefaultQueries = "dedup_clusters,dedup_keep,graph_components,graph_pagerank,pipeline_clean"

  def main(args: Array[String]): Unit = {
    val base = Harness.sfDir
    val outBase = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "/tmp/graft-scale")
    val factors = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTORS", "1,8,32")
      .split(",").map(_.trim.toInt).filter(_ >= 1).sorted.toSeq
    // "all" = every registry row (the full-suite robustness sweep: does
    // ANYTHING fail to complete against a scaled corpus?)
    val queries = Harness.only match {
      case Some(l) if l.trim == "all" => SparkEntry.queries.values.toSeq.sortBy(_.name)
      case only => SparkEntry.named(only.getOrElse(DefaultQueries))
    }
    val regen = sys.env.get("SPARK_GRAFT_SCALE_REGEN").contains("1")
    val cpus = Harness.cpus

    // Broadcast residue (round 14): unlike persisted RDDs, finished
    // queries' broadcast blocks (centroid tables, probe lists, BPE
    // vocabularies, oversized-key sets) are reclaimed only when the
    // ContextCleaner notices their driver references are GC'd — and a
    // 200-query single-JVM sweep can allocate its way into an OOM
    // before any full GC happens (measured: the ×64 all-queries sweep
    // killed an 8 GB JVM at query ~160 with heap full of torrent
    // blocks; every operator alone completes in the same heap).
    // spark.cleaner.periodicGC.interval=30s is Spark's OWN conf for
    // exactly this ContextCleaner-backlog condition and the form that
    // transfers to a long-lived cluster driver session. It won its round-15
    // A/B against one blocking System.gc() per sweep query on identical
    // code (full ×64 suite, default 8 GB heap: 211/211 in 847s vs 993s).
    val spark = Harness.session("spark.cleaner.periodicGC.interval" -> "30s")
    val loadStart = Harness.loadAvg()

    // --- corpus generation (idempotent: per-table markers, so adding a
    // table to the harness regenerates only that table in existing dirs) ---
    val gen: Map[String, (DataFrame, Int) => DataFrame] = Map(
      "documents" -> ((df, f) => scaleDocuments(df, f)),
      "lineitem" -> ((df, f) => scaleLineitem(df, f)),
      "embeddings" -> ((df, f) => scaleEmbeddings(df, f)))
    factors.foreach { f =>
      val dir = s"$outBase/x$f"
      gen.foreach { case (tab, scale) =>
        val marker = new java.io.File(s"$dir/_GRAFT_SCALE_DONE_$tab")
        if (regen || !marker.isFile) {
          System.err.println(s"[scale] generating ×$f $tab under $dir")
          // repartition before write so the scaled tables land as multiple
          // files — scan parallelism then comes from the layout itself, the
          // way a real multi-TB table's would, instead of from buildTable's
          // single-file fallback repartition
          val parts = math.max(4, math.min(32, f * 4))
          scale(spark.read.parquet(s"$base/$tab.parquet"), f).repartition(parts)
            .write.mode("overwrite").parquet(s"$dir/$tab.parquet")
          marker.createNewFile()
        }
      }
      // tables the harness does not scale (dims, events) symlink to the
      // base copies, so EVERY SparkEntry query can run against a scaled
      // dir — the full-suite robustness sweep needs the whole schema
      val baseDir = new java.io.File(base)
      Option(baseDir.listFiles()).getOrElse(Array.empty)
        .filter(f0 => f0.getName.endsWith(".parquet"))
        .filterNot(f0 => gen.contains(f0.getName.stripSuffix(".parquet")))
        .foreach { src =>
          val link = java.nio.file.Paths.get(dir, src.getName)
          if (!java.nio.file.Files.exists(link))
            java.nio.file.Files.createSymbolicLink(link, src.toPath.toAbsolutePath)
        }
    }
    val rowCounts = factors.map { f =>
      f -> gen.keys.map(tab =>
        tab -> spark.read.parquet(s"$outBase/x$f/$tab.parquet").count()).toMap
    }.toMap

    // --- timed runs: factors ascend; per (query, factor) min of N
    // (SPARK_GRAFT_SCALE_RUNS, default 2; 1 = single-pass robustness
    // sweep where completion, not timing precision, is the question) ---
    val nRuns = sys.env.get("SPARK_GRAFT_SCALE_RUNS").map(_.toInt).getOrElse(2)
    // per (query, factor): the measurement, failure cause and leak
    // included — a failed point carries its cause INTO the artifact (see
    // pointJson), not only to stderr
    val timings = scala.collection.mutable.Map.empty[(String, Int), Harness.Timing]
    factors.zipWithIndex.foreach { case (f, fi) =>
      val dir = s"$outBase/x$f"
      // the documented operating rule, applied: shuffle partitions scale
      // WITH the data so per-partition state (sort runs, shuffled-hash
      // build sides) stays bounded — a ×32 corpus on ×1 partitions makes
      // every reducer hold 32× the state, and a pinned shuffled-hash
      // build dies hard there instead of spilling (measured: the
      // dedup_substring gram join at ×32/32 partitions). AQE's partition
      // coalescing shrinks the excess at small factors, so over-providing
      // is safe in the same config.
      val shufP = math.max(cpus, cpus * f / 4)
      spark.conf.set("spark.sql.shuffle.partitions", shufP.toString)
      queries.foreach { q =>
        // one untimed warm-up at the SMALLEST factor per query pays JIT +
        // codegen once where data is cheapest; a single-pass robustness
        // sweep (nRuns 1) takes no warm-up and, with a band of 1, never
        // escalates — it asks "completes?", not "how fast"
        val t = Harness.minOfN(spark, s"[scale] ${q.name} ×$f", nRuns,
          warmup = fi == 0 && nRuns > 1)(q.runAt(spark, dir, f))
        System.err.println(s"[scale] ${q.name} ×$f: ${Harness.num(t.sec, 2)} s")
        timings((q.name, f)) = t
      }
    }

    val loadEnd = Harness.loadAvg()
    val qJson = queries.map { q =>
      val per = factors.map { f =>
        val t = timings((q.name, f))
        val leaked = if (t.leakedBytes > 0) s""","x${f}_leaked":${t.leakedBytes}""" else ""
        pointJson(f, t) + leaked
      }.mkString(",")
      val role = q.role
        .map(r => s""","role":"${r.kind}","twin":"${r.twin}"""").getOrElse("")
      s""""${q.name}":{$per$role}"""
    }.mkString(",")
    val rowsJson = factors.map { f =>
      val per = rowCounts(f).toSeq.sortBy(_._1)
        .map { case (t, n) => s""""$t":$n""" }.mkString(",")
      s""""x$f":{$per}"""
    }.mkString(",")
    // mode marker (round 13): a single-pass sweep answers "does it
    // COMPLETE at scale" — its per-query numbers are not min-of-N bench
    // timings and must not be quoted as such; the record says which it is.
    val mode = if (nRuns >= 2) "timing" else "robustness"
    // round 16 (r15 verdict ask #3): the >2.2×-per-octave re-take set is
    // COMPUTED from this artifact's own numbers and written into it, so a
    // re-take run's coverage is checkable (computed set ⊆ retaken set) —
    // the r15 hand-curated list silently missed its largest member.
    // Strawman-tagged rows are excluded by tag: their tails are priced
    // justifications of a shipped twin, not pending adjudications.
    val tailBar = 2.2
    val tails = queries.filter { q =>
      !q.role.exists(_.isInstanceOf[Role.Strawman]) && {
        val pts = factors.map(f => (f, timings((q.name, f)).sec)).filter(_._2 > 0)
        pts.size >= 2 && {
          val (f1, t1) = pts(pts.size - 2)
          val (f2, t2) = pts.last
          val octaves = math.log(f2.toDouble / f1) / math.log(2.0)
          octaves > 0 && math.pow(t2 / t1, 1.0 / octaves) > tailBar
        }
      }
    }
    val tailsJson = tails.map(q => s""""${q.name}"""").mkString(",")
    println(s"""{"metric":"scale_linearity","mode":"$mode","gc_mode":"periodic","runs_per_point":$nRuns,""" +
      s""""variance_bar":${Harness.num(Harness.VarBar)},"max_runs_per_point":${Harness.MaxRuns},""" +
      s""""base":"$base","factors":[${factors.mkString(",")}],""" +
      s""""queries":{$qJson},"rows":{$rowsJson},""" +
      s""""tail_bar_per_octave":$tailBar,"tails_pending_retake":[$tailsJson],""" +
      s""""loadavg_start":${Harness.num(loadStart)},"loadavg_end":${Harness.num(loadEnd)}}""")
    spark.stop()
  }
}
