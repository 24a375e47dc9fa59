package graft

import org.apache.spark.sql.functions._

/** Invariants the scaling measurement (Scale.scala) depends on. The
  * ×k corpora are only valid linearity evidence if replication neither
  * creates nor destroys near-duplicate structure and leaves every
  * pipeline_clean quality gate deciding identically per replica — these
  * tests pin exactly those properties, so a future edit to the
  * perturbation cannot silently turn the measurement super-linear (the
  * failure mode the first hash-reorder design hit: canonicalizing word
  * order manufactured intra-replica near-dups and ×2 data produced ~20×
  * candidate pairs).
  */
class ScaleHarnessSpec extends SparkTestBase {

  // ------------------------------------------------- letter permutation

  test("letterPerm is a bijection on a-z for every salt, identity for none") {
    for (salt <- 1 to 64) {
      val p = Scale.letterPerm(salt)
      assert(p.length == 26 && p.toSet.size == 26 && p.forall(c => c >= 'a' && c <= 'z'),
        s"salt=$salt must permute the alphabet")
      assert(p != ('a' to 'z').mkString, s"salt=$salt must not be the identity")
    }
  }

  test("distinct salts give distinct permutations up to the documented 275 bound") {
    // (a, b) cycles have periods 11 and 25 → exactly lcm = 275 distinct
    // permutations; the scaladoc's replica budget is pinned here at the
    // full documented limit, not just the bench factor range
    val perms = (1 to 275).map(Scale.letterPerm)
    assert(perms.distinct.size == perms.size,
      "two replicas sharing a permutation would be mutual near-dups")
  }

  test("the extended (Fisher-Yates) schedule keeps every replica-validity invariant through x512") {
    // round 16: the ×512 frontier needs 511 non-identity replicas and the
    // affine family holds only 272 usable ones; salts ≥ 276 are seeded
    // alphabet shuffles admitted by the same checks. Pin, over the whole
    // ×512 schedule: bijectivity, non-identity, pairwise distinctness
    // (affine and extended together), and the ≤2-hop stopword-escape
    // property perturbText's final remap arm depends on.
    val sw = operators.TextAnalysis.StopwordsEn.toSet
    def maxRun(p: String): Int = {
      def tr(s: String) = s.map(c => if (c >= 'a' && c <= 'z') p(c - 'a') else c)
      sw.map { s =>
        var d = 0; var t = tr(s)
        while (sw.contains(t) && d < 40) { d += 1; t = tr(t) }
        d
      }.max
    }
    val identity = ('a' to 'z').mkString
    val perms = (1 until 512).map(i => Scale.letterPerm(Scale.replicaSalt(i)))
    assert(perms.forall(p => p.length == 26 && p.toSet.size == 26),
      "every scheduled salt must permute the alphabet")
    assert(!perms.contains(identity), "no scheduled salt may be the identity")
    assert(perms.distinct.size == perms.size,
      "two replicas sharing a permutation would be mutual exact near-dups")
    assert(perms.forall(maxRun(_) <= 2),
      "every scheduled salt must keep the stopword-escape bound the remap arm needs")
    assert(Scale.replicaSalt(0) == 0, "replica 0 stays the identity corpus")
    assertThrows[IllegalArgumentException](Scale.replicaSalt(Scale.MaxReplicas))
  }

  test("SwCycleSalts is exactly the set of permutations with stopword runs the remap cannot escape") {
    // perturbText re-translates a token that lands in the stopword set up
    // to three more times; the otherwise(t4) arm is provably ∉ SW iff the
    // longest SW→SW run under the salt's permutation is ≤ 2 hops. Derive
    // the max run exhaustively for all 275 permutations and pin both the
    // cycle set and the ≤2 bound for every scheduled salt.
    val sw = operators.TextAnalysis.StopwordsEn.toSet
    def maxRun(salt: Int): Int = {
      val p = Scale.letterPerm(salt)
      def tr(s: String) = s.map(c => if (c >= 'a' && c <= 'z') p(c - 'a') else c)
      sw.map { s =>
        var d = 0; var t = tr(s)
        while (sw.contains(t) && d < 40) { d += 1; t = tr(t) }
        d
      }.max
    }
    val cyclic = (1 to 275).filter(maxRun(_) >= 3).toSet
    assert(cyclic == Scale.SwCycleSalts,
      s"derived cycle set $cyclic must match the hardcoded schedule exclusions")
    // and every scheduled salt needs at most the t4 arm
    val scheduled = (1 to 272).map(Scale.replicaSalt)
    assert(scheduled.forall(maxRun(_) <= 2))
    assert(scheduled.distinct.size == 272 &&
      scheduled.forall(s => s >= 1 && s <= 275 && !Scale.SwCycleSalts(s)),
      "replicaSalt must enumerate exactly the 272 non-cycle salts")
    assert((0 to 63).forall(i => Scale.replicaSalt(i) == i),
      "the harness factor range must keep the identity salt mapping")
  }

  test("perturbText remaps translated tokens that land in the stopword set — corpus-wide, many salts") {
    // the r12 design translated blindly, so the permutation PREIMAGE of a
    // stopword (a plausible 3-letter token) shifted stopwordRatio for
    // that replica; the remap keeps the stopword token count of every
    // document exact. Checked over the whole sf0.001 corpus at 8 salts.
    val sw = array(operators.TextAnalysis.StopwordsEn.map(lit): _*)
    def swCount(c: org.apache.spark.sql.Column) =
      size(filter(split(c, " ", -1), t => array_contains(sw, t)))
    // 54, 62, 147, 263 are the depth-2 salts — they exercise the deepest
    // (t3/t4) remap arms; the rest sample the schedule broadly. The two
    // replicaSalt entries push EXTENDED (Fisher–Yates, salt ≥ 276) salts
    // through the same corpus-wide check — before r17 only affine salts
    // ever ran end-to-end (ADVICE r16)
    for (salt <- Seq(1, 2, 3, 31, 54, 62, 63, 147, 263,
                     Scale.replicaSalt(273), Scale.replicaSalt(511))) {
      val drift = docs.select(
          swCount(col("text")).as("n0"),
          swCount(Scale.perturbText(col("text"), salt)).as("n1"))
        .filter(col("n0") =!= col("n1"))
      assert(drift.count() == 0,
        s"salt=$salt changes some document's stopword token count")
    }
  }

  // --------------------------------------------------- text perturbation

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")

  test("perturbText preserves every quality-gate statistic to the character") {
    val base = docs.limit(64).select(col("doc_id"), col("text"))
    def stats(c: org.apache.spark.sql.Column) = struct(
      length(c).as("len"),
      size(split(c, " ", -1)).as("words"),
      operators.TextAnalysis.stopwordRatio(c).as("swr"),
      operators.TextAnalysis.punctRatio(c).as("punct"))
    // salt 3 = affine family; replicaSalt(273) = first extended
    // (Fisher–Yates) salt — the gate-statistic invariant is a property of
    // "bijection on letters, identity elsewhere", so it must hold for
    // both families end-to-end (ADVICE r16)
    for (salt <- Seq(3, Scale.replicaSalt(273))) {
      val rows = base.select(
          stats(col("text")).as("orig"),
          stats(Scale.perturbText(col("text"), salt)).as("pert"))
        .filter(col("orig") =!= col("pert"))
      assert(rows.count() == 0,
        s"salt=$salt: perturbation must preserve length, word count, stopword and punct ratios exactly")
    }
  }

  test("perturbText kills cross-replica shingle overlap but is intra-replica similarity-preserving") {
    val base = docs.limit(48).select(col("doc_id"), col("text"))
    def shingles(c: org.apache.spark.sql.Column) =
      operators.Dedup.wordShingles(c, 5)
    // cross-replica: the SAME doc under two distinct salts shares no
    // shingles (a shared shingle would need all its words
    // substitution-fixed). The (1, extended) pair checks an affine ×
    // Fisher–Yates replica boundary — the kind a ×512 sweep actually
    // crosses (ADVICE r16)
    for ((sa, sb) <- Seq((1, 2), (1, Scale.replicaSalt(511)))) {
      val cross = base.select(
          array_intersect(shingles(Scale.perturbText(col("text"), sa)),
                          shingles(Scale.perturbText(col("text"), sb))).as("common"))
        .filter(size(col("common")) > 0)
      assert(cross.count() == 0, s"salts ($sa,$sb): replicas must share zero shingles")
    }
    // intra-replica: a bijection on words is a bijection on shingles, so
    // every pairwise |A∩B| and |A∪B| — hence Jaccard — is preserved
    val a = base.select(col("doc_id").as("ida"), shingles(col("text")).as("sa"),
      shingles(Scale.perturbText(col("text"), 1)).as("pa"))
    val b = base.select(col("doc_id").as("idb"), shingles(col("text")).as("sb"),
      shingles(Scale.perturbText(col("text"), 1)).as("pb"))
    val drift = a.crossJoin(b).filter(col("ida") < col("idb"))
      .select(
        size(array_intersect(col("sa"), col("sb"))).as("i0"),
        size(array_intersect(col("pa"), col("pb"))).as("i1"),
        size(array_union(col("sa"), col("sb"))).as("u0"),
        size(array_union(col("pa"), col("pb"))).as("u1"))
      .filter(col("i0") =!= col("i1") || col("u0") =!= col("u1"))
    assert(drift.count() == 0,
      "pairwise shingle intersections/unions must survive the substitution exactly")
  }

  // --------------------------------------------- tuned-variant anchoring

  test("scaled-parameter variants at factor 1 match their oracle-parameter twins") {
    // at f=1 the tuning rules are the oracle parameters (blockTokens=1,
    // H=8), so the variants must reproduce the oracle rows bit-for-bit —
    // anchoring the tuned curves to the correctness-checked queries
    val dir = sfDir
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    val editOracle = SparkEntry.queries("dedup_edit").run(spark, dir)
    val editTuned = SparkEntry.queries("dedup_edit_btuned").runAt(spark, dir, 1)
    assert(rows(editTuned) == rows(editOracle))
    val lshOracle = SparkEntry.queries("dedup_embedding_lsh").run(spark, dir)
    val lshTuned = SparkEntry.queries("dedup_embedding_lsh_htuned").runAt(spark, dir, 1)
    // the tuned variant offsets its duplicate copies differently (1e7 vs
    // 1e6) — normalize before comparing the pair sets
    def pairs(df: org.apache.spark.sql.DataFrame, off: Long) =
      df.collect().map(r => (r.getLong(0) % off, r.getLong(1) % off)).sorted.toSeq
    assert(pairs(lshTuned, 10000000L) == pairs(lshOracle, 1000000L))
  }

  test("dedup_semantic_ctuned: deterministic, keeps one representative per dropped pair") {
    val dir = sfDir
    val a = SparkEntry.queries("dedup_semantic_ctuned").runAt(spark, dir, 2)
    val b = SparkEntry.queries("dedup_semantic_ctuned").runAt(spark, dir, 2)
    val ra = a.collect().map(_.getLong(0)).sorted.toSeq
    assert(ra == b.collect().map(_.getLong(0)).sorted.toSeq,
      "hash-sampled centroids must make the tuned variant run-deterministic")
    val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
    assert(ra.nonEmpty && ra.size <= n)
  }

  // ------------------------------------------------------ id replication

  test("scaleDocuments: disjoint ids, exact ×k row count, identical per-replica gate fraction") {
    val base = docs.limit(300).select("doc_id", "text", "lang", "source", "n_chars")
    val k = 3
    val scaled = Scale.scaleDocuments(base, k)
    assert(scaled.count() == base.count() * k)
    assert(scaled.select("doc_id").distinct().count() == base.count() * k,
      "re-keyed ids must not collide across replicas")
    // every replica passes pipeline_clean's language/quality gates at the
    // same rate — the property that keeps the ×k workload k× the work
    val off = scaled.agg(max(col("doc_id"))).head().getLong(0) / k + 1
    val perReplica = scaled
      .withColumn("rep", (col("doc_id") / lit(off)).cast("int"))
      .withColumn("keep", operators.TextAnalysis.stopwordRatio(col("text")) >= 0.01)
      .groupBy("rep").agg(avg(col("keep").cast("double")).as("frac"))
      .select("frac").distinct()
    assert(perReplica.count() == 1, "gate fraction must be identical per replica")
  }

  test("scaleEmbeddings: intra-replica dot products bit-identical, cross-replica cosines collapse") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(64)
    val k = 3
    val scaled = Scale.scaleEmbeddings(emb, k)
    assert(scaled.count() == emb.count() * k)
    assert(scaled.select("vec_id").distinct().count() == emb.count() * k)
    val off = scaled.agg(max(col("vec_id"))).head().getLong(0) / k / 1000 * 1000 + 1000
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0f), (acc, x) => acc + x)
    // intra-replica: dot(T v, T w) = Σ s_j² v_j w_j with s_j² = 1 EXACTLY
    // in IEEE float and unchanged summation order ⇒ bit-identical floats
    val rep = scaled.filter(col("vec_id") >= off && col("vec_id") < 2 * off)
      .select((col("vec_id") - lit(off)).as("vec_id"), col("embedding").as("pe"))
    val base = emb.select(col("vec_id"), col("embedding").as("be"))
    val pairsDrift = base.join(rep, "vec_id").as("x")
      .crossJoin(base.join(rep, "vec_id").toDF("vid2", "be2", "pe2"))
      .filter(col("vec_id") < col("vid2"))
      .filter(dot(col("be"), col("be2")) =!= dot(col("pe"), col("pe2")))
    assert(pairsDrift.count() == 0,
      "sign flips must preserve every pairwise dot product bit-exactly")
    // cross-replica: the SAME vector in replicas 0 and 1 must not be a
    // near-dup of itself — its cosine collapses toward 0
    val norms = base.select(col("vec_id"), sqrt(dot(col("be"), col("be"))).as("n"))
    val cross = base.join(rep, "vec_id").join(norms, "vec_id")
      .select((dot(col("be"), col("pe")) / (col("n") * col("n"))).as("cos"))
      .filter(abs(col("cos")) > 0.75)
    assert(cross.count() == 0, "cross-replica self-cosine must collapse below near-dup range")
  }

  test("scaleLineitem: replica key spaces never collide, degree structure replicated") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet").limit(2000)
    val k = 3
    val scaled = Scale.scaleLineitem(li, k)
    assert(scaled.count() == li.count() * k)
    // each replica's key range sits in its own 2^24 window
    val windows = scaled.select((col("l_suppkey") / lit(1L << 24)).cast("long").as("w"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(windows.size == k, s"expected $k disjoint key windows, got $windows")
    // degree distribution (graph_pagerank's cost driver) is replicated, not fused
    val baseDeg = li.groupBy("l_suppkey").count()
      .groupBy("count").count().orderBy("count")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val repDeg = scaled.groupBy("l_suppkey").count()
      .groupBy("count").count().orderBy("count")
      .collect().map(r => (r.getLong(0), r.getLong(1) / k)).toSeq
    assert(repDeg == baseDeg, "per-replica degree histogram must equal the base")
  }

  test("pointJson: band fields only for >=2 runs, err field carries an escaped cause") {
    def t(runs: Double*) = Harness.Timing(runs.min, runs.toVector, None, 0L)
    // a single run never emits a band (there is no spread to report)
    assert(Scale.pointJson(512, t(86.555)) == """"x512":86.555""")
    // min-of-N carries its anchor confidence
    assert(Scale.pointJson(256, t(17.946, 17.946 * 1.06)) ==
      """"x256":17.946,"x256_band":1.060,"x256_runs":2""")
    // a point still above VarBar at MaxRuns says so
    assert(Scale.pointJson(64, t(2.0, 1.0, 1.9, 1.8)) ==
      """"x64":1.000,"x64_band":2.000,"x64_runs":4,"x64_unresolved":true""")
    // a failed point records its cause INSIDE the artifact (round 17:
    // the disk-full death whose stderr line was itself dropped), with
    // JSON-hostile characters escaped/flattened
    val j = Scale.pointJson(1024, Harness.Timing(-1.0, Vector.empty,
      Some("IOException: No space\nleft on \"device\" \\ path"), 0L))
    assert(j == """"x1024":-1.000,"x1024_err":"IOException: No space left on \"device\" \\ path"""")
    // the emitted fragment must parse as JSON when wrapped
    val parsed = graft.json.JsonText.parse(s"{$j}")
    assert(parsed.isInstanceOf[graft.json.JDoc])
  }

  test("pointJson and harness numbers stay valid JSON on a comma-decimal default locale") {
    // the default-locale f-interpolator writes 86,555 under Locale.GERMANY,
    // which made every number of the Scale artifact break its JSON line
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY)
      val j = Scale.pointJson(256, Harness.Timing(17.946, Vector(17.946, 17.946 * 1.06), None, 0L))
      assert(j == """"x256":17.946,"x256_band":1.060,"x256_runs":2""")
      assert(graft.json.JsonText.parse(s"{$j}").isInstanceOf[graft.json.JDoc])
      assert(Harness.num(86.555) == "86.555")
      assert(graft.json.JsonText.parse(s"""{"x":${Harness.num(86.555)}}""").isInstanceOf[graft.json.JDoc])
    } finally java.util.Locale.setDefault(saved)
  }
}
