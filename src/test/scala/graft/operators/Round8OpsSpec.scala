package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Specs for the round-8 operators: triangle counting, batch
  * sessionization, tf·idf top-k, URL canonicalization, NFC text
  * normalization, theta sketches. */
class Round8OpsSpec extends SparkTestBase {
  import spark.implicits._

  // --- triangles ---------------------------------------------------------

  test("triangleCount: K4 has 4 triangles, every node in 3 of them") {
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val got = Graph.triangleCount(edges).orderBy("node").as[(Long, Long)].collect()
    assert(got.toSeq == Seq((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)))
  }

  test("triangleCount: direction, duplicates and self-loops are ignored") {
    val base = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val noisy = Seq((2L, 1L), (2L, 3L), (1L, 3L), (3L, 3L), (1L, 2L), (4L, 5L))
      .toDF("src", "dst").union(base)
    val a = Graph.triangleCount(base).orderBy("node").as[(Long, Long)].collect().toSeq
    val b = Graph.triangleCount(noisy).orderBy("node").as[(Long, Long)].collect().toSeq
    assert(a == Seq((1L, 1L), (2L, 1L), (3L, 1L)))
    assert(b == a) // reversed/dup edges, self-loop and the 4-5 bridge add nothing
  }

  test("triangleCount: a path graph has none; adding the chord closes one") {
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    assert(Graph.triangleCount(path).count() == 0)
    val closed = path.union(Seq((3L, 1L)).toDF("src", "dst"))
    assert(Graph.triangleCount(closed).count() == 3) // 3 member rows of 1 triangle
  }

  test("triangleCount skew posture: wedges pivot on the low-degree endpoint") {
    // star + one rim edge: hub degree 5, rim degree ≤ 2. The only wedge
    // center allowed by orientation is a rim node — the hub's degree-5
    // adjacency never self-joins. (Behavioral check: counts stay exact.)
    val star = (2L to 6L).map(i => (1L, i)).toDF("src", "dst")
    val withRim = star.union(Seq((2L, 3L)).toDF("src", "dst"))
    val got = Graph.triangleCount(withRim).orderBy("node").as[(Long, Long)].collect()
    assert(got.toSeq == Seq((1L, 1L), (2L, 1L), (3L, 1L)))
  }

  // --- sessionize --------------------------------------------------------

  test("sessionize: gaps strictly over the threshold split sessions") {
    val rows = Seq(
      (7L, 1000L, 10L), (7L, 1100L, 20L), // gap 100 <= 100 → same session
      (7L, 1201L, 30L), // gap 101 > 100 → new session
      (9L, 5000L, 1L)) // separate key
      .toDF("user_id", "ts", "v")
    val got = Relational.sessionize(rows, col("user_id"), col("ts"), col("v"), gapNanos = 100L)
      .orderBy("k", "session_no")
      .select("k", "session_no", "session_start", "session_end", "n_events", "sum_value")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (7L, 1L, 1000L, 1100L, 2L, 30L),
      (7L, 2L, 1201L, 1201L, 1L, 30L),
      (9L, 1L, 5000L, 5000L, 1L, 1L)))
  }

  test("sessionize is partitioning-invariant") {
    val rows = (0L until 200L).map(i => (i % 7, i * 97L % 1000L * 10L, 1L))
      .toDF("user_id", "ts", "v")
    val a = Relational.sessionize(rows.repartition(1), col("user_id"), col("ts"), col("v"), 50L)
    val b = Relational.sessionize(rows.repartition(13), col("user_id"), col("ts"), col("v"), 50L)
    assert(a.orderBy("k", "session_no").collect().toSeq ==
      b.orderBy("k", "session_no").collect().toSeq)
  }

  // --- tf·idf ------------------------------------------------------------

  test("tfIdfTopK: rare terms outrank common ones; ties break by term") {
    val docs = Seq(
      (1L, "apple apple banana zebra1"),
      (2L, "banana cherry cherry"),
      (3L, "apple banana cherry")).toDF("id", "text")
    val got = TextAnalysis.tfIdfTopK(docs, col("id"), col("text"), k = 2, minTermLen = 5)
      .orderBy("doc_id", "rk")
      .select("doc_id", "rk", "term").as[(Long, Long, String)].collect().toSeq
    // doc 1: apple tf=2·(3M DIV 2)=3M TIES zebra1 1·3M → term asc; the
    // linear idf weighs tf-doubling equal to df-halving (ln would rank
    // zebra1 first — documented variant semantics)
    assert(got.take(2) == Seq((1L, 1L, "apple"), (1L, 2L, "zebra1")))
    // doc 2: cherry tf=2 df=2 → 2·(3M/2)=3M beats banana 1·(3M/3)=1M
    assert(got.slice(2, 4) == Seq((2L, 1L, "cherry"), (2L, 2L, "banana")))
    // doc 3: all tf=1 → apple (df2,1.5M) and cherry (df2,1.5M) tie → term asc
    assert(got.drop(4) == Seq((3L, 1L, "apple"), (3L, 2L, "cherry")))
  }

  // --- URL canonicalization ---------------------------------------------

  test("canonicalUrl: the full normalization matrix") {
    val cases = Seq(
      // scheme+host lowercase, www strip, port strip, utm strip, fragment
      "HTTP://WWW.Site.COM:80/a/b?utm_source=x&q=1#frag" -> "https://site.com/a/b?q=1",
      // tracking param mid-query; promote next param to '?'
      "https://site.com/p?utm_campaign=z&x=2&fbclid=abc" -> "https://site.com/p?x=2",
      // trailing slash on non-root path, bare '?' dropped
      "http://site.com/dir/?" -> "https://site.com/dir",
      // root slash is KEPT (it names the same resource, '' does not)
      "https://site.com/" -> "https://site.com/",
      // path case preserved; only scheme+host lowercases
      "HTTPS://SITE.com/CaseSensitive/Path" -> "https://site.com/CaseSensitive/Path",
      // :443 with explicit query, gclid only param
      "https://site.com:443/x?gclid=1" -> "https://site.com/x",
      // non-tracking params untouched, order preserved
      "https://site.com/x?b=2&a=1" -> "https://site.com/x?b=2&a=1",
      // leading tracking param with TWO survivors: the FIRST '&' must be
      // the one promoted to '?' (a greedy rewrite would take the last)
      "https://site.com/p?utm_source=x&a=1&b=2" -> "https://site.com/p?a=1&b=2")
    val got = cases.map(_._1).toDF("url")
      .select(Curation.canonicalUrl(col("url"))).as[String].collect().toSeq
    assert(got == cases.map(_._2))
  }

  test("urlDedup keeps the smallest id per canonical group") {
    val df = Seq(
      (5L, "http://www.a.com/p?utm_source=x"),
      (3L, "https://a.com/p"),
      (9L, "HTTPS://A.COM/p#top"),
      (1L, "https://b.com/q")).toDF("id", "url")
    val got = Curation.urlDedup(df, col("id"), col("url"))
      .orderBy("canon_url").as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("https://a.com/p", 3L, 3L), ("https://b.com/q", 1L, 1L)))
  }

  // --- NFC normalization --------------------------------------------------

  test("normalizeText: decomposed composes, singletons map, whitespace folds") {
    val decomposed = "Café" // e + COMBINING ACUTE
    val precomposed = "Café"
    val angstrom = "Å" // ANGSTROM SIGN, NFC singleton → U+00C5
    val df = Seq(decomposed, precomposed, angstrom, " a\t b\n\nc ").toDF("t")
      .select(TextAnalysis.normalizeText(col("t")).as("n"))
    val got = df.as[String].collect().toSeq
    assert(got(0) == "café")
    assert(got(0) == got(1))
    assert(got(2) == "å")
    assert(got(3) == "a b c")
  }

  test("NfcNormalize returns the input unchanged when already NFC (fast path)") {
    val df = Seq("plain ascii", "café").toDF("t")
      .select(TextAnalysis.nfc(col("t")).as("n"))
    assert(df.as[String].collect().toSeq == Seq("plain ascii", "café"))
  }

  // --- HTML extraction ----------------------------------------------------

  test("htmlExtract: scripts/styles die with their content, tags strip, entities decode") {
    val html = """<html><head><style>p{x}</style></head><body>
      |<h1>Title</h1><p class="a">Hello <b>world</b></p>
      |<script type="text/js">var x = "<p>not text</p>";</script>
      |<!-- note -->A &amp; B &lt;tag&gt; &quot;q&quot; &#39;s&#39;</body></html>""".stripMargin
    val got = Seq(html).toDF("h")
      .select(TextAnalysis.htmlExtract(col("h"))).as[String].head()
    assert(got == "Title Hello world A & B <tag> \"q\" 's'")
  }

  test("htmlExtract: '&amp;lt;' decodes ONCE (amp last), malformed HTML degrades safely") {
    val got = Seq("&amp;lt; <p>ok</p> <unclosed <b>bold").toDF("h")
      .select(TextAnalysis.htmlExtract(col("h"))).as[String].head()
    // &amp;lt; → &lt; (literal — the author escaped it); stray '<' swallows
    // up to the next '>' (tag-stripper semantics, never an error)
    assert(got == "&lt; ok bold")
  }

  // --- exact correlation --------------------------------------------------

  test("corrExact: perfect linear ±1, partitioning-invariant digits") {
    val rows = (1 to 100).map(i => ("up", i.toDouble, 2.0 * i + 3)) ++
      (1 to 100).map(i => ("down", i.toDouble, -0.5 * i + 10))
    val df = rows.toDF("g", "x", "y")
    val got = Relational.corrExact(df, col("g"), col("x"), col("y"))
      .orderBy("g").as[(String, Long, Double)].collect().toSeq
    assert(got == Seq(("down", 100L, -1.0), ("up", 100L, 1.0)))
    val p13 = Relational.corrExact(df.repartition(13), col("g"), col("x"), col("y"))
      .orderBy("g").as[(String, Long, Double)].collect().toSeq
    assert(p13 == got) // decimal sums: bit-identical at any partitioning
  }

  // --- theta sketches -----------------------------------------------------

  test("theta sketches: exact-mode set algebra equals exact set algebra") {
    val df = (0L until 1000L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("k", "g")
    // A = evens 0..998, B = multiples of 3 (via separate filter)
    val a = df.filter(col("g") === "a").agg(Sketches.thetaAgg(col("k")).as("sa"))
    val b = df.filter(col("k") % 3 === 0).agg(Sketches.thetaAgg(col("k")).as("sb"))
    val row = a.crossJoin(b).select(
      Sketches.thetaCount(col("sa")).as("na"),
      Sketches.thetaCount(col("sb")).as("nb"),
      Sketches.thetaCount(Sketches.thetaIntersect(col("sa"), col("sb"))).as("ni"),
      Sketches.thetaCount(Sketches.thetaUnion(col("sa"), col("sb"))).as("nu"),
      Sketches.thetaCount(Sketches.thetaANotB(col("sa"), col("sb"))).as("nd"))
      .as[(Long, Long, Long, Long, Long)].head()
    // evens: 500; mult of 3: 334; both (mult of 6): 167; either: 667; evens-not-3: 333
    assert(row == ((500L, 334L, 167L, 667L, 333L)))
  }

  test("theta sketch aggregation is partitioning-invariant (mergeable)") {
    val df = (0L until 5000L).map(i => (i * 7919L % 2048L)).toDF("k")
    def sketch(parts: Int): Long = df.repartition(parts)
      .agg(Sketches.thetaCount(Sketches.thetaAgg(col("k"))).as("n"))
      .as[Long].head()
    assert(sketch(1) == sketch(17))
    assert(sketch(17) == 2048L.min(5000L) - (2048L - df.distinct().count()))
  }

  test("theta sketch past nominal entries: estimate within the published bounds") {
    val n = 100000L
    val df = (0L until n).map(i => i).toDF("k")
    val est = df.agg(Sketches.thetaCount(Sketches.thetaAgg(col("k"), 4096)).as("n"))
      .as[Long].head()
    // RSE ≈ 1/√k ≈ 1.6% at k=4096; allow 5σ
    assert(math.abs(est - n) < n * 0.08, s"estimate $est too far from $n")
  }
}
