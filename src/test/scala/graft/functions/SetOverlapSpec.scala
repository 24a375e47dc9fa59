package graft.functions

import org.apache.spark.sql.{AnalysisException, Column}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** SetOverlap is the one verify kernel of the near-dup operators, so its
  * ratios must be the ones Spark's own set functions give: |A∩B| / |A∪B|
  * equals `size(array_intersect) / size(array_union)` bit for bit
  * wherever the union is non-empty (duplicates, NULL elements, empty
  * sides and multibyte strings included), `pairwiseContainment` keeps its
  * former `array_intersect` ratios, and a NULL operand or an empty
  * denominator is SQL NULL. The text forms, which read word n-grams in
  * place, equal the array forms over `word_shingles` bit for bit: the
  * MinHash signature element for element, and Jaccard, |A∩B|/|A| and
  * |A∩B|/|B|, NULL included. */
class SetOverlapSpec extends graft.SparkTestBase {

  import spark.implicits._

  private val vocab = Vector("a", "b", "c", "d", "", "é", "日本", "straße", "😀", "a b")

  private def randomArray(rng: scala.util.Random): Option[Seq[String]] =
    if (rng.nextInt(12) == 0) None
    else Some(Seq.fill(rng.nextInt(7))(
      if (rng.nextInt(8) == 0) null else vocab(rng.nextInt(vocab.size))))

  test("jaccard equals size(array_intersect) / size(array_union) wherever the union is non-empty") {
    val rng = new scala.util.Random(0x5e7)
    val fixed = Seq(
      (Some(Seq.empty[String]), Some(Seq.empty[String])),
      (Some(Seq("a")), Some(Seq.empty[String])),
      (Some(Seq(null, null)), Some(Seq(null))),
      (Some(Seq("a", "a", "b")), Some(Seq("b", "b"))),
      (Some(Seq("x")), None))
    val rows = fixed ++ Seq.fill(400)((randomArray(rng), randomArray(rng)))
    val df = rows.toDF("a", "b")
    val a = col("a")
    val b = col("b")
    val viaSets = when(size(array_union(a, b)) > 0,
      size(array_intersect(a, b)).cast("double") / size(array_union(a, b)))
    val got = df.select(a, b, Dedup.jaccard(a, b).as("j"), viaSets.as("s"),
        (a.isNull || b.isNull).as("null_operand"), (size(array_union(a, b)) === 0).as("empty"))
      .collect()
    assert(got.count(r => !r.isNullAt(3)) > 300, "most random pairs have a non-empty union")
    got.foreach { r =>
      val j = Option(r.get(2)).map(v => java.lang.Double.doubleToLongBits(v.asInstanceOf[Double]))
      val s = Option(r.get(3)).map(v => java.lang.Double.doubleToLongBits(v.asInstanceOf[Double]))
      assert(j == s, s"a=${r.get(0)} b=${r.get(1)}: kernel ${r.get(2)} vs Spark ${r.get(3)}")
      if (r.getBoolean(4) || (!r.isNullAt(5) && r.getBoolean(5)))
        assert(r.isNullAt(2), s"a=${r.get(0)} b=${r.get(1)}: NULL operand or empty union must be NULL")
    }
  }

  test("pairwiseContainment keeps the array_intersect ratios over random texts") {
    val rng = new scala.util.Random(0xC0)
    val words = Vector("the", "cat", "sat", "mat", "é", "日本", "x")
    val d = (1L to 60L).map(i =>
      (i, Seq.fill(rng.nextInt(9))(words(rng.nextInt(words.size))).mkString(" ")))
      .toDF("doc_id", "text")
    val pairs = (for (i <- 1L to 60L; k <- 1L to 3L if i + k <= 60L) yield (i, i + k))
      .toDF("id_a", "id_b")
    val got = Dedup.pairwiseContainment(d, "doc_id", col("text"), 3, pairs)
    val sh = d.select(col("doc_id"), Dedup.wordShingles(col("text"), 3).as("sh"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
    val want = pairs
      .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        when(size(col("sh_a")) > 0, inter / size(col("sh_a"))).as("c_ab"),
        when(size(col("sh_b")) > 0, inter / size(col("sh_b"))).as("c_ba"))
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)), Option(r.get(3)))).toSet
    val g = rowsOf(got)
    assert(g.size == pairs.count())
    assert(g.exists(_._3.isEmpty) && g.exists(_._3.exists(_ != 0.0)), "fixture covers both cases")
    assert(g == rowsOf(want))
  }

  test("a NULL operand is NULL; an operand that is not ARRAY<STRING> fails at analysis") {
    val df = Seq((Option(Seq("a")), Option.empty[Seq[String]])).toDF("a", "b")
    assert(df.select(Dedup.jaccard(col("a"), col("b"))).head().isNullAt(0))
    assert(df.select(Dedup.jaccard(col("b"), col("a"))).head().isNullAt(0))
    val e = intercept[AnalysisException](
      df.select(Dedup.jaccard(col("a"), array(lit(1), lit(2)))).collect())
    assert(e.getMessage.contains("set_overlap takes two ARRAY<STRING> operands, not array<int>"),
      e.getMessage)
  }

  /** Texts whose tokens include empty ones (leading, trailing and
    * adjacent spaces), multibyte and supplementary-plane characters and
    * a small vocabulary (so n-grams repeat), from zero to nine tokens
    * (shorter than most `n`), or NULL. */
  private def randomText(rng: scala.util.Random): Option[String] = {
    val words = Vector("a", "b", "a b", "", "é", "日本", "😀", "straße", "x𝄞y")
    if (rng.nextInt(12) == 0) None
    else Some(Seq.fill(rng.nextInt(10))(words(rng.nextInt(words.size))).mkString(" "))
  }

  test("text forms equal the array forms over word_shingles: signature, jaccard and containment") {
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    val rng = new scala.util.Random(0x7e47)
    val fixed = Seq("", " ", "  ", "a", " a", "a ", "a  b", " a b ", "a b a b a b", "é 日本 😀",
      "a b c a b c a b d").map(Option(_))
    val texts = fixed ++ Seq.fill(300)(randomText(rng))
    val df = (texts.zip(texts.reverse) ++ texts.map(t => (t, t)) ++
      Seq.fill(200)((randomText(rng), randomText(rng)))).toDF("a", "b")
    val (a, b) = (col("a"), col("b"))
    def bits(v: Any): Option[Long] =
      Option(v).map(x => java.lang.Double.doubleToLongBits(x.asInstanceOf[Double]))
    def ratio(over: SetOverlap.Over, x: Column, y: Column, width: Int): Column =
      column(SetOverlap(expression(x), expression(y), over, width))
    val overs = Seq(SetOverlap.Union, SetOverlap.LeftSide, SetOverlap.RightSide)
    var nonNull = 0
    for (n <- 1 to 5; frame <- Seq(df, df.repartition(3))) {
      val (sa, sb) = (Dedup.wordShingles(a, n), Dedup.wordShingles(b, n))
      val got = frame.select(Seq(a, b,
          Dedup.minhashSignature(a, n), Dedup.minhashSignature(sa)) ++
          overs.flatMap(o => Seq(ratio(o, a, b, n), ratio(o, sa, sb, 0))): _*)
        .collect()
      assert(got.length == df.count())
      got.foreach { r =>
        val where = s"n=$n a=${r.get(0)} b=${r.get(1)}"
        assert(Option(r.getSeq[Long](2)) == Option(r.getSeq[Long](3)), s"$where: signature")
        assert(r.isNullAt(0) == r.isNullAt(2), s"$where: NULL text, NULL signature")
        overs.indices.foreach { k =>
          assert(bits(r.get(4 + 2 * k)) == bits(r.get(5 + 2 * k)),
            s"$where ${overs(k)}: text ${r.get(4 + 2 * k)} vs array ${r.get(5 + 2 * k)}")
          if (!r.isNullAt(4 + 2 * k)) nonNull += 1
        }
      }
    }
    assert(nonNull > 1000, s"most ratios are defined: $nonNull")
  }

  test("text forms: mixed operand types and a missing n-gram width fail at analysis") {
    val df = Seq(("a b", Seq("a"))).toDF("t", "s")
    val mixed = intercept[AnalysisException](
      df.select(Dedup.jaccard(col("t"), col("s"), 2)).collect())
    assert(mixed.getMessage.contains("set_overlap takes two STRING operands, not array<string>"),
      mixed.getMessage)
    val noWidth = intercept[AnalysisException](df.select(Dedup.jaccard(col("t"), col("t"))).collect())
    assert(noWidth.getMessage.contains("set_overlap over STRING operands needs an n-gram width n >= 1"),
      noWidth.getMessage)
  }
}
