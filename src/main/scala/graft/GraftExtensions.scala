package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._

/** Session-extension entry point: registers every graft SQL function at
  * session build time, so a cluster can enable the engine with
  * `--conf spark.sql.extensions=graft.GraftExtensions` and use
  * `jq_*`/`json_*` from plain SQL with no driver code.
  * (`Jq.register(spark)` remains the runtime equivalent.) */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functionBuilders.foreach { case (name, builder) =>
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        (exprs: Seq[Expression]) => builder(exprs)))
    }
    // jq index paths over typed struct/map columns compile to native
    // Catalyst field accesses (nested-schema pruning + codegen), and jq
    // over readJsonl's `doc` reads the line's parse; see
    // graft.plans.JqPathCompile for the equivalence arguments.
    e.injectOptimizerRule(_ => graft.plans.JqPathCompile)
  }
}

object GraftExtensions {

  private def foldableInt(e: Expression, fn: String): Int = {
    require(e.foldable, s"$fn: the width argument must be a literal integer")
    e.eval(null).asInstanceOf[Number].intValue
  }

  /** name → expression builder, shared by [[GraftExtensions]] and
    * [[Jq.register]]. */
  val functionBuilders: Seq[(String, Seq[Expression] => Expression)] = {
    def arity(n: Int, name: String)(b: Seq[Expression] => Expression): Seq[Expression] => Expression =
      exprs => { require(exprs.length == n, s"$name takes $n arguments"); b(exprs) }

    Jq.functions.map(f => f.name -> (f(_: Seq[Expression]))) ++ Seq[(String, Seq[Expression] => Expression)](
      // text/vector kernels (round 6): the curation surface from SQL
      "word_shingles" -> arity(2, "word_shingles")(exprs =>
        WordShingles(exprs.head, foldableInt(exprs(1), "word_shingles"))),
      "char_grams" -> arity(2, "char_grams")(exprs =>
        CharGrams(exprs.head, foldableInt(exprs(1), "char_grams"))),
      "char_gram_hashes" -> arity(2, "char_gram_hashes")(exprs =>
        CharGramHashes(exprs.head, foldableInt(exprs(1), "char_gram_hashes"))),
      "simhash64" -> arity(1, "simhash64")(exprs => Simhash64(exprs.head)),
      "char_entropy" -> arity(1, "char_entropy")(exprs => CharEntropy(exprs.head)),
      "rolling_fingerprint" -> arity(1, "rolling_fingerprint")(exprs =>
        RollingFingerprint(exprs.head)),
      "vec_cosine" -> arity(2, "vec_cosine")(exprs => CosineSim(exprs.head, exprs(1))),
      "vec_dot" -> arity(2, "vec_dot")(exprs => VecDot(exprs.head, exprs(1))),
      // media decode from SQL (round 10): the builder runs at analysis
      // time on the driver — plan time — so it captures the SAME decoder
      // snapshot the Scala API does; SQL and Scala decodes of one payload
      // can never disagree about plugins
      "decode_media" -> arity(2, "decode_media")(exprs =>
        DecodeMediaExpr(exprs.head, exprs(1),
          graft.operators.Multimodal.MediaDecoders.snapshot(), None)),
      "dhash_bands" -> arity(1, "dhash_bands")(exprs => DhashBandsExpr(exprs.head)))
  }
}
