package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Banded blocking, the candidate step every near-dup operator shares
  * (MinHash bands, SimHash block pairs, SRP tables, dHash bands): rows
  * are exploded to one row per (id, bucket key), over-full buckets are
  * dropped by [[valve]], and [[selfJoin]] pairs the ids inside each
  * bucket. Cost is O(candidates), never O(n²).
  *
  * THE B² VALVE. A bucket with B members generates B² candidate pairs.
  * On a fixed key space (SimHash's 91 block pairs × 2^12 values, SRP's
  * tables·2^H at fixed width, dHash's 4 × 2^16 bands) per-bucket
  * occupancy grows linearly with the corpus, so the self-join grows
  * quadratically; and the mega-buckets (boilerplate shingles, logos,
  * blank pages, byte-identical vectors) are both quadratic AND useless
  * as discriminators. `maxBucketSize > 0` drops every bucket with more
  * members than that — exactly those, on every path below, so which
  * path runs never changes the result. CAVEAT: byte-identical
  * mega-clusters collide in EVERY band, so a capped run assumes exact
  * duplicates were removed first ([[Dedup.exactDedup]]; the pipeline
  * order is exact-then-near). A genuinely near pair keeps its other
  * bands' chances, so capping can only drop pairs and so split or
  * shrink clusters, never invent one; the pigeonhole guarantees of the
  * SimHash and dHash bandings hold only for pairs with an uncapped
  * agreeing bucket.
  *
  * The path is picked by one structural fact the caller declares: the
  * size of its bucket key space.
  *   - Space ≤ [[HotKeyBudget]]: the OVER-limit key set is bounded driver
  *     metadata at any corpus size (the IVF-centroid class), so one
  *     partial-aggregated probe job collects it at plan build. When the
  *     cap is a no-op (the hot set is empty) the main plan is EXACTLY
  *     the uncapped plan; when engaged, a codegen'd InSet filter (O(1)
  *     per row, at most a budget of keys as task metadata) replaces a
  *     second corpus-wide join. A no-op cap still pays the probe's one
  *     extra evaluation of the (column-pruned) bucket explode, about
  *     +0.7 s for fixed-width SRP at sf0.1: avoiding it would mean
  *     pinning working-set blocks, which the [[Checkpoints]] rule
  *     forbids.
  *   - Space unbounded or above the budget (MinHash band slices, SRP at
  *     derived width, which tracks the corpus): the under-limit key set
  *     is corpus-sized, so it stays on the executors in a left-semi
  *     join. The `merge` hint keeps it spill-safe at any size: the
  *     count side's post-aggregation estimate would otherwise be
  *     broadcast (the OOM duplicateRuns measured at a ×32 corpus on its
  *     gram counts).
  * Either way the count is one partial-aggregated pass over the bucket
  * keys, and the driver never collects more than the budget allows.
  */
object Blocking {

  /** The most bucket keys a probe may collect to the driver. */
  val HotKeyBudget: Long = 1L << 22

  /** The declared space of a bucket key with no structural bound. */
  val Unbounded: Long = Long.MaxValue

  /** `buckets` without the rows of buckets (`key` values) holding more
    * than `maxBucketSize` rows; unchanged when `maxBucketSize <= 0`.
    * `space` is how many distinct values `key` can take, which picks
    * the path (see [[Blocking]]); a probe needs an atomic `key`. */
  def valve(buckets: DataFrame, key: String, space: Long,
            maxBucketSize: Int): DataFrame =
    if (maxBucketSize <= 0) buckets
    else if (space <= HotKeyBudget) {
      val hot = buckets.groupBy(col(key)).count()
        .filter(col("count") > maxBucketSize).select(col(key))
        .collect().map(_.get(0)).toSeq
      if (hot.isEmpty) buckets
      else buckets.filter(!col(key).isInCollection(hot))
    } else buckets.join(
      buckets.groupBy(col(key)).count()
        .filter(col("count") <= maxBucketSize).select(col(key))
        .hint("merge"),
      Seq(key), "left_semi")

  /** Distinct `(id_a, id_b)` pairs, `id_a < id_b`, of rows sharing a
    * `key` value. Each side is `id_a`/`id_b`, then `payload("a")` /
    * `payload("b")` when given, then the key as `<key>_a`/`<key>_b`;
    * `keep`, over those columns, filters the joined pairs before the
    * distinct, so only survivors pay it. A payload rides the one bucket
    * exchange on purpose: pair candidates are corpus-proportional (unlike
    * annTopK's per-query top-k, where dedup-on-ids wins), so an ids-only
    * join shuffles O(candidates) rows through the distinct AND
    * re-shuffles the corpus through two re-attach joins — SRP's vectors
    * measured 19× slower that way on a ×32 corpus (14 s → 265 s at fixed
    * width; 3 s → 13 s at derived width). Shuffle-hash, not sort-merge:
    * the exploded sides are large but each bucket's build set is small,
    * so hashing skips two sorts of the exploded rows. */
  def selfJoin(buckets: DataFrame, id: String, key: String,
               payload: Option[String => Column] = None,
               keep: Option[Column] = None): DataFrame = {
    def side(s: String): DataFrame = buckets.select(
      (col(id).as(s"id_$s") +: payload.map(_(s)).toSeq) :+ col(key).as(s"${key}_$s"): _*)
    val joined = side("a").hint("shuffle_hash")
      .join(side("b"), col(s"${key}_a") === col(s"${key}_b") && col("id_a") < col("id_b"))
    keep.fold(joined)(joined.filter)
      .select(col("id_a"), col("id_b")).distinct()
  }
}
