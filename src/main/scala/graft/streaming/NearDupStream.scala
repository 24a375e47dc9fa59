package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.Dedup

/** Streaming near-duplicate detection — the live-tail counterpart of
  * [[graft.operators.Dedup.minhashNearDups]] (reference corpus-dedup
  * surface; see bnclabs/bd README goals), expressed as ONE stateful
  * Structured-Streaming operator.
  *
  * Shape: shingle → minhash → LSH band keys (the same codegen'd kernels
  * as the batch path), then `flatMapGroupsWithState` keyed by
  * `(band, bucket)`. Each bucket's state holds the EXEMPLARS that landed
  * in it (doc id + distinct shingle set + event time); an arriving doc is
  * verified against each exemplar with exact set Jaccard and emits a
  * `(id_a, id_b, j)` pair for every true near-dup (j ≥ threshold) the
  * moment the LATER of the two arrives. The emitted pair SET is therefore
  * arrival-order independent: any micro-batch split of the same rows
  * (with both ends inside the horizon) yields the same pairs, which is
  * what lets the identical declaration run as the batch backfill and be
  * oracle-checked against a brute-force pair list.
  *
  * 100 TB posture:
  *  - State is bounded by the HORIZON, not stream history: an exemplar is
  *    dropped once the event-time watermark passes its time + horizon
  *    (pruned inline on the next bucket visit, and by an event-time
  *    timeout when the bucket goes quiet). A re-occurrence farther apart
  *    than the horizon is re-admitted as novel — the same documented
  *    trade as [[EventStreams.dedupWithinWatermark]]; the batch backfill
  *    reconciles across horizons.
  *  - Per band the shuffle carries the doc's shingle set once (16 bands
  *    by default): the price of one-pass in-state exact verification.
  *    State stores STRING shingles so streaming j is bit-identical to the
  *    batch/oracle value; a deployment that can take the hashed-payload
  *    collision risk (birthday-shaped, see [[nearDupPairs]]'s
  *    `hashShingles` doc for the aggregate bound) can hash shingles to
  *    longs for ~8× smaller state.
  *  - `maxBucketSize` is the mega-bucket valve (boilerplate shingles
  *    hashing together): arrivals beyond the cap still VERIFY against the
  *    retained exemplars but are not retained themselves, so a degenerate
  *    bucket costs O(cap) per arrival instead of O(arrivals).
  *  - Streaming emits a pair once per COLLIDING BAND; the batch path
  *    dedups `(id_a, id_b)` directly. Spark does not allow a second
  *    stateful operator downstream of `flatMapGroupsWithState`, so the
  *    streaming contract is an idempotent sink keyed on the pair (the
  *    standard exactly-once-by-key sink pattern).
  *  - SIZE STATE-STORE PARTITIONS TO THROUGHPUT, NOT CORPUS.
  *    `spark.sql.shuffle.partitions` at the query's FIRST start pins its
  *    state-partition count for the checkpoint's lifetime, and every
  *    micro-batch runs one task per state partition (store load +
  *    commit + maintenance) regardless of how few arrivals it carries —
  *    a round-16 decomposition measured per-micro-batch wall as a
  *    near-pure function of that count on this operator (~2s/batch at
  *    64 partitions, ~19s at 1024, IDENTICAL state and arrival rate;
  *    with partitions scaled to corpus size the engine's wall went f²
  *    while state — horizon-bounded — stayed flat at every factor).
  *    The batch operating rule "shuffle partitions ∝ data size" is
  *    exactly wrong here: pick partitions for one micro-batch's rows
  *    (arrivals/sec × trigger interval, ~100k–1M banded rows per task
  *    wave), which is corpus-independent for a stable ingest rate.
  */
object NearDupStream {

  /** One exploded (band-bucket, doc) row. `ts` keeps exact nanos; the
    * derived `event_time` column exists only for the watermark. Generic
    * in the shingle element: `String` on the default (bit-exact) path,
    * `Long` when `hashShingles` trades a birthday-bounded collision risk
    * for ~8× lighter shuffle/state (see [[nearDupPairs]]). */
  private[streaming] final case class BandedDoc[E](
      bkey: String, doc_id: Long, ts: Long,
      event_time: java.sql.Timestamp, sh: Seq[E])
  /** Bucket state entry: one retained exemplar. Shingles are stored
    * distinct, so `sh.size` is the set cardinality. */
  private[streaming] final case class Exemplar[E](
      doc_id: Long, t_us: Long, sh: Seq[E])
  /** Verified near-dup pair, id_a < id_b, j = |A∩B|/|A∪B| exact. */
  final case class NearDupPair(id_a: Long, id_b: Long, j: Double)

  /** Near-dup pairs over a (possibly streaming) document frame.
    *
    * @param docs          input with `id` (long), `tsCol` (nanos long) and
    *                      the text column; batch or `readStream`
    * @param n             word-shingle width
    * @param threshold     exact-Jaccard acceptance bar
    * @param watermarkDelay allowed event-time lateness (streaming only)
    * @param horizonMicros how long an exemplar stays eligible for pairing
    * @param maxBucketSize 0 = unbounded; else retain at most this many
    *                      exemplars per (band, bucket)
    * @param hashShingles  false (default) shuffles and stores STRING
    *                      shingles — streaming j is bit-identical to the
    *                      batch/oracle value on ANY corpus. true hashes
    *                      each shingle to a long (xxhash64) before the
    *                      band explode: candidates are unchanged (band
    *                      keys still come from the string minhash), and
    *                      |A∩B|/|A∪B| over hashed sets equals the exact
    *                      value unless two distinct shingles of the pair's
    *                      UNION collide in 64 bits. That risk is
    *                      birthday-shaped, not per-shingle-pair: a pair
    *                      whose union holds S distinct shingles miscounts
    *                      with probability ≲ S²·2⁻⁶⁵ (≈ 3·10⁻¹² at
    *                      S = 10⁴, i.e. book-length docs), and corpus-wide
    *                      it scales with the number of VERIFIED pairs —
    *                      ≈ P·S²·2⁻⁶⁵, so even 10⁹ verified book-length
    *                      pairs expect < 0.003 miscounted j values (and a
    *                      miscount shifts j by one set element, flipping
    *                      only threshold-boundary pairs). That is the
    *                      100-TB trade the state-size note above
    *                      describes, measured ~3× wall at a ×256 corpus
    *                      (the string path's tail is GC over billions of
    *                      small strings, not algorithmic: the banding's
    *                      batch twin holds ~1.9×/octave on the same
    *                      corpus while string-state streaming pays 3.3×).
    */
  def nearDupPairs(docs: DataFrame, id: String, tsCol: String, text: Column,
                   n: Int = 3, threshold: Double = 0.8,
                   watermarkDelay: String = "10 minutes",
                   horizonMicros: Long = 3600L * 1000000L,
                   maxBucketSize: Int = 0,
                   hashShingles: Boolean = false)
                  (implicit spark: SparkSession): DataFrame = {
    val streaming = docs.isStreaming
    val banded = bandedFrame(docs, id, tsCol, text, n, hashShingles)
    val watermarked =
      if (streaming) banded.withWatermark("event_time", watermarkDelay) else banded

    if (hashShingles)
      runPairs[Long](watermarked, streaming, threshold, horizonMicros, maxBucketSize)
    else
      runPairs[String](watermarked, streaming, threshold, horizonMicros, maxBucketSize)
  }

  /** The stateless front half of [[nearDupPairs]] — shingle + minhash
    * once per doc, then explode to one `(bkey, doc_id, ts, event_time,
    * sh)` row per band. Split out so this projection, its bucket
    * occupancy and the stateful engine can be measured separately
    * (SCALING.md, "stream_neardup addendum (round 16)"); production
    * callers use [[nearDupPairs]]. */
  private[graft] def bandedFrame(docs: DataFrame, id: String, tsCol: String,
                                 text: Column, n: Int,
                                 hashShingles: Boolean): DataFrame = {
    // shingle + signature once per doc, then explode to one row per band
    // with a compact string bucket key "band:sigSlice". The signature —
    // hence every band key, hence the candidate set — always comes from
    // the STRING shingles; hashShingles only changes the verify payload.
    val base = docs.select(
        col(id).cast("long").as("doc_id"),
        col(tsCol).cast("long").as("ts"),
        Dedup.wordShingles(text, n).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", Dedup.minhashSignature(col("sh")))
      // hash BEFORE the band explode: a payload expression in the same
      // projection as the generator would re-hash every shingle once per
      // band (16×) instead of once per doc
      .withColumn("shp",
        if (hashShingles) transform(col("sh"), s => xxhash64(s)) else col("sh"))
    base.select(
        col("doc_id"), col("ts"),
        EventStreams.eventTime(col("ts")).as("event_time"), col("shp").as("sh"),
        explode(transform(sequence(lit(0), lit(Dedup.MinhashBands - 1)), b =>
          concat_ws(":", b.cast("string"),
            concat_ws(",", transform(
              slice(col("sig"), b * Dedup.MinhashRows + 1, lit(Dedup.MinhashRows)),
              _.cast("string")))))).as("bkey"))
      .select(col("bkey"), col("doc_id"), col("ts"), col("event_time"), col("sh"))
  }

  /** The stateful pair engine, generic in the shingle element type (the
    * two instantiations differ only in the verify payload's encoding —
    * candidate generation, state lifecycle and emission are one code
    * path, so the hashed variant can never drift semantically). */
  private def runPairs[E: scala.reflect.runtime.universe.TypeTag](
      watermarked: DataFrame, streaming: Boolean, threshold: Double,
      horizonMicros: Long, maxBucketSize: Int)
      (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val horizonMs = math.max(1L, horizonMicros / 1000L)
    val timeoutConf =
      if (streaming) GroupStateTimeout.EventTimeTimeout else GroupStateTimeout.NoTimeout

    val pairs = watermarked.as[BandedDoc[E]]
      .groupByKey(_.bkey)
      .flatMapGroupsWithState[List[Exemplar[E]], NearDupPair](
        OutputMode.Append, timeoutConf) {
        (_: String, rows: Iterator[BandedDoc[E]], state: GroupState[List[Exemplar[E]]]) =>
          def wmMs = if (streaming) state.getCurrentWatermarkMs() else Long.MinValue
          def prune(ex: List[Exemplar[E]]): List[Exemplar[E]] =
            if (!streaming) ex
            else ex.filter(e => e.t_us / 1000L + horizonMs > wmMs)
          def arm(ex: List[Exemplar[E]]): Unit = if (streaming && ex.nonEmpty)
            state.setTimeoutTimestamp(
              math.max(ex.iterator.map(_.t_us / 1000L).max + horizonMs, wmMs + 1L))
          if (state.hasTimedOut) {
            val kept = prune(state.getOption.getOrElse(Nil))
            if (kept.isEmpty) state.remove() else { state.update(kept); arm(kept) }
            Iterator.empty
          } else {
            var exemplars = prune(state.getOption.getOrElse(Nil))
            // cache the set view of each exemplar across arrivals in this
            // invocation (state stores Seq for the encoder's sake)
            val setOf = scala.collection.mutable.HashMap.empty[Long, Set[E]]
            def exSet(e: Exemplar[E]): Set[E] =
              setOf.getOrElseUpdate(e.doc_id, e.sh.toSet)
            val out = List.newBuilder[NearDupPair]
            // doc-id order within the invocation makes the batch backfill
            // (whole bucket in one call) deterministic
            rows.toVector.sortBy(_.doc_id).foreach { d =>
              val a = d.sh.toSet
              exemplars.foreach { e =>
                if (e.doc_id != d.doc_id) {
                  val b = exSet(e)
                  val inter = if (a.size <= b.size) a.count(b) else b.count(a)
                  val uni = a.size + b.size - inter
                  if (uni > 0) {
                    val j = inter.toDouble / uni
                    if (j >= threshold)
                      out += NearDupPair(math.min(e.doc_id, d.doc_id),
                        math.max(e.doc_id, d.doc_id), j)
                  }
                }
              }
              if (maxBucketSize <= 0 || exemplars.size < maxBucketSize) {
                val shd = a.toSeq
                setOf(d.doc_id) = a
                exemplars = Exemplar(d.doc_id, d.ts / 1000L, shd) :: exemplars
              }
            }
            if (exemplars.isEmpty) state.remove() else state.update(exemplars)
            arm(exemplars)
            out.result().iterator
          }
      }

    val out = pairs.toDF("id_a", "id_b", "j")
    // batch backfill: one row per pair (streaming leaves per-band
    // emissions to the idempotent sink — see scaladoc)
    if (streaming) out else out.dropDuplicates("id_a", "id_b")
  }
}
