package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming surface over the `events` table shape
  * (event_id, ts [nanos], user_id, event_type, value, props).
  *
  * Every transform here is expressed once and runs on BOTH a batch
  * DataFrame and a `readStream` DataFrame — the Spark-native way to keep a
  * lambda-free architecture: the batch path is the backfill, the streaming
  * path is the live tail. Event time stays in exact BIGINT nanoseconds
  * until presentation (no double round-trips), so watermarks/windows are
  * reproducible. */
object EventStreams {

  /** Exact nanos → TIMESTAMP (microsecond precision) via integer division;
    * never routes through DOUBLE (which would lose sub-µs exactness). */
  def eventTime(tsNanos: Column): Column =
    timestamp_micros(
      ((tsNanos - pmod(tsNanos, lit(1000L))).cast("decimal(20,0)") / lit(1000))
        .cast("long"))

  /** Tumbling-window counts/sums per event type with an event-time
    * watermark. Works identically on batch input (watermark is a no-op
    * there). Partial aggregation + one shuffle on (window, type). */
  def windowedStats(events: DataFrame, windowLen: String, watermarkDelay: String): DataFrame = {
    val withTime = events.withColumn("event_time", eventTime(col("ts")))
    val watermarked =
      if (withTime.isStreaming) withTime.withWatermark("event_time", watermarkDelay)
      else withTime
    watermarked
      .groupBy(window(col("event_time"), windowLen).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(unix_timestamp(col("w.start")).as("wstart"), col("event_type"),
        col("n"), col("sum_value"))
  }

  /** Streaming jq: the fused jq projection (graft.Jq — one codegen'd
    * narrow expression, no extra stage) composed with the watermarked
    * tumbling-window aggregate. The SAME declaration runs as a backfill on
    * batch input and as the live tail on `readStream` input — the jq
    * engine needs no streaming-specific path because it is a pure per-row
    * projection ahead of the stateful aggregate. `query` must yield a
    * long per document (missing/errored docs → NULL, which the aggregate
    * ignores). */
  def jqWindowedStats(events: DataFrame, query: String,
                      windowLen: String, watermarkDelay: String): DataFrame = {
    val withTime = events
      .withColumn("event_time", eventTime(col("ts")))
      .withColumn("jq_k", graft.Jq.long(query, col("props")))
    val watermarked =
      if (withTime.isStreaming) withTime.withWatermark("event_time", watermarkDelay)
      else withTime
    watermarked
      .groupBy(window(col("event_time"), windowLen).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("jq_k")).as("sum_k"),
        max(col("jq_k")).as("max_k"))
      .select(unix_timestamp(col("w.start")).as("wstart"), col("event_type"),
        col("n"), col("sum_k"), col("max_k"))
  }

  /** Per-window count-min sketch — [[graft.operators.Sketches]] run as
    * STREAMING state: grouping by (window, row, bucket) caps each open
    * window's state at d·w counters regardless of arrival volume (the
    * whole point of sketching a stream — per-key windowed counts would
    * hold one state row per distinct key), and the watermark evicts
    * closed windows. Same declaration backfills on batch input; the
    * deterministic hash family means the backfilled sketch and the live
    * sketch are bit-identical, so the oracle hash-compares the full
    * counter matrix. */
  def windowedCms(events: DataFrame, key: Column, windowLen: String,
                  watermarkDelay: String, depth: Int = 4, width: Int = 8192): DataFrame = {
    import graft.operators.Sketches
    val withTime = events.withColumn("event_time", eventTime(col("ts")))
    val watermarked =
      if (withTime.isStreaming) withTime.withWatermark("event_time", watermarkDelay)
      else withTime
    watermarked
      .select(col("event_time"), posexplode(array((0 until depth).map(i =>
        Sketches.cmsBucket(key, Sketches.HashA(i), Sketches.HashB(i), width)): _*))
        .as(Seq("i", "bucket")))
      .groupBy(window(col("event_time"), windowLen).as("w"), col("i"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_timestamp(col("w.start")).as("wstart"), col("i"),
        col("bucket"), col("cnt"))
  }

  /** Stream-static enrichment join: the unbounded event stream against a
    * bounded dimension table. The dim side is BROADCAST — no streaming
    * state at all (unlike stream-stream joins), each micro-batch maps
    * through the hashed relation, and the same declaration backfills on
    * batch input. This is the canonical "attach metadata to a 100 TB/day
    * stream" shape: dim refreshes re-broadcast per micro-batch, event
    * volume never shuffles. */
  def enrichWithDim(events: DataFrame, dim: DataFrame, eventKey: String,
                    dimKey: String): DataFrame =
    events.join(broadcast(dim), col(eventKey) === col(dimKey), "left")

  /** Stream-stream interval join: for each left event, the right events
    * of the same key whose event time falls in [left_t, left_t + window].
    * On streaming inputs BOTH sides carry watermarks and the range
    * condition is on the watermarked columns — exactly what lets the join
    * state store evict: left rows age out once the right watermark passes
    * left_t + window, right rows once the left watermark passes their
    * time. The identical declaration runs on batch input as the backfill
    * (watermarks are no-ops there). Event time is µs-truncated nanos
    * ([[eventTime]]), the same precision contract the sessionize oracle
    * uses. Output: all left columns prefixed l_, right prefixed r_. */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   windowMicros: Long, watermarkDelay: String): DataFrame = {
    def side(df: DataFrame, prefix: String): DataFrame = {
      val t = df.withColumn("event_time", eventTime(col("ts")))
      val w = if (t.isStreaming) t.withWatermark("event_time", watermarkDelay) else t
      w.select(col(key).as(s"${prefix}_key") +: w.columns.filterNot(_ == key)
        .map(c => col(c).as(s"${prefix}_$c")).toSeq: _*)
    }
    val lp = side(left, "l")
    val rp = side(right, "r")
    lp.join(rp,
      col("l_key") === col("r_key") &&
        col("r_event_time") >= col("l_event_time") &&
        col("r_event_time") <= col("l_event_time") + expr(s"INTERVAL $windowMicros MICROSECOND"))
  }

  // ------------------------------------------------------------ dedup

  /** Streaming exact dedup: keep ONE row per key with a BOUNDED state
    * store — the live-tail counterpart of [[graft.operators.Dedup]].
    * On a streaming input this is `dropDuplicatesWithinWatermark`: key
    * state is evicted once the event-time watermark passes its last-seen
    * time plus the delay, so the store is bounded by arrival-rate ×
    * horizon instead of stream HISTORY — the only viable shape for an
    * unbounded firehose. The documented trade-off: a re-occurrence
    * arriving farther apart than the horizon is emitted again (exact
    * global dedup over all time needs the batch backfill). On batch input
    * the same declaration is a plain `dropDuplicates` backfill.
    *
    * WHICH row survives per key is explicitly unspecified (streaming
    * keeps arrival-order first) — downstream should project the key or
    * key-determined columns; for a deterministic keep-one in batch use
    * `Dedup.exactDedup`. */
  def dedupWithinWatermark(events: DataFrame, keyCols: Seq[String],
                           watermarkDelay: String): DataFrame = {
    val withTime = events.withColumn("event_time", eventTime(col("ts")))
    if (withTime.isStreaming)
      withTime.withWatermark("event_time", watermarkDelay)
        .dropDuplicatesWithinWatermark(keyCols.toArray)
    else withTime.dropDuplicates(keyCols.toArray)
  }

  /** [[dedupWithinWatermark]] keyed on `xxhash64(content)`: each state
    * row is 8 bytes instead of the document, the same exchange-key trick
    * as the batch `Dedup.keepFirstByHash`. Unlike the batch path there is
    * no in-bucket tie-confirm (the state store holds only the key), so a
    * 64-bit collision drops one distinct document — probability ~2^-64
    * per pair, the standard trade for not buffering document text in the
    * state store; the collision-SAFE batch backfill reconciles. */
  def dedupContentHashed(events: DataFrame, content: Column,
                         watermarkDelay: String): DataFrame =
    dedupWithinWatermark(events.withColumn("__key", xxhash64(content)),
      Seq("__key"), watermarkDelay).drop("__key")

  // ------------------------------------------------------------ sessions

  /** Batch sessionization: split each user's event sequence on gaps longer
    * than `gapNanos`. Exact BIGINT arithmetic end to end. */
  def sessionizeBatch(events: DataFrame, gapNanos: Long): DataFrame =
    // the generic gaps-and-islands operator, shaped to this module's
    // session schema (duration instead of end, no value rollup)
    graft.operators.Relational.sessionize(
        events, col("user_id"), col("ts"), lit(0L), gapNanos)
      .select(col("k").as("user_id"), col("session_no").as("session_seq"),
        col("session_start"),
        (col("session_end") - col("session_start")).as("duration_ns"),
        col("n_events"))

  final case class SessionEvent(user_id: Long, ts: Long)
  final case class SessionState(start: Long, last: Long, n: Long)
  final case class SessionOut(user_id: Long, session_start: Long, duration_ns: Long, n_events: Long)
  /** SessionEvent + derived event-time column (for watermarking). */
  final case class SessionEventT(user_id: Long, ts: Long, event_time: java.sql.Timestamp)

  /** Event-time sessionization: sessions flush when the WATERMARK passes
    * last-event + gap, not when a wall clock does — identical output on
    * live runs and historical replays (a processing-time timeout would close
    * every session instantly when replaying a day of history at full
    * speed). State per user is one row; the timeout timestamp re-arms on
    * every event, so the store stays bounded exactly like the
    * processing-time variant. */
  def sessionizeStreamingEventTime(events: Dataset[SessionEvent], gapNanos: Long,
                                   watermarkDelay: String = "0 seconds")
      (implicit spark: SparkSession): Dataset[SessionOut] = {
    import spark.implicits._
    val gapMillis = math.max(1L, gapNanos / 1000000L)
    events.toDF()
      .withColumn("event_time", eventTime(col("ts")))
      .as[SessionEventT]
      .withWatermark("event_time", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionState], SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[SessionEventT], state: GroupState[List[SessionState]]) =>
          if (state.hasTimedOut) {
            val closed = state.getOption.getOrElse(Nil)
              .map(s => SessionOut(userId, s.start, s.last - s.start, s.n))
            state.remove()
            closed.iterator
          } else {
            val sorted = batch.map(_.ts).toVector.sorted
            var sessions = state.getOption.getOrElse(Nil)
            val closed = List.newBuilder[SessionOut]
            sorted.foreach { ts =>
              sessions match {
                case cur :: rest if ts - cur.last <= gapNanos =>
                  // late (cross-batch out-of-order) events fold INTO the
                  // session: last never moves backward, start can extend
                  // earlier — otherwise a late event would shrink the span
                  // (negative duration) and re-arm the timeout too early
                  sessions = cur.copy(start = math.min(cur.start, ts),
                    last = math.max(cur.last, ts), n = cur.n + 1) :: rest
                case cur :: rest =>
                  closed += SessionOut(userId, cur.start, cur.last - cur.start, cur.n)
                  sessions = SessionState(ts, ts, 1) :: rest
                case Nil =>
                  sessions = SessionState(ts, ts, 1) :: Nil
              }
            }
            state.update(sessions)
            sessions.headOption.foreach { cur =>
              // flush when the watermark passes last + gap (event time)
              state.setTimeoutTimestamp(cur.last / 1000000L + gapMillis)
            }
            closed.result().iterator
          }
      }
  }

  /** Streaming sessionization with explicit state:
    * `flatMapGroupsWithState` keyed by user with a processing-time timeout.
    * The live-tail equivalent of [[sessionizeBatch]] — one state row per
    * active user; a session is emitted when a later event closes the gap
    * OR when the user goes quiet past the gap (timeout flushes the open
    * session and clears its state, so the store stays bounded). */
  def sessionizeStreaming(events: Dataset[SessionEvent], gapNanos: Long,
                          idleTimeouts: Boolean = true)
      (implicit spark: SparkSession): Dataset[SessionOut] = {
    import spark.implicits._
    val gapMillis = math.max(1L, gapNanos / 1000000L)
    // idleTimeouts=false disables the processing-time timeout (then the
    // final session of a quiet user stays open and state is unbounded) —
    // only meant for drivers like processAllAvailable-based tests, which
    // never settle while timeout batches keep being scheduled.
    val timeoutConf =
      if (idleTimeouts) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionState], SessionOut](
        OutputMode.Append, timeoutConf) {
        (userId: Long, batch: Iterator[SessionEvent], state: GroupState[List[SessionState]]) =>
          if (state.hasTimedOut) {
            // user idle past the gap: flush every open session, drop state
            val closed = state.getOption.getOrElse(Nil)
              .map(s => SessionOut(userId, s.start, s.last - s.start, s.n))
            state.remove()
            closed.iterator
          } else {
            // sessions tracked newest-first; a batch may close several
            val sorted = batch.map(_.ts).toVector.sorted
            var sessions = state.getOption.getOrElse(Nil)
            val closed = List.newBuilder[SessionOut]
            sorted.foreach { ts =>
              sessions match {
                case cur :: rest if ts - cur.last <= gapNanos =>
                  // late (cross-batch out-of-order) events fold INTO the
                  // session: last never moves backward, start can extend
                  // earlier — otherwise a late event would shrink the span
                  // (negative duration) and re-arm the timeout too early
                  sessions = cur.copy(start = math.min(cur.start, ts),
                    last = math.max(cur.last, ts), n = cur.n + 1) :: rest
                case cur :: rest =>
                  closed += SessionOut(userId, cur.start, cur.last - cur.start, cur.n)
                  sessions = SessionState(ts, ts, 1) :: rest
                case Nil =>
                  sessions = SessionState(ts, ts, 1) :: Nil
              }
            }
            state.update(sessions)
            if (idleTimeouts) state.setTimeoutDuration(gapMillis)
            closed.result().iterator
          }
      }
  }
}
