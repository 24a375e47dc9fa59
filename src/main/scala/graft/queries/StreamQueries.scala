package graft
package queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkEntry.table

/** Event-stream operators over the events table (`stream_`). */
object StreamQueries {

  val all: Seq[Query] = Seq(
    // streaming dedup (round 5): the SAME declaration that runs
    // dropDuplicatesWithinWatermark (bounded state, watermark eviction)
    // on a live stream, here on its batch-backfill path; the kept KEY SET
    // is the deterministic surface (which row survives is unspecified),
    // so the query projects the key. StreamingSpec drives the live path.
    Query("stream_dedup", ((s, dir) =>
      graft.streaming.EventStreams
        .dedupWithinWatermark(table(s, dir, "events"), Seq("props"), "10 minutes")
        .select(col("props"))),
      "SELECT DISTINCT props FROM events"),

    // --- streaming surface (batch-equivalent of the streaming transforms)
    Query("stream_window", ((s, dir) =>
      streaming.EventStreams.windowedStats(
        table(s, dir, "events"), "1 hour", "10 minutes")),
      """
      SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS wstart, event_type,
             count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2"""),

    // streaming jq: the jq projection + watermarked windowed aggregate
    // composition, run here in its batch/backfill form (identical
    // declaration; StreamingSpec drives the live micro-batch path)
    Query("stream_jq_window", ((s, dir) =>
      streaming.EventStreams.jqWindowedStats(
        table(s, dir, "events"), ".k", "1 hour", "10 minutes")),
      """
      SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS wstart, event_type,
             count(*) AS n,
             CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
      FROM events GROUP BY 1, 2"""),

    // stream-static enrichment: unbounded events x broadcast dimension —
    // zero streaming state, event volume never shuffles (batch/backfill
    // form; StreamingSpec drives the live path)
    Query("stream_enrich", ((s, dir) =>
      streaming.EventStreams.enrichWithDim(
          table(s, dir, "events"),
          table(s, dir, "customer").select(col("c_custkey"), col("c_name")),
          "user_id", "c_custkey")
        .select(col("event_id"), col("user_id"), col("c_name"))),
      """
      SELECT e.event_id, e.user_id, c.c_name
      FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey"""),

    // per-window count-min sketch: sketching as watermark-evicted
    // streaming state (batch/backfill form; StreamingSpec drives the live
    // micro-batch path and asserts bit-equality with this declaration)
    Query("stream_cms", ((s, dir) =>
      streaming.EventStreams.windowedCms(
        table(s, dir, "events"), col("user_id"), "1 hour", "10 minutes")),
      """
      WITH h(i, a, b) AS (VALUES
        (0, 2654435761, 1013904223), (1, 2246822519, 374761393),
        (2, 3266489917, 668265263), (3, 2654435789, 97))
      SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS wstart, i,
             ((user_id % 1000003) * a + b) % 8192 AS bucket, count(*) AS cnt
      FROM events CROSS JOIN h GROUP BY 1, 2, 3"""),

    // stream-stream interval join (batch/backfill form of the
    // watermarked streaming declaration; StreamingSpec drives the
    // MemoryStream path): purchases within 1h after a click, same user
    Query("stream_interval_join", ((s, dir) => {
      val ev = table(s, dir, "events")
      streaming.EventStreams.intervalJoin(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "purchase"),
          "user_id", windowMicros = 3600L * 1000 * 1000, watermarkDelay = "10 minutes")
        .select(col("l_event_id").as("click_id"), col("r_event_id").as("purchase_id"))
    }),
      """
      SELECT l.event_id AS click_id, r.event_id AS purchase_id
      FROM events l JOIN events r
        ON l.user_id = r.user_id
       AND l.event_type = 'click' AND r.event_type = 'purchase'
       AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR"""),

    Query("stream_sessionize", ((s, dir) =>
      // DuckDB reads the TIMESTAMP(NANOS) parquet at µs precision, so the
      // oracle comparison runs on µs-truncated nanos (semantics unchanged)
      streaming.EventStreams.sessionizeBatch(
        table(s, dir, "events")
          .withColumn("ts", col("ts") - pmod(col("ts"), lit(1000L))),
        gapNanos = 1800L * 1000 * 1000 * 1000)),
      """
      WITH e AS (SELECT user_id, epoch_ns(ts) AS tsn FROM events),
      f AS (SELECT user_id, tsn,
              CASE WHEN lag(tsn) OVER w IS NULL OR tsn - lag(tsn) OVER w > 1800000000000
                   THEN 1 ELSE 0 END AS new_session
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsn)),
      g AS (SELECT user_id, tsn,
              CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY tsn
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
            FROM f)
      SELECT user_id, session_seq, min(tsn) AS session_start,
             max(tsn) - min(tsn) AS duration_ns, count(*) AS n_events
      FROM g GROUP BY user_id, session_seq"""),

    // streaming MinHash-LSH near-dup: the SAME stateful declaration that
    // tails a live stream (per-(band,bucket) exemplar state, horizon
    // eviction — StreamingSpec drives the MemoryStream path), run here in
    // its batch/backfill form. Event time is synthesized from doc_id (the
    // documents table has no timestamp); the emitted pair set is
    // arrival-order independent, so the oracle is the brute-force exact
    // Jaccard pair list.
    Query("stream_neardup", ((s, dir) => {
      implicit val sp: SparkSession = s
      streaming.NearDupStream.nearDupPairs(
        table(s, dir, "documents")
          .withColumn("ts", lit(1700000000L * 1000000000L) + col("doc_id") * lit(1000000000L)),
        "doc_id", "ts", col("text"), n = 3, threshold = 0.75)
    }),
    // brute-force exact-Jaccard pairs: the streaming LSH path emits a pair
    // when the later doc arrives, so the backfilled SET equals this list
    // (banding misses at j >= 0.75 have probability (1-0.75^2)^16 ~ 2e-6)
      """
      WITH sh AS (
        SELECT doc_id, list_distinct(CASE WHEN len(s) >= 3
          THEN [s[i] || ' ' || s[i+1] || ' ' || s[i+2] for i in range(1, len(s) - 1)]
          ELSE [] END) AS shingles
        FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents))
      SELECT id_a, id_b, j FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               len(list_intersect(a.shingles, b.shingles))::DOUBLE
                 / len(list_distinct(a.shingles || b.shingles)) AS j
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id) t
      WHERE j >= 0.75"""),

    // streaming windowed top-k (trending keys): space-saving summary per
    // window inside ONE flatMapGroupsWithState, emitted when the
    // watermark finalizes the window; exact while distinct keys ≤
    // capacity (this regime — the oracle pins it), published ε·N bound
    // past it. Batch/backfill form here; StreamingSpec drives the live
    // micro-batch path and pins stream == batch
    Query("stream_topk", ((s, dir) => {
      implicit val sp: SparkSession = s
      streaming.TopKStream.windowTopK(
        table(s, dir, "events"), "ts", col("user_id"),
        windowNanos = 86400L * 1000000000L, k = 3, capacity = 2048)
    }),
    // exact regime: capacity exceeds the per-window key cardinality, so
    // the space-saving table degenerates to exact counts with err 0
      """
      WITH e AS (
        SELECT (epoch_us(ts) * 1000) - (epoch_us(ts) * 1000) % 86400000000000 AS wstart,
               user_id AS key
        FROM events),
      c AS (SELECT wstart, key, count(*) AS n FROM e GROUP BY wstart, key),
      r AS (SELECT wstart, key, n,
                   row_number() OVER (PARTITION BY wstart ORDER BY n DESC, key ASC) AS rank
            FROM c)
      SELECT wstart, CAST(rank AS BIGINT) AS rank, key, n, CAST(0 AS BIGINT) AS err
      FROM r WHERE rank <= 3"""),
  )
}
