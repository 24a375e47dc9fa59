package graft
package queries

import org.apache.spark.sql.functions._

import graft.SparkEntry.{bucketedSinkDir, bucketedTablesMemo, csvSinkDir, jsonSinkDir, orcSinkDir, partitionedSinkDir, table}

/** Relational operators over the TPC-H tables (`rel_`) and the mergeable
  * sketches (`sketch_`). */
object RelationalQueries {

  val all: Seq[Query] = Seq(
    // MVCC snapshot merge (reference goals (5)-(6)): per-key latest
    // version across base ∪ changes, one key shuffle
    Query("rel_upsert", ((s, dir) => {
      val orders = table(s, dir, "orders")
      val base = orders.select(col("o_orderkey"), col("o_totalprice").as("price"))
        .withColumn("__v", lit(1L))
      val changes = orders.filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), (col("o_totalprice") * 2).as("price"))
        .withColumn("__v", lit(2L))
      operators.Relational.upsert(base, changes, Seq(col("o_orderkey")), col("__v"))
        .select(col("o_orderkey"), col("price"))
    }),
      """
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS price
      FROM orders"""),

    // README goals (6)-(7) storage mapping, persisted: the upsert snapshot
    // written as a BUCKETED table (the disk-b-tree/bucket-index analogue)
    // and read back co-bucketed with a bucketed fact table. The merge-
    // hinted join then plans with ZERO exchange on either side — the
    // one-time layout cost that replaces every successive snapshot⋈fact
    // shuffle at 100 TB (plan evidence: BucketingSpec + PLANS.md).
    Query("rel_bucketed_join", ((s, dir) => {
      // the bucketed LAYOUT is write-once/join-many by definition — build
      // it once per (session, input dir); every run (and every successive
      // snapshot⋈fact join in production) then measures the zero-exchange
      // merge join the layout exists to provide. Table names and paths
      // are DIR-SCOPED: a global singleton would hand a revisited dir
      // another dir's data on a memo hit
      val tag = java.lang.Long.toHexString(
        org.apache.spark.unsafe.types.UTF8String.fromString(dir).hashCode().toLong & 0xffffffffL)
      val (snapT, liT) = (s"graft_snap_b_$tag", s"graft_li_b_$tag")
      bucketedTablesMemo.computeIfAbsent(
        (s, dir), _ => {
          val orders = table(s, dir, "orders")
          val base = orders
            .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice").as("price"))
            .withColumn("__v", lit(1L))
          val changes = orders.filter(col("o_orderkey") % 10 === 0)
            .select(col("o_orderkey"), col("o_orderstatus"), (col("o_totalprice") * 2).as("price"))
            .withColumn("__v", lit(2L))
          val snap = operators.Relational.upsert(base, changes, Seq(col("o_orderkey")), col("__v"))
            .select(col("o_orderkey"), col("o_orderstatus"), col("price"))
          // filesystem paths fold the pid in (via bucketedSinkDir): two
          // concurrent JVMs on the same data dir must not rebuild and
          // overwrite each other's bucketed files mid-scan. The table
          // NAMES stay dir-scoped only — the catalog is session-local.
          snap.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
            .option("path", s"$bucketedSinkDir/snap_b_$tag").mode("overwrite")
            .saveAsTable(snapT)
          table(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity"))
            .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
            .option("path", s"$bucketedSinkDir/li_b_$tag").mode("overwrite")
            .saveAsTable(liT)
          java.lang.Boolean.TRUE
        })
      s.table(snapT).hint("merge")
        .join(s.table(liT), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("price").cast("decimal(18,2)")).as("sum_price"))
        .select(col("o_orderstatus"), col("n_lines"),
          col("sum_price").cast("double").as("sum_price"))
    }),
      """
      WITH snap AS (
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS price
        FROM orders)
      SELECT s.o_orderstatus, count(*) AS n_lines,
             CAST(sum(CAST(s.price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM snap s JOIN lineitem l ON s.o_orderkey = l.l_orderkey
      GROUP BY s.o_orderstatus"""),

    // time-series resample + gap fill: hourly grid per event type with
    // zero-filled counts and last-observation-carried-forward values —
    // one keyed aggregate + one per-key fill window; the grid size is
    // keys × span, independent of input volume
    Query("rel_resample", ((s, dir) =>
      operators.Relational.resampleLocf(table(s, dir, "events"),
          col("event_type"), expr("ts DIV 1000"), col("value"),
          stepMicros = 3600L * 1000000L)
        .select(col("k").as("event_type"), col("b").as("hour_bucket"),
          col("n"), col("v_filled"))),
    // same µs truncation as Spark's ts DIV 1000 (DuckDB stores µs);
    // LOCF via last_value IGNORE NULLS over the gap-filled grid
      """
      WITH rows_ AS (
        SELECT event_type AS k, epoch_us(ts) AS t, value AS v,
               epoch_us(ts) // 3600000000 AS b
        FROM events),
      agg AS (SELECT k, b, count(*) AS n FROM rows_ GROUP BY k, b),
      lastv AS (
        SELECT k, b, v AS lv FROM (
          SELECT k, b, v,
                 row_number() OVER (PARTITION BY k, b ORDER BY t DESC, v DESC) AS rn
          FROM rows_) WHERE rn = 1),
      span AS (SELECT k, min(b) AS b0, max(b) AS b1 FROM rows_ GROUP BY k),
      grid AS (SELECT k, unnest(generate_series(b0, b1)) AS b FROM span)
      SELECT g.k AS event_type, g.b AS hour_bucket,
             CAST(coalesce(n, 0) AS BIGINT) AS n,
             last_value(lv IGNORE NULLS) OVER (PARTITION BY g.k ORDER BY g.b
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
      FROM grid g LEFT JOIN agg USING (k, b) LEFT JOIN lastv USING (k, b)"""),

    // columnar-format interchange: parquet → ORC → read-back, with a
    // content-sensitive aggregate (rolling fingerprints) proving the
    // typed round-trip is lossless — the oracle computes the same
    // aggregate straight off the parquet, so any ORC write/read
    // corruption (encoding, nulls, unicode) breaks the hash. The sink
    // is a PER-PROCESS unique dir (round-6 ADVICE: concurrent bench /
    // verify runs on one host raced on a shared /tmp path); overwrite
    // keeps one copy within the process, the JVM exit hook removes it
    Query("rel_orc_roundtrip", ((s, dir) => {
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      docs.write.mode("overwrite").orc(orcSinkDir)
      s.read.orc(orcSinkDir)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"),
          sum(operators.TextAnalysis.fingerprint(col("text"))).as("sum_fp"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
    }),
    // the oracle reads the PARQUET directly — equality proves the Spark
    // side's parquet → ORC → read-back round-trip preserved every value
      """
      SELECT lang, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             CAST(sum(list_reduce(list_prepend(0::BIGINT,
               [ord(substring(text, i, 1))::BIGINT for i in range(1, strlen(text) + 1)]),
               (h, c) -> (h * 31 + c) % 1000000007)) AS BIGINT) AS sum_fp,
             min(doc_id) AS min_id, max(doc_id) AS max_id
      FROM documents GROUP BY lang"""),

    // text-format interchange: parquet → CSV (RFC 4180 ""-escaping,
    // multiLine read) → read-back with the same content-sensitive
    // fingerprint aggregate as the ORC roundtrip — quoting, embedded
    // quotes/commas/newlines and unicode all have to survive the text
    // round trip for the hash to match. Trim options OFF on write:
    // Spark's defaults would silently strip leading/trailing spaces
    Query("rel_csv_roundtrip", ((s, dir) => {
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      docs.write.mode("overwrite")
        .option("header", "true").option("escape", "\"")
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(csvSinkDir)
      s.read.schema("doc_id BIGINT, text STRING, lang STRING, n_chars BIGINT")
        .option("header", "true").option("escape", "\"")
        .option("multiLine", "true")
        .csv(csvSinkDir)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"),
          sum(operators.TextAnalysis.fingerprint(col("text"))).as("sum_fp"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
    }),
    // the oracle never touches the CSV: it recomputes the aggregate from
    // the parquet (same derivation as rel_orc_roundtrip), so any
    // write/read corruption breaks the hash
      """
      SELECT lang, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             CAST(sum(list_reduce(list_prepend(0::BIGINT,
               [ord(substring(text, i, 1))::BIGINT for i in range(1, strlen(text) + 1)]),
               (h, c) -> (h * 31 + c) % 1000000007)) AS BIGINT) AS sum_fp,
             min(doc_id) AS min_id, max(doc_id) AS max_id
      FROM documents GROUP BY lang"""),

    // document-format interchange: parquet → canonical JSONL (Spark's
    // native json sink — the reference's own document format) →
    // schema'd read-back, same content-sensitive fingerprint aggregate
    // as the ORC/CSV roundtrips: escaping, unicode, and the typed
    // re-parse all have to survive for the hash to match
    Query("rel_json_roundtrip", ((s, dir) => {
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      docs.write.mode("overwrite").json(jsonSinkDir)
      s.read.schema("doc_id BIGINT, text STRING, lang STRING, n_chars BIGINT")
        .json(jsonSinkDir)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"),
          sum(operators.TextAnalysis.fingerprint(col("text"))).as("sum_fp"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
    }),
    // same derivation: the oracle reads the parquet directly, so the
    // JSONL encode→decode must be lossless for the hash to match
      """
      SELECT lang, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             CAST(sum(list_reduce(list_prepend(0::BIGINT,
               [ord(substring(text, i, 1))::BIGINT for i in range(1, strlen(text) + 1)]),
               (h, c) -> (h * 31 + c) % 1000000007)) AS BIGINT) AS sum_fp,
             min(doc_id) AS min_id, max(doc_id) AS max_id
      FROM documents GROUP BY lang"""),

    // TPC-H Q3 (shipping priority): the canonical dim-filter → fact-join
    // → top-k aggregate — customer dim BROADCAST, orders⋈lineitem on the
    // shared orderkey shuffle, revenue summed in exact DECIMAL, top-10
    // via TakeOrderedAndProject (never a full sort)
    Query("rel_tpch_q3", ((s, dir) => {
      val cutoff = lit("1998-07-01 00:00:00").cast("timestamp")
      val c = table(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val o = table(s, dir, "orders").filter(col("o_orderdate") < cutoff)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("o_orderpriority"))
      val l = table(s, dir, "lineitem").filter(col("l_shipdate") > cutoff)
        .select(col("l_orderkey"),
          (col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1.0).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .as("rev")) // decimal-first: see rel_tpch_q5
      o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum(col("rev")).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey").asc).limit(10)
    }),
      """
      SELECT o_orderkey,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1.0 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
             o_orderdate, o_orderpriority
      FROM customer, orders, lineitem
      WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        AND o_orderdate < TIMESTAMP '1998-07-01 00:00:00'
        AND l_shipdate > TIMESTAMP '1998-07-01 00:00:00'
      GROUP BY o_orderkey, o_orderdate, o_orderpriority
      ORDER BY revenue DESC, o_orderkey LIMIT 10"""),

    // TPC-H Q18 (large-volume customers): aggregate-HAVING as the join
    // prefilter — the qty rollup keyed on the same orderkey the join
    // needs, so the HAVING output (tiny) drives the probe; customer dim
    // broadcast, top-20 TakeOrdered
    Query("rel_tpch_q18", ((s, dir) => {
      val big = table(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("sum_qty"))
        .filter(col("sum_qty") > 250)
      val o = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("o_totalprice"))
      val c = table(s, dir, "customer").select(col("c_custkey"), col("c_name"))
      o.join(big, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"),
          col("sum_qty").cast("double").as("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc).limit(20)
    }),
      """
      WITH big AS (
        SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 250)
      SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
             CAST(sum_qty AS DOUBLE) AS sum_qty
      FROM big JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 20"""),

    // one-scan table profiler: per-column nulls/ndv/min/max — the
    // data-quality reconnaissance pass; k distinct aggregates plan as
    // ONE Expand scan, output is k rows
    Query("rel_profile", ((s, dir) =>
      operators.Relational.profile(table(s, dir, "orders"),
        Seq("o_orderstatus", "o_orderpriority", "o_orderkey", "o_custkey"))),
      """
      SELECT 'o_orderstatus' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(*) - count(o_orderstatus) AS BIGINT) AS n_nulls,
             CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_distinct,
             CAST(min(o_orderstatus) AS VARCHAR) AS min_str,
             CAST(max(o_orderstatus) AS VARCHAR) AS max_str FROM orders
      UNION ALL
      SELECT 'o_orderpriority', CAST(count(*) AS BIGINT),
             CAST(count(*) - count(o_orderpriority) AS BIGINT),
             CAST(count(DISTINCT o_orderpriority) AS BIGINT),
             CAST(min(o_orderpriority) AS VARCHAR), CAST(max(o_orderpriority) AS VARCHAR) FROM orders
      UNION ALL
      SELECT 'o_orderkey', CAST(count(*) AS BIGINT),
             CAST(count(*) - count(o_orderkey) AS BIGINT),
             CAST(count(DISTINCT o_orderkey) AS BIGINT),
             CAST(min(o_orderkey) AS VARCHAR), CAST(max(o_orderkey) AS VARCHAR) FROM orders
      UNION ALL
      SELECT 'o_custkey', CAST(count(*) AS BIGINT),
             CAST(count(*) - count(o_custkey) AS BIGINT),
             CAST(count(DISTINCT o_custkey) AS BIGINT),
             CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR) FROM orders"""),

    // incremental view maintenance over the upsert semantics: post-change
    // per-group aggregate from base aggregate + change deltas only (the
    // oracle recomputes the whole snapshot; the Spark side never does)
    Query("rel_ivm", ((s, dir) => {
      val o = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val changes = o.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      operators.Relational.incrementalAgg(o, changes,
        "o_orderkey", "o_orderstatus", "o_totalprice")
    }),
      """
      WITH snap AS (
        SELECT o_orderstatus,
               CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS p
        FROM orders)
      SELECT o_orderstatus, count(*) AS n,
             CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM snap GROUP BY o_orderstatus"""),

    // --- relational layer (SURVEY.md §2.8 beyond-parity) ----------------
    Query("rel_agg_pricing", ((s, dir) =>
      operators.Relational.pricingSummary(table(s, dir, "lineitem"))),
      """
      SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(9,4))) AS DOUBLE) AS sum_disc,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
             count(*) AS n
      FROM lineitem GROUP BY l_returnflag, l_linestatus"""),

    Query("rel_join_nation_revenue", ((s, dir) =>
      operators.Relational.revenueByNation(
        table(s, dir, "customer"), table(s, dir, "orders"),
        table(s, dir, "lineitem"), table(s, dir, "nation"))),
      """
      SELECT n_name,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(9,4))) AS DOUBLE) AS revenue,
             count(*) AS n_lines
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name"""),

    Query("rel_join_anti", ((s, dir) => {
      val c = table(s, dir, "customer")
      val o = table(s, dir, "orders").filter(col("o_orderstatus") === "F")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
    }),
      """
      SELECT c_mktsegment, count(*) AS n FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
      GROUP BY c_mktsegment"""),

    Query("rel_join_semi", ((s, dir) => {
      val c = table(s, dir, "customer"); val o = table(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n"))
    }),
      """
      SELECT c_nationkey, count(*) AS n FROM customer
      WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      GROUP BY c_nationkey"""),

    // full outer join (completes the join-type set: inner/left/semi/anti/
    // asof/range/salted): customers and suppliers by nation, either side
    // may be missing
    Query("rel_join_full", ((s, dir) => {
      val c = table(s, dir, "customer").groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_cust"))
      val su = table(s, dir, "supplier").groupBy(col("s_nationkey")).agg(count(lit(1)).as("n_supp"))
      c.join(su, c("c_nationkey") === su("s_nationkey"), "full_outer")
        .select(
          coalesce(col("c_nationkey"), col("s_nationkey")).as("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
    }),
      """
      WITH c AS (SELECT c_nationkey, count(*) AS n_cust FROM customer GROUP BY 1),
           su AS (SELECT s_nationkey, count(*) AS n_supp FROM supplier GROUP BY 1)
      SELECT coalesce(c_nationkey, s_nationkey) AS nationkey,
             coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
      FROM c FULL OUTER JOIN su ON c_nationkey = s_nationkey"""),

    Query("rel_window_topk", ((s, dir) =>
      operators.Relational.topKPerGroup(
        table(s, dir, "lineitem"),
        Seq(col("l_orderkey")),
        Seq(col("l_extendedprice").desc, col("l_linenumber").asc), 3)
        .select(col("l_orderkey"), col("l_linenumber"), col("rnk").cast("bigint").as("rnk"))),
      """
      SELECT l_orderkey, l_linenumber, rnk FROM (
        SELECT l_orderkey, l_linenumber,
               row_number() OVER (PARTITION BY l_orderkey
                                  ORDER BY l_extendedprice DESC, l_linenumber) AS rnk
        FROM lineitem) t
      WHERE rnk <= 3"""),

    Query("rel_window_running", ((s, dir) =>
      // ordering includes quantity/price: (orderkey, linenumber) is NOT
      // unique in every testdata generation (sf0.1 carries a duplicate
      // key), and a running sum under a tied order is engine-dependent —
      // the extended key is total, or the tied rows are full duplicates
      // whose assignment cannot matter
      operators.Relational.runningTotal(
        table(s, dir, "lineitem"),
        Seq(col("l_suppkey")),
        Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice")),
        col("l_quantity"), "running")
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("running"))),
      """
      SELECT l_suppkey, l_orderkey, l_linenumber,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
                  OVER (PARTITION BY l_suppkey
                        ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity, l_extendedprice
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running
      FROM lineitem"""),

    Query("rel_sort_limit", ((s, dir) =>
      table(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100)
        .select(col("o_orderkey"), col("o_totalprice"))),
      """
      SELECT o_orderkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"""),

    // RANGE-frame window (vs the ROWS frames elsewhere): trailing 7-day
    // per-supplier shipment volume — the frame is VALUE-keyed (all rows
    // within 6 days), so ties and gaps are handled by definition rather
    // than row position; DECIMAL sum keeps it order-exact
    Query("rel_window_range", ((s, dir) => {
      val li = table(s, dir, "lineitem").withColumn("ship_day",
        datediff(col("l_shipdate").cast("date"), lit("1970-01-01").cast("date")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_suppkey")).orderBy(col("ship_day"))
        .rangeBetween(-6, org.apache.spark.sql.expressions.Window.currentRow)
      li.select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("ship_day").cast("long").as("ship_day"),
        sum(col("l_quantity").cast("decimal(18,2)")).over(w)
          .cast("double").as("qty_7d"))
    }),
      """
      SELECT l_suppkey, l_orderkey, l_linenumber,
             CAST(date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS BIGINT) AS ship_day,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) OVER (
               PARTITION BY l_suppkey
               ORDER BY date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS qty_7d
      FROM lineitem"""),

    // equi-depth histogram: exact decile boundaries of the price
    // distribution WITHOUT a partition-less ntile window (a
    // single-partition global sort dies first at scale) — distributed
    // range sort + cumulative partition offsets + per-partition row
    // numbers reproduce ntile's exact fill rule at any parallelism; the
    // approx companion at 100 TB is approx_percentile (sketch_stats)
    Query("rel_ntile", ((s, dir) =>
      operators.Relational.ntileHistogram(
        table(s, dir, "orders"), 10, col("o_totalprice"), col("o_orderkey"))),
      """
      SELECT bucket, CAST(count(*) AS BIGINT) AS n,
             min(o_totalprice) AS lo, max(o_totalprice) AS hi
      FROM (SELECT o_totalprice,
                   CAST(ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS bucket
            FROM orders) t
      GROUP BY bucket"""),

    Query("rel_distinct", ((s, dir) =>
      table(s, dir, "lineitem").select(col("l_returnflag"), col("l_linestatus")).distinct()),
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"),

    Query("rel_setop_except", ((s, dir) => {
      val o = table(s, dir, "orders")
      o.filter(col("o_orderstatus") === "O").select(col("o_custkey").as("custkey"))
        .except(o.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("custkey")))
    }),
      """
      SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
      EXCEPT
      SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'"""),

    Query("rel_setop_intersect", ((s, dir) => {
      val o = table(s, dir, "orders")
      o.filter(col("o_orderstatus") === "O").select(col("o_custkey").as("custkey"))
        .intersect(o.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("custkey")))
    }),
      """
      SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
      INTERSECT
      SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'"""),

    Query("rel_rollup", ((s, dir) =>
      table(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), operators.Relational.dsum(col("l_quantity")).as("sum_qty"))),
      """
      SELECT l_returnflag, l_linestatus, count(*) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)"""),

    Query("rel_cube", ((s, dir) =>
      table(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), operators.Relational.dsum(col("l_quantity")).as("sum_qty"))),
      """
      SELECT l_returnflag, l_linestatus, count(*) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)"""),

    // exact second moments from DECIMAL sums (round 5): variance/stddev/
    // correlation computed by the SAME closed-form double expression on
    // both engines — decimal sums are exact, the double arithmetic is
    // written in identical order, so the hash gate applies to statistics
    // that are normally fp-flaky across engines
    // moment-sum variance/stddev/correlation — EXACT centi-unit DECIMAL
    // moments; the float arithmetic is a pinned chain of correctly-rounded
    // ops on identical exact inputs, so the doubles are bit-identical on
    // any engine/partitioning (round 10: the old double-moments version
    // diverged from DuckDB by an ulp at sf0.001 — FMA-class intermediate
    // drift — exactly what corrExact's discipline exists to prevent).
    // var in centi² units rescales by 1e4 at the end.
    Query("rel_agg_variance", ((s, dir) => {
      def d(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      val q = table(s, dir, "lineitem").select(col("l_returnflag"),
        round(col("l_quantity").cast("double") * 100).cast("long").as("xi"),
        round(col("l_extendedprice").cast("double") * 100).cast("long").as("yi"))
      val m = q.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(d(col("xi"))).as("sx"), sum(d(col("yi"))).as("sy"),
          sum(d(col("xi")) * d(col("xi"))).as("sxx"),
          sum(d(col("yi")) * d(col("yi"))).as("syy"),
          sum(d(col("xi")) * d(col("yi"))).as("sxy"))
      val varNum = (d(col("n")) * col("sxx") - col("sx") * col("sx")).cast("double")
      val varDen = (d(col("n")) * (d(col("n")) - lit(1))).cast("double")
      val dx = d(col("n")) * col("sxx") - col("sx") * col("sx")
      val dy = d(col("n")) * col("syy") - col("sy") * col("sy")
      // degenerate groups are pinned NULL on BOTH engines (a 1-row group's
      // 0/0 is NULL under Spark's non-ANSI divide but inf/nan in DuckDB's
      // IEEE division; a constant column likewise zeroes a corr leg)
      m.select(col("l_returnflag"), col("n"),
        when(col("n") > 1, varNum / varDen / lit(1e4)).as("var_qty"),
        when(col("n") > 1, sqrt(varNum / varDen / lit(1e4))).as("std_qty"),
        when(col("n") > 1 && dx > 0 && dy > 0,
          (d(col("n")) * col("sxy") - col("sx") * col("sy")).cast("double") /
            sqrt(dx.cast("double") * dy.cast("double")))
          .as("corr_qp"))
    }),
      """
      WITH q AS (
        SELECT l_returnflag,
               CAST(round(CAST(l_quantity AS DOUBLE) * 100) AS BIGINT) AS xi,
               CAST(round(CAST(l_extendedprice AS DOUBLE) * 100) AS BIGINT) AS yi
        FROM lineitem),
      m AS (
        SELECT l_returnflag, CAST(count(*) AS HUGEINT) AS n,
               sum(CAST(xi AS HUGEINT)) AS sx, sum(CAST(yi AS HUGEINT)) AS sy,
               sum(CAST(xi AS HUGEINT) * CAST(xi AS HUGEINT)) AS sxx,
               sum(CAST(yi AS HUGEINT) * CAST(yi AS HUGEINT)) AS syy,
               sum(CAST(xi AS HUGEINT) * CAST(yi AS HUGEINT)) AS sxy
        FROM q GROUP BY l_returnflag)
      SELECT l_returnflag, CAST(n AS BIGINT) AS n,
             CASE WHEN n > 1 THEN
               CAST(n * sxx - sx * sx AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE) / 1e4
             END AS var_qty,
             CASE WHEN n > 1 THEN
               sqrt(CAST(n * sxx - sx * sx AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE) / 1e4)
             END AS std_qty,
             CASE WHEN n > 1 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
               CAST(n * sxy - sx * sy AS DOUBLE) /
                 sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
                      CAST(n * syy - sy * sy AS DOUBLE))
             END AS corr_qp
      FROM m"""),

    // explicit grouping sets (beyond rollup/cube's fixed lattices): the
    // DataFrame API has no grouping-sets verb, so this drops to SQL — the
    // Catalyst plan is the same Expand + partial-agg shape as cube
    Query("rel_grouping_sets", ((s, dir) => {
      table(s, dir, "lineitem").createOrReplaceTempView("gs_lineitem")
      s.sql("""
        SELECT l_returnflag, l_linestatus, count(*) AS n,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""")
    }),
      """
      SELECT l_returnflag, l_linestatus, count(*) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())"""),

    // lead/lag/ntile/percent_rank over one deterministic-order window
    // spec — a single exchange serves all four
    Query("rel_window_misc", ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      table(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
        lag(col("o_totalprice"), 1).over(w).cast("double").as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).cast("double").as("next_price"),
        ntile(4).over(w).cast("bigint").as("quartile"),
        percent_rank().over(w).as("pr"))
    }),
      """
      SELECT o_custkey, o_orderkey,
             CAST(lag(o_totalprice, 1) OVER w AS DOUBLE) AS prev_price,
             CAST(lead(o_totalprice, 1) OVER w AS DOUBLE) AS next_price,
             CAST(ntile(4) OVER w AS BIGINT) AS quartile,
             percent_rank() OVER w AS pr
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)"""),

    // skew-safe salted join (round 5): deterministic fact-side salt + dim
    // replicated salts× — one hot custkey spreads over 8 tasks; the
    // ORACLE is the plain unsalted join, pinning result-equality
    Query("rel_skew_join", ((s, dir) => {
      val o = table(s, dir, "orders")
      val c = table(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))
      operators.Relational.saltedJoin(o, c, "o_custkey", col("o_orderkey"), 8)
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"),
          operators.Relational.dsum(col("o_totalprice")).as("rev"))
    }),
      """
      SELECT c_nationkey, count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_nationkey"""),

    // partitioned-layout write + partition-PRUNED read-back (round 5):
    // the filtered scan reads ONLY the matching event_type directory
    // (PartitionFilters in the plan, pinned by BucketingSpec) — at
    // 100 TB, layout pruning is the difference between scanning one
    // partition and scanning the lake. The write is inside the query so
    // the oracle covers the whole write→read cycle, like rel_bucketed_join.
    Query("rel_partition_prune", ((s, dir) => {
      table(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .write.partitionBy("event_type").mode("overwrite")
        .parquet(s"$partitionedSinkDir/events_by_type")
      s.read.parquet(s"$partitionedSinkDir/events_by_type")
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          operators.Relational.dsum(col("value")).as("sum_value"))
    }),
      """
      SELECT user_id, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events WHERE event_type = 'purchase' GROUP BY user_id"""),

    Query("rel_agg_stats", ((s, dir) =>
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          count(lit(1)).as("n"))),
      """
      SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
             min(l_quantity) AS min_qty, max(l_quantity) AS max_qty, count(*) AS n
      FROM lineitem GROUP BY l_returnflag"""),

    Query("rel_pivot_manual", ((s, dir) =>
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("l_linestatus") === "F", col("l_quantity").cast("decimal(18,2)"))).cast("double").as("qty_f"),
          sum(when(col("l_linestatus") === "O", col("l_quantity").cast("decimal(18,2)"))).cast("double").as("qty_o"))),
      """
      SELECT l_returnflag,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS qty_f,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_linestatus = 'O') AS DOUBLE) AS qty_o
      FROM lineitem GROUP BY l_returnflag"""),

    // unpivot/melt: wide → long with the native Unpivot plan (an Expand
    // node — narrow, zero shuffles, splits with the scan)
    Query("rel_unpivot", ((s, dir) =>
      table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_discount"), col("l_tax"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "measure", "val")),
      """
      SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val
      FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem"""),

    Query("rel_above_avg", ((s, dir) => {
      val sup = table(s, dir, "supplier")
      val stats = sup.agg(
        sum(col("s_acctbal").cast("decimal(18,2)")).cast("double").as("tot"),
        count(lit(1)).as("cnt"))
      sup.crossJoin(broadcast(stats))
        .filter(col("s_acctbal") * col("cnt") > col("tot"))
        .select(col("s_suppkey"), col("s_name"))
    }),
      """
      SELECT s_suppkey, s_name FROM supplier
      WHERE s_acctbal * (SELECT count(*) FROM supplier)
            > CAST((SELECT sum(CAST(s_acctbal AS DECIMAL(18,2))) FROM supplier) AS DOUBLE)"""),

    Query("rel_dates", ((s, dir) =>
      table(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).cast("bigint").as("yr"))
        .agg(count(lit(1)).as("n"),
          operators.Relational.dsum(col("o_totalprice")).as("total"))),
      """
      SELECT year(o_orderdate) AS yr, count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders GROUP BY year(o_orderdate)"""),

    // as-of (temporal) join: latest order at or before each event (§2.8)
    Query("rel_asof_join", ((s, dir) => {
      val ev = table(s, dir, "events").select(
        col("event_id"), col("user_id"),
        streaming.EventStreams.eventTime(col("ts")).as("event_time"))
      val ord = table(s, dir, "orders")
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("o_orderkey"))
      operators.Relational.asofJoin(ev, ord,
          "user_id", "o_custkey", "event_time", "o_orderdate", Seq("o_orderkey"))
        .select(col("event_id"), col("o_orderkey"))
    }),
      """
      WITH o AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
                 FROM orders GROUP BY o_custkey, o_orderdate)
      SELECT e.event_id, o.o_orderkey
      FROM events e ASOF LEFT JOIN o
        ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate"""),

    // sketches: HLL++ distinct-count and t-digest-style quantiles beside
    // their exact counterparts; approximation error asserted as data
    Query("sketch_stats", ((s, dir) => {
      val li = table(s, dir, "lineitem")
      // keep the distinct aggregate (Expand plan) separate from the
      // imperative sketch buffers (HLL / percentile digest): mixing them
      // in one agg forces buffer serialization across the expand and was
      // ~20x slower at sf0.1
      val exact = li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("exact_parts"))
      val approx = li.groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_partkey")).as("approx_parts_raw"),
          expr("approx_percentile(l_quantity, 0.5)").as("p50_raw"),
          min(col("l_quantity")).as("min_qty"), max(col("l_quantity")).as("max_qty"))
      exact.join(approx, "l_returnflag")
        .select(
          col("l_returnflag"), col("exact_parts"),
          (abs(col("approx_parts_raw") - col("exact_parts")) <
            col("exact_parts") * 0.1).as("approx_ok"),
          (col("p50_raw") >= col("min_qty") && col("p50_raw") <= col("max_qty")).as("p50_ok"))
    }),
      """
      SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
             true AS approx_ok, true AS p50_ok
      FROM lineitem GROUP BY l_returnflag"""),

    // MERGEABLE distinct-count sketches (Apache DataSketches HLL, built
    // into Spark 4): per-group sketches built in one pass, then the ALL
    // row re-aggregates the GROUP SKETCHES via hll_union_agg — the
    // mergeability that lets 1000 executors sketch independently and
    // union bounded register arrays, the scale story approx_count_distinct
    // (sketch_stats) hides inside one aggregate. Estimates are emitted as
    // an error-bound boolean next to the exact count (the sketch_stats
    // recall-as-data pattern) — at lgK=14 the bound is deterministic
    Query("sketch_hll_merge", ((s, dir) => {
      val ev = table(s, dir, "events")
      val perG = ev.groupBy(col("event_type").as("grp")).agg(
        expr("hll_sketch_estimate(hll_sketch_agg(user_id, 14))").as("est"),
        countDistinct(col("user_id")).as("exact_distinct"))
      val mergedEst = ev.groupBy(col("event_type"))
        .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk, true))").as("est"))
      val exactAll = ev.agg(countDistinct(col("user_id")).as("exact_distinct"))
      val allRow = mergedEst.crossJoin(broadcast(exactAll))
        .select(lit("ALL").as("grp"), col("est"), col("exact_distinct"))
      perG.select(col("grp"), col("est"), col("exact_distinct"))
        .unionByName(allRow)
        .select(col("grp"), col("exact_distinct").cast("long").as("exact_distinct"),
          (abs(col("est").cast("double") - col("exact_distinct").cast("double")) <=
            col("exact_distinct").cast("double") * lit(0.05)).as("ok"))
    }),
      """
      SELECT event_type AS grp,
             CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
             true AS ok
      FROM events GROUP BY event_type
      UNION ALL
      SELECT 'ALL' AS grp,
             CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
             true AS ok
      FROM events"""),

    // count-min sketch as a grouped aggregate (no driver state): the
    // deterministic BIGINT hash family lets DuckDB replicate the whole
    // sketch bit-for-bit, so estimates hash-compare exactly
    Query("sketch_cms", ((s, dir) => {
      val ev = table(s, dir, "events")
      val sketch = operators.Sketches.countMin(ev, col("user_id"), depth = 4, width = 8192)
      val queries = ev.select(col("user_id")).distinct()
      operators.Sketches.cmsEstimate(sketch, queries, col("user_id"), depth = 4, width = 8192)
        .select(col("key").as("user_id"), col("est"))
    }),
      """
      WITH h(i, a, b) AS (VALUES
        (0, 2654435761, 1013904223), (1, 2246822519, 374761393),
        (2, 3266489917, 668265263), (3, 2654435789, 97)),
      sk AS (
        SELECT i, ((user_id % 1000003) * a + b) % 8192 AS bucket, count(*) AS cnt
        FROM events CROSS JOIN h GROUP BY 1, 2),
      q AS (SELECT DISTINCT user_id FROM events),
      probes AS (
        SELECT q.user_id, h.i, ((q.user_id % 1000003) * h.a + h.b) % 8192 AS bucket
        FROM q CROSS JOIN h)
      SELECT p.user_id, min(coalesce(sk.cnt, 0))::BIGINT AS est
      FROM probes p LEFT JOIN sk ON sk.i = p.i AND sk.bucket = p.bucket
      GROUP BY 1"""),

    // binned range join: events within the hour after each error event
    // of the same user (self interval join)
    Query("rel_range_join", ((s, dir) => {
      val hourUs = 3600L * 1000 * 1000
      def us(c: org.apache.spark.sql.Column) =
        ((c - pmod(c, lit(1000L))).cast("decimal(20,0)") / 1000).cast("long")
      val ev = table(s, dir, "events")
      val probes = ev.select(col("event_id"), col("user_id"), us(col("ts")).as("t_us"))
      val anchors = ev.filter(col("event_type") === "error").select(
        col("event_id").as("anchor_id"), col("user_id").as("anchor_user"),
        us(col("ts")).as("start_us"), (us(col("ts")) + hourUs).as("end_us"))
      operators.Relational.rangeJoinBinned(probes, anchors,
          "user_id", "anchor_user", "t_us", "start_us", "end_us", binWidth = hourUs)
        .select(col("event_id"), col("anchor_id"))
    }),
      """
      SELECT e.event_id, a.event_id AS anchor_id
      FROM events e JOIN events a
        ON e.user_id = a.user_id
       AND a.event_type = 'error'
       AND e.ts >= a.ts
       AND e.ts < a.ts + INTERVAL 1 HOUR"""),

    // z-order layout: Morton-code bucketing of (partkey, suppkey) — each
    // z-bucket covers a narrow rectangle in BOTH keys (the min/max spans
    // below are what min-max file stats would prune on after zorderBy).
    // Keys quantize proportionally into the 16-bit z domain (broadcast
    // one-row max — the "range-rank first" rule from Layout.zValue2)
    Query("rel_zorder", ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val mx = li.agg(max(col("l_partkey")).as("mp"), max(col("l_suppkey")).as("ms"))
      val q = li.crossJoin(broadcast(mx))
        .withColumn("x", expr("(l_partkey * 65536) DIV (mp + 1)"))
        .withColumn("y", expr("(l_suppkey * 65536) DIV (ms + 1)"))
      val z = operators.Layout.zValue2(col("x"), col("y"))
      q.select(shiftright(z, 26).as("zbucket"), col("l_partkey"), col("l_suppkey"))
        .groupBy(col("zbucket"))
        .agg(count(lit(1)).as("n"),
          min(col("l_partkey")).as("min_pk"), max(col("l_partkey")).as("max_pk"),
          min(col("l_suppkey")).as("min_sk"), max(col("l_suppkey")).as("max_sk"))
    }),
    // Morton-code bucket stats: identical mask-doubling bit spread
      """
      WITH mx AS (SELECT max(l_partkey) AS mp, max(l_suppkey) AS ms FROM lineitem),
      q AS (SELECT l_partkey, l_suppkey,
                   (l_partkey * 65536) // (mp + 1) AS x,
                   (l_suppkey * 65536) // (ms + 1) AS y
            FROM lineitem, mx),
      a AS (SELECT *, (x | (x << 8)) & 16711935 AS x1,
                      (y | (y << 8)) & 16711935 AS y1 FROM q),
      b AS (SELECT *, (x1 | (x1 << 4)) & 252645135 AS x2,
                      (y1 | (y1 << 4)) & 252645135 AS y2 FROM a),
      c AS (SELECT *, (x2 | (x2 << 2)) & 858993459 AS x3,
                      (y2 | (y2 << 2)) & 858993459 AS y3 FROM b),
      d AS (SELECT *, (x3 | (x3 << 1)) & 1431655765 AS x4,
                      (y3 | (y3 << 1)) & 1431655765 AS y4 FROM c)
      SELECT (x4 | (y4 << 1)) >> 26 AS zbucket, count(*) AS n,
             min(l_partkey) AS min_pk, max(l_partkey) AS max_pk,
             min(l_suppkey) AS min_sk, max(l_suppkey) AS max_sk
      FROM d GROUP BY 1"""),

    // SCD type-2 dimension build: per-customer order-priority history as
    // validity intervals (collapse equal runs, close with lead)
    Query("rel_scd2", ((s, dir) =>
      operators.Relational.scd2(table(s, dir, "orders"),
          col("o_custkey"), col("o_orderdate"), col("o_orderpriority"))
        .select(col("k").as("o_custkey"), col("a").as("priority"),
          col("valid_from"), col("valid_to"), col("version"), col("is_current"))),
      """
      WITH c AS (
        SELECT o_custkey AS k, o_orderdate AS t, o_orderpriority AS a,
               lag(o_orderpriority) OVER w AS prev,
               row_number() OVER w AS rn
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderpriority)),
      ch AS (SELECT k, t, a FROM c WHERE rn = 1 OR prev IS DISTINCT FROM a)
      SELECT k AS o_custkey, a AS priority, t AS valid_from,
             lead(t) OVER w2 AS valid_to,
             CAST(row_number() OVER w2 AS BIGINT) AS version,
             lead(t) OVER w2 IS NULL AS is_current
      FROM ch WINDOW w2 AS (PARTITION BY k ORDER BY t, a)"""),

    // 2-D Pareto frontier (max price, min date) — distributed sorted scan
    // vs the oracle's O(n²) dominance anti-join
    Query("rel_skyline", ((s, dir) =>
      operators.Relational.skyline2d(table(s, dir, "orders"),
          col("o_totalprice"), col("o_orderdate"))
        .select(col("x").as("o_totalprice"), col("y").as("o_orderdate"))),
      """
      SELECT o_totalprice, o_orderdate FROM orders a
      WHERE NOT EXISTS (
        SELECT 1 FROM orders b
        WHERE b.o_totalprice >= a.o_totalprice AND b.o_orderdate <= a.o_orderdate
          AND (b.o_totalprice > a.o_totalprice OR b.o_orderdate < a.o_orderdate))"""),

    // robust per-group stats: clamp to exact [p5, p95] then average
    Query("rel_winsorize", ((s, dir) =>
      operators.Relational.winsorize(table(s, dir, "customer"),
          col("c_nationkey"), col("c_acctbal"))
        .withColumnRenamed("g", "c_nationkey")),
      """
      WITH nn AS (
        SELECT c_nationkey, CAST(c_acctbal AS DOUBLE) AS v
        FROM customer WHERE c_acctbal IS NOT NULL),
      b AS (
        SELECT c_nationkey AS g, count(*) AS n,
               quantile_cont(v, 0.05) AS lo,
               quantile_cont(v, 0.95) AS hi
        FROM nn GROUP BY 1),
      a AS (
        SELECT g, n, lo, hi,
               sum(CAST(CASE WHEN c.v >= b.lo AND c.v <= b.hi
                             THEN c.v ELSE 0.0 END AS DECIMAL(38,9))) AS sum_in,
               CAST(sum(CASE WHEN c.v < b.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
               CAST(sum(CASE WHEN c.v > b.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi
        FROM nn c JOIN b ON c.c_nationkey = b.g
        GROUP BY g, n, lo, hi)
      SELECT g AS c_nationkey, n, round(lo, 6) AS p_lo, round(hi, 6) AS p_hi,
             round((CAST(sum_in AS DOUBLE)
                    + CAST(n_clip_lo AS DOUBLE) * lo
                    + CAST(n_clip_hi AS DOUBLE) * hi) / CAST(n AS DOUBLE), 6)
               AS winsor_mean,
             n_clip_lo, n_clip_hi
      FROM a"""),

    // batch sessionization (gaps-and-islands, 12 h inactivity gap): the
    // backfill twin of stream_sessionize — one exchange on the user key
    // reused by both windows; value sums are exact micro-units
    Query("rel_sessionize", ((s, dir) =>
      // µs-truncated nanos like stream_sessionize: DuckDB reads a
      // TIMESTAMP(NANOS) parquet generation at µs precision, so the
      // oracle comparison must not see sub-µs residues
      operators.Relational.sessionize(
          table(s, dir, "events")
            .withColumn("ts", col("ts") - pmod(col("ts"), lit(1000L))),
          col("user_id"), col("ts"),
          round(col("value") * lit(1000000.0)).cast("long"),
          gapNanos = 12L * 3600L * 1000000000L)
        .select(col("k").as("user_id"), col("session_no"),
          col("session_start"), col("session_end"), col("n_events"),
          col("sum_value").as("sum_value_micro"))),
      """
      WITH e AS (
        SELECT user_id, epoch_us(ts) * 1000 AS ts,
               CAST(round(value * 1000000.0) AS BIGINT) AS v
        FROM events),
      marked AS (
        SELECT user_id, ts, v,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         <= 43200000000000 THEN 0 ELSE 1 END AS new_session
        FROM e),
      numbered AS (
        SELECT user_id, ts, v,
               CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS session_no
        FROM marked)
      SELECT user_id, session_no,
             min(ts) AS session_start, max(ts) AS session_end,
             count(*) AS n_events, CAST(sum(v) AS BIGINT) AS sum_value_micro
      FROM numbered GROUP BY user_id, session_no"""),

    // TPC-H Q5 (local-supplier volume): the canonical snowflake — tiny
    // region⋈nation broadcast into supplier, fact tables shuffle-join on
    // their natural keys (customer/supplier are NOT broadcast: they grow
    // with SF), revenue in exact DECIMAL
    Query("rel_tpch_q5", ((s, dir) => {
      val lo = lit("1996-01-01 00:00:00").cast("timestamp")
      val hi = lit("1997-01-01 00:00:00").cast("timestamp")
      val nr = table(s, dir, "nation")
        .join(broadcast(table(s, dir, "region")
          .filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val sn = table(s, dir, "supplier")
        .join(broadcast(nr), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
      val c = table(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val o = table(s, dir, "orders")
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .select(col("o_orderkey"), col("o_custkey"))
      val l = table(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"),
        // decimal-FIRST: casting the double PRODUCT to decimal hits
        // representable .xx5 ties (e.g. price*0.75 ending in .125) that
        // HALF_UP and half-even resolve differently across engines; with
        // both factors cast first the product is exact at scale 4 and no
        // tie can form (the double-product form lost 1 cent on 3 of 5
        // nations at sf0.1)
        (col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1.0).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .as("rev"))
      o.join(l, col("o_orderkey") === col("l_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(sn, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("rev")).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name").asc)
    }),
      """
      SELECT n_name,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1.0 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      FROM customer, orders, lineitem, supplier, nation, region
      WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        AND r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY n_name
      ORDER BY revenue DESC, n_name"""),

    // theta sketches (DataSketches): the mergeable SET-OPERATION sketch —
    // |A|, |A∩B|, |A∪B|, |A∖B| from compact sketch blobs alone, built by
    // a custom TypedImperativeAggregate; exact mode below the nominal-
    // entry threshold makes the small-SF oracle hash-exact while the
    // same plan degrades to ±ε estimates at crawl scale
    Query("sketch_theta", ((s, dir) => {
      val ev = table(s, dir, "events")
      val a = ev.filter(col("event_type") === "click" && col("value") > 480)
        .agg(operators.Sketches.thetaAgg(col("user_id")).as("ska"))
      val b = ev.filter(col("event_type") === "purchase" && col("value") > 480)
        .agg(operators.Sketches.thetaAgg(col("user_id")).as("skb"))
      import operators.Sketches._
      a.crossJoin(broadcast(b)).select(
        thetaCount(col("ska")).as("n_click"),
        thetaCount(col("skb")).as("n_purchase"),
        thetaCount(thetaIntersect(col("ska"), col("skb"))).as("n_both"),
        thetaCount(thetaUnion(col("ska"), col("skb"))).as("n_either"),
        thetaCount(thetaANotB(col("ska"), col("skb"))).as("n_click_only"))
    }),
      """
      WITH a AS (SELECT DISTINCT user_id FROM events
                 WHERE event_type = 'click' AND value > 480),
      b AS (SELECT DISTINCT user_id FROM events
            WHERE event_type = 'purchase' AND value > 480)
      SELECT (SELECT count(*) FROM a) AS n_click,
             (SELECT count(*) FROM b) AS n_purchase,
             (SELECT count(*) FROM a WHERE user_id IN (SELECT user_id FROM b)) AS n_both,
             (SELECT count(*) FROM (SELECT user_id FROM a UNION SELECT user_id FROM b) u) AS n_either,
             (SELECT count(*) FROM a WHERE user_id NOT IN (SELECT user_id FROM b)) AS n_click_only"""),

    // exact per-group Pearson correlation: moment sums in DECIMAL(38,0)
    // over centi-unit integers — built-in corr's running doubles are
    // partitioning-dependent; this one is bit-stable anywhere
    Query("rel_corr", ((s, dir) =>
      operators.Relational.corrExact(table(s, dir, "lineitem"),
          col("l_returnflag"), col("l_quantity"), col("l_extendedprice"))
        .withColumnRenamed("g", "l_returnflag")),
      """
      WITH q AS (
        SELECT l_returnflag AS g,
               CAST(round(CAST(l_quantity AS DOUBLE) * 100) AS BIGINT) AS xi,
               CAST(round(CAST(l_extendedprice AS DOUBLE) * 100) AS BIGINT) AS yi
        FROM lineitem),
      m AS (
        SELECT g, CAST(count(*) AS HUGEINT) AS n,
               sum(CAST(xi AS HUGEINT)) AS sx, sum(CAST(yi AS HUGEINT)) AS sy,
               sum(CAST(xi AS HUGEINT) * CAST(xi AS HUGEINT)) AS sxx,
               sum(CAST(yi AS HUGEINT) * CAST(yi AS HUGEINT)) AS syy,
               sum(CAST(xi AS HUGEINT) * CAST(yi AS HUGEINT)) AS sxy
        FROM q GROUP BY g)
      SELECT g AS l_returnflag, CAST(n AS BIGINT) AS n,
             round(CAST(n * sxy - sx * sy AS DOUBLE) /
               sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
                    CAST(n * syy - sy * sy AS DOUBLE)), 6) AS corr
      FROM m"""),

    // exact equi-width histogram: global min/max ride a broadcast one-row
    // frame into the bucket projection — one scan + one tiny exchange;
    // the formula is written identically in both engines so edge-case
    // doubles land in the same bucket bit-for-bit
    Query("rel_histogram", ((s, dir) => {
      val o = table(s, dir, "orders")
      val mm = o.agg(min(col("o_totalprice")).as("mn"), max(col("o_totalprice")).as("mx"))
      o.crossJoin(broadcast(mm))
        .select(least(lit(7L),
          floor((col("o_totalprice") - col("mn")) /
            ((col("mx") - col("mn")) / lit(8.0)))).as("bucket"),
          col("o_totalprice"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("o_totalprice")).as("lo"),
          max(col("o_totalprice")).as("hi"))
    }),
    // bucket formula written operation-for-operation as the engine's —
    // identical IEEE doubles land identical buckets
      """
      WITH mm AS (SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx FROM orders)
      SELECT CAST(least(7, floor((o_totalprice - mn) / ((mx - mn) / 8.0))) AS BIGINT) AS bucket,
             count(*) AS n, min(o_totalprice) AS lo, max(o_totalprice) AS hi
      FROM orders, mm
      GROUP BY 1"""),
  )
}
