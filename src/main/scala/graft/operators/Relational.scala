package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational-algebra surface (SURVEY.md §2.8): the reference has none of
  * these — they are the beyond-parity layer that comes with expressing the
  * engine on DataFrames, declared here as named, scale-conscious builders.
  *
  * Scale discipline (100 TB posture):
  *   - aggregates are partial (map-side combine) by construction;
  *   - money/quantity sums run on DECIMAL so results are order-independent
  *     and exact (double sums would drift across partitionings — and
  *     wouldn't hash-match any oracle);
  *   - small dimensions are broadcast explicitly; fact-fact joins shuffle
  *     on their keys and AQE handles skew at runtime;
  *   - top-k uses rank-filter windows or TakeOrderedAndProject, never a
  *     global sort of the full input.
  */
object Relational {

  /** Exact decimal sum of a double column, emitted as DOUBLE. */
  def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("double")

  /** Exact order-independent average: decimal sum / count. */
  def davg(c: Column, scale: Int = 2): Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("double") / count(lit(1))

  /** TPC-H Q1-shaped pricing summary: one shuffle, partial aggregation. */
  def pricingSummary(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base"),
        sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1) - col("l_discount")).cast("decimal(9,4)")).cast("double").as("sum_disc"),
        davg(col("l_quantity")).as("avg_qty"),
        count(lit(1)).as("n"))

  /** Revenue per customer nation: fact⋈fact shuffle joins on keys, the
    * small nation dimension broadcast. */
  def revenueByNation(customer: DataFrame, orders: DataFrame,
                      lineitem: DataFrame, nation: DataFrame): DataFrame =
    lineitem
      .join(orders, lineitem("l_orderkey") === orders("o_orderkey"))
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1) - col("l_discount")).cast("decimal(9,4)")).cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))

  /** Largest-k rows per group via rank-filter window (no global sort). */
  def topKPerGroup(df: DataFrame, partCols: Seq[Column], orderCols: Seq[Column],
                   k: Int, rankCol: String = "rnk"): DataFrame = {
    val w = Window.partitionBy(partCols: _*).orderBy(orderCols: _*)
    df.withColumn(rankCol, row_number().over(w)).filter(col(rankCol) <= k)
  }

  /** Running total over an explicit ROWS frame (deterministic order keys
    * required for reproducibility). */
  def runningTotal(df: DataFrame, partCols: Seq[Column], orderCols: Seq[Column],
                   value: Column, outCol: String): DataFrame = {
    val w = Window.partitionBy(partCols: _*).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(outCol, sum(value.cast("decimal(18,2)")).over(w).cast("double"))
  }

  /** Skew-tolerant aggregation: two-stage salt → partial aggregate →
    * final aggregate. The first shuffle spreads a hot key over `salts`
    * partitions; the second is tiny (groups × salts rows). AQE's skew
    * handling covers joins at runtime; this is the equivalent discipline
    * for pathological groupBy keys (e.g. a null-heavy content hash in
    * exact dedup at 100 TB). Usable for any algebraic aggregate expressed
    * as (partial, merge) column pairs. */
  def saltedCount(df: DataFrame, keys: Seq[Column], salts: Int): DataFrame = {
    val salted = df.withColumn("__salt", pmod(spark_partition_id() + monotonically_increasing_id(), lit(salts)))
    salted
      .groupBy(keys :+ col("__salt"): _*)
      .agg(count(lit(1)).as("__partial"))
      .groupBy(keys: _*)
      .agg(sum(col("__partial")).as("n"))
  }

  /** Skew-safe replicated-salt equi-join: the fact side gets a
    * DETERMINISTIC salt in [0, salts) hashed from `saltSrc` (any
    * fact-side column — typically the row id, so re-runs salt
    * identically), and the dim side is replicated salts× via an inline
    * explode. The join key becomes (key, salt), so one pathological hot
    * key spreads over `salts` tasks instead of one straggler; the result
    * is EXACTLY the unsalted join (every fact row still meets every
    * matching dim row exactly once, in its salt's replica). Shuffle cost:
    * dim × salts extra rows — the usual trade, cheap when dim is the
    * small side. AQE's skew-join split handles moderate runtime skew;
    * this is the static discipline for the known-hot-key case (a
    * null-heavy foreign key, a celebrity user) at 100 TB. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
                 saltSrc: Column, salts: Int): DataFrame = {
    val sf = fact.withColumn("__salt", pmod(xxhash64(saltSrc), lit(salts.toLong)))
    val sd = dim.withColumn("__salt",
      explode(array((0 until salts).map(i => lit(i.toLong)): _*)))
    sf.join(sd, Seq(key, "__salt")).drop("__salt")
  }

  /** MVCC-style snapshot merge (the reference README's goals (5)-(6) —
    * LLRB/MVCC index with snapshot reads — mapped onto Spark storage): the
    * next snapshot is the per-key LATEST version across base ∪ changes.
    * One shuffle on the key, same shape (and same 100 TB posture) as
    * exact dedup; pair with partitioned parquet/bucketed tables so
    * successive snapshots co-locate. Ties on `version` are broken
    * arbitrarily — supply a caller-unique version (commit timestamp,
    * monotonic txn id). */
  def upsert(base: DataFrame, changes: DataFrame,
             keys: Seq[Column], version: Column): DataFrame = {
    val unioned = base.unionByName(changes)
    val w = Window.partitionBy(keys: _*).orderBy(version.desc)
    unioned.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Incremental view maintenance for algebraic aggregates (count + sum)
    * under key-replacement changes — the query-side companion of
    * [[upsert]]: the post-upsert per-group aggregate is derived from the
    * base aggregate plus DELTAS computed from the change set alone.
    *
    * Cost: one pruned-scan aggregate of base (in production this is the
    * stored snapshot aggregate, not a recompute), one equi-join of the
    * (small) change set against base on the key to retract replaced
    * rows, one tiny delta aggregate — O(|changes| + |groups|), never a
    * rescan-and-reaggregate of 100 TB because 0.1% of keys changed.
    * Replaced keys may move groups; inserted keys (absent from base)
    * contribute additions only. DECIMAL accumulation end to end, so the
    * incremental result is bit-identical to a full recompute.
    *
    * PRECONDITION: `changes` carries at most ONE row per key (a resolved
    * change set). A multi-version change set must be reduced first —
    * e.g. `exactDedup(changes, Seq(col(key)), negVersion)` or the
    * [[upsert]] window — otherwise every version is added while the base
    * row is retracted once per version, and sums drift from the upsert
    * result. */
  def incrementalAgg(base: DataFrame, changes: DataFrame,
                     key: String, group: String, value: String): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(18,2)")
    val baseAgg = base.groupBy(col(group))
      .agg(count(lit(1)).as("n"), sum(dec(col(value))).as("s"))
    // retract the old row of every replaced key (inner join: inserts drop out)
    val removed = changes.select(col(key))
      .join(base, Seq(key))
      .select(col(group), lit(-1L).as("dn"), (-dec(col(value))).as("dv"))
    val added = changes.select(col(group), lit(1L).as("dn"), dec(col(value)).as("dv"))
    val deltas = removed.unionByName(added)
      .groupBy(col(group)).agg(sum(col("dn")).as("dn"), sum(col("dv")).as("dv"))
    baseAgg.join(deltas, Seq(group), "full_outer")
      .select(col(group),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
        (coalesce(col("s"), lit(0).cast("decimal(18,2)")) +
          coalesce(col("dv"), lit(0).cast("decimal(18,2)"))).as("s"))
      .filter(col("n") > 0)
      .select(col(group), col("n"), col("s").cast("double").as("total"))
  }

  /** Binned range join: pairs (left row, right interval) with
    * `rightStart ≤ leftPoint < rightEnd` and equal keys. Spark plans a
    * bare range predicate as a nested-loop join; binning turns it into an
    * equi-join: intervals explode into the time bins they cover (1-2 for
    * intervals ≤ binWidth), both sides shuffle on (key, bin), and the
    * exact predicate filters bin collisions. Cost is O(matches + bin
    * collisions) — the standard interval-join shape at scale. */
  def rangeJoinBinned(left: DataFrame, right: DataFrame,
                      leftKey: String, rightKey: String,
                      leftPoint: String, rightStart: String, rightEnd: String,
                      binWidth: Long): DataFrame = {
    val l = left.withColumn("__bin", floor(col(leftPoint) / binWidth))
    val r = right.withColumn("__bin",
      explode(sequence(floor(col(rightStart) / binWidth), floor((col(rightEnd) - 1) / binWidth))))
    l.join(r,
      l(leftKey) === r(rightKey) && l("__bin") === r("__bin") &&
        l(leftPoint) >= r(rightStart) && l(leftPoint) < r(rightEnd))
      .drop("__bin")
  }

  /** As-of (temporal) join: for each left row, attach `payload` from the
    * LATEST right row with the same key and rightTime ≤ leftTime (ties at
    * equal time include the right row). `right` must be unique per
    * (key, time) — pre-aggregate if not.
    *
    * Spark has no asof operator; rather than a custom SparkStrategy this
    * composes built-ins the scale-correct way: tag both sides, union, and
    * carry the last non-null payload over a (key, time) window — ONE
    * shuffle on the key, no per-row lookups, no broadcast of the big side
    * (the same shape DuckDB/Pandas implement natively). */
  def asofJoin(left: DataFrame, right: DataFrame,
               leftKey: String, rightKey: String,
               leftTime: String, rightTime: String,
               payload: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    val lPart = left.select(
      leftCols.map(col) ++
        payload.map(p => lit(null).cast(right.schema(p).dataType).as(p)) ++
        Seq(col(leftKey).as("__k"), col(leftTime).as("__t"), lit(1).as("__is_left")): _*)
    val rPart = right.select(
      leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        payload.map(col) ++
        Seq(col(rightKey).as("__k"), col(rightTime).as("__t"), lit(0).as("__is_left")): _*)
    // right rows sort before left rows at equal time → inclusive ≤
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__t").asc, col("__is_left").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = lPart.unionByName(rPart)
      .select((leftCols.map(col) :+ col("__is_left")) ++
        payload.map(p => last(col(p), ignoreNulls = true).over(w).as(p)): _*)
    carried.filter(col("__is_left") === 1).drop("__is_left")
  }

  /** One-scan table profiler — the data-quality reconnaissance every
    * curation pipeline starts with: per column, row count, null count,
    * EXACT distinct count, and min/max rendered as strings. All k
    * columns profile in ONE scan: Catalyst plans the k distinct
    * aggregates as a single Expand (k+1 projections) + two-stage
    * partial aggregate, so the input is read once at any k; output is
    * k tiny rows. Stick to string/integer columns when hash-comparing
    * across engines — float min/max STRING rendering is
    * engine-specific. */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"__cnt_$c"),
        countDistinct(col(c)).as(s"__ndv_$c"),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))
    }
    val wide = df.agg(count(lit(1)).as("__n"), aggs: _*)
    val entries = array(cols.map(c => struct(
      lit(c).as("col_name"),
      col("__n").as("n_rows"),
      (col("__n") - col(s"__cnt_$c")).as("n_nulls"),
      col(s"__ndv_$c").as("n_distinct"),
      col(s"__min_$c").as("min_str"),
      col(s"__max_$c").as("max_str"))): _*)
    wide.select(explode(entries).as("p")).select(col("p.*"))
  }

  /** Exact equi-depth buckets (ntile semantics) as a HISTOGRAM — per
    * bucket: row count and the min/max of `value` — without the
    * single-partition global sort a partition-less `ntile` window runs
    * (the plan that dies first at scale: every row through one task).
    *
    * Shape: `repartitionByRange(value, tiebreak)` is a DISTRIBUTED sort
    * (sampled bounds, one exchange); per-partition row counts are a
    * driver collect bounded by the shuffle partition count (a few KB);
    * a row's global position is then its partition's cumulative offset
    * plus a PER-PARTITION row_number — a partitioned window, no
    * single-task stage anywhere. The bucket of 0-based position i for N
    * rows and B buckets follows ntile's fill rule (the first N mod B
    * buckets take ⌈N/B⌉ rows), so the output is identical to ntile at
    * any parallelism.
    *
    * The ranged frame checkpoints so the counting pass and the
    * bucketing pass see ONE partitioning (range bounds are sampled — a
    * replay could legally re-draw them). Returns one checkpointed frame
    * the caller owns: the B-row histogram. */
  def ntileHistogram(df: DataFrame, nBuckets: Int, value: Column,
                     tiebreak: Column): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val parts = math.max(df.sparkSession.sessionState.conf.numShufflePartitions, 1)
    Checkpoints.scope() { s =>
      val ranged = s.checkpoint(
        df.select(value.as("v"), tiebreak.as("tb"))
          .repartitionByRange(parts, col("v"), col("tb"))
          .withColumn("pid", spark_partition_id()))
      val cnts = ranged.groupBy(col("pid")).agg(count(lit(1)).as("c"))
        .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
      val total = cnts.map(_._2).sum
      val q0 = total / nBuckets
      val rem = total % nBuckets
      var acc = 0L
      val offs = cnts.map { case (pid, c) => val o = acc; acc += c; (pid, o) }
      val offCol =
        if (offs.isEmpty) lit(0L)
        else element_at(
          map(offs.flatMap { case (p, o) => Seq(lit(p), lit(o)) }.toSeq: _*),
          col("pid"))
      val w = Window.partitionBy(col("pid")).orderBy(col("v"), col("tb"))
      val cut = rem * (q0 + 1)
      val bucketed = ranged
        .withColumn("i", offCol + row_number().over(w).cast("long") - lit(1L))
        .withColumn("bucket",
          when(col("i") < lit(cut), expr(s"i DIV ${q0 + 1}L") + 1L)
            .otherwise(expr(s"(i - ${cut}L) DIV ${math.max(q0, 1L)}L") + lit(rem + 1)))
      s.checkpoint(
        bucketed.groupBy(col("bucket").cast("bigint").as("bucket"))
          .agg(count(lit(1)).as("n"), min(col("v")).as("lo"), max(col("v")).as("hi")))
    }
  }

  /** Time-series resample with gap fill: bucket each row to a
    * `stepMicros` grid per `key`, emit EVERY bucket from the key's first
    * to its last (missing buckets included with n = 0), and
    * carry the last observed `value` forward (LOCF) across gaps.
    * Output: (k, b, n, v_filled) — bucket index b = floor(t / step),
    * FLOOR division (not truncation): a pre-epoch timestamp lands in
    * the bucket below zero, matching SQL `//` semantics, so both
    * engines bucket negative t identically.
    *
    * Determinism: "last observation" inside a bucket is ordered by
    * (t, value) so equal-timestamp rows resolve identically everywhere;
    * v_filled copies an input value verbatim (no arithmetic), so doubles
    * survive the cross-engine hash.
    *
    * Scale shape: one shuffle on the key for the per-bucket aggregate +
    * one per-key window for the fill. The grid explodes from a per-key
    * (min, max) span — rows ≈ keys × buckets-in-span, independent of
    * input volume. A key's span must fit a task (same contract as any
    * per-key window); resample 100 TB of events by (entity, hour), not
    * by a single global series. */
  def resampleLocf(df: DataFrame, key: Column, tsMicros: Column,
                   value: Column, stepMicros: Long): DataFrame = {
    require(stepMicros > 0, s"stepMicros must be positive, got $stepMicros")
    val rows = df.select(key.as("k"), tsMicros.as("t"), value.as("v"))
      .withColumn("b", expr(s"(t - pmod(t, ${stepMicros}L)) DIV ${stepMicros}L"))
    val perBucket = rows.groupBy(col("k"), col("b"))
      .agg(count(lit(1)).as("n"))
    val wLast = Window.partitionBy(col("k"), col("b"))
      .orderBy(col("t").desc, col("v").desc)
    val lastInBucket = rows.withColumn("__rn", row_number().over(wLast))
      .filter(col("__rn") === 1).select(col("k"), col("b"), col("v").as("lv"))
    val grid = rows.groupBy(col("k"))
      .agg(min(col("b")).as("b0"), max(col("b")).as("b1"))
      .select(col("k"), explode(sequence(col("b0"), col("b1"))).as("b"))
    val wFill = Window.partitionBy(col("k")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(perBucket, Seq("k", "b"), "left")
      .join(lastInBucket, Seq("k", "b"), "left")
      .select(col("k"), col("b"), coalesce(col("n"), lit(0L)).as("n"),
        last(col("lv"), ignoreNulls = true).over(wFill).as("v_filled"))
  }

  /** Slowly-changing-dimension type 2 from a change log: collapse
    * consecutive equal attribute values per key (ordered by `ts`, ties
    * broken by the attribute value so replayed logs resolve identically),
    * emitting one validity interval per run — `valid_from` its first
    * event, `valid_to` the next run's start (null = current row), plus
    * `version` (1-based) and `is_current`.
    *
    * Scale shape: one shuffle on the key; change-point detection (lag),
    * interval close (lead) and versioning (row_number) all share the one
    * per-key sort. The dimension-build idiom for incremental warehouses:
    * the output joins back to facts as a point-in-time (as-of) dimension. */
  def scd2(df: DataFrame, key: Column, ts: Column, attr: Column): DataFrame = {
    val wSeq = Window.partitionBy(col("k")).orderBy(col("t"), col("a"))
    val changes = df.select(key.as("k"), ts.as("t"), attr.as("a"))
      .withColumn("__prev", lag(col("a"), 1).over(wSeq))
      .withColumn("__rn", row_number().over(wSeq))
      // first row per key (prev null, attr possibly null too) is always a run start
      .filter(col("__rn") === 1 || !(col("__prev") <=> col("a")))
    val wRun = Window.partitionBy(col("k")).orderBy(col("t"), col("a"))
    changes.select(col("k"), col("a"),
        col("t").as("valid_from"),
        lead(col("t"), 1).over(wRun).as("valid_to"),
        row_number().over(wRun).cast("bigint").as("version"))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** 2-D skyline (Pareto frontier): rows not dominated under
    * (maximize `x`, minimize `y`) — a dominates b iff a.x ≥ b.x, a.y ≤ b.y
    * and at least one is strict. Duplicated (x, y) points survive
    * together (neither strictly dominates). A row survives iff
    *   min(y | x' > x)  >  y        (no strictly-better row above)
    *   ∧ y = min(y | x' = x)        (best in its own x column).
    *
    * The naive formulation is the O(n²) anti-join (the oracle keeps it);
    * here the sorted linear scan runs DISTRIBUTED, mirroring
    * ntileHistogram's pattern: range-repartition on x ALONE (equal x
    * never splits across partitions, so partition order IS strict x
    * order), per-partition y-minima, and a driver collect of one value
    * per partition whose prefix-min seeds each partition with the
    * dominator minimum from all higher-x partitions — no single-task
    * global sort anywhere. The ranged frame checkpoints so the minima
    * pass and the filter pass see one sampled partitioning. Returns one
    * checkpointed frame the caller owns: the (typically tiny) frontier. */
  def skyline2d(df: DataFrame, x: Column, y: Column): DataFrame = {
    val parts = math.max(df.sparkSession.sessionState.conf.numShufflePartitions, 1)
    Checkpoints.scope() { s =>
      val ranged = s.checkpoint(
        df.select(x.as("x"), y.as("y"))
          .repartitionByRange(parts, col("x").desc)
          .withColumn("pid", spark_partition_id()))
      val yType = ranged.schema("y").dataType
      val mins = ranged.groupBy(col("pid")).agg(min(col("y")).as("my"))
        .collect().map(r => (r.getInt(0), r.get(1))).sortBy(_._1)
      // seed[pid] = min y over partitions pid' < pid — all strictly larger x
      val seeds = mins.scanLeft((Int.MinValue, null: Any)) { case ((_, acc), (pid, my)) =>
        // collected externals (Long/Double/BigDecimal/String/Timestamp) are
        // all Comparable; nulls never reach here (min() skips them)
        val nxt =
          if (acc == null || my == null) if (acc == null) my else acc
          else if (my.asInstanceOf[Comparable[Any]].compareTo(acc) < 0) my else acc
        (pid, nxt)
      }.sliding(2).collect { case Array((_, acc), (pid, _)) => (pid, acc) }.toArray
      val seedCol =
        if (seeds.isEmpty) lit(null).cast(yType)
        else element_at(
          map(seeds.flatMap { case (p, b) =>
            Seq(lit(p), (if (b == null) lit(null) else lit(b)).cast(yType))
          }.toSeq: _*), col("pid"))
      // within a partition: under (x desc, y asc) ordering the FIRST row of
      // an x-group sees exactly the strictly-greater-x rows as its window
      // prefix; min over that prefix, broadcast group-wide, is the local
      // strict-dominator minimum. least() skips nulls, so boundary
      // partitions (no seed / empty prefix) fall through correctly.
      val wScan = Window.partitionBy(col("pid")).orderBy(col("x").desc, col("y"))
      val wGroup = Window.partitionBy(col("pid"), col("x"))
      val frontier = ranged
        .withColumn("__seed", seedCol)
        .withColumn("__prefMin",
          min(col("y")).over(wScan.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("__gRank", row_number().over(
          Window.partitionBy(col("pid"), col("x")).orderBy(col("y"))))
        .withColumn("__aboveLocal", when(col("__gRank") === 1, col("__prefMin")))
        .withColumn("__above",
          least(min(col("__aboveLocal")).over(wGroup), col("__seed")))
        .withColumn("__gMin", min(col("y")).over(wGroup))
        .filter((col("__above").isNull || col("__above") > col("y")) &&
          col("y") === col("__gMin"))
        .select(col("x"), col("y"))
      s.checkpoint(frontier)
    }
  }

  /** Winsorized per-group statistics: clamp `value` to its group's exact
    * [pLo, pHi] interpolated percentiles, then report n, the clamp
    * bounds, the winsorized mean and how many rows were clipped at each
    * tail. The robust-stats companion to `profile` — outlier-insensitive
    * location estimates for quality-score / length distributions where a
    * handful of garbage rows would drag a plain mean.
    *
    * Scale shape: `percentile` is Spark's exact single-pass aggregate
    * (per-group sorted digest, partial-merged map-side), then the clamp
    * is a broadcast-joined second pass — two scans, one shuffle each, no
    * window. Outputs round to 6 decimals so the cross-engine hash is
    * stable over the interpolation arithmetic. */
  def winsorize(df: DataFrame, group: Column, value: Column,
                pLo: Double = 0.05, pHi: Double = 0.95): DataFrame = {
    require(0 <= pLo && pLo < pHi && pHi <= 1, s"need 0<=pLo<pHi<=1, got $pLo,$pHi")
    // NULL values carry no information for a robust-location statistic:
    // percentile already ignores them, so the mean/counts do too — n is
    // the NON-NULL count (the old avg-based shape let Spark's
    // null-skipping least/greatest silently treat a null as clipped-high,
    // which was wrong in a different way; round-10 review finding).
    val rows = df.select(group.as("g"), value.cast("double").as("v"))
      .filter(col("v").isNotNull)
    val bounds = rows.groupBy(col("g")).agg(
      expr(s"percentile(v, $pLo)").as("lo"),
      expr(s"percentile(v, $pHi)").as("hi"),
      count(lit(1)).as("n"))
    // The winsorized mean must NOT be a running-double avg(): its sum
    // order is partitioning-dependent, so the 1e-6 rounding can flip on a
    // half-case (caught by an sf0.001 parity sweep, round 10 — the
    // corrExact discipline applies). Decompose exactly instead: in-range
    // values sum as DECIMAL(38,9) — an exact, order-independent
    // accumulation at nano resolution, 1000× below the 1e-6 output
    // rounding and lossless for any real-world score/currency lattice —
    // and the clipped tails contribute count × bound. The mean is then a
    // PINNED chain of correctly-rounded ops on identical inputs —
    // bit-identical on any engine/partitioning.
    rows.join(broadcast(bounds), Seq("g"))
      .groupBy(col("g"))
      .agg(first(col("n")).as("n"),
        round(first(col("lo")), 6).as("p_lo"),
        round(first(col("hi")), 6).as("p_hi"),
        // |v| ≥ 1e29 overflows the decimal(38,9) cast. Under ANSI (the
        // Spark 4 default) a plain cast THROWS; under legacy it yields a
        // NULL element that SUM silently SKIPS while n still counts it —
        // either way the exact path must detect overflow per element, not
        // infer it from a NULL sum (round-10 advice finding). try_cast
        // makes the probe mode-independent, try_sum additionally turns an
        // ACCUMULATOR overflow (a sum crossing 1e29 even when every
        // element fits) into NULL instead of an ANSI abort. Any group
        // hitting either routes to the clamped running avg —
        // order-dependent in the last ulp, but a correct value beats a
        // silently-wrong exact path, and the decimal path still covers
        // every realistically-scaled corpus.
        expr("try_sum(try_cast(CASE WHEN v >= lo AND v <= hi THEN v " +
          "ELSE CAST(0.0 AS DOUBLE) END AS decimal(38,9)))").as("sum_in"),
        sum(when(col("v") >= col("lo") && col("v") <= col("hi") &&
            expr("try_cast(v AS decimal(38,9))").isNull, 1L)
          .otherwise(0L)).as("n_overflow"),
        avg(greatest(least(col("v"), col("hi")), col("lo"))).as("avg_fallback"),
        first(col("lo")).as("lo"),
        first(col("hi")).as("hi"),
        sum(when(col("v") < col("lo"), 1L).otherwise(0L)).as("n_clip_lo"),
        sum(when(col("v") > col("hi"), 1L).otherwise(0L)).as("n_clip_hi"))
      .select(col("g"), col("n"), col("p_lo"), col("p_hi"),
        round(when(col("n_overflow") > 0 || col("sum_in").isNull,
          col("avg_fallback")).otherwise(
          (col("sum_in").cast("double") +
            col("n_clip_lo").cast("double") * col("lo") +
            col("n_clip_hi").cast("double") * col("hi")) / col("n").cast("double")),
          6).as("winsor_mean"),
        col("n_clip_lo"), col("n_clip_hi"))
  }

  /** Exact per-group Pearson correlation. Built-in `corr` accumulates
    * running doubles whose value depends on row order — which Spark does
    * not promise across partitionings, so it can differ between runs,
    * engines and retries. Here the five moment sums are EXACT: inputs
    * quantize to centi-units (lossless for currency/quantity columns),
    * products and sums ride DECIMAL(38,0), and only the final closed
    * form — written in one declared operation order — touches doubles.
    * One partial-agg'd exchange on the group key; sqrt/division are
    * correctly-rounded IEEE ops, so identical sums give identical
    * correlations anywhere. */
  def corrExact(df: DataFrame, group: Column, x: Column, y: Column): DataFrame = {
    def d(c: Column): Column = c.cast("decimal(38,0)")
    val q = df.select(group.as("g"),
      round(x.cast("double") * 100).cast("long").as("xi"),
      round(y.cast("double") * 100).cast("long").as("yi"))
    q.groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        sum(d(col("xi"))).as("sx"), sum(d(col("yi"))).as("sy"),
        sum(d(col("xi")) * d(col("xi"))).as("sxx"),
        sum(d(col("yi")) * d(col("yi"))).as("syy"),
        sum(d(col("xi")) * d(col("yi"))).as("sxy"))
      .select(col("g"), col("n"),
        round((d(col("n")) * col("sxy") - col("sx") * col("sy")).cast("double") /
          sqrt((d(col("n")) * col("sxx") - col("sx") * col("sx")).cast("double") *
            (d(col("n")) * col("syy") - col("sy") * col("sy")).cast("double")), 6)
          .as("corr"))
  }

  /** Batch sessionization (gaps-and-islands): events of one key belong to
    * the same session while consecutive gaps stay under `gapNanos`.
    * Returns one row per session with start/end, event count and value sum.
    *
    * Scale shape: one hash exchange on the key, then BOTH windows (the
    * lag that marks session starts and the running sum that numbers them)
    * reuse that single partitioning — Catalyst plans one Exchange and one
    * Sort for the pair. State per key is its own event list, never global;
    * there is no session-count prepass and no driver state. The streaming
    * twin is EventStreams.sessionize (watermark + state timeout); this is
    * the backfill declaration over the same data. */
  def sessionize(df: DataFrame, key: Column, tsNanos: Column, value: Column,
                 gapNanos: Long): DataFrame = {
    require(gapNanos > 0, s"gapNanos must be positive, got $gapNanos")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("ts"))
    val marked = df
      .select(key.as("k"), tsNanos.cast("long").as("ts"), value.as("v"))
      .withColumn("new_session",
        when(col("ts") - lag(col("ts"), 1).over(w) <= lit(gapNanos), 0L)
          .otherwise(1L))
    marked
      .withColumn("session_no", sum(col("new_session")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("k"), col("session_no"))
      .agg(min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col("v")).as("sum_value"))
  }
}
