package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.{CurationQueries, DedupQueries, GraphQueries, JqQueries,
  MmQueries, RelationalQueries, ScaleQueries, SimQueries, StreamQueries, TextQueries}

/** One declared query. `run(spark, sfDir)` builds its Spark plan over the
  * sf dir's parquet tables, and `oracleSql` is the equivalent DuckDB SQL
  * the driver hash-compares its rows against on the same tables (views
  * named after them). Column names are aliased identically on both sides —
  * the driver sorts columns by name before hashing.
  *
  * A row without an oracle is Scale-only: a tuned-parameter variant that
  * exists to be measured on `graft.Scale`'s self-scaled corpora, so it
  * carries a `scaled(spark, dir, factor)` run, and Bench, Verify and
  * PlanDump never see it. An oracle row may carry one too, when Scale
  * should time its tuning rule rather than its pinned oracle parameters.
  * `role` marks a row kept as a measured reference for a twin row. */
final case class Query(name: String, run: (SparkSession, String) => DataFrame,
                       oracleSql: Option[String],
                       scaled: Option[(SparkSession, String, Int) => DataFrame] = None,
                       role: Option[Role] = None) {

  /** The plan Scale times on the ×`factor` corpus under `dir`. */
  def runAt(spark: SparkSession, dir: String, factor: Int): DataFrame =
    scaled.fold(run(spark, dir))(_(spark, dir, factor))
}

object Query {
  /** An oracle row: its plan and its DuckDB SQL. */
  def apply(name: String, run: (SparkSession, String) => DataFrame, oracleSql: String): Query =
    Query(name, run, Some(oracleSql))
}

/** Why a row is kept next to a production-shaped `twin` on the same
  * corpus: its scale tail is the measured justification for the twin,
  * not a configuration to deploy. Scale writes `kind` and `twin` into its
  * artifact, so a sweep self-adjudicates without a cross-reference into
  * prose. */
sealed abstract class Role(val kind: String) { def twin: String }

object Role {
  /** The operator's uncapped or flat form, super-linear by construction. */
  final case class Strawman(twin: String) extends Role("strawman-quadratic")
  /** A manual-rule reference curve, kept to measure the shipped automatic
    * rule against. */
  final case class RuleTest(twin: String) extends Role("rule-test")
}

/** Driver contract — see SURVEY.md §7.
  *
  * [[queries]] is the one catalogue of declared queries: each [[Query]] is
  * one operator/capability from SURVEY.md §2 (or the beyond-parity layer,
  * §7 step 7) and carries its plan and its oracle together. The entries
  * live one file per family under `graft/queries/`, and the name prefix
  * picks the file. This object keeps what several families share: the
  * table scan, the sink dirs, the memos and the near-dup cluster helper.
  */
object SparkEntry {

  /** Per-process unique ORC sink for rel_orc_roundtrip: concurrent
    * bench/verify runs on one host must not race on a shared path.
    * Removed on JVM exit; within the process `overwrite` keeps one copy. */
  private[graft] lazy val orcSinkDir: String = sinkDir("orc")
  private[graft] lazy val concatSinkDir: String = sinkDir("concat")
  private[graft] lazy val csvSinkDir: String = sinkDir("csv")
  private[graft] lazy val jsonSinkDir: String = sinkDir("json")
  private[graft] lazy val partitionedSinkDir: String = sinkDir("partitioned")
  private[graft] lazy val bucketedSinkDir: String = sinkDir("bucketed")

  private def sinkDir(kind: String): String = {
    val d = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_${kind}_${java.lang.ProcessHandle.current().pid()}")
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(d))
    d.getAbsolutePath
  }

  /** Fixed literal centroids for dedup_semantic (8 × dim-64): spread
    * patterns standing in for offline/sample-trained k-means (SemDeDup
    * trains centroids out-of-band too). Kept SQL-expressible so the
    * DuckDB oracle re-derives the IDENTICAL assignment from the same
    * literals — Double.toString round-trips exactly through DuckDB's
    * decimal parser. */
  private[graft] val SemCentroids: Seq[Seq[Double]] = Seq(
    Seq.tabulate(64)(i => if (i % 2 == 0) 1.0 else 0.0),
    Seq.tabulate(64)(i => if (i % 2 == 1) 1.0 else 0.0),
    Seq.tabulate(64)(i => if (i % 4 < 2) 1.0 else -1.0),
    Seq.tabulate(64)(i => if (i < 32) 1.0 else -1.0),
    Seq.tabulate(64)(i => math.sin(i + 1.0)),
    Seq.tabulate(64)(i => math.cos(i + 1.0)),
    Seq.tabulate(64)(i => if (i % 3 == 0) 1.0 else -0.5),
    Seq.tabulate(64)(i => 1.0 - i / 32.0),
  )

  /** Plan memo: `table()` is PURE plan construction (no data is cached —
    * a DataFrame is an immutable logical plan), but building it costs a
    * parquet footer/schema read per call. A bench that constructs every
    * query 3× (warm-up + 2 timed) pays that driver-side read inside the
    * timed region, hundreds of times over — memoizing the plan per
    * (session, path) makes repeat timings measure EXECUTION, exactly as
    * a production job (which builds its plan once) would see. */
  // keyed on the SESSION REFERENCE (SparkSession does not override
  // equals, so tuple equality is identity): identity hash codes can
  // collide between live sessions and recycle after GC, which would hand
  // one session another session's plan. Entries pin their session for
  // the process lifetime — the intended scope for a bench/verify/library
  // JVM with a handful of sessions.
  private val tableMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** One-time bucketed-layout build guard for rel_bucketed_join. */
  private[graft] val bucketedTablesMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), java.lang.Boolean]()

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    tableMemo.computeIfAbsent(
      (spark, s"$dir/$name"),
      _ => buildTable(spark, dir, name))

  private def buildTable(spark: SparkSession, dir: String, name: String): DataFrame = {
    // The events.ts physical type has varied across testdata generations:
    // TIMESTAMP(NANOS) (read as LONG nanos via nanosAsLong) and
    // TIMESTAMP(MICROS). Every operator downstream expects exact BIGINT
    // epoch-nanoseconds, so normalize here at the scan boundary — a µs
    // timestamp becomes unix_micros*1000 (lossless; the reverse of
    // EventStreams.eventTime). inferTimestampNTZ is disabled so a
    // naive-µs file loads as TimestampType holding the value as a UTC
    // instant, matching DuckDB's epoch_us() reading of the same file.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val raw = spark.read.parquet(s"$dir/$name.parquet")
    // Scan parallelism comes from the file layout: a bench table is one
    // parquet file in one row group, so its scan runs in one task
    // whatever the core count, and every kernel before the first exchange
    // (jq/dedup/text) would run single-threaded. So a table with fewer
    // data files than the session's parallelism gets one explicit
    // exchange to spread the work; filters and column pruning still reach
    // the scan (Catalyst pushes both through Repartition, verified via
    // .explain: PushedFilters stays populated). A multi-file layout as
    // wide as the parallelism (a real multi-TB table, Scale's scaled
    // tables) scans in parallel and is left alone. The file count is the
    // listing the read already made.
    val par = spark.sparkContext.defaultParallelism
    val df = normalizeTs(raw)
    if (raw.inputFiles.length < par) df.repartition(par) else df
  }

  /** If `df` has a timestamp-typed `ts` column, rewrite it in place to
    * BIGINT epoch-nanos (the shape the whole engine computes in). */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts") match {
      case Some(f) if f.dataType == org.apache.spark.sql.types.TimestampType ||
          f.dataType == org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType)) * lit(1000L))
      case _ => df
    }

  /** Flagship query on sf=0.001 (driver smoke-checks rows > 0): jq-extract
    * the metric from the JSON props of the event stream, then aggregate
    * per event type. One narrow jq projection + one partial-aggregated
    * shuffle — the shape that scales to 100 TB. */
  def entry(spark: SparkSession): DataFrame = {
    val ev = table(spark, "/root/testdata/sf0.001", "events")
    ev.select(col("event_type"), Jq.long(".k", col("props")).as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
  }

  /** Connected components of `doc_id`s over a checkpointed pair frame
    * the query owns (a `minhashNearDups` result): nearDupClusters copies
    * the pairs into its own edge frame, so they release the moment it
    * returns and only the cluster labels stay persisted. */
  private[graft] def nearDupClustersOf(ids: DataFrame, pairs: DataFrame): DataFrame =
    operators.Checkpoints.scope() { s =>
      operators.Dedup.nearDupClusters(ids, "doc_id", s.own(pairs))
    }

  /** Every declared query by name, built once: the oracle rows and the
    * Scale-only rows. */
  lazy val queries: Map[String, Query] = registry(
    JqQueries.all ++ RelationalQueries.all ++ CurationQueries.all ++
      DedupQueries.all ++ SimQueries.all ++ TextQueries.all ++
      MmQueries.all ++ StreamQueries.all ++ GraphQueries.all ++ ScaleQueries.all)

  /** Keys `qs` by name after three checks. A repeated name throws: a map
    * would silently keep the last one and shadow a green oracle row. A
    * role whose twin is not a row throws: the tag would annotate nothing.
    * A row with neither an oracle nor a scaled run throws: only Scale-only
    * rows may lack an oracle. */
  def registry(qs: Seq[Query]): Map[String, Query] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(",")}")
    val byName = qs.map(q => q.name -> q).toMap
    val orphans = qs.flatMap(q => q.role.filterNot(r => byName.contains(r.twin))
      .map(r => s"${q.name} -> ${r.twin}"))
    require(orphans.isEmpty, s"role twins that are not queries: ${orphans.sorted.mkString(",")}")
    val mute = qs.filter(q => q.oracleSql.isEmpty && q.scaled.isEmpty).map(_.name)
    require(mute.isEmpty, s"queries with neither an oracle nor a scaled run: ${mute.sorted.mkString(",")}")
    byName
  }

  /** The registered rows named in `list`, a comma list, sorted by name. A
    * name that is not registered throws, so a typo cannot silently run
    * nothing. */
  def named(list: String): Seq[Query] = {
    val names = list.split(",").map(_.trim).filter(_.nonEmpty).distinct.sorted.toSeq
    val unknown = names.filterNot(queries.contains)
    require(names.nonEmpty && unknown.isEmpty,
      s"unknown queries: ${unknown.mkString(",")} (SPARK_GRAFT_ONLY=$list)")
    names.map(queries)
  }

  /** The oracle rows Bench, Verify and PlanDump run, sorted by name: all
    * of them, or those named in `only`, the comma list of
    * `SPARK_GRAFT_ONLY`. Naming a Scale-only row throws as well. */
  def selected(only: Option[String]): Seq[Query] = only match {
    case None => queries.values.filter(_.oracleSql.isDefined).toSeq.sortBy(_.name)
    case Some(list) =>
      val qs = named(list)
      val scaleOnly = qs.filter(_.oracleSql.isEmpty).map(_.name)
      require(scaleOnly.isEmpty,
        s"Scale-only queries (no oracle; graft.Scale runs them): ${scaleOnly.mkString(",")}")
      qs
  }
}
