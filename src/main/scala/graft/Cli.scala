package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** The finished form of the reference's CLI stub `q`
  * (reference: src/bin/q.rs:44-49 parses only --version): run a jq program
  * over a file of JSON documents and print canonical outputs.
  *
  * Usage: runMain graft.Cli '<query>' <path> [--jsonl|--concat]
  */
object Cli {
  val Version = "graft 0.1.0"

  /** The whole CLI pipeline behind `main`, with the process boundary
    * injected: args → parse (fail fast, BEFORE a session exists — the
    * session parameter is by-name) → scan → compile → `toLocalIterator`
    * stream of canonical output lines. Returns the process exit code.
    * `main` passes stdout/stderr; the `cli_q` oracle row and the spec
    * pass buffers, so the driver-checked path IS the CLI path. */
  def execute(spark: => SparkSession, args: Array[String],
              out: String => Unit, err: String => Unit): Int = {
    if (args.contains("--version")) { out(Version); return 0 }
    if (args.length < 2) {
      err("usage: graft.Cli '<jq query>' <path> [--jsonl|--concat]")
      return 2
    }
    val query = args(0)
    val path = args(1)
    val concat = args.contains("--concat")

    // fail fast on a bad program before spinning up a session
    try jq.JqParser.parse(query) catch {
      case e: jq.JqParser.JqParseException =>
        err(s"query error: ${e.getMessage}"); return 2
    }

    val docs =
      if (concat) sources.JsonDocs.readConcatenated(spark, path)
      else sources.JsonDocs.readJsonl(spark, path)
    val result = docs
      .select(Jq.query(query, col("doc")).as("entries"), col("error"))
    // toLocalIterator, not collect: the CLI advertises "query a big
    // file", so the driver holds one partition at a time, never the
    // whole result (round-2 advice)
    result.toLocalIterator().forEachRemaining { row =>
      if (!row.isNullAt(1)) err(s"input error: ${row.getString(1)}")
      else row.getSeq[org.apache.spark.sql.Row](0).foreach { e =>
        val errors = e.getSeq[String](1)
        if (errors.nonEmpty) err(s"error: ${errors.mkString("; ")}")
        else out(e.getString(0))
      }
    }
    0
  }

  def main(args: Array[String]): Unit = {
    lazy val spark = {
      val s = SparkSession.builder()
        .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
        .appName("graft-q")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.extensions", "graft.GraftExtensions") // jq over `doc` reads the line's one parse
        .config("spark.sql.unionOutputPartitioning", "false") // Spark 4.1 union claim/exec mismatch; see Checkpoints.scala
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    var started = false
    val code =
      try execute({ started = true; spark }, args, println, System.err.println)
      finally if (started) spark.stop()
    if (code != 0) sys.exit(code)
  }
}
