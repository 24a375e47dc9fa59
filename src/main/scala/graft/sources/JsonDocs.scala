package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.jq.JqDoc
import graft.json.{JDoc, JsonText}

/** Sources for the reference's document-stream formats (SURVEY.md §2.1).
  *
  * The reference's `Jsons` scan (reference: src/json.rs:123-160) reads a
  * byte stream of whitespace-separated JSON values. Two Spark readings:
  *
  *   - [[readJsonl]] — one value per line (JSONL). The scalable path:
  *     text-file splits parallelize by line, so a 100 TB corpus fans out
  *     across executors with no coordination.
  *   - [[readConcatenated]] — whitespace-separated values that may span
  *     lines, parsed per file with the engine's own incremental codec.
  *     Parallelism is per-file (a value can straddle any byte offset, so
  *     sub-file splits can't be cut safely) — the documented trade-off of
  *     the reference's format; prefer JSONL at scale.
  *
  * Both yield (doc: canonical JSON text, error): malformed input becomes
  * per-record errors, never exceptions (the engine's error-as-data rule).
  * The whole-file readers (concatenated text, CBOR, MessagePack) share one
  * lenient decode into those rows; JSONL is Catalyst expressions over the
  * jq document conversion of each line, so jq over its `doc` reads that
  * parse.
  */
object JsonDocs {

  /** One JSON value per line; blank lines are skipped and bad lines yield
    * an error row. `doc` and `error` are Catalyst expressions over one
    * parse of the line, the jq document conversion
    * [[graft.jq.JqDoc]]`(value)`, so a row parses once however many of
    * them a query reads; and a jq expression over `doc` reads that parse
    * instead of re-parsing the canonical text
    * ([[graft.plans.JqPathCompile]]), which is then never written unless
    * `doc` itself is selected. */
  def readJsonl(spark: SparkSession, path: String): DataFrame =
    parsedLines(spark.read.text(path))

  /** Whitespace-separated concatenated values (the reference's on-disk
    * format), one partition per file. */
  def readConcatenated(spark: SparkSession, path: String): DataFrame =
    decodedDocs(spark.read.option("wholetext", "true").textFile(path), JsonText.parseManyLenient)

  /** The `InputMem` analogue (reference: src/input_mem.rs:4-46): an
    * in-memory document vector as a DataFrame. */
  def fromStrings(spark: SparkSession, docs: Seq[String]): DataFrame = {
    import spark.implicits._
    docs.toDF("raw").select(col("raw").as("doc"))
  }

  /** Concatenated CBOR values per file — the binary analogue of
    * [[readConcatenated]] (both codecs are self-delimiting, so a file is
    * a document stream with no separators). Per-file parallelism; yields
    * (doc: canonical JSON text, error). */
  def readCbor(spark: SparkSession, path: String): DataFrame =
    decodedDocs(binaryFiles(spark, path), graft.json.CborCodec.decodeMany)

  /** Concatenated MessagePack values per file. */
  def readMsgPack(spark: SparkSession, path: String): DataFrame =
    decodedDocs(binaryFiles(spark, path), graft.json.MsgPackCodec.decodeMany)

  private def binaryFiles(spark: SparkSession, path: String): Dataset[Array[Byte]] = {
    import spark.implicits._
    spark.read.format("binaryFile").load(path).select(col("content")).as[Array[Byte]]
  }

  /** Whole-file document streams → (doc, error) rows: every value the
    * lenient `decodeMany` reads, canonical, then the error of the
    * malformed remainder, if any. */
  private def decodedDocs[A](files: Dataset[A],
      decodeMany: A => (Vector[JDoc], Option[String])): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    files.flatMap { file =>
      val (docs, err) = decodeMany(file)
      docs.map(d => (JsonText.canonical(d), null: String)) ++ err.map(m => (null: String, m))
    }.toDF("doc", "error")
  }

  /** Distributed JSONL sink — the write path symmetric to [[readJsonl]]:
    * one canonical JSON value per line, one file per partition (a 100 TB
    * corpus writes with no coordination). `docCol` converts as every
    * document operand does ([[graft.jq.JqDoc]]): JSON text parses, a
    * STRUCT, ARRAY, MAP or VARIANT column converts structurally.
    * Canonicalization (sorted keys, shortest floats) makes the write→read
    * round trip byte-identical; non-canonical input text is normalized,
    * and malformed text or a NULL document fails the write. Line order
    * within a partition follows row order — `orderBy`/
    * `sortWithinPartitions` upstream if a stable order matters. */
  def writeJsonl(docs: DataFrame, docCol: String, path: String): Unit = {
    val parse = JqDoc(ColumnBridge.expression(docs.col(docCol)))
    val text = ColumnBridge.column(ParsedText(parse))
    val error = coalesce(ColumnBridge.column(ParsedError(parse)), lit("NULL document"))
    docs.select(when(text.isNotNull, text)
        .otherwise(raise_error(concat(lit(s"writeJsonl: $docCol is not a JSON document: "), error))))
      .write.mode("overwrite").text(path)
  }

  /** Unbounded variant of [[readJsonl]] for Structured Streaming. */
  def streamJsonl(spark: SparkSession, dir: String): DataFrame =
    parsedLines(spark.readStream.text(dir))

  /** Text lines (`value`) → (doc, error), the one projection behind
    * [[readJsonl]] and [[streamJsonl]]. */
  private def parsedLines(lines: DataFrame): DataFrame = {
    val line = ColumnBridge.expression(lines.col("value"))
    val parse = JqDoc(line)
    lines.filter(ColumnBridge.column(NonBlank(line)))
      .select(
        ColumnBridge.column(ParsedText(parse)).as("doc"),
        ColumnBridge.column(ParsedError(parse)).as("error"))
  }
}
