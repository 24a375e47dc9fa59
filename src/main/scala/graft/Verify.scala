package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each selected query's result → parquet,
  * plus its oracle SQL in oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // dev loop: SPARK_GRAFT_ONLY=q1,q2 restricts the dump and the oracle
    // file to those rows (driver sets no filter and gets every oracle row)
    val selected = SparkEntry.selected(Harness.only)
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    selected.foreach { query =>
      try query.run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${query.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${query.name} failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = selected
      .flatMap(query => query.oracleSql.map(sql => s"${q(query.name)}: ${q(sql)}"))
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
