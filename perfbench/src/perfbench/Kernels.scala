package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.types.StructType

import graft.jq.{Interp, JqInput, JqParser}
import graft.json.{JDoc, JsonText}

/** Single-thread loops over graft's kernels with no Spark involved, on the
  * workload's own documents. Each loop runs one warm-up round, then whole
  * rounds until `MinNs` has passed, and reports time per item. */
object Kernels {
  private val MinNs = 300L * 1000 * 1000
  @volatile var sink = 0L
  @volatile var last: AnyRef = null

  /** ns per item; `round` processes every item once and returns the count. */
  private def perItem(tr: Tracer, name: String)(round: => Int): Double =
    tr.span(name, "kernel") {
      round
      var items = 0L
      val t0 = System.nanoTime()
      var t = t0
      while (t - t0 < MinNs) { items += round; t = System.nanoTime() }
      (t - t0).toDouble / items
    }

  def jq(tr: Tracer, json: Seq[String], progs: Seq[(String, String)],
         perProgram: Boolean): Map[String, Double] = {
    val docs: Array[JDoc] = json.map(JsonText.parse).toArray
    val out = Map.newBuilder[String, Double]
    out += "json.parse_ns_per_doc" -> perItem(tr, "json.parse") {
      json.foreach(s => last = JsonText.parse(s)); json.length
    }
    out += "json.canonical_ns_per_doc" -> perItem(tr, "json.canonical") {
      docs.foreach(d => sink += JsonText.canonical(d).length); docs.length
    }
    out += "jq.compile_us_per_program" -> perItem(tr, "jq.compile") {
      progs.foreach { case (_, q) => last = Interp.compile(JqParser.parse(q)) }; progs.length
    } / 1000
    val pipes = progs.map { case (name, q) => name -> Interp.compile(JqParser.parse(q)) }
    var outputs = 0L
    var errors = 0L
    for ((_, pipe) <- pipes; d <- docs) {
      val es = pipe(d, Nil)
      outputs += es.length
      errors += es.count(_.errors.nonEmpty)
    }
    out += "jq.outputs_per_doc" -> outputs.toDouble / docs.length
    out += "jq.error_entries" -> errors.toDouble
    // ns per doc for the whole program mix; per program only when asked
    out += "jq.eval_ns_per_doc" -> (
      if (perProgram) pipes.map { case (name, pipe) =>
        val ns = perItem(tr, s"jq.eval.$name") { docs.foreach(d => sink += pipe(d, Nil).length); docs.length }
        out += s"jq.eval_ns.$name" -> ns
        ns
      }.sum
      else perItem(tr, "jq.eval") {
        docs.foreach(d => pipes.foreach { case (_, pipe) => sink += pipe(d, Nil).length }); docs.length
      })
    out.result()
  }

  /** `JqInput.converter` on the table's STRUCT column: Spark internal rows
    * to graft documents. */
  def inputConvert(tr: Tracer, table: DataFrame): Map[String, Double] = {
    val st = table.schema("doc").dataType.asInstanceOf[StructType]
    val toInternal = CatalystTypeConverters.createToCatalystConverter(st)
    val rows = table.select("doc").limit(4000).collect().map(r => toInternal(r.getStruct(0)))
    val conv = JqInput.converter(st)
    Map("jq.input_convert_ns_per_row" -> perItem(tr, "jq.input_convert") {
      rows.foreach(r => last = conv(r)); rows.length
    })
  }
}
