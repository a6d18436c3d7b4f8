package graftbench

import graft.functions.QuestionParser

/** The per-layer metrics every workload reports in its traced run (the
  * `per_layer` list of BENCHMARK.json): Spark-wide figures per operation,
  * the parser's single-thread cost from direct calls, and the tracing
  * overhead measured on the same run.
  */
object Common {

  /** Single-thread `QuestionParser.parsePage` cost in µs per page over a
    * fixed page sample: median of 7 passes after 3 untimed ones.
    */
  def parseUsPerPage(htmls: Seq[Array[Byte]]): Double = {
    var sink = 0L
    def pass(): Double = {
      val (_, s) = Util.timed(htmls.foreach(h => sink += QuestionParser.parsePage(h).questions.size))
      s * 1e6 / htmls.size
    }
    (1 to 3).foreach(_ => pass())
    val r = Util.median((1 to 7).map(_ => pass()))
    require(sink > 0, "parser sample produced no questions")
    r
  }

  def perLayer(ctx: Ctx, ops: Seq[Layers.Window], stages: Seq[Tracer.Attributed],
               jobs: Seq[Tracer.Job], htmls: Seq[Array[Byte]],
               overheadRatio: Double): Main.Metrics =
    Layers.spark(ops, stages, jobs, ctx.cores, "spark")
      .filter { case (k, _) => Keys.contains(k) } ++ Map(
      "functions.parse_us_per_page" -> (parseUsPerPage(htmls), "us"),
      "trace.overhead_ratio" -> (overheadRatio, "ratio"))

  val Keys: Set[String] = Set("spark.busy_share", "spark.driver_gap_s", "spark.jobs_per_op",
    "spark.stages_per_op", "spark.cpu_s", "spark.gc_s", "spark.shuffle_write_bytes",
    "spark.task_skew")
}

/** Pinned expected values (perfbench/pins.json): per query the (rows, hash)
  * of its fully materialized result, per crawl workload its trace digest.
  */
final case class Pins(queries: Map[String, (Long, Long)], traceDigest: Map[String, Long])

object Pins {
  private val QueryRe = """"([a-z0-9_]+)"\s*:\s*\[\s*(-?\d+)\s*,\s*(-?\d+)\s*\]""".r
  private val DigestRe = """"([a-z-]+)"\s*:\s*(-?\d+)""".r

  /** Reads the two sections of the pin file; a missing file pins nothing
    * (every check against it then fails).
    */
  def load(path: String): Pins = {
    val f = new java.io.File(path)
    if (!f.exists()) return Pins(Map.empty, Map.empty)
    val text = scala.io.Source.fromFile(f, "UTF-8").mkString
    def section(name: String): String = {
      val i = text.indexOf("\"" + name + "\"")
      if (i < 0) "" else text.substring(text.indexOf('{', i), text.indexOf('}', i) + 1)
    }
    Pins(
      QueryRe.findAllMatchIn(section("queries"))
        .map(m => m.group(1) -> (m.group(2).toLong, m.group(3).toLong)).toMap,
      DigestRe.findAllMatchIn(section("trace_digest"))
        .map(m => m.group(1) -> m.group(2).toLong).toMap)
  }
}
