package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point. Run through `perfbench/run.py`, which builds the
  * classes and passes the directories:
  *
  * {{{
  * Main --workload <crawl-bulk|query-pass> --seed <n>
  *      --seconds <s> --trace <0|1> --data <dir> --work <dir>
  *      --pins <pins.json> --trace-out <file>
  * }}}
  *
  * Prints an `info` line (workload figures under their own names, sample
  * counts, seed, nproc, heap), a `layers` line in traced runs, and as the
  * last line the result object `{correct, attempted, failed, metrics}`.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        data: String, work: String, pins: String, traceOut: String)

  /** Metrics shared by every workload: one value and its unit. */
  type Metrics = Map[String, (Double, String)]

  final case class Outcome(endToEnd: Metrics, perLayer: Metrics, layers: Metrics,
                           info: Map[String, Any])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("data"), need("work"), need("pins"), need("trace-out"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val ctx = new Ctx(a)
    val outcome = a.workload match {
      case CrawlWorkload.Name => new CrawlWorkload(ctx).run()
      case "query-pass" => new QueryWorkload(ctx).run()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    ctx.stopSession()
    if (a.trace) ctx.writeTrace()
    def render(ms: Metrics) = ms.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    val info = outcome.info ++ Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "nproc" -> Runtime.getRuntime.availableProcessors(),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "failures" -> ctx.failures.toList,
      "end_to_end" -> render(outcome.endToEnd))
    println(Util.json(Map("info" -> info)))
    if (a.trace) println(Util.json(Map("layers" -> render(outcome.layers))))
    val metrics = if (a.trace) outcome.perLayer else outcome.endToEnd
    println(Util.json(Map(
      "correct" -> (ctx.failed == 0), "attempted" -> ctx.attempted,
      "failed" -> ctx.failed, "metrics" -> render(metrics))))
    System.out.flush()
  }
}

/** Per-run state: the Spark session, operation counters, correctness
  * failures and (traced runs) the in-memory span buffer.
  */
final class Ctx(val args: Main.Args) {
  val cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  private var current: Option[(SparkSession, Int)] = None
  val tracer = new Tracer
  private var tracerOn = false

  /** A span: name, start, end (epoch ms), parent id and attributes. */
  final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double,
                        attrs: Map[String, Any])
  val spans = mutable.ArrayBuffer.empty[Span]
  def span(parent: Int, name: String, startMs: Double, endMs: Double,
           attrs: Map[String, Any] = Map.empty): Int = {
    val id = spans.size + 1
    spans += Span(id, parent, name, startMs, endMs, attrs)
    id
  }

  /** Count one operation; `check` returns the failure reasons (if any). */
  def op(what: String)(check: => Seq[String]): Boolean = {
    attempted += 1
    val problems = try check catch {
      case e: Throwable => Seq(s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    if (problems.nonEmpty) {
      failed += 1
      if (failures.size < 20) failures ++= problems.map(p => s"$what: $p")
      System.err.println(s"[perfbench] FAILED $what: ${problems.mkString("; ")}")
    }
    problems.isEmpty
  }

  /** The session at `cpus` threads, (re)starting it when the level changes. */
  def session(cpus: Int): SparkSession = current match {
    case Some((s, c)) if c == cpus => s
    case _ =>
      stopSession()
      val s = SparkSession.builder()
        .master(s"local[$cpus]")
        .appName(s"perfbench-${args.workload}-$cpus")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "4m")
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"${args.work}/spark-local")
        .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      current = Some((s, cpus))
      tracerOn = false
      s
  }

  def stopSession(): Unit = {
    current.foreach(_._1.stop())
    current = None
    tracerOn = false
  }

  /** Run `f` with the listener attached (traced) or detached. */
  def traced[T](on: Boolean)(f: => T): T = {
    val sc = current.get._1.sparkContext
    if (on && !tracerOn) { sc.addSparkListener(tracer); tracerOn = true }
    if (!on && tracerOn) { sc.removeSparkListener(tracer); tracerOn = false }
    val r = f
    if (on) tracer.settle()
    r
  }

  /** Write the spans and the listener's stages as JSON lines. */
  def writeTrace(): Unit = {
    val out = new java.io.PrintWriter(args.traceOut, "UTF-8")
    try {
      spans.foreach { s =>
        out.println(Util.json(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++ s.attrs))
      }
    } finally out.close()
  }
}
