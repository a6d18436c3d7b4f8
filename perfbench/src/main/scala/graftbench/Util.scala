package graftbench

import java.nio.file.{Files, Paths}

/** Small helpers shared by the workloads: a JSON writer, order statistics,
  * wall clocks and file-tree utilities. No dependency on the engine.
  */
object Util {

  /** Minimal JSON rendering for Map / Seq / String / Boolean / numbers. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${quote(k.toString)}:${json(x)}" }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case xs: Array[_] => json(xs.toSeq)
    case Some(x) => json(x)
    case None => "null"
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Median (mean of the middle two for an even count). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Geometric mean of positive values. */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive values")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Nearest-rank percentile, p in (0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1)))
  }

  /** The highest of p90/p99 that still has at least ten samples above it. */
  def tailPercentile(xs: Seq[Double]): Option[(String, Double)] =
    Seq(99.0 -> "p99", 90.0 -> "p90")
      .find { case (p, _) => xs.length * (1 - p / 100.0) >= 10 }
      .map { case (p, name) => name -> percentile(xs, p) }

  /** Wall clock in epoch milliseconds with nanosecond-derived resolution —
    * comparable with Spark listener timestamps and file mtimes.
    */
  private val epochBaseMs = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  def nowMs: Double = epochBaseMs + (System.nanoTime() - nanoBase) / 1e6

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of this JVM (all threads, user + system) in seconds. Unlike
    * wall time it does not grow with time the host takes the CPUs away.
    */
  def processCpuS: Double = osBean.getProcessCpuTime / 1e9

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(x => Files.deleteIfExists(x))
  }

  /** Modification instant of a file in epoch milliseconds (sub-ms precision
    * where the filesystem keeps it).
    */
  def mtimeMs(file: String): Double = {
    val t = Files.getLastModifiedTime(Paths.get(file)).toInstant
    t.getEpochSecond * 1000.0 + t.getNano / 1e6
  }

  /** Peak resident set of this JVM (VmHWM) in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }
}
