package graftbench

import Tracer.{Attributed, unionMs, clip}

/** Per-layer figures computed from the listener's attributed stages, over
  * the windows of the traced operations.
  */
object Layers {

  type Window = (Double, Double)

  def within(st: Tracer.Stage, ops: Seq[Window]): Boolean =
    ops.exists { case (s, e) => st.startMs >= s - 1 && st.endMs <= e + 1 }

  /** Whole-run Spark figures per operation: busy share, driver gap, jobs,
    * CPU, GC, shuffle and skew.
    */
  def spark(ops: Seq[Window], stages: Seq[Attributed], jobs: Seq[Tracer.Job],
            cores: Int, prefix: String): Main.Metrics = {
    val in = stages.filter(a => within(a.stage, ops))
    val n = ops.size.toDouble
    val wallMs = ops.map { case (s, e) => e - s }.sum
    val gapMs = ops.map { case (s, e) =>
      (e - s) - unionMs(clip(in.map(a => (a.stage.startMs, a.stage.endMs)), s, e))
    }.sum
    val nJobs = jobs.count(j => ops.exists { case (s, e) => j.startMs >= s - 1 && j.startMs <= e + 1 })
    Map(
      s"$prefix.busy_share" -> (in.map(_.stage.runMs).sum / (wallMs * cores), "ratio"),
      s"$prefix.driver_gap_s" -> (gapMs / 1000.0 / n, "s"),
      s"$prefix.jobs_per_op" -> (nJobs / n, "count"),
      s"$prefix.stages_per_op" -> (in.size / n, "count")) ++
      costs(in, n, prefix)
  }

  /** CPU, GC, shuffle write, spill and task skew of a set of stages, per op. */
  def costs(in: Seq[Attributed], n: Double, prefix: String): Main.Metrics = {
    val skews = in.filter(_.stage.taskMs.size >= 2).map(_.stage.skew)
    Map(
      s"$prefix.cpu_s" -> (in.map(_.stage.cpuNs).sum / 1e9 / n, "s"),
      s"$prefix.gc_s" -> (in.map(_.stage.gcMs).sum / 1000.0 / n, "s"),
      s"$prefix.shuffle_write_bytes" -> (in.map(_.stage.shuffleWriteBytes).sum / n, "B"),
      s"$prefix.spill_bytes" -> (in.map(_.stage.spillBytes).sum / n, "B"),
      s"$prefix.task_skew" -> (if (skews.isEmpty) 1.0 else Util.median(skews), "ratio"))
  }

  /** Wall seconds per op during which at least one selected stage ran. */
  def wallS(in: Seq[Attributed], ops: Seq[Window]): Double =
    ops.map { case (s, e) =>
      unionMs(clip(in.map(a => (a.stage.startMs, a.stage.endMs)), s, e))
    }.sum / 1000.0 / ops.size
}
