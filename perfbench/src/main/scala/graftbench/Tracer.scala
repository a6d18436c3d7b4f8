package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Benchmark-registered SparkListener: records every job, stage and SQL
  * execution in memory while attached, so the traced run can attribute
  * executor time to the repo's modules from outside the program.
  *
  * A stage is attributed through its SQL execution's call site (the
  * `details` stack of `SparkListenerSQLExecutionStart`), not through the
  * stage's own call site: stages launched by adaptive execution or by the
  * engine's commit threads carry no `graft.` frame of their own.
  */
final class Tracer extends SparkListener {
  import Tracer._

  private val lock = new Object
  val execs = mutable.Map.empty[Long, Exec]
  val jobs = mutable.Map.empty[Int, Job]
  val stages = mutable.Map.empty[(Int, Int), Stage]
  private val stageJob = mutable.Map.empty[Int, Int]
  private var openJobs = 0
  @volatile private var lastEventMs = Util.nowMs

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => lock.synchronized {
      execs(e.executionId) = Exec(e.executionId, e.rootExecutionId.getOrElse(e.executionId),
        e.details, e.physicalPlanDescription)
      lastEventMs = Util.nowMs
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val props = Option(e.properties)
    val execId = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption)
    val callSite = props.flatMap(p => Option(p.getProperty("callSite.long"))).getOrElse("")
    jobs(e.jobId) = Job(e.jobId, execId, e.time.toDouble, callSite)
    e.stageInfos.foreach(s => stageJob.getOrElseUpdate(s.stageId, e.jobId))
    openJobs += 1
    lastEventMs = Util.nowMs
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    openJobs -= 1
    lastEventMs = Util.nowMs
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val key = (e.stageId, e.stageAttemptId)
    val st = stages.getOrElseUpdate(key, Stage(e.stageId, e.stageAttemptId))
    val info = e.taskInfo
    if (info != null) st.taskMs += (info.finishTime - info.launchTime).toDouble
    val m = e.taskMetrics
    if (m != null) {
      st.runMs += m.executorRunTime
      st.cpuNs += m.executorCpuTime
      st.gcMs += m.jvmGCTime
      st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
    lastEventMs = Util.nowMs
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    val si = e.stageInfo
    val st = stages.getOrElseUpdate((si.stageId, si.attemptNumber()), Stage(si.stageId, si.attemptNumber()))
    st.startMs = si.submissionTime.map(_.toDouble).getOrElse(Double.NaN)
    st.endMs = si.completionTime.map(_.toDouble).getOrElse(Double.NaN)
    st.details = si.details
    st.jobId = stageJob.getOrElse(si.stageId, -1)
    st.done = true
    lastEventMs = Util.nowMs
  }

  /** Wait until the asynchronous listener bus has delivered the events of
    * the action that just returned: no open job and a quiet bus.
    */
  def settle(maxWaitMs: Long = 5000L): Unit = {
    val t0 = Util.nowMs
    var quiet = false
    while (!quiet && Util.nowMs - t0 < maxWaitMs) {
      Thread.sleep(20)
      quiet = lock.synchronized(openJobs <= 0) && Util.nowMs - lastEventMs > 100
    }
  }

  /** Completed stages, attributed to a layer (see [[Tracer.layerOf]]). */
  def attributedStages(): Seq[Attributed] = lock.synchronized {
    stages.values.filter(s => s.done && !s.startMs.isNaN && !s.endMs.isNaN).toSeq.map { s =>
      val job = jobs.get(s.jobId)
      val exec = job.flatMap(_.execId).flatMap(execs.get)
      val root = exec.flatMap(x => execs.get(x.rootId))
      // the execution's call site; then its root execution's; the job's and
      // the stage's own call site last
      val sites = exec.map(_.details).toSeq ++ root.map(_.details) ++
        job.map(_.callSite) :+ s.details
      val plan = exec.map(_.plan).getOrElse("") + root.map(_.plan).getOrElse("")
      val layer = sites.iterator.map(layerOf).find(_ != Unknown).getOrElse(Unknown)
      Attributed(s, job.map(_.jobId).getOrElse(-1), layer, tableOf(plan),
        plan.contains("UDF(html"))
    }
  }

  def jobList(): Seq[Job] = lock.synchronized(jobs.values.toSeq)
}

object Tracer {
  final case class Exec(id: Long, rootId: Long, details: String, plan: String)
  final case class Job(jobId: Int, execId: Option[Long], startMs: Double, callSite: String)
  final case class Stage(stageId: Int, attempt: Int) {
    var jobId: Int = -1
    var details: String = ""
    var startMs: Double = Double.NaN
    var endMs: Double = Double.NaN
    var runMs: Long = 0L
    var cpuNs: Long = 0L
    var gcMs: Long = 0L
    var shuffleWriteBytes: Long = 0L
    var spillBytes: Long = 0L
    var done: Boolean = false
    val taskMs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
    /** max ÷ median task time; 1.0 for single-task stages. */
    def skew: Double =
      if (taskMs.size < 2) 1.0
      else { val med = Util.median(taskMs.toSeq); if (med <= 0) 1.0 else taskMs.max / med }
  }
  /** `table` is the store table a write stage targets (from the plan). */
  final case class Attributed(stage: Stage, jobId: Int, layer: String,
                              table: Option[String], parses: Boolean)

  val Unknown = "unknown"

  /** Module that owns a call-site stack: the innermost `graft.` frame,
    * except that a SnapshotTable frame called from an operator (SeenSet,
    * Frontier) belongs to that operator.
    */
  def layerOf(stack: String): String = {
    val frames = stack.split("\n").iterator.map(_.trim)
      .filter(f => f.startsWith("graft.") && !f.startsWith("graft.util."))
      .map(moduleOf).filter(_ != Unknown).toVector
    frames match {
      case Vector() => Unknown
      case "plans" +: rest if rest.headOption.exists(m => m != "engine" && m != "plans") => rest.head
      case m +: _ => m
    }
  }

  def moduleOf(frame: String): String =
    if (frame.startsWith("graft.CrawlEngine")) "engine"
    else if (frame.startsWith("graft.operators.SeenSet")) "seenset"
    else if (frame.startsWith("graft.operators.Politeness")) "politeness"
    else if (frame.startsWith("graft.operators.Frontier")) "frontier"
    else if (frame.startsWith("graft.plans.")) "plans"
    else if (frame.startsWith("graft.functions.")) "functions"
    else if (frame.startsWith("graft.sources.")) "sources"
    else if (frame.startsWith("graft.Queries") || frame.startsWith("graft.operators.")) "query"
    else Unknown

  private val TableRe = """/(frontier_stats|frontier_blooms|frontier|fetchlog|questions|seen_cuckoo)/data/""".r

  def tableOf(plan: String): Option[String] =
    if (!plan.contains("InsertIntoHadoopFsRelationCommand")) None
    else TableRe.findFirstMatchIn(plan).map(_.group(1))

  /** Total length of the union of intervals [s, e]. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN) { curS = s; curE = e }
      else if (s <= curE) curE = math.max(curE, e)
      else { total += curE - curS; curS = s; curE = e }
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  def clip(iv: Seq[(Double, Double)], lo: Double, hi: Double): Seq[(Double, Double)] =
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter { case (s, e) => e > s }
}
