package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import graft.SparkEntry
import graft.sources.PagesGen

object QueryWorkload {

  /** Registry module of each driver query (for `query.<module>_s`). */
  val Module: Map[String, String] = {
    def tag(module: String, names: String*) = names.map(_ -> module)
    Map(
      tag("dedup", "d1_exact_dedup", "d2_ngram_jaccard", "m1_minhash_lsh", "m2_simhash_pairs") ++
      tag("similarity", "n1_knn_bruteforce", "m3_embedding_neardup", "n2_ann_lsh",
        "m4_embedding_neardup_lsh", "n3_ann_ivf") ++
      tag("restructure", "r1_restructured_docs", "r2_flatten_csv", "r3_metadata",
        "r4_image_manifest") ++
      tag("sinks", "r5_enrich_outcomes", "r6_raw_feed_roundtrip", "w1_screenshot_workflow") ++
      tag("textanalysis", "t1_token_count", "t2_quality_features", "t3_langid_scores",
        "t4_fingerprint", "t5_langid_guess") ++
      tag("relational", "q1_lineitem_agg", "q2_dim_join", "q3_sort_limit", "q4_semijoin",
        "q5_window_topk", "q6_rollup", "o2_dedup_first_wins", "u1_union", "u2_except",
        "f13_props_extract", "x13_array_join") ++
      tag("crawlops", "s1_seed_generation", "s2_seed_validation", "j4_seen_antijoin",
        "j5_fetch_join", "j6_robots_gate", "o6_priority_topk", "a8_lineage_counts",
        "a9_seen_digest", "x15_year_expansion", "x16_subject_parse", "c1_politeness_wave",
        "c2_parse_questions", "c3_text_invariant", "mm1_multimodal_features",
        "mm2_frame_sample"): _*)
  }

  /** Queries the roadmap names individually. */
  val Named: Seq[String] = Seq("d2_ngram_jaccard", "m1_minhash_lsh", "m4_embedding_neardup_lsh",
    "n2_ann_lsh", "q4_semijoin", "r5_enrich_outcomes", "r6_raw_feed_roundtrip",
    "w1_screenshot_workflow", "c2_parse_questions")

  /** Jaccard queries whose verify filter's rows in/out are reported. */
  val PairQueries: Seq[String] = Seq("d2_ngram_jaccard", "m1_minhash_lsh")

  /** Full materialization: (rows, bit_xor of xxhash64 over every column).
    * Unlike count(), this evaluates every projected column, UDFs included.
    * Returns the executed Dataset too, for its SQL metrics.
    */
  def fingerprint(df: DataFrame): ((Long, Long), DataFrame) = {
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = d.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => array_sort(map_entries(col(f.name)))
        case _ => col(f.name)
      }
    }
    val agg = d.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), expr("coalesce(bit_xor(h), 0L)"))
    // collect(), not head(): head() plans a fresh limit query, whose SQL
    // metrics would not be on `agg`'s executed plan
    val r = agg.collect()(0)
    ((r.getLong(0), r.getLong(1)), agg)
  }

  /** Rows into and out of the verify filters (conditions that intersect
    * token arrays), read from the executed plan's SQL metrics.
    */
  def filterPairs(executed: DataFrame): Option[(Long, Long)] = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
    def rowsOut(p: SparkPlan): Option[Long] =
      p.metrics.get("numOutputRows").map(_.value)
        .orElse(p.children.headOption.flatMap(c => rowsOut(unwrap(c))))
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case q: QueryStageExec => q.plan
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val filters = nodes(executed.queryExecution.executedPlan).collect {
      case f: FilterExec if f.condition.toString.contains("array_intersect") => f }
    if (filters.isEmpty) None
    else Some((filters.flatMap(f => rowsOut(unwrap(f.child))).sum,
      filters.flatMap(_.metrics.get("numOutputRows").map(_.value)).sum))
  }
}

/** query-pass: the 47 `SparkEntry.queries` in seed-permuted order, pass
  * after pass in one session, each timed to full materialization and
  * checked against its pinned (rows, hash).
  */
final class QueryWorkload(ctx: Ctx) {
  import QueryWorkload._

  private val a = ctx.args
  private val names = SparkEntry.queries.keys.toVector.sorted
  private lazy val pins = Pins.load(a.pins).queries

  final case class QRun(name: String, secs: Double, cpuS: Double, startMs: Double, endMs: Double,
                        traced: Boolean, pairs: Option[(Long, Long)])

  /** One set-up: fresh session, then every input table opened and counted
    * (the queries read the tables by path).
    */
  private def setupOnce(): Map[String, Double] = {
    ctx.stopSession()
    val (spark, sessionS) = Util.timed(ctx.session(ctx.cores))
    val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
    val (_, loadS) = Util.timed(tables.foreach(t => spark.read.parquet(s"${a.data}/$t.parquet").count()))
    Map("session_s" -> sessionS, "tables_s" -> loadS, "total_s" -> (sessionS + loadS))
  }

  private def runQuery(spark: SparkSession, name: String, traced: Boolean): Option[QRun] = {
    var rec: Option[QRun] = None
    ctx.op(name) {
      val (res, cpuS, t0, t1, pairs) = ctx.traced(traced) {
        val c0 = Util.processCpuS
        val t0 = Util.nowMs
        val (res, executed) = fingerprint(SparkEntry.queries(name)(spark, a.data))
        val t1 = Util.nowMs
        (res, Util.processCpuS - c0, t0, t1,
          if (traced && PairQueries.contains(name)) filterPairs(executed) else None)
      }
      rec = Some(QRun(name, (t1 - t0) / 1000.0, cpuS, t0, t1, traced, pairs))
      pins.get(name) match {
        case Some(p) if p == res => Nil
        case Some(p) => Seq(s"(rows, hash) $res != pinned $p")
        case None => Seq(s"no pinned (rows, hash); got $res")
      }
    }
    rec
  }

  def run(): Main.Outcome = {
    val setups = (1 to 3).map(_ => setupOnce())
    val spark = ctx.session(ctx.cores)
    val rnd = new scala.util.Random(a.seed)

    // warm-up (untimed, unchecked): one pass submitted from `cores` driver
    // threads, which fills the JIT and the codegen cache in a fraction of
    // a sequential pass's wall time
    val tw0 = Util.nowMs
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.cores)
    try {
      val futures = rnd.shuffle(names).map(n => pool.submit(new Runnable {
        def run(): Unit = fingerprint(SparkEntry.queries(n)(spark, a.data))
      }))
      futures.foreach(f => scala.util.Try(f.get()))
    } finally pool.shutdown()
    val warmupS = (Util.nowMs - tw0) / 1000.0

    val passes = mutable.ArrayBuffer.empty[Seq[QRun]]
    val t0 = Util.nowMs
    var p = 0
    // one pass at least; traced runs make two, one traced and one untraced
    while (Util.nowMs - t0 < a.seconds * 1000.0 || passes.size < (if (a.trace) 2 else 1)) {
      val traced = a.trace && p % 2 == 1
      p += 1
      passes += rnd.shuffle(names).flatMap(n => runQuery(spark, n, traced))
    }
    val measuredS = (Util.nowMs - t0) / 1000.0

    val plain = passes.filter(_.forall(!_.traced)).toSeq
    val passS = plain.map(_.map(_.secs).sum)
    val perQuery = plain.flatten.map(_.secs)
    val setupS = Util.median(setups.map(_("total_s")))
    val rss = Util.peakRssMb()
    val passMedian = Util.median(passS)
    // CPU ms per query: each pass's total over its query count, median of passes
    val cpuPerQuery = Util.median(plain.map(p => p.map(_.cpuS).sum * 1000.0 / p.size))
    val endToEnd: Main.Metrics = Map(
      "cpu_ms_per_item" -> (cpuPerQuery, "ms"),
      "peak_rss_mb" -> (rss, "MB"),
      "setup_s" -> (setupS, "s"))
    val info = mutable.LinkedHashMap[String, Any](
      "query_pass_s" -> passMedian,
      "queries_per_s" -> names.size / passMedian,
      "query_cpu_ms_per_query" -> cpuPerQuery,
      "query_pass_samples" -> passS,
      "query_s_p50" -> Util.median(perQuery),
      "query_s_geomean" -> Util.geomean(perQuery),
      "query_samples" -> perQuery.size,
      "queries" -> names.size,
      "peak_rss_mb" -> rss,
      "setup_s" -> setupS,
      "fail_share" -> ctx.failed.toDouble / math.max(1L, ctx.attempted),
      "warmup_s" -> warmupS,
      "measured_s" -> measuredS,
      "setup_steps_s" -> setups)
    Util.tailPercentile(perQuery).foreach { case (q, v) => info(s"query_s_$q") = v }

    val (perLayer, layers) =
      if (!a.trace) (Map.empty: Main.Metrics, Map.empty: Main.Metrics)
      else traceLayers(passes.toSeq, passMedian)
    Main.Outcome(endToEnd, perLayer, layers, info.toMap)
  }

  private def traceLayers(passes: Seq[Seq[QRun]], plainPassS: Double): (Main.Metrics, Main.Metrics) = {
    val traced = passes.filter(_.forall(_.traced)).flatten
    val tracedPasses = passes.count(_.forall(_.traced)).toDouble
    val ops = traced.map(q => (q.startMs, q.endMs))
    val stages = ctx.tracer.attributedStages().filter(s => Layers.within(s.stage, ops))
    val jobs = ctx.tracer.jobList()
    // a page sample rendered by direct PagesGen calls, for the parser probe
    val htmls = (0L until 64L).map(i => PagesGen.renderRow(i * 7 + 3,
      s"sample document $i for the parser probe with enough words to fill a page", "en").html)
    val overhead = traced.map(_.secs).sum / tracedPasses / plainPassS
    val common = Common.perLayer(ctx, ops, stages, jobs, htmls, overhead)

    traced.foreach { q =>
      val id = ctx.span(0, q.name, q.startMs, q.endMs, Map("module" -> Module.getOrElse(q.name, "?")))
      stages.filter(s => s.stage.startMs >= q.startMs - 1 && s.stage.endMs <= q.endMs + 1)
        .foreach(s => ctx.span(id, s"stage-${s.stage.stageId}", s.stage.startMs, s.stage.endMs,
          Map("layer" -> s.layer, "job" -> s.jobId, "cpu_s" -> s.stage.cpuNs / 1e9)))
    }
    val m = mutable.LinkedHashMap[String, (Double, String)]()
    m ++= common
    traced.groupBy(q => Module.getOrElse(q.name, "other")).foreach { case (mod, qs) =>
      m(s"query.${mod}_s") = (qs.map(_.secs).sum / tracedPasses, "s") }
    Named.foreach { n =>
      val xs = traced.filter(_.name == n).map(_.secs)
      if (xs.nonEmpty) m(s"query.${n}_s") = (Util.median(xs), "s")
    }
    PairQueries.foreach { n =>
      traced.filter(_.name == n).flatMap(_.pairs).headOption.foreach { case (in, out) =>
        m(s"query.$n.pairs_in") = (in.toDouble, "count")
        m(s"query.$n.pairs_out") = (out.toDouble, "count")
      }
    }
    (common, m.toMap)
  }
}
