package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.CrawlEngine
import graft.functions.{Extract, QuestionParser}
import graft.operators.SeenSet
import graft.plans.{BucketedTable, SnapshotTable}
import graft.sources.PagesGen

object CrawlWorkload {

  val Name = "crawl-bulk"

  /** 500 documents × 16 replicas = 8,000 pages in 2,000 four-page chains:
    * four waves of ~1,960 fetches and a closing all-duplicate wave.
    */
  val Amplify = 16
  val Buckets = 16

  /** The engine's own sizing rules for a 4-core host: seen-set and frontier
    * shards ≈ cores, bloom sized above the projected inserts (8,000).
    */
  val Shards = 4
  val BloomExpected: Long = 1L << 16

  /** A politeness window wide enough that nothing is deferred. */
  val WaveDurationMs = 4000000000L

  /** The robots fixture disallows exactly this host. */
  val BlockedHost = "h13.example.test"

  val StoreTables: Seq[String] = Seq("frontier", "fetchlog", "questions", "seen_cuckoo",
    "frontier_stats", "frontier_blooms")

  /** What one crawl left in its store, read back after the timed region. */
  final case class CrawlRec(cpus: Int, secs: Double, cpuS: Double, startMs: Double, endMs: Double,
                            traced: Boolean, urls: Long, fetched: Long, waves: Int,
                            seenDigest: Long, traceDigest: Long, questions: Long,
                            waveInstants: Seq[Double], frontierMeta: Map[String, Long],
                            seenMeta: Map[String, Long], candidates: Long,
                            tableBytes: Map[String, Long], bloomBytes: Long) {
    def waveSecs: Seq[Double] = waveInstants.sliding(2).collect {
      case Seq(a, b) => (b - a) / 1000.0 }.toSeq
    def storeBytes: Long = tableBytes.values.sum + bloomBytes
    def urlsPerS: Double = urls / secs
    def cpuMsPerUrl: Double = cpuS * 1000.0 / urls
  }
}

/** crawl-bulk / crawl-polite: a closed loop with one client, calling
  * `CrawlEngine.run` on a staged bucketed pages table, one crawl after the
  * other. Each crawl is checked against values derived independently of the
  * engine.
  */
final class CrawlWorkload(ctx: Ctx) {
  import CrawlWorkload._

  private val a = ctx.args
  private val input = s"${a.work}/input"
  private val pagesDir = s"${a.work}/stage/pages"
  private val bucketDir = s"${a.work}/stage/pages_bucketed"
  private val table = "graft_pages"
  private var registeredIn: Option[SparkSession] = None

  private val cfg = CrawlEngine.Config(
    waveDurationMs = WaveDurationMs,
    strategy = SeenSet.BloomShardExact,
    parseQuestions = true,
    amplify = Amplify,
    cuckooShards = Shards,
    frontierShards = Shards,
    bloomExpected = BloomExpected,
    pagesTable = Some(table))

  /** Seed-permuted documents: (text, lang, …) permuted across doc_ids, so
    * page contents change with the seed while urls, hosts and pagination
    * (pure functions of doc_id) and hence the pinned digests do not.
    */
  private def writeDocuments(spark: SparkSession): Unit = {
    val docs = spark.read.parquet(s"${a.data}/documents.parquet")
    val rows = docs.orderBy("doc_id").collect()
    val perm = new scala.util.Random(a.seed).shuffle(rows.indices.toVector)
    val idIdx = docs.schema.fieldIndex("doc_id")
    val permuted = rows.indices.map { i =>
      val src = rows(perm(i))
      Row.fromSeq(src.toSeq.updated(idIdx, rows(i).get(idIdx)))
    }
    spark.createDataFrame(permuted.asJava, docs.schema).coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$input/documents.parquet")
  }

  /** One set-up: fresh session, documents, PagesGen corpus, bucketed
    * staging. Returns the seconds of each step.
    */
  private def setupOnce(): Map[String, Double] = {
    ctx.stopSession()
    registeredIn = None
    Util.deleteTree(s"${a.work}/stage")
    val (spark, sessionS) = Util.timed(ctx.session(ctx.cores))
    val (_, docsS) = Util.timed(writeDocuments(spark))
    val (_, genS) = Util.timed(PagesGen.pages(spark, input, Amplify).toDF()
      .write.mode(SaveMode.Overwrite).parquet(pagesDir))
    val (_, bucketS) = Util.timed(BucketedTable.write(spark.read.parquet(pagesDir),
      bucketDir, table, "url", Buckets))
    registeredIn = Some(spark)
    Map("session_s" -> sessionS, "documents_s" -> docsS, "pagesgen_s" -> genS,
      "bucketed_stage_s" -> bucketS, "total_s" -> (sessionS + docsS + genS + bucketS))
  }

  private def sessionWithTable(cpus: Int): SparkSession = {
    val spark = ctx.session(cpus)
    if (!registeredIn.contains(spark)) {
      BucketedTable.register(spark, bucketDir, table, BucketedTable.PagesDdl, "url", Buckets)
      registeredIn = Some(spark)
    }
    spark
  }

  private def hostOf(c: org.apache.spark.sql.Column) =
    regexp_extract(c, "https?://([^/]+)/", 1)

  /** Bare scan → parse → agg over the staged pages (the extract ceiling):
    * (seconds, pages, questions on pages of allowed hosts).
    */
  private def extractOnce(spark: SparkSession): (Double, Long, Long) = {
    val parse = udf((html: Array[Byte]) => QuestionParser.parsePage(html))
    val (r, sec) = Util.timed(spark.read.parquet(pagesDir)
      .select(hostOf(col("url")).as("host"), parse(col("html")).as("p"))
      .agg(count(lit(1)),
        sum(when(col("host") =!= BlockedHost, size(col("p.questions"))).otherwise(0)))
      .head())
    (sec, r.getLong(0), r.getLong(1))
  }

  private var crawlNo = 0

  private def crawlOnce(cpus: Int, traced: Boolean): CrawlRec = {
    val spark = sessionWithTable(cpus)
    crawlNo += 1
    val store = s"${a.work}/store-$crawlNo"
    try {
      val (r, secs, cpuS, t0, t1) = ctx.traced(traced) {
        val c0 = Util.processCpuS
        val t0 = Util.nowMs
        val r = CrawlEngine.run(spark, input, store, cfg)
        val t1 = Util.nowMs
        (r, (t1 - t0) / 1000.0, Util.processCpuS - c0, t0, t1)
      }
      ctx.traced(false)(storeRecord(spark, store, cpus, r, secs, cpuS, t0, t1, traced))
    } finally Util.deleteTree(store)
  }

  private def versions(store: String, t: String): Seq[Int] = {
    val d = Paths.get(store, t, "_snapshots")
    if (!Files.isDirectory(d)) Nil
    else {
      val listing = Files.list(d)
      try listing.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("v") && n.endsWith(".manifest"))
        .map(_.stripPrefix("v").stripSuffix(".manifest").toInt).toSeq.sorted
      finally listing.close()
    }
  }

  /** The store-derived crawl record: wave instants from the frontier's
    * manifest publishes, planner and seen-set counts from manifest meta,
    * candidates from waveSummary, live bytes per table.
    */
  private def storeRecord(spark: SparkSession, store: String, cpus: Int,
                          r: CrawlEngine.Result, secs: Double, cpuS: Double,
                          t0: Double, t1: Double,
                          traced: Boolean): CrawlRec = {
    val fv = versions(store, "frontier")
    val instants = fv.map(v => Util.mtimeMs(f"$store/frontier/_snapshots/v$v%06d.manifest"))
    def sumMeta(t: String, keys: Seq[String], vs: Seq[Int]): Map[String, Long] = {
      val st = new SnapshotTable(spark, store, t)
      val metas = vs.map(st.metaAt)
      keys.map(k => k -> metas.flatMap(_.get(k)).flatMap(_.toLongOption).sum).toMap
    }
    val frontierMeta = sumMeta("frontier",
      Seq("read_dirs", "skipped_dirs", "skipped_rows", "dup_hit_dirs", "staged_bytes"),
      fv.filter(_ > 0))
    val seenMeta = sumMeta("seen_cuckoo", Seq("blobs_read", "compacted_shards"),
      versions(store, "seen_cuckoo"))
    val summary = CrawlEngine.waveSummary(spark, store)
      .agg(sum("candidates"), sum("fetched")).head()
    val tableBytes = StoreTables.flatMap { t =>
      val st = new SnapshotTable(spark, store, t)
      st.latestVersion.map(v => t -> st.versionBytes(v))
    }.toMap
    val bloomFiles = Option(new java.io.File(s"$store/bloom").listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".bin"))
    val bloomBytes = if (bloomFiles.isEmpty) 0L else bloomFiles.maxBy(_.getName).length()
    def orZero(i: Int) = if (summary.isNullAt(i)) 0L else summary.getLong(i)
    CrawlRec(cpus, secs, cpuS, t0, t1, traced, r.fetched + r.deduped, orZero(1), r.waves,
      r.seenDigest, CrawlEngine.traceDigest(spark, store),
      new SnapshotTable(spark, store, "questions").read().count(),
      instants, frontierMeta, seenMeta, orZero(0), tableBytes, bloomBytes)
  }

  /** One set-up and one crawl: the trace digest to pin. */
  def pinTraceDigest(): Long = {
    setupOnce()
    crawlOnce(ctx.cores, traced = false).traceDigest
  }

  def run(): Main.Outcome = {
    // ---- set-up, three times; setup_s is the median ----
    val setups = (1 to 3).map(_ => setupOnce())
    val spark = sessionWithTable(ctx.cores)

    // ---- expectations derived from the pages, not from the engine ----
    val pages = spark.read.parquet(pagesDir)
    val expectSeen = pages.filter(hostOf(col("url")) =!= BlockedHost)
      .agg(expr("bit_xor(xxhash64(url))")).head().getLong(0)
    val sample = pages.orderBy(xxhash64(col("url"), lit(a.seed))).limit(64)
      .select("url", "html", "text").collect()
      .map(r => (r.getString(0), r.getAs[Array[Byte]](1), r.getString(2)))
    ctx.op("page-text sample") {
      sample.toSeq.collect { case (url, html, text) if Extract.pageText(html) != text =>
        s"Extract.pageText differs from the text column for $url" }.take(3)
    }
    val pinned = Pins.load(a.pins).traceDigest.get(Name)

    // ---- warm-up (untimed, checked): one extract pass and one crawl ----
    val tw0 = Util.nowMs
    val (_, nPages, expectQuestions) = extractOnce(spark)

    val traceDigests = mutable.LinkedHashSet.empty[Long]
    def check(c: CrawlRec): Seq[String] = {
      traceDigests += c.traceDigest
      Seq(
        (c.seenDigest != expectSeen) ->
          s"seen digest ${c.seenDigest} != pages-derived $expectSeen",
        !pinned.contains(c.traceDigest) ->
          s"trace digest ${c.traceDigest} != pinned ${pinned.getOrElse("(none)")}",
        (traceDigests.size > 1) -> s"trace digests differ across crawls: $traceDigests",
        (c.questions != expectQuestions) ->
          s"questions rows ${c.questions} != extract-pass count $expectQuestions",
        (c.waveInstants.size < 2) -> "no wave was published"
      ).collect { case (true, msg) => msg }
    }
    def crawlOp(cpus: Int, traced: Boolean): Option[CrawlRec] = {
      var rec: Option[CrawlRec] = None
      ctx.op(s"crawl@$cpus") {
        val c = crawlOnce(cpus, traced)
        rec = Some(c)
        check(c)
      }
      rec
    }
    crawlOp(ctx.cores, traced = false)
    val warmupS = (Util.nowMs - tw0) / 1000.0

    // ---- timed closed loop: crawl@4, extract@4, … for --seconds, at least
    // one crawl. Traced runs alternate untraced and traced crawls (at least
    // one of each: the pair gives the tracing overhead) and end with an
    // untraced crawl@1 leg on the same staged input for the 1→4 scaling ----
    val crawls = mutable.ArrayBuffer.empty[CrawlRec]
    val ceilings = mutable.ArrayBuffer.empty[Double]
    val t0 = Util.nowMs
    var i = 0
    while (Util.nowMs - t0 < a.seconds * 1000.0 || i < (if (a.trace) 2 else 1)) {
      val traced = a.trace && i % 2 == 1
      i += 1
      crawls ++= crawlOp(ctx.cores, traced)
      ctx.op(s"extract@${ctx.cores}") {
        val (sec, n, q) = extractOnce(sessionWithTable(ctx.cores))
        ceilings += n / sec
        Seq((n != nPages) -> s"extract pages $n != $nPages",
          (q != expectQuestions) -> s"extract questions $q != $expectQuestions")
          .collect { case (true, m) => m }
      }
    }
    if (a.trace) crawls ++= crawlOp(1, traced = false)
    val measuredS = (Util.nowMs - t0) / 1000.0

    // ---- end-to-end figures (untraced crawls only) ----
    val plain4 = crawls.filter(c => c.cpus == ctx.cores && !c.traced)
    val plain1 = crawls.filter(c => c.cpus == 1 && !c.traced)
    val waveSecs = plain4.flatMap(_.waveSecs)
    val thr4 = Util.median(plain4.map(_.urlsPerS).toSeq)
    val setupS = Util.median(setups.map(_("total_s")))
    val rss = Util.peakRssMb()
    val cpuPerUrl = Util.median(plain4.map(_.cpuMsPerUrl).toSeq)
    val endToEnd: Main.Metrics = Map(
      "cpu_ms_per_item" -> (cpuPerUrl, "ms"),
      "peak_rss_mb" -> (rss, "MB"),
      "setup_s" -> (setupS, "s"))
    val storeBytesPerUrl = Util.median(plain4.map(c => c.storeBytes.toDouble / c.urls).toSeq)
    val info = mutable.LinkedHashMap[String, Any](
      "crawl_urls_per_s" -> thr4,
      "crawl_cpu_ms_per_url" -> cpuPerUrl,
      "crawl_cpu_share" -> Util.median(plain4.map(c => c.cpuS / (c.secs * ctx.cores)).toSeq),
      "wave_s_p50" -> Util.median(waveSecs.toSeq),
      "wave_s_geomean" -> Util.geomean(waveSecs.toSeq),
      "wave_samples" -> waveSecs.size,
      "store_bytes_per_url" -> storeBytesPerUrl,
      "peak_rss_mb" -> rss,
      "setup_s" -> setupS,
      "fail_share" -> ctx.failed.toDouble / math.max(1L, ctx.attempted),
      "crawls_at_4" -> plain4.size,
      "crawl_s" -> plain4.map(_.secs),
      "waves_per_crawl" -> plain4.map(_.waves),
      "urls_per_crawl" -> plain4.map(_.urls),
      "pages" -> nPages,
      "seen_digest" -> expectSeen,
      "trace_digests" -> traceDigests.toSeq,
      "warmup_s" -> warmupS,
      "measured_s" -> measuredS,
      "setup_steps_s" -> setups.map(_.map { case (k, v) => k -> v }),
      "amplify" -> Amplify,
      "shards" -> Shards)
    Util.tailPercentile(waveSecs.toSeq).foreach { case (p, v) => info(s"wave_s_$p") = v }
    if (plain1.nonEmpty) info("crawl_urls_per_s_1t") = Util.median(plain1.map(_.urlsPerS).toSeq)
    if (ceilings.nonEmpty) info("extract_pages_per_s") = Util.median(ceilings.toSeq)

    val (perLayer, layers) =
      if (!a.trace) (Map.empty: Main.Metrics, Map.empty: Main.Metrics)
      else traceLayers(crawls.toSeq, sample.map(_._2).toSeq, setups,
        info.get("crawl_urls_per_s_1t").map(_.asInstanceOf[Double]),
        info.get("extract_pages_per_s").map(_.asInstanceOf[Double]))
    Main.Outcome(endToEnd, perLayer, layers, info.toMap)
  }

  /** Per-layer figures of the traced crawls at the main thread count. */
  private def traceLayers(crawls: Seq[CrawlRec], htmls: Seq[Array[Byte]],
                          setups: Seq[Map[String, Double]], thr1: Option[Double],
                          ceiling: Option[Double]): (Main.Metrics, Main.Metrics) = {
    val traced = crawls.filter(c => c.traced && c.cpus == ctx.cores)
    val plain = crawls.filter(c => !c.traced && c.cpus == ctx.cores)
    val ops = traced.map(c => (c.startMs, c.endMs))
    val stages = ctx.tracer.attributedStages().filter(s => Layers.within(s.stage, ops))
    val jobs = ctx.tracer.jobList()
    val n = traced.size.toDouble
    val thr4 = Util.median(plain.map(_.urlsPerS))
    val common = Common.perLayer(ctx, ops, stages, jobs, htmls,
      Util.median(traced.map(_.secs)) / Util.median(plain.map(_.secs)))

    // ---- spans: op → wave (manifest instants) → job → stage ----
    val waveRows = mutable.ArrayBuffer.empty[(Double, Double, Double, Int)]
    traced.foreach { c =>
      val opId = ctx.span(0, s"crawl@${c.cpus}", c.startMs, c.endMs,
        Map("urls" -> c.urls, "waves" -> c.waves))
      c.waveInstants.sliding(2).zipWithIndex.foreach { case (Seq(ws, we), w) =>
        val in = stages.filter(s => s.stage.startMs < we && s.stage.endMs > ws)
        val covered = Tracer.unionMs(Tracer.clip(in.map(s => (s.stage.startMs, s.stage.endMs)), ws, we))
        val unknown = Tracer.unionMs(Tracer.clip(in.filter(_.layer == Tracer.Unknown)
          .map(s => (s.stage.startMs, s.stage.endMs)), ws, we))
        val nJobs = jobs.count(j => j.startMs >= ws && j.startMs < we)
        val waveId = ctx.span(opId, s"wave-$w", ws, we, Map(
          "covered_s" -> covered / 1000.0, "driver_gap_s" -> (we - ws - covered) / 1000.0,
          "unattributed_s" -> unknown / 1000.0, "jobs" -> nJobs))
        waveRows += ((we - ws, covered, unknown, nJobs))
        in.groupBy(_.jobId).foreach { case (jobId, ss) =>
          val js = ss.map(_.stage.startMs).min
          val je = ss.map(_.stage.endMs).max
          val jid = ctx.span(waveId, s"job-$jobId", js, je)
          ss.foreach { s => ctx.span(jid, s"stage-${s.stage.stageId}", s.stage.startMs,
            s.stage.endMs, Map("layer" -> s.layer, "table" -> s.table,
              "cpu_s" -> s.stage.cpuNs / 1e9, "tasks" -> s.stage.taskMs.size,
              "skew" -> s.stage.skew)) }
        }
      }
    }
    val gapS = waveRows.map { case (wall, cov, _, _) => (wall - cov) / 1000.0 }.toSeq
    val byLayer = stages.groupBy(_.layer)
    def layer(l: String) = byLayer.getOrElse(l, Nil)
    def tableStages(ts: String*) = stages.filter(s => s.table.exists(ts.contains))
    def perCrawl(f: CrawlRec => Double) = Util.median(traced.map(f))
    val fetched = traced.map(_.fetched).sum.toDouble

    val m = mutable.LinkedHashMap[String, (Double, String)]()
    m ++= common
    m("engine.busy_share") = common("spark.busy_share")
    m("engine.jobs_per_wave") = (Util.median(waveRows.map(_._4.toDouble).toSeq), "count")
    m("engine.driver_gap_s") = (Util.median(gapS), "s")
    m("engine.wave_s_p50") = (Util.median(waveRows.map(_._1 / 1000.0).toSeq), "s")
    m("engine.wave_covered_share") =
      (waveRows.map(_._2).sum / waveRows.map(_._1).sum, "ratio")
    m("engine.wave_unattributed_s") = (waveRows.map(_._3).sum / 1000.0 / n, "s")
    thr1.foreach(t1 => m("engine.scaling_eff_1_to_4") = (thr4 / t1 / ctx.cores, "ratio"))
    ceiling.foreach(c => m("engine.crawl_to_ceiling") = (thr4 / c, "ratio"))
    m("functions.parse_cpu_s") = (stages.filter(_.parses).map(_.stage.cpuNs).sum / 1e9 / n, "s")
    m("seenset.wall_s") = (Layers.wallS(layer("seenset"), ops), "s")
    m("seenset.cpu_s") = (layer("seenset").map(_.stage.cpuNs).sum / 1e9 / n, "s")
    m("seenset.blobs_read") = (perCrawl(_.seenMeta("blobs_read").toDouble), "count")
    m("seenset.compacted_shards") = (perCrawl(_.seenMeta("compacted_shards").toDouble), "count")
    m("seenset.store_bytes") =
      (perCrawl(c => (c.tableBytes.getOrElse("seen_cuckoo", 0L) + c.bloomBytes).toDouble), "B")
    m("politeness.disposition_s") = (Layers.wallS(layer("politeness"), ops), "s")
    m("politeness.candidates_per_fetch") = (traced.map(_.candidates).sum / fetched, "ratio")
    m("frontier.stage_s") = (Layers.wallS(tableStages("frontier"), ops), "s")
    m("frontier.sidecar_s") =
      (Layers.wallS(tableStages("frontier_stats", "frontier_blooms"), ops), "s")
    m("frontier.plan_s") = (Layers.wallS(layer("frontier"), ops), "s")
    Seq("read_dirs", "skipped_dirs", "skipped_rows", "dup_hit_dirs").foreach { k =>
      m(s"frontier.$k") = (perCrawl(_.frontierMeta(k).toDouble), "count") }
    m("frontier.staged_bytes_per_fetch") =
      (traced.map(_.frontierMeta("staged_bytes")).sum / fetched, "B")
    m("plans.commit_s.fetchlog") = (Layers.wallS(tableStages("fetchlog"), ops), "s")
    m("plans.commit_s.questions") = (Layers.wallS(tableStages("questions"), ops), "s")
    StoreTables.foreach { t =>
      m(s"plans.bytes.$t") = (perCrawl(_.tableBytes.getOrElse(t, 0L).toDouble), "B") }
    m("plans.bucketed_stage_s") = (Util.median(setups.map(_("bucketed_stage_s"))), "s")
    m("sources.pagesgen_s") = (Util.median(setups.map(_("pagesgen_s"))), "s")
    Seq("engine", "functions", "seenset", "politeness", "frontier", "plans").foreach { l =>
      val ls = if (l == "functions") stages.filter(_.parses) else layer(l)
      Layers.costs(ls, n, l).foreach { case (k, v) =>
        if (!k.endsWith(".cpu_s") || !m.contains(k)) m(k) = v }
    }
    (common, m.toMap)
  }
}
