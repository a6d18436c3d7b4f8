package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.QuestionParser
import graft.operators.{Frontier, Politeness, SeenSet}
import graft.plans.{BucketedTable, SnapshotTable}
import graft.sources.PagesGen

/** The wave-loop crawl engine (SURVEY §2.8 P5, §3.1, §4 hot path).
  *
  * One wave = one pass over the frontier snapshot producing a single
  * disposition-tagged wave log:
  *
  *   frontier ──dedup flag (bloom → confirm)──┐
  *                                            ├─▶ waveLog(disp ∈ seen |
  *   robots ⋈ (broadcast) ── budget rank ─────┘    blocked | deferred | fetch)
  *   fetch slice ⋈ bucketed pages (broadcast or sort-merge, see below)
  *     ──parse once──▶ questions ⊕ discovered links
  *   commits: fetchlog (doubles as the seen log + lineage source),
  *            questions, frontier' — atomic manifest renames → resumable.
  *
  * Per-wave fixed cost is what caps wave frequency at web scale and scaling
  * efficiency at bench scale, so a wave runs few actions: the probe, the
  * disposition and the parse checkpoints, then the concurrent commits. With
  * adaptive execution every shuffle stage also runs as a job of its own:
  * 16 jobs per wave measured on the crawl-bulk benchmark (traced run).
  *
  * Design constraint — the generated-class budget: a steady wave's plans
  * generate 41 distinct classes, 58 cache entries (in local mode whole-
  * stage classes compile once for the driver and once for the executor
  * class loader; crawl-bulk benchmark, codegen cache of 1 entry so every
  * use compiles), and that working set must stay inside Spark's codegen
  * cache (`spark.sql.codegen.cache.maxEntries`, default 100: a 4-segment
  * LRU of 25 entries each, the segment picked by a hash that mixes in the
  * class loader's identity, so the fit differs per JVM). Past it every
  * wave recompiles its own classes with Janino and re-JITs them. So every
  * wave plans the same shapes (per-wave values ride as data, not literals;
  * empty inputs still plan as scans), readers share shapes (one shard-
  * stream exchange for probe and insert, row scans of checkpoints), and
  * the per-row passes the engine writes itself — the disposition's two
  * rank passes, the frontier dedup, the probe's verdicts and the insert's
  * blob fold — run over `InternalRow`s with interpreted writers
  * ([[graft.plans.RowPass]]): no window operator, no encoder, no class of
  * their own. Each wave records its Janino compiles as `codegen_compiles`
  * in the frontier manifest; CrawlEngineSpec asserts a repeat crawl's
  * waves ≥ 1 compile at most 2.
  *
  * Fault tolerance: the disposition and parse outputs are LOCAL checkpoints
  * (blocks in executor memory, no lineage). An executor lost mid-wave takes
  * its blocks with it and the wave fails instead of recomputing them. No
  * state is lost, only the wave's work: a re-run on the same store resumes
  * from the last committed wave (the atomic manifests above).
  *
  * Determinism: no wall clock (discovery_ts := parent warc_ts), ordering
  * fully keyed by (priority, depth, discovery_ts, url) — identical traces
  * and digests at any parallelism (CrawlEngineSpec asserts local[8]-profile
  * vs local[32]-profile equality; Bench runs the real two-master protocol).
  *
  * Fetch join: the pages side is always a BUCKETED table (cfg.pagesTable,
  * or one `run` stages under the store — plans/BucketedTable), and the
  * planner picks the join from the pages estimate. Under the broadcast
  * threshold it is a BroadcastHashJoin BuildRight: at crawl-bulk scale the
  * 8,000-row pages table (16.2 MiB) is scanned by 16 tasks, collected and
  * broadcast in every wave, and the whole parse runs in one task. Above
  * it (the 100 TB / 10^10-url case) it is a sort-merge join with zero
  * exchange on the pages side — pages never shuffle; only the small wave
  * shuffles into the bucket layout.
  *
  * Scale notes: the bloom tier is built distributed (executors fold
  * partial filters; driver sees only the sketch). Dedup shuffles only
  * bloom-suspects. Politeness ranks via salted two-phase top-k (hot-host
  * skew, P8). All state tables are wave-partitioned for pruning. The
  * frontier itself is a dir-granular LSM priority queue
  * ([[graft.operators.Frontier]]): a wave reads fresh discoveries plus the
  * priority bands that can win a politeness slot, rewrites exactly what it
  * read, and carries the provably-deferred cold tail forward at the
  * manifest level — per-wave frontier I/O is O(touched), not O(frontier).
  */
object CrawlEngine {

  final case class Config(
      waveDurationMs: Long = 60000L,
      // SIZING RULE: shards caps the confirm tier's parallelism (the insert/
      // probe shard stream runs ≤ shards tasks) AND divides the state for
      // pruned I/O — set shards ≈ cores at bench scale; at 10^10 set it ≥
      // frontier / perShardCapacity (e.g. 16k shards × 2^20 capacity) so
      // shards stay cheap to rewrite and the stream fans out with the
      // cluster. Digests are shard-count invariant (CrawlEngineSpec runs 8
      // and 64 against the 32-shard reference).
      cuckooShards: Int = 32,
      // per-shard filter capacity; an overflowing shard CHAINS a ~2× filter
      // (graceful, logged, slight FP-rate growth per link — CuckooChain)
      // rather than failing the wave
      cuckooPerShardCapacity: Long = 1L << 20,
      // cuckoo probe reads prune to the suspect shards once state bytes
      // exceed this; below it the extra distinct-shards planning job costs
      // more than reading everything
      cuckooPruneBytes: Long = SeenSet.DefaultPruneBytes,
      bloomExpected: Long = 1L << 22,
      // DEFAULT = BloomShardExact: EXACT confirm (reference dupefilter
      // semantics — a never-seen URL is NEVER dropped) over the LSM shard
      // store, so insert I/O is O(wave) and probes read only suspect
      // shards at any crawl history. The alternatives trade along two axes:
      //  - BloomExact: exact via a full-fetchlog anti-join — simplest, but
      //    the confirm re-scans every prior wave each wave (a full-history
      //    scan at 10^10); kept as the baseline cross-check.
      //  - BloomCuckoo: same LSM store with a compressed cuckoo base
      //    (~2.3 B/url vs ~8): APPROXIMATE — a probe false-positive
      //    (~1.2e-4 per chain link, only after compaction folds keys into
      //    the base) silently drops a new URL; a 10^10-candidate crawl
      //    loses on the order of 10^5-10^6 pages (bounded, documented —
      //    and once the bloom pre-filter saturates, ALL candidates probe
      //    the confirm tier, so size bloomExpected accordingly). Explicit
      //    opt-in for when seen-set bytes dominate the cost model.
      // Bench measures BloomCuckoo as the compressed scale tier with
      // BloomShardExact and BloomExact as digest cross-checks.
      strategy: SeenSet.Strategy = SeenSet.BloomShardExact,
      maxWaves: Int = 64,
      parseQuestions: Boolean = true,
      amplify: Int = 1,
      // a catalog-registered BUCKETED pages table (bucketBy url, sorted, one
      // file per bucket — plans/BucketedTable): the fetch join needs NO
      // pages exchange — only the (small) wave side shuffles, into the
      // bucket layout (the north star's Iceberg-table analog). None: `run`
      // stages the generated corpus that way under the store once and
      // re-attaches it on later runs.
      // TABLE CONTRACT: urls must be UNIQUE (one page per url) — the fetch
      // join is INNER on url, so a duplicate url would double-fetch AND can
      // defeat the nOk==nFetch error-recovery short-circuit (ADVICE r02).
      // BucketedTable.write asserts this at staging time; rows with NULL
      // html are tolerated (routed to status='error', never parsed).
      pagesTable: Option[String] = None,
      // frontier LSM layout (operators/Frontier): cold dirs are keyed
      // ((band·slices + tsSlice)·chunks + rankChunk)·shards + hostBucket
      // (FrontierBands bands); fresh discoveries live in shard -1. At 10^10
      // size shards ≈ the cluster's task fan-out.
      frontierShards: Int = 32,
      // order-aligned slicing WITHIN a band (VERDICT r04 residual: the
      // ACTIVE band was one indivisible slab per host-bucket, rewritten
      // every wave). tsSlice = (discovery_ts epoch-sec / sliceSecs) mod
      // slices is monotone in the sort key's third component over any
      // window < slices·sliceSecs, so per-dir min/max stats separate a
      // band's early rows from its late ones and the budget+1 rule skips
      // the band's own cold tail. Wrap past that window only degrades
      // pruning locally — NEVER correctness (the planner is key-range-
      // stat-based and slicing-agnostic). Applied only once sidecars are
      // on (same byte gate), so bench-scale waves keep the coarse layout.
      frontierTsSlices: Int = 4,
      frontierTsSliceSecs: Long = 21600L,
      // rank-chunked cold dirs (the equal-key-backlog residual): ts-slicing
      // is inert when a backlog shares one discovery_ts — the canonical
      // 10^10 case is a seed list, where every row has (priority 0, depth 0,
      // ts = Epoch) and the band's sort key degenerates to `url`, so a
      // host's whole backlog lands in ONE indivisible dir that is re-read
      // AND re-written every wave it stays the host's best (O(backlog²/
      // budget) total I/O). Chunking splits a host's surviving rows by their
      // EXACT politeness rank (row_number over the full sort key — strictly
      // monotone, so chunk k's keys sort strictly below chunk k+1's and the
      // stats planner prunes tail chunks with no planner change) into
      // GEOMETRIC tiers (W = FrontierChunkWaves): chunk k covers ranks
      // [budget·W·(2^k−1), budget·W·(2^(k+1)−1)) — LSM leveling, so chunks
      // (16 by default) cover 65535·W·budget rows per host and a backlog
      // row is rewritten O(log(backlog)) times total as it migrates toward
      // the head tier, instead of once per wave. Engaged with the sidecar
      // gate (chunk 0 below it); the one-time cost is a per-host window over
      // the rows the wave already rewrites — a giant single-host backlog
      // funnels its one ranking sort through one task ONCE per influx, after
      // which waves read only its head tier. frontierRankChunks=1 disables.
      frontierRankChunks: Int = 16,
      // frontier read pruning + sidecar writes engage once the frontier's
      // manifest bytes pass this (sidecars at half of it, so stats exist by
      // the time pruning starts); below it every dir is read and the
      // frontier behaves exactly like a full-rewrite table — the right
      // trade at bench scale where planning jobs cost more than the read.
      frontierPruneBytes: Long = 256L << 20,
      // bloom-sidecar bytes above which the duplicate-vs-unread-dir probe
      // stops driver-collecting the FILTERS (Frontier.dupHitDirs): at 10^10
      // the cold tail's blooms are ~12 GB — never driver-collected. Above
      // it, a wave of ≤ frontierDupDiscRows discoveries broadcasts the
      // wave's (bucket, hash) pairs instead and streams the blobs map-side
      // (zero blob shuffle — the steady-state 10^10 shape); only when BOTH
      // sides are huge does the probe fall back to the bucket-aligned
      // cogroup, which pays one exchange of the cold bloom state. Identical
      // results on all three plans (FrontierSpec).
      frontierDupBroadcastBytes: Long = Frontier.DupProbeBroadcastBytes,
      // discovery-count bound for the map-side regime above — a driver-
      // memory contract (~16 B/discovery collected)
      frontierDupDiscRows: Long = 4000000L,
      // sidecar fold threshold (Frontier.compactSidecar): stats/bloom tables
      // rewrite to live-rows-only once they hold this many dirs. Tests lower
      // it to force folds inside short crawls (the crash-replay-across-a-
      // fold repro); the default amortizes the fold to ~1/16 of the live
      // sidecar per wave.
      frontierSidecarFoldDirs: Int = 16)

  final case class Result(waves: Int, fetched: Long, deduped: Long,
                          errors: Long, seenCount: Long, seenDigest: Long)

  /** Bucket count of the pages table `run` stages when Config.pagesTable is
    * None — also its fetch-join and parse fan-out.
    */
  private val StagedPagesBuckets: Int = 16
  // fixed: persisted blooms carry the filter's shape and frontier dir keys
  // the band and rank-tier layout, so runs on one store must agree on them
  private val BloomFpp = 0.01
  private val FrontierBands = 8 // band = min(priority, bands-1)
  private val FrontierChunkWaves = 4 // W: rank tier 0 spans W waves of budget

  private def frontierCols = Seq("url", "url_hash", "host", "priority",
    "depth", "discovery_ts", "seed_subject", "seed_year")

  /** Seeds → initial frontier (priority 0, depth 0, discovery_ts = epoch). */
  def seedFrontier(spark: SparkSession, sfDir: String, amplify: Int = 1): DataFrame = {
    PagesGen.seeds(spark, sfDir, amplify).toDF()
      .withColumn("url_hash", xxhash64(col("url")))
      .withColumn("host", regexp_extract(col("url"), "https?://([^/]+)/", 1))
      .withColumn("priority", lit(0))
      .withColumn("depth", lit(0))
      .withColumn("discovery_ts", lit(new java.sql.Timestamp(PagesGen.Epoch * 1000L)))
      .withColumnRenamed("subject", "seed_subject")
      .withColumnRenamed("year", "seed_year")
      .select(frontierCols.map(col): _*)
  }

  /** Resolve an href against the page url (absolute, root-relative, or
    * sibling-relative) — Scrapy's `response.follow` (core/main.py:114).
    * Native expressions, not a UDF (whose String converters are generated
    * classes of their own): a root-relative href keeps the base up to the
    * first '/' after its first "//" (from index 1 when it has none), a
    * sibling-relative one the base up to its last '/'.
    */
  private def resolveHref(base: org.apache.spark.sql.Column,
                          href: org.apache.spark.sql.Column) =
    when(href.startsWith("http://") || href.startsWith("https://"), href)
      .when(href.startsWith("/"),
        concat(regexp_extract(base, "^(.*?//[^/]*|.[^/]*)", 1), href))
      .otherwise(concat(regexp_extract(base, "^(.*/)", 1), href))

  /** A per-wave value as a column whose value lives in the expression's
    * references instead of the generated Java source: `lit(v)` inlines `v`
    * into the code, so every wave would compile (and cache) its own copy of
    * the stage that carries it.
    */
  private def waveConst[T: scala.reflect.runtime.universe.TypeTag](v: T) =
    udf(() => v).asNonNullable()()

  /** J5 fetch join: inner join on url against the bucketed pages table —
    * sort-merge with zero exchange on the pages side (and zero sort when the
    * session trusts per-bucket sort order); only the wave shuffles. NULL-html
    * pages are dropped so the parse UDF never sees one; their urls are
    * recovered as status='error' (ADVICE r02).
    */
  private[graft] def joinWavePages(fetchSlice: DataFrame, pages: DataFrame): DataFrame =
    fetchSlice.join(pages.select(col("url"), col("warc_ts"), col("html"))
      .filter(col("html").isNotNull), Seq("url"), "inner")

  /** Stage the generated corpus (stand-in for the live web / WARC store) as
    * a bucketed table under the store — BucketedTable.write asserts url
    * uniqueness — or re-attach the dir an earlier run on this store staged.
    * Returns the catalog name, unique to the store; the files are external
    * and outlive the catalog entry, which the caller drops.
    */
  private def attachStagedPages(spark: SparkSession, sfDir: String,
                                storeRoot: String, amplify: Int): String = {
    val dir = s"$storeRoot/pages"
    val table = "graft_pages_" + java.util.UUID.nameUUIDFromBytes(
      dir.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toString.replace("-", "")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new Path(dir, "_SUCCESS")))
      BucketedTable.register(spark, dir, table, BucketedTable.PagesDdl, "url",
        StagedPagesBuckets)
    else BucketedTable.write(PagesGen.pages(spark, sfDir, amplify).toDF(), dir,
      table, "url", StagedPagesBuckets)
    table
  }

  /** Crawl to completion (or cfg.maxWaves) on the store, resuming from its
    * last committed wave. Leaves the session's conf and catalog as found.
    */
  def run(spark: SparkSession, sfDir: String, storeRoot: String,
          cfg: Config = Config()): Result = {
    import spark.implicits._
    // frontier dir keys pack (wave, shard) into a long with 32 shard bits;
    // the shard itself is an int column, so the dim product must fit 2^31
    require(cfg.frontierTsSlices >= 1, "frontierTsSlices must be >= 1")
    require(cfg.frontierRankChunks >= 1, "frontierRankChunks must be >= 1")
    require(FrontierBands.toLong * cfg.frontierTsSlices *
      cfg.frontierRankChunks * cfg.frontierShards < (1L << 31),
      s"$FrontierBands bands * frontierTsSlices * frontierRankChunks * " +
        "frontierShards must stay under 2^31")

    val frontierT = new SnapshotTable(spark, storeRoot, "frontier")
    val fetchlogT = new SnapshotTable(spark, storeRoot, "fetchlog")
    val questionsT = new SnapshotTable(spark, storeRoot, "questions")
    val cuckooT = new SnapshotTable(spark, storeRoot, "seen_cuckoo")
    // frontier sidecars (operators/Frontier): per-cold-dir host stats (read
    // planning) and url blooms (duplicate-vs-unread-dir probe)
    val fstatsT = new SnapshotTable(spark, storeRoot, "frontier_stats")
    val fbloomsT = new SnapshotTable(spark, storeRoot, "frontier_blooms")

    val robots = Politeness.robotsFixture(spark).toDF()

    // resume: the latest committed frontier IS the next wave to process.
    // Mid-wave crash replay is idempotent because every read of engine state
    // during wave N sees only commits of waves < N — the crashed attempt's
    // fetchlog/bloom/cuckoo commits (which land BEFORE the frontier advance)
    // are excluded, so the replay re-fetches the wave identically instead of
    // flagging its own candidates as 'seen' and silently dropping the wave's
    // questions and links.
    val startWave = frontierT.meta.get("wave").map(_.toInt).getOrElse {
      // seeds are UNVETTED (never probed) → the fresh dir, read in full at
      // wave 0 like every fresh dir
      val seeds = seedFrontier(spark, sfDir, cfg.amplify)
        .withColumn("fshard", lit(Frontier.FreshShard))
      frontierT.publishSharded(frontierT.stageSharded(seeds, "fshard", 0), 0)
      0
    }
    val bloom = SeenSet.Bloom.load(spark, s"$storeRoot/bloom", startWave)
      .map(_._2).getOrElse(new SeenSet.Bloom(cfg.bloomExpected, BloomFpp))
    val (bloomItems, bloomBits) =
      SeenSet.Bloom.aggShape(spark, cfg.bloomExpected, BloomFpp)

    def seenLog(currentWave: Int): DataFrame =
      if (fetchlogT.isEmpty) spark.emptyDataset[Long].toDF("url_hash")
      else fetchlogT.read()
        .filter(col("status") =!= "summary" && col("wave") < currentWave)
        .select("url_hash")

    val timing = sys.env.get("GRAFT_WAVE_TIMING").contains("1")
    var wave = startWave
    var done = false
    var warnedSaturation = false
    // driver threads for concurrent state-commit jobs (see the commit block
    // below); daemon so a crashed run never hangs the JVM on this pool
    val commitPool = java.util.concurrent.Executors.newFixedThreadPool(5,
      (r: Runnable) => { val t = new Thread(r, "graft-commit"); t.setDaemon(true); t })
    val commitEc = scala.concurrent.ExecutionContext.fromExecutorService(commitPool)
    // the staged table's catalog entry lives for this run only
    var stagedTable: Option[String] = None
    try {
    val pages = spark.table(cfg.pagesTable.getOrElse {
      stagedTable = Some(attachStagedPages(spark, sfDir, storeRoot, cfg.amplify))
      stagedTable.get
    })
    while (!done && wave < cfg.maxWaves) {
      val tw0 = System.nanoTime()
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      def phase[T](name: String, t0: Long)(f: => T): T = {
        val r = f
        if (timing) System.err.println(
          f"  [phase $name] ${(System.nanoTime() - t0) / 1e9}%.2f")
        r
      }
      if (frontierT.isEmpty) { done = true }
      else {
        // ---- planned frontier read (O(touched), north rule's priority
        // queue): fresh dirs + the priority bands that can still win a
        // politeness slot; provably-deferred cold dirs are skipped and
        // their rows' dispositions patched from exact sidecar counts ----
        val liveVersion = frontierT.latestVersion.get
        val liveDirs = frontierT.dirsWithSizes(liveVersion)
        val fplan = phase("frontier-plan", System.nanoTime()) {
          Frontier.plan(spark, liveDirs, fstatsT, robots,
            cfg.waveDurationMs, cfg.frontierPruneBytes)
        }
        if (timing && fplan.skippedDirs.nonEmpty) System.err.println(
          s"  [frontier-plan] read ${fplan.readDirs.size}/${liveDirs.size} " +
            s"dirs, skipped ${fplan.skippedRows} provably-deferred rows")
        val cands = spark.read.parquet(fplan.readDirs: _*)
          .select(frontierCols.map(col): _*)

        // ---- dedup flag (J4/U3): is_seen per candidate. All tiers read seen
        // state as of waves < wave (replay idempotency, see resume note) ----
        def seenFlagExact(df: DataFrame): DataFrame =
          df.join(seenLog(wave).withColumn("is_seen", lit(true)), Seq("url_hash"), "left")
            .withColumn("is_seen", coalesce(col("is_seen"), lit(false)))
        // saturation bypass (SeenSet.Bloom sizing policy): past `expected`
        // inserts the pre-filter's FP rate makes every candidate a suspect
        // anyway — route ALL candidates straight to the confirm tier (still
        // exact) instead of paying a useless broadcast+udf pass.
        if (bloom.saturated && cfg.strategy != SeenSet.ExactAnti && !warnedSaturation) {
          warnedSaturation = true
          System.err.println(s"[graft] WARN bloom pre-filter SATURATED " +
            s"(inserted=${bloom.inserted} > expected=${bloom.expected}): " +
            "bypassed from here on — confirm tier carries full dedup " +
            "(correct, but size bloomExpected >= projected inserts)")
        }
        def cuckooFlag(suspect: org.apache.spark.sql.Column): DataFrame =
          SeenSet.cuckooFlagged(spark, cands, cuckooT, cfg.cuckooShards,
            asOfWaveExclusive = wave, pruneBytes = cfg.cuckooPruneBytes,
            // exact tier: refuse approximate (chain) bases at PROBE time too
            // — not just at compaction (ADVICE r04 mixed-tier hole)
            requireExact = cfg.strategy == SeenSet.BloomShardExact,
            suspect = suspect)
        val flagged: DataFrame = cfg.strategy match {
          case SeenSet.ExactAnti => seenFlagExact(cands)
          case SeenSet.BloomExact =>
            if (bloom.saturated) seenFlagExact(cands)
            else {
              val (defNew, suspects) = SeenSet.bloomSplit(spark, cands, bloom)
              defNew.withColumn("is_seen", lit(false))
                .unionByName(seenFlagExact(suspects))
            }
          case SeenSet.BloomCuckoo | SeenSet.BloomShardExact =>
            // both confirm against the LSM shard store; they differ only in
            // what compaction writes (chain vs exact array) at insert time.
            // Only bloom suspects reach the confirm exchange.
            cuckooFlag(if (bloom.saturated) lit(true)
              else SeenSet.bloomSuspect(spark, bloom))
        }

        // ---- politeness (J6, O6, P1-P3): rank open rows, tag dispositions ----
        // The wave's one materialization of the disposition: a local
        // checkpoint (one eager job) whose blocks every later reader scans
        // as rows — no columnar cache, so no per-reader column iterators to
        // generate. Its tallies ride the same job as CollectMetrics
        // (observe), so nFetch is known before the fetch join is planned.
        val obs = org.apache.spark.sql.Observation(
          s"graft-wave-$wave-${System.nanoTime()}")
        val waveLog = phase("disposition", System.nanoTime()) {
          Politeness.disposition(flagged, robots, cfg.waveDurationMs)
            .observe(obs,
              count(lit(1)).as("cand"),
              sum(when(col("disp") === "seen", 1L).otherwise(0L)).as("seen"),
              sum(when(col("disp") === "blocked", 1L).otherwise(0L)).as("blocked"),
              sum(when(col("disp") === "deferred", 1L).otherwise(0L)).as("deferred"),
              sum(when(col("disp") === "fetch", 1L).otherwise(0L)).as("fetch"))
            .localCheckpoint()
        }
        // the probe's verdicts checkpoint (in `flagged`'s plan) has no
        // reader left once the disposition is materialized
        SeenSet.releaseCheckpoints(flagged)
        val counts = obs.get
        def tally(k: String): Long = counts.get(k) match {
          case Some(x: java.lang.Number) => x.longValue()
          case _ => 0L
        }
        val nCandidates = tally("cand")
        val nSeen = tally("seen")
        val nBlocked = tally("blocked")
        val nDeferred = tally("deferred")
        val nFetch = tally("fetch")
        // an empty READ set with skipped rows would be a planner bug (the
        // prune rule always keeps each host's best dir)
        if (nCandidates == 0) {
          require(fplan.skippedRows == 0,
            "frontier planner bug: zero candidates read but rows skipped")
          done = true; SeenSet.releaseCheckpoints(waveLog)
        }
        else {
          // ---- fetch (J5): wave ⋈ bucketed pages — pages NEVER shuffle
          val fetchSlice = waveLog.filter(col("disp") === "fetch")
            .select((frontierCols :+ "host_rank").map(col): _*)
          // materialize the parse ONCE, as a local checkpoint (the parse UDF
          // runs here — the dominant, thread-scaling phase); every commit
          // below scans its blocks. The UDF counts the parsed rows (nOk,
          // for the error-recovery short-circuit): it runs once per row in
          // the checkpoint job's result stage, whose accumulator updates
          // Spark applies once per task.
          val okRows = spark.sparkContext.longAccumulator
          val parse = udf((html: Array[Byte]) => {
            okRows.add(1L); QuestionParser.parsePage(html)
          })
          val okParsed = phase("parse", System.nanoTime()) {
            joinWavePages(fetchSlice, pages)
              .withColumn("status", lit("ok"))
              .withColumn("p", parse(col("html")))
              .drop("html")
              .localCheckpoint()
          }
          val nOk = okRows.sum

          // status='error' recovery: wave rows with no page, or whose page
          // had NULL html (P6). Short-circuit: when every wave row parsed
          // (the common case — requires the pages table's url-uniqueness
          // contract, see Config.pagesTable), skip the left-anti join of the
          // wave against the parsed urls — a second pass over both per wave.
          val errRows = (if (nOk == nFetch)
            fetchSlice.limit(0)
          else fetchSlice.join(okParsed.select(col("url")), Seq("url"), "left_anti"))
            .withColumn("status", lit("error"))

          // ---- fetchlog rows: ordering trace + seen log + lineage source ----
          // The write also builds the wave's bloom insert: every attempted
          // url_hash passes the WaveBloom tap (attempted urls — Scrapy marks
          // on request). Past saturation the bits are dead and nothing taps.
          val waveBloom = new SeenSet.WaveBloom(bloomItems, bloomBits)
          // unnamed: the scheduler calls a named accumulator's `value` for every
          // task update (UI info), which would build a filter per task
          spark.sparkContext.register(waveBloom)
          val bloomTap = udf((h: Long) => { waveBloom.add(h); h })
          val attemptCols = Seq(col("url"),
            (if (bloom.saturated) col("url_hash") else bloomTap(col("url_hash"))).as("url_hash"),
            col("host"),
            col("host_rank"), col("status"), col("depth"),
            col("seed_subject"), col("seed_year"),
            spark_partition_id().as("partition_id"))
          // per-wave values ride as data — UDF references on the attempt
          // rows, fields of the summary row — never as literals in
          // generated code. Skipped cold rows ARE this wave's candidates-
          // that-deferred in the always-read engine: patching both counts
          // from the exact sidecar totals keeps lineage row-for-row
          // identical to it.
          val waveCounts = Seq(
            "candidates_in_wave" -> (nCandidates + fplan.skippedRows),
            "deduped_in_wave" -> nSeen, "blocked_in_wave" -> nBlocked,
            "deferred_in_wave" -> (nDeferred + fplan.skippedRows))
          val attempts = waveCounts.foldLeft(
            okParsed.select(attemptCols: _*).unionByName(errRows.select(attemptCols: _*))
              .withColumn("wave", waveConst(wave))) {
            case (df, (name, n)) => df.withColumn(name, waveConst(n))
          }
          // per-wave summary row: a local relation, planned as a driver-side
          // row rather than a generated stage of its own
          val summaryRow = spark.createDataFrame(
            java.util.List.of(org.apache.spark.sql.Row.fromSeq(
              Seq("", null, "", 0, "summary", 0, "", 0, -1, wave) ++ waveCounts.map(_._2))),
            org.apache.spark.sql.types.StructType(attempts.schema.map(_.copy(nullable = true))))
          val logRows = attempts.unionByName(summaryRow)

          // ---- state commits, CONCURRENT (VERDICT r02 #3): questions,
          // fetchlog (+ bloom), cuckoo are independent jobs over checkpointed
          // inputs (okParsed / waveLog), writing to disjoint tables. Submitting them
          // from separate driver threads overlaps their fixed per-job cost
          // (driver planning + scheduling + manifest commit) — the measured
          // ~7 s/wave serial floor was exactly these back-to-back small jobs.
          // The frontier advance stays a BARRIER after all of them: resume
          // correctness requires every state commit of wave N to land before
          // the frontier moves to N+1 (see the resume note above).
          import scala.concurrent.{Await, Future}
          val commits = Seq[() => Unit](
            () => if (cfg.parseQuestions) phase("questions", System.nanoTime()) {
              questionsT.commit(okParsed
                .select(col("url"), col("seed_subject"), col("seed_year"),
                  posexplode_outer(col("p.questions")).as(Seq("pos", "q")))
                .filter(col("q").isNotNull)
                .select(col("url"), col("seed_subject"), col("seed_year"), col("pos"),
                  col("q.section"), col("q.qtype"), col("q.number"), col("q.question"),
                  col("q.options"), col("q.subparts"), col("q.diagrams"),
                  col("q.answer"), col("q.solution"),
                  col("q.answer_after_solution")),
                wave)
            },
            () => phase("fetchlog", System.nanoTime()) {
              fetchlogT.commit(logRows, wave)
              // saturated: bits dead, merge only advances the count
              if (nFetch > 0) bloom.merge(waveBloom.value, nFetch)
              bloom.save(spark, s"$storeRoot/bloom", wave)
            },
            () => if (cfg.strategy == SeenSet.BloomCuckoo ||
                       cfg.strategy == SeenSet.BloomShardExact)
              phase("cuckoo", System.nanoTime()) {
                SeenSet.cuckooInsert(spark, fetchSlice.select("url_hash").as[Long],
                  cuckooT, cfg.cuckooShards, cfg.cuckooPerShardCapacity, wave,
                  pruneBytes = cfg.cuckooPruneBytes,
                  exactBase = cfg.strategy == SeenSet.BloomShardExact)
              })
          // ---- next frontier: deferred ∪ discovered links (S4), LSM ----
          val discovered = okParsed
            .filter(col("p.next").isNotNull)
            .withColumn("durl", resolveHref(col("url"), col("p.next")))
            .select(
              col("durl").as("url"),
              xxhash64(col("durl")).as("url_hash"),
              regexp_extract(col("durl"), "https?://([^/]+)/", 1).as("host"),
              (col("depth") + 1).as("priority"),
              (col("depth") + 1).as("depth"),
              col("warc_ts").as("discovery_ts"),
              col("seed_subject"), col("seed_year"))
          // duplicate probe: a discovery may duplicate a row in a SKIPPED
          // cold dir — bloom-hit dirs are read NOW and folded through the
          // same min-tuple dedup (their unmatched rows are rewritten too),
          // keeping the frontier duplicate-free without reading the cold
          // tail. No skipped dirs (the bench/default path) → no job at all.
          val hitDirs: Seq[String] =
            if (fplan.skippedDirs.isEmpty) Nil
            else Frontier.dupHitDirs(spark,
              discovered.select(col("host"), col("url_hash")),
              fplan.skippedDirs, fbloomsT, cfg.frontierShards,
              cfg.frontierDupBroadcastBytes,
              // discoveries ≤ parsed pages (one next link each): nOk bounds
              // the map-side collect without an extra count job
              waveRowBound = nOk, discBroadcastRows = cfg.frontierDupDiscRows)
          val survived0 = waveLog.filter(col("disp") === "deferred")
            .select(frontierCols.map(col): _*)
          val survived = if (hitDirs.isEmpty) survived0
            else survived0.unionByName(
              spark.read.parquet(hitDirs: _*).select(frontierCols.map(col): _*))
          // sidecars only once the frontier is big enough that pruning can
          // ever engage; their absence just forces dirs to be read (sound).
          // The same gate turns on ts-slicing: finer dirs pay off only when
          // the planner can skip them (deterministic on replay — the gate
          // reads the same pre-wave manifest the planner does).
          val sidecarOn = liveDirs.flatMap(_._2).sum >= cfg.frontierPruneBytes / 2
          val sliceCol =
            if (!sidecarOn || cfg.frontierTsSlices <= 1) lit(0)
            else pmod(floor(unix_timestamp(col("discovery_ts"))
              / cfg.frontierTsSliceSecs), lit(cfg.frontierTsSlices)).cast("int")
          // in-batch dedup (Frontier.dedupByUrl): per url the min-key row,
          // vetted if any copy survived. Planning its pass runs its exchange
          // (see RowPass), so the next frontier is built inside the
          // frontier-stage commit below, concurrent with the other commits.
          lazy val deduped = Frontier.dedupByUrl(
            survived.withColumn("is_surv", lit(1))
              .unionByName(discovered.withColumn("is_surv", lit(0))))
          // geometric rank tier (Config.frontierRankChunks): exact per-host
          // rank over the full politeness key — strictly monotone (url
          // tiebreak), so chunk k's keys sort strictly below chunk k+1's
          // for every host and the stats planner prunes tail tiers unaided.
          // The robots join reuses the disposition's budget formula so tier
          // widths track each host's drain rate. Same byte gate as slicing.
          // Ranks via Frontier.rankChunks' range-partitioned exact rank —
          // NOT Window.partitionBy(host), which would sort a mega-host's
          // whole read-back backlog in one task (e.g. a compaction wave
          // folding its tail tier).
          lazy val (chunked, chunkCleanup) =
            if (!sidecarOn || cfg.frontierRankChunks <= 1)
              (deduped.withColumn("chunk", lit(0)), () => ())
            else Frontier.rankChunks(deduped, robots, cfg.waveDurationMs,
              FrontierChunkWaves, cfg.frontierRankChunks)
          lazy val nextFrontier = chunked
            // VETTED rows (probed this wave: open, host allowed — incl. a
            // merged rediscovery, whose url was just probed via its
            // surviving copy) go to cold dirs keyed
            // ((band·S + tsSlice)·C + chunk)·F + hostBucket; unvetted
            // discoveries go to the fresh dir, always read next wave so
            // seen-duplicates are consumed at first probe
            .withColumn("fshard", when(col("vetted") === 1,
              (((least(col("priority"), lit(FrontierBands - 1))
                * cfg.frontierTsSlices + sliceCol)
                * cfg.frontierRankChunks + col("chunk"))
                * cfg.frontierShards
                + pmod(xxhash64(col("host")), lit(cfg.frontierShards)))
                .cast("int"))
              .otherwise(lit(Frontier.FreshShard)))
            .drop("chunk")
          lazy val nf = if (sidecarOn) nextFrontier.cache() else nextFrontier
          // commit unconditionally — no emptiness-probe count() job: an empty
          // frontier just makes the next iteration's candidate count 0, which
          // ends the loop (one cheap empty pass instead of a per-wave job).
          // The frontier's data WRITE runs concurrently with the state
          // commits above (it's invisible until published); only its
          // manifest PUBLISH — the actual wave advance, a millisecond
          // rename — waits for the barrier, preserving the resume invariant.
          // Cold dirs persist sorted by the priority key (priority-queue
          // layout, north star): the ranked scan reads runs in order and
          // parquet prunes better. Global order stays defined by the
          // politeness rank, not file layout (digest-invariant).
          // NO repartition by fshard here: the dedup groupBy already hash-
          // spreads rows across tasks, and partitionBy splits each task's
          // rows into its shard dirs. An fshard repartition would funnel a
          // big fresh wave (every discovery has fshard=-1) into ONE task.
          val frontierStage = Future(phase("frontier-stage", System.nanoTime()) {
            frontierT.stageSharded(nf
              .sortWithinPartitions("fshard", "priority", "depth",
                "discovery_ts", "url")
              .select((frontierCols :+ "fshard").map(col): _*),
              "fshard", wave + 1)
          })(commitEc)
          val preLivePairs: Set[Long] = liveDirs.map(_._1)
            .filter(p => SnapshotTable.shardIdOf(p).exists(_ >= 0))
            .map(p => Frontier.dirKey(SnapshotTable.waveOf(p).get,
              SnapshotTable.shardIdOf(p).get)).toSet
          val sidecarCommits: Seq[() => Unit] = if (!sidecarOn) Nil else {
            lazy val vetted = nf.filter(col("fshard") =!= Frontier.FreshShard)
            Seq(
              () => phase("frontier-stats", System.nanoTime()) {
                fstatsT.commit(Frontier.statsFor(vetted, wave + 1), wave + 1)
                Frontier.compactSidecar(fstatsT, preLivePairs, wave + 1,
                  cfg.frontierSidecarFoldDirs)
              },
              () => phase("frontier-blooms", System.nanoTime()) {
                fbloomsT.commit(Frontier.bloomsFor(spark, vetted, wave + 1), wave + 1)
                Frontier.compactSidecar(fbloomsT, preLivePairs, wave + 1,
                  cfg.frontierSidecarFoldDirs)
              })
          }
          val running = (commits ++ sidecarCommits).map(f => Future(f())(commitEc))
          // settle EVERY commit job (and the stage write) before propagating
          // the first failure (ADVICE r03): rethrowing while siblings still
          // run on the daemon pool races teardown against half-finished
          // Spark jobs and buries the root cause under secondary errors
          val settled = phase("commit-span", System.nanoTime()) {
            (running :+ frontierStage.map(_ => ())(commitEc))
              .map(fut => scala.util.Try(
                Await.result(fut, scala.concurrent.duration.Duration.Inf)))
          }
          settled.foreach(_.get) // all settled — first failure propagates clean
          val stagedDirs = Await.result(frontierStage,
            scala.concurrent.duration.Duration.Inf)
          // the wave advance: drop exactly what was read (fresh + read cold
          // + dup-hit dirs — their surviving rows are in the staged dirs),
          // carry every skipped dir at the manifest level. staged_bytes in
          // the metadata is the O(touched) evidence a test can assert.
          // codegen_compiles: Janino compiles since the wave began — a
          // JVM-wide count (CodegenMetrics is a static registry), so on a
          // driver that runs other Spark work concurrently it includes that
          // work's compiles too; exact for a crawl alone in its JVM. With the
          // wave's generated classes inside Spark's codegen cache, waves
          // after the first read ~0.
          val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
          phase("publish", System.nanoTime()) {
          frontierT.publishSharded(stagedDirs, wave + 1,
            dropDirPaths = fplan.readSet ++ hitDirs,
            metaKv = Map(
              "read_dirs" -> fplan.readDirs.size.toString,
              "skipped_dirs" -> fplan.skippedDirs.size.toString,
              "skipped_rows" -> fplan.skippedRows.toString,
              "dup_hit_dirs" -> hitDirs.size.toString,
              "staged_bytes" -> stagedDirs.flatMap(_._2).sum.toString,
              "codegen_compiles" -> compiles.toString))
          }
          if (sidecarOn) nf.unpersist()
          chunkCleanup() // releases rankChunks' range-sorted persist

          SeenSet.releaseCheckpoints(okParsed); SeenSet.releaseCheckpoints(waveLog)
          if (timing) System.err.println(
            f"[wave $wave] cand=$nCandidates fetch=$nFetch " +
              f"sec=${(System.nanoTime() - tw0) / 1e9}%.2f compiles=$compiles")
          wave += 1
        }
      }
    }
    } finally {
      commitEc.shutdown()
      stagedTable.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }

    // ---- result summary from the fetchlog: ONE scan, one job ----
    if (fetchlogT.isEmpty) return Result(wave, 0, 0, 0, 0, 0)
    val r = fetchlogT.read().agg(
      sum(when(col("status") === "ok", 1L).otherwise(0L)),
      sum(when(col("status") === "error", 1L).otherwise(0L)),
      // the per-wave summary row carries that wave's dedup count exactly once
      sum(when(col("status") === "summary", col("deduped_in_wave")).otherwise(0L)),
      sum(when(col("status") =!= "summary", 1L).otherwise(0L)),
      expr("bit_xor(CASE WHEN status <> 'summary' THEN xxhash64(url) END)")
    ).head()
    def l(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
    Result(wave, l(0), l(2), l(1), l(3), l(4))
  }

  /** Per-partition lineage rows (north rule A8), derived from the
    * wave-committed fetchlog: (wave, host_bucket, partition_id, attempted,
    * fetched, errors) + per-wave candidate/dedup/blocked/deferred counts.
    */
  def lineage(spark: SparkSession, storeRoot: String): DataFrame = {
    val log = new SnapshotTable(spark, storeRoot, "fetchlog").read()
    log.filter(col("status") =!= "summary")
      .withColumn("host_bucket", pmod(xxhash64(col("host")), lit(8)).cast("int"))
      .groupBy(col("wave"), col("host_bucket"), col("partition_id"))
      .agg(count(lit(1)).as("attempted"),
        sum(when(col("status") === "ok", 1L).otherwise(0L)).as("fetched"),
        sum(when(col("status") === "error", 1L).otherwise(0L)).as("errors"),
        first("candidates_in_wave").as("candidates_in_wave"),
        first("deduped_in_wave").as("deduped_in_wave"),
        first("blocked_in_wave").as("blocked_in_wave"),
        first("deferred_in_wave").as("deferred_in_wave"))
  }

  /** Per-wave summary counts (every wave, even all-deduped ones). */
  def waveSummary(spark: SparkSession, storeRoot: String): DataFrame = {
    val log = new SnapshotTable(spark, storeRoot, "fetchlog").read()
    log.groupBy(col("wave")).agg(
      first("candidates_in_wave").as("candidates"),
      first("deduped_in_wave").as("deduped"),
      first("blocked_in_wave").as("blocked"),
      first("deferred_in_wave").as("deferred"),
      sum(when(col("status") === "ok", 1L).otherwise(0L)).as("fetched"),
      sum(when(col("status") === "error", 1L).otherwise(0L)).as("errors"))
  }

  /** Deterministic global ordering trace (FIXTURES §4): one row per fetched
    * url — (wave, host, host_rank) is a total order given per-host
    * sequential fetch.
    */
  def orderingTrace(spark: SparkSession, storeRoot: String): DataFrame = {
    val logs = new SnapshotTable(spark, storeRoot, "fetchlog").read()
    logs.filter(col("status") =!= "summary")
      .select(col("wave"), col("host"), col("host_rank"), col("url"), col("status"))
      .orderBy(col("wave"), col("host"), col("host_rank"), col("url"))
  }

  /** Order-sensitive (rank-keyed) trace digest — bit_xor of position-salted
    * hashes (ANSI-safe, partition-order independent).
    */
  def traceDigest(spark: SparkSession, storeRoot: String): Long = {
    val t = orderingTrace(spark, storeRoot)
    val r = t.select(xxhash64(concat_ws("|",
        col("wave"), col("host"), col("host_rank"), col("url"))).as("h"))
      .agg(expr("bit_xor(h)")).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }
}
