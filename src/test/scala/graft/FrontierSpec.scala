package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Frontier, Politeness, SeenSet}
import graft.plans.SnapshotTable

/** The frontier-as-LSM-priority-queue contracts (VERDICT r04 wrong #1 +
  * next #1/#6): dir-granular commits that drop exactly what a wave read and
  * carry the cold tail at the manifest level; the sound priority-band read
  * prune (budget+1 strictly-better vetted rows); and the end-to-end proof
  * that a pruned deep-frontier crawl reads a strict subset of dirs, writes
  * O(touched) bytes, and still produces byte-identical results, digests,
  * and per-wave lineage counts vs the always-read-everything engine.
  */
class FrontierSpec extends AnyFunSuite with TempDirs {

  lazy val spark = SparkTestSession.get
  private val sf = "/root/testdata/sf0.001"

  private def freshStore(tag: String): String =
    tempDir(tag)

  test("publishSharded drops exactly the given dirs and carries the rest " +
       "verbatim (the manifest-level deferred mass)") {
    import spark.implicits._
    val t = new SnapshotTable(spark, freshStore("fpub"), "frontier")
    val w0 = Seq((0, "a"), (1, "b"), (2, "c")).toDF("fshard", "v")
    t.publishSharded(t.stageSharded(w0, "fshard", 0), 0)
    val d0 = t.versionDirs(t.latestVersion.get)
    assert(d0.size == 3)
    // wave 1 reads (consumes) shard 1's dir only; writes shards 1 and 3
    val dropped = d0.filter(_.endsWith("shard_p=1")).toSet
    val w1 = Seq((1, "b2"), (3, "d")).toDF("fshard", "v")
    t.publishSharded(t.stageSharded(w1, "fshard", 1), 1, dropped)
    val d1 = t.versionDirs(t.latestVersion.get)
    assert(d1.size == 4, s"2 carried + 2 new, got $d1")
    assert(d0.filterNot(dropped).forall(d1.contains),
      "unread dirs must carry forward with identical paths")
    assert(!d1.exists(dropped.contains), "consumed dirs must be gone")
    assert(t.read().select("v").as[String].collect().sorted.toSeq ==
      Seq("a", "b2", "c", "d"))
  }

  test("plan skips a dir only past budget+1 strictly-better vetted rows " +
       "(the rank-exactness boundary), never a stat-less or fresh dir") {
    import spark.implicits._
    val root = freshStore("fplan")
    val ft = new SnapshotTable(spark, root, "frontier")
    val statsT = new SnapshotTable(spark, root, "frontier_stats")
    val robots = Politeness.robotsFixture(spark).toDF()
    val host = "h1.example.test" // 1000 ms delay ⇒ budget 1 at 1000 ms waves
    val ts = new java.sql.Timestamp(0L)
    // three dirs: band-0 (wave 1, shard 1), band-1 (wave 1, shard 33),
    // fresh (wave 1, shard -1); plus a stat-less cold dir (wave 1, shard 65)
    val rows = Seq((1, "x"), (33, "y"), (-1, "z"), (65, "w")).toDF("fshard", "v")
    ft.publishSharded(ft.stageSharded(rows, "fshard", 1), 1)
    val live = ft.dirsWithSizes(ft.latestVersion.get)
    def stats(n0: Long) = Seq(
      (1, 1, host, n0, 0, 0, ts, "u-a", 0, 0, ts, "u-b"),
      (1, 33, host, 5L, 1, 1, ts, "u-c", 1, 1, ts, "u-d"))
      .toDF("fwave", "fshard", "host", "n", "min_pri", "min_depth", "min_ts",
        "min_url", "max_pri", "max_depth", "max_ts", "max_url")
    // band-0 holds ONE better row: 1 < budget+1 = 2 ⇒ band-1 must be read
    statsT.commit(stats(1), 1, append = false)
    val p1 = Frontier.plan(spark, live, statsT, robots, 1000L, 0L)
    assert(p1.skippedDirs.isEmpty && p1.skippedRows == 0,
      s"budget rows alone must not skip (rank ties need budget+1), got $p1")
    // band-0 holds TWO better rows: 2 ≥ budget+1 ⇒ band-1 is provably
    // deferred and skipped; fresh and stat-less dirs stay read regardless
    statsT.commit(stats(2), 1, append = false)
    val p2 = Frontier.plan(spark, live, statsT, robots, 1000L, 0L)
    assert(p2.skippedDirs.size == 1 && p2.skippedDirs.head.endsWith("shard_p=33"))
    assert(p2.skippedRows == 5)
    assert(p2.readDirs.exists(_.endsWith("shard_p=-1")) &&
      p2.readDirs.exists(_.endsWith("shard_p=65")),
      "fresh and stat-less dirs are always read")
    // below the byte gate nothing is planned at all
    val p3 = Frontier.plan(spark, live, statsT, robots, 1000L, Long.MaxValue)
    assert(p3.skippedDirs.isEmpty && p3.readDirs.size == live.size)
  }

  test("plan compares stats keys at MICROSECOND precision: sub-ms ts order " +
       "is never decided by the url tiebreak (external-warc_ts soundness)") {
    import spark.implicits._
    val root = freshStore("fmicro")
    val ft = new SnapshotTable(spark, root, "frontier")
    val statsT = new SnapshotTable(spark, root, "frontier_stats")
    val robots = Politeness.robotsFixture(spark).toDF()
    val host = "h1.example.test" // 1000 ms delay ⇒ budget 1 at 1000 ms waves
    // both dirs' keys share the same MILLISECOND (getTime == 1000) but
    // differ at the microsecond: dir A's rows are at +800 µs, dir B's row
    // at +100 µs. Under ms truncation the ts fields tie and the url
    // tiebreak ("u-b" < "u-z") calls A strictly better — 2 rows ≥ budget+1
    // ⇒ B skipped, UNSOUNDLY (in real µs order B's row outranks A's).
    def ts(micros: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(1000L)
      t.setNanos((micros * 1000L).toInt)
      t
    }
    val rows = Seq((1, "x"), (33, "y")).toDF("fshard", "v")
    ft.publishSharded(ft.stageSharded(rows, "fshard", 1), 1)
    val live = ft.dirsWithSizes(ft.latestVersion.get)
    statsT.commit(Seq(
      (1, 1, host, 2L, 0, 0, ts(800), "u-a", 0, 0, ts(800), "u-b"),
      (1, 33, host, 5L, 0, 0, ts(100), "u-z", 0, 0, ts(100), "u-z"))
      .toDF("fwave", "fshard", "host", "n", "min_pri", "min_depth", "min_ts",
        "min_url", "max_pri", "max_depth", "max_ts", "max_url"),
      1, append = false)
    val p = Frontier.plan(spark, live, statsT, robots, 1000L, 0L)
    // µs order: dir B holds the host's best row — it must be READ. (Under
    // ms truncation A's url-tiebreak win skipped B, unsoundly.) Skipping
    // dir A is correct either way: B's 5 rows at +100 µs are ≥ budget+1
    // strictly-better rows, so A's rows cannot rank this wave.
    assert(p.readDirs.exists(_.contains("shard_p=33")),
      s"dir B holds the genuinely-best row in µs order and must be read, " +
        s"got $p")
    assert(p.skippedDirs.forall(_.contains("shard_p=1")),
      s"only dir A (outranked past budget+1) may be deferred, got $p")
  }

  test("exactHostRank / rankChunks equal the per-host-window reference on a " +
       "skewed frontier — a mega-host's backlog is range-spread, never a " +
       "one-task sort") {
    import spark.implicits._
    val epoch = new java.sql.Timestamp(0L)
    // one mega-host (5000 equal-key rows, url tiebreak only — the seed-list
    // shape) + 40 small hosts; shuffled with a pinned seed so the input
    // order proves nothing to the rank
    val rows =
      (1 to 5000).map(i => ("mega.example.test", 0, 0, epoch,
        f"http://mega.example.test/p$i%05d")) ++
      (1 to 40).flatMap(h => (1 to 3).map(i =>
        (f"h$h%02d.example.test", h % 3, 0, epoch,
          f"http://h$h%02d.example.test/p$i")))
    val shuffled = new scala.util.Random(7).shuffle(rows)
    val df = spark.createDataFrame(spark.sparkContext.parallelize(shuffled, 16))
      .toDF("host", "priority", "depth", "discovery_ts", "url")
    // the mega host must actually span multiple range partitions — else the
    // boundary-offset stitching (the point of the algorithm) goes untested.
    // AQE coalesces an unpinned exchange of this tiny input to ONE
    // partition, so the test pins 8 (production leaves it adaptive).
    val ord = Seq(col("host"), col("priority"), col("depth"),
      col("discovery_ts"), col("url"))
    val perPart = df.repartitionByRange(8, ord: _*)
      .sortWithinPartitions(ord: _*)
      .select("host").map(_.getString(0) == "mega.example.test")
      .mapPartitions(it => Iterator.single(it.count(identity)))
      .collect()
    assert(perPart.count(_ > 0) > 1,
      s"mega host landed in one range partition: ${perPart.toSeq}")
    // reference rank: driver-side per-host sort over the politeness key
    val ref: Map[(String, String), Long] = rows.groupBy(_._1).flatMap {
      case (h, rs) => rs.sortBy(r => (r._2, r._3, r._4.getTime, r._5))
        .zipWithIndex.map { case (r, i) => (h, r._5) -> (i + 1L) }
    }.toMap
    val (ranked, cleanup) = Frontier.exactHostRank(df, numPartitions = Some(8))
    val got = ranked.select(col("host"), col("url"), col("rnk"))
      .as[(String, String, Long)].collect()
      .map { case (h, u, r) => (h, u) -> r }.toMap
    cleanup()
    assert(got.size == ref.size)
    val bad = ref.collect { case (k, r) if got(k) != r => (k, r, got(k)) }
    assert(bad.isEmpty, s"${bad.size} rank mismatches, first: ${bad.headOption}")
    // tier assignment: cw = 1 for every host here (waveMs 1000 ⇒ budget 1,
    // chunkWaves 1), so tier = min(floor(log2(rank)), 3) exactly
    val robots = Seq(("mega.example.test", 60000L))
      .toDF("host", "crawl_delay_ms")
    val (chdf, cleanup2) = Frontier.rankChunks(df, robots, 1000L, 1, 4)
    val gotCh = chdf.select(col("host"), col("url"), col("chunk"))
      .as[(String, String, Int)].collect()
      .map { case (h, u, c) => (h, u) -> c }.toMap
    cleanup2()
    val refCh = ref.map { case (k, r) =>
      k -> math.min(63 - java.lang.Long.numberOfLeadingZeros(r), 3L).toInt }
    assert(gotCh == refCh)
    // rnk/cw are internal: the caller sees its own columns plus `chunk`
    assert(chdf.columns.toSet == df.columns.toSet + "chunk")
  }

  test("deep-frontier pruned crawl (VERDICT r04 next #1+#6): reads a strict " +
       "subset of frontier dirs, stages O(touched) bytes, carries skipped " +
       "dirs verbatim — results, digests and per-wave counts IDENTICAL to " +
       "the always-read engine") {
    // budget 1/host over many seeds per host ⇒ a deep, slowly-draining
    // frontier whose discovered links (priority ≥ 1) are provably deferred
    // behind the remaining seeds (priority 0)
    val cfg = CrawlEngine.Config(waveDurationMs = 1000L, maxWaves = 10,
      strategy = SeenSet.BloomShardExact)
    val sFull = freshStore("fprune-off")
    val rFull = CrawlEngine.run(spark, sf, sFull, cfg) // gate: default (off)
    val sPr = freshStore("fprune-on")
    val rPr = CrawlEngine.run(spark, sf, sPr, cfg.copy(frontierPruneBytes = 0L))

    assert(rPr == rFull, s"pruned run diverged: $rPr vs $rFull")
    assert(CrawlEngine.traceDigest(spark, sPr) ==
      CrawlEngine.traceDigest(spark, sFull), "fetch order must be identical")
    def summary(s: String) = CrawlEngine.waveSummary(spark, s)
      .orderBy("wave").collect().map(_.toString).toSeq
    assert(summary(sPr) == summary(sFull),
      "per-wave candidate/dedup/blocked/deferred counts must be identical " +
        "(skipped rows patched from exact sidecar stats)")

    // pruning actually engaged, and the pruned waves wrote O(touched)
    val ft = new SnapshotTable(spark, sPr, "frontier")
    val metas = (0 to ft.latestVersion.get).map(v => (v, ft.metaAt(v)))
    val pruned = metas.filter(_._2.get("skipped_rows").exists(_.toLong > 0))
    assert(pruned.nonEmpty, "no wave skipped any rows — the fixture must " +
      "produce a prunable cold band (check budget/seed depth)")
    val (v, m) = pruned.last
    assert(m("read_dirs").toInt < m("read_dirs").toInt + m("skipped_dirs").toInt,
      "a pruned wave reads a STRICT subset of live dirs")
    assert(m("staged_bytes").toLong < ft.versionBytes(v),
      s"a pruned wave must stage less than the live frontier holds " +
        s"(staged=${m("staged_bytes")}, live=${ft.versionBytes(v)})")
    val carried = ft.versionDirs(v).toSet
      .intersect(ft.versionDirs(v - 1).toSet)
    assert(carried.nonEmpty,
      "skipped dirs must appear verbatim in the next manifest")
    // dir-count compaction bounds manifest growth: no cold shard may hold
    // more than the fold threshold's worth of live dirs
    val perShard = ft.versionDirs(ft.latestVersion.get)
      .flatMap(SnapshotTable.shardIdOf).filter(_ >= 0)
      .groupBy(identity).values.map(_.size)
    assert(perShard.forall(_ <= Frontier.CompactDirsPerShard),
      s"a shard exceeded the dir-fold threshold: ${perShard.max} dirs")
  }

  test("dupHitDirs: a discovery colliding with an unread dir's bloom names " +
       "exactly that dir; missing blobs are conservative hits; clean " +
       "discoveries name nothing") {
    import spark.implicits._
    val root = freshStore("fdup")
    val ft = new SnapshotTable(spark, root, "frontier")
    val bloomsT = new SnapshotTable(spark, root, "frontier_blooms")
    val F = 32
    // a cold row deferred in dir (wave=1, shard=band1·F+bucket) — compute
    // its real bucket from the engine's own hash
    val host = "h7.example.test"
    val url = s"https://$host/bece/questions/x"
    val Seq((bucket, urlHash)) = Seq(url).toDF("url")
      .select(pmod(xxhash64(lit(host)), lit(F)).cast("int"), xxhash64(col("url")))
      .as[(Int, Long)].collect().toSeq
    val shard = F + bucket // band 1
    val rows = Seq((shard, urlHash, host)).toDF("fshard", "url_hash", "host")
    ft.publishSharded(ft.stageSharded(rows, "fshard", 1), 1)
    val dir = ft.versionDirs(ft.latestVersion.get).head
    bloomsT.commit(Frontier.bloomsFor(spark,
      rows.withColumn("fshard", col("fshard")), 1), 1)
    // gate=default forces collect+broadcast of the FILTERS; gate=0 with a
    // small waveRowBound forces the map-side discovery-broadcast regime
    // (the 10^10 steady state — zero blob shuffle); gate=0 with
    // waveRowBound over the disc limit forces the bucket-aligned cogroup
    // (both-sides-huge fallback). All three plans must return the
    // identical hit set on every case.
    def probe(u: String, h: String, gate: Long, waveBound: Long) =
      Frontier.dupHitDirs(spark,
        Seq((h, u)).toDF("host", "u")
          .select(col("host"), xxhash64(col("u")).as("url_hash")),
        Seq(dir), bloomsT, F, broadcastBytes = gate, waveRowBound = waveBound)
    val regimes = Seq(
      (Frontier.DupProbeBroadcastBytes, Long.MaxValue), // filter broadcast
      (0L, 1L),                                         // discovery broadcast
      (0L, Long.MaxValue))                              // cogroup
    for ((gate, wb) <- regimes) {
      assert(probe(url, host, gate, wb) == Seq(dir),
        s"the rediscovered url must hit its dir (gate=$gate, wb=$wb)")
      assert(probe(s"https://$host/bece/questions/other-page", host, gate, wb).isEmpty,
        s"an unrelated url of the same host must not hit (gate=$gate, wb=$wb)")
    }
    // a dir with NO bloom blob is a conservative hit (reading is sound):
    // both with an EMPTY bloom table and with a non-empty table that holds
    // no row for this dir (the distributed path's presence probe)
    val naked = new SnapshotTable(spark, freshStore("fdup2"), "frontier_blooms")
    val otherBlooms = new SnapshotTable(spark, freshStore("fdup3"), "frontier_blooms")
    otherBlooms.commit(Frontier.bloomsFor(spark,
      rows.withColumn("fshard", lit(shard + 1)), 9), 9) // different (wave, shard)
    for ((gate, wb) <- regimes; t <- Seq(naked, otherBlooms)) {
      assert(Frontier.dupHitDirs(spark,
        Seq((host, url)).toDF("host", "u")
          .select(col("host"), xxhash64(col("u")).as("url_hash")),
        Seq(dir), t, F, broadcastBytes = gate, waveRowBound = wb) == Seq(dir),
        s"missing blob must be a conservative hit (gate=$gate, wb=$wb)")
    }
  }

  test("property: the skip rule never hides a row that can rank within " +
       "budget+1 (randomized dir layouts, exact-tie and boundary cases)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import graft.operators.Frontier.{K, kOrd}
    // rows over a TINY key alphabet so min/max equalities, cross-dir ties
    // and the strictly-below boundary are hit constantly; urls unique (the
    // frontier is duplicate-free, and url is the rank's final tiebreaker)
    val genRows: Gen[(Long, List[(Int, K)])] = for {
      budget <- Gen.choose(1L, 4L)
      nDirs <- Gen.choose(1, 7)
      nRows <- Gen.choose(1, 24)
      dirIdx <- Gen.listOfN(nRows, Gen.choose(0, nDirs - 1))
      pris <- Gen.listOfN(nRows, Gen.choose(0, 2))
      depths <- Gen.listOfN(nRows, Gen.choose(0, 2))
      tss <- Gen.listOfN(nRows, Gen.choose(0L, 2L))
      salts <- Gen.listOfN(nRows, Gen.choose(0, 9))
    } yield (budget, List.tabulate(nRows)(i =>
      (dirIdx(i), K(pris(i), depths(i), tss(i), f"u${salts(i)}%d-$i"))))
    var sawSkip = 0
    val prop = Prop.forAll(genRows) { case (budget, rows) =>
      val byDir = rows.groupBy(_._1).toIndexedSeq.sortBy(_._1)
      val stats = byDir.map { case (_, rs) =>
        val ks = rs.map(_._2)
        (ks.min(kOrd), ks.max(kOrd), rs.size.toLong)
      }
      val needed = graft.operators.Frontier.neededForHost(stats, budget,
        allowed = true)
      if (needed.exists(!_)) sawSkip += 1
      val neededDir = byDir.map(_._1).zip(needed).toMap
      // every row ranked <= budget+1 over the FULL row set must live in a
      // needed dir (the engine's fetch set and first-deferred rank both
      // depend only on rows the pruned wave reads)
      val sound = rows.sortBy(_._2)(kOrd).take(budget.toInt + 1)
        .forall(r => neededDir(r._1))
      // a disallowed host must never skip anything
      val blockedAllRead = graft.operators.Frontier.neededForHost(stats,
        budget, allowed = false).forall(identity)
      sound && blockedAllRead
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(2000), prop)
    assert(res.passed, res.status.toString)
    assert(sawSkip > 100,
      s"generator must exercise actual skips, saw only $sawSkip/2000")
  }

  test("forced-distributed dup probe: pruned crawls on the map-side " +
       "(discovery-broadcast) and cogroup paths on EVERY wave are " +
       "byte-identical to the filter-broadcast path") {
    // same deep-frontier config as the pruned-crawl test: 7 of its 10 waves
    // skip dirs, so the dup probe plans every one of those waves — gate 0
    // alone selects the map-side regime (small waves), gate 0 + disc-rows 0
    // forces the cogroup fallback. Hit semantics themselves are unit-tested
    // above (this fixture's links are in-degree-1, so no discovery ever
    // collides with a deferred cold row: dup_hit_dirs = 0 in all runs,
    // asserted so the fixture can't silently degrade).
    val cfg = CrawlEngine.Config(waveDurationMs = 1000L, maxWaves = 10,
      strategy = SeenSet.BloomShardExact, frontierPruneBytes = 0L)
    val sBc = freshStore("fdupbc")
    val rBc = CrawlEngine.run(spark, sf, sBc, cfg)
    val sMap = freshStore("fdupmap")
    val rMap = CrawlEngine.run(spark, sf, sMap,
      cfg.copy(frontierDupBroadcastBytes = 0L))
    val sCg = freshStore("fdupcg")
    val rCg = CrawlEngine.run(spark, sf, sCg,
      cfg.copy(frontierDupBroadcastBytes = 0L, frontierDupDiscRows = 0L))
    assert(rMap == rBc, s"map-side dup probe diverged: $rMap vs $rBc")
    assert(rCg == rBc, s"cogroup dup probe diverged: $rCg vs $rBc")
    assert(CrawlEngine.traceDigest(spark, sMap) ==
      CrawlEngine.traceDigest(spark, sBc), "fetch order must be identical")
    assert(CrawlEngine.traceDigest(spark, sCg) ==
      CrawlEngine.traceDigest(spark, sBc), "fetch order must be identical")
    def meta(s: String, k: String): Seq[Int] = {
      val ft = new SnapshotTable(spark, s, "frontier")
      (0 to ft.latestVersion.get).map(v =>
        ft.metaAt(v).getOrElse(k, "0").toInt)
    }
    assert(meta(sMap, "skipped_dirs").sum > 0, "pruning must engage")
    for (s <- Seq(sMap, sCg))
      assert(meta(s, "dup_hit_dirs") == meta(sBc, "dup_hit_dirs"),
        "per-wave dup-hit counts must match across probe plans")
  }

  test("ts-sliced cold dirs (the active-band residual): digests, results " +
       "and per-wave counts identical to the unsliced layout, slices " +
       "actually materialize, and row pruning never regresses") {
    // slice width sized to the fixture: discovery_ts = Epoch + docId s
    // (docId 0..499 at sf0.001), so 125 s windows give 4 monotone slices
    val base = CrawlEngine.Config(waveDurationMs = 1000L, maxWaves = 10,
      strategy = SeenSet.BloomShardExact, frontierPruneBytes = 0L,
      frontierTsSliceSecs = 125L)
    val sFlat = freshStore("fslice-off")
    val rFlat = CrawlEngine.run(spark, sf, sFlat, base.copy(frontierTsSlices = 1))
    val sSl = freshStore("fslice-on")
    val rSl = CrawlEngine.run(spark, sf, sSl, base) // default: 4 slices
    assert(rSl == rFlat, s"sliced run diverged: $rSl vs $rFlat")
    assert(CrawlEngine.traceDigest(spark, sSl) ==
      CrawlEngine.traceDigest(spark, sFlat), "fetch order must be identical")
    def summary(s: String) = CrawlEngine.waveSummary(spark, s)
      .orderBy("wave").collect().map(_.toString).toSeq
    assert(summary(sSl) == summary(sFlat))
    // slices materialized: some band holds cold dirs in >1 ts-slice
    // (shard = ((band·S + slice)·C + chunk)·F + bucket)
    val ft = new SnapshotTable(spark, sSl, "frontier")
    val S = base.frontierTsSlices
    val F = base.frontierShards
    val C = base.frontierRankChunks
    val slicesPerBand = (1 to ft.latestVersion.get)
      .flatMap(v => ft.versionDirs(v).flatMap(SnapshotTable.shardIdOf))
      .filter(_ >= 0).distinct
      .groupBy(sh => sh / (F * C * S)).view
      .mapValues(_.map(sh => (sh / (F * C)) % S).distinct.size)
    assert(slicesPerBand.values.exists(_ > 1),
      s"no band ever split across ts-slices — slicing is inert: $slicesPerBand")
    // finer dirs can only improve (or tie) the provably-deferred row count
    def skippedTotal(s: String): Long = {
      val t = new SnapshotTable(spark, s, "frontier")
      (1 to t.latestVersion.get)
        .map(v => t.metaAt(v).getOrElse("skipped_rows", "0").toLong).sum
    }
    val (skF, skS) = (skippedTotal(sFlat), skippedTotal(sSl))
    assert(skS >= skF,
      s"slicing must never skip fewer provably-deferred rows ($skS < $skF)")
  }

  test("rank-chunked cold dirs (the equal-key backlog residual): digests, " +
       "results and per-wave counts identical to the unchunked layout, " +
       "geometric tiers materialize for the equal-ts seed mass, and row " +
       "pruning strictly improves") {
    // every seed shares (priority 0, depth 0, discovery_ts = Epoch), so
    // within band 0 the sort key degenerates to `url` and ts-slicing is
    // inert for the seed backlog — the hot host's ~37 equal-key seeds are
    // exactly the mass only exact-rank tiers can split
    val base = CrawlEngine.Config(waveDurationMs = 1000L, maxWaves = 10,
      strategy = SeenSet.BloomShardExact, frontierPruneBytes = 0L)
    val sOff = freshStore("fchunk-off")
    val rOff = CrawlEngine.run(spark, sf, sOff, base.copy(frontierRankChunks = 1))
    val sOn = freshStore("fchunk-on")
    val rOn = CrawlEngine.run(spark, sf, sOn, base) // default: 16 tiers
    assert(rOn == rOff, s"chunked run diverged: $rOn vs $rOff")
    assert(CrawlEngine.traceDigest(spark, sOn) ==
      CrawlEngine.traceDigest(spark, sOff), "fetch order must be identical")
    def summary(s: String) = CrawlEngine.waveSummary(spark, s)
      .orderBy("wave").collect().map(_.toString).toSeq
    assert(summary(sOn) == summary(sOff))
    // tiers materialized: some (band·slice, bucket) group splits across >1
    // rank chunk (shard = ((band·S + slice)·C + chunk)·F + bucket)
    val ft = new SnapshotTable(spark, sOn, "frontier")
    val F = base.frontierShards
    val C = base.frontierRankChunks
    val chunksPerGroup = (1 to ft.latestVersion.get)
      .flatMap(v => ft.versionDirs(v).flatMap(SnapshotTable.shardIdOf))
      .filter(_ >= 0).distinct
      .groupBy(sh => (sh / (F * C), sh % F)).view
      .mapValues(_.map(sh => (sh / F) % C).distinct.size)
    assert(chunksPerGroup.values.exists(_ > 1),
      s"no (band·slice, bucket) group split across rank tiers: $chunksPerGroup")
    // the unchunked layout cannot skip a host's equal-key backlog (it is
    // one indivisible dir, always that host's best); the tiers make its
    // tail provably deferred — strictly more rows skipped over the crawl
    def skippedTotal(s: String): Long = {
      val t = new SnapshotTable(spark, s, "frontier")
      (1 to t.latestVersion.get)
        .map(v => t.metaAt(v).getOrElse("skipped_rows", "0").toLong).sum
    }
    val (skOff, skOn) = (skippedTotal(sOff), skippedTotal(sOn))
    assert(skOn > skOff,
      s"rank tiers must strictly improve provable deferral ($skOn <= $skOff)")
  }

  test("pruned deep crawl RESUMES to the identical final state (sidecar " +
       "planning is replay-deterministic)") {
    val cfg = CrawlEngine.Config(waveDurationMs = 1000L, maxWaves = 10,
      strategy = SeenSet.BloomShardExact, frontierPruneBytes = 0L)
    val sOnce = freshStore("fresume-once")
    val rOnce = CrawlEngine.run(spark, sf, sOnce, cfg)
    val sTwo = freshStore("fresume-two")
    CrawlEngine.run(spark, sf, sTwo, cfg.copy(maxWaves = 4))
    val rTwo = CrawlEngine.run(spark, sf, sTwo, cfg) // resume to wave 10
    assert(rTwo.fetched == rOnce.fetched && rTwo.seenDigest == rOnce.seenDigest)
    assert(CrawlEngine.traceDigest(spark, sTwo) ==
      CrawlEngine.traceDigest(spark, sOnce))
  }

  test("mid-wave crash replay across a sidecar FOLD keeps stats rows unique " +
       "(a fold-held copy of the crashed wave's rows would double-count n " +
       "in the budget+1 rule — unsound skips)") {
    val cfg = CrawlEngine.Config(waveDurationMs = 1000L, maxWaves = 10,
      strategy = SeenSet.BloomShardExact, frontierPruneBytes = 0L,
      frontierSidecarFoldDirs = 3)
    val sRef = freshStore("ffold-ref")
    val rRef = CrawlEngine.run(spark, sf, sRef, cfg)
    val sCr = freshStore("ffold-crash")
    CrawlEngine.run(spark, sf, sCr, cfg.copy(maxWaves = 5))
    // threshold 3 makes wave 4 a FOLD wave (dirs go 1,2,3→fold,…), so the
    // crashed attempt's LAST act on fstats was a fold: its latest manifest
    // must hold a (negative-wave) fold dir — the replay then re-commits the
    // same wave's stats next to whatever the fold kept
    val st = new SnapshotTable(spark, sCr, "frontier_stats")
    assert(st.latestVersion.exists(v =>
      st.versionDirs(v).exists(_.contains("/wave=-"))),
      "fixture did not fold in the crashed wave — adjust maxWaves/threshold")
    // crash DURING the last processed wave: its sidecar commits (and fold)
    // landed, the frontier never advanced (CrawlEngineSpec's simulation)
    val snaps = new java.io.File(s"$sCr/frontier/_snapshots")
      .listFiles().filter(_.getName.endsWith(".manifest")).sortBy(_.getName)
    assert(snaps.last.delete())
    val rCr = CrawlEngine.run(spark, sf, sCr, cfg)
    // the crisp bug signature: exactly one stats row per (dir, host) —
    // replay or not — so the planner's per-host row sums stay exact
    val dups = st.read().groupBy("fwave", "fshard", "host").count()
      .filter(col("count") > 1).count()
    assert(dups == 0, s"$dups duplicated (dir, host) stats rows after replay")
    assert(rCr.fetched == rRef.fetched && rCr.seenDigest == rRef.seenDigest)
    assert(CrawlEngine.traceDigest(spark, sCr) ==
      CrawlEngine.traceDigest(spark, sRef))
  }
}
