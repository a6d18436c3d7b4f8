package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SeenSet
import graft.sources.PagesGen

/** End-to-end crawl semantics (SURVEY §5.2 items 2-4):
  * coverage, dedup, politeness budgets, robots gate, chain ordering,
  * partition-count invariance, resume-equivalence, lineage reconciliation,
  * strategy equivalence (exact vs bloom+exact vs bloom+cuckoo).
  */
class CrawlEngineSpec extends AnyFunSuite with TempDirs {

  lazy val spark = SparkTestSession.get
  private val sf = "/root/testdata/sf0.001"

  private def freshStore(tag: String): String =
    tempDir(tag)

  // one reference run, reused by several asserts
  private lazy val store = freshStore("crawl")
  private lazy val result = CrawlEngine.run(spark, sf, store,
    CrawlEngine.Config(strategy = SeenSet.BloomExact))

  private def pagesCount: Long =
    spark.read.parquet(s"$sf/documents.parquet").count()

  private def blockedChains: Long = {
    import spark.implicits._
    spark.read.parquet(s"$sf/documents.parquet").select("doc_id").as[Long]
      .collect().count(id => PagesGen.hostIdOf(id) == 13)
  }

  test("crawl covers every reachable page exactly once, no errors") {
    // all pages on allowed hosts are reachable (chains are cycles from seeds)
    assert(result.errors == 0)
    assert(result.fetched == pagesCount - blockedChains)
    assert(result.seenCount == result.fetched)
  }

  test("dedup fires once per completed allowed chain (cycle closure)") {
    import spark.implicits._
    val chains = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id").as[Long].collect()
      .filter(id => PagesGen.pageIdxOf(id) == 0 && PagesGen.hostIdOf(id) != 13)
      .length
    assert(result.deduped == chains.toLong)
  }

  test("politeness: per (wave, host) fetch count never exceeds the budget") {
    val logs = CrawlEngine.orderingTrace(spark, store)
    val waveMs = CrawlEngine.Config().waveDurationMs
    val over = logs.groupBy("wave", "host").agg(count(lit(1)).as("n"))
      .withColumn("budget",
        when(col("host") === "h0.example.test", lit(waveMs / 2000))
          .otherwise(lit(waveMs / 1000)))
      .filter(col("n") > col("budget"))
    assert(over.count() == 0)
  }

  test("robots gate: disallowed host is never fetched") {
    val logs = CrawlEngine.orderingTrace(spark, store)
    assert(logs.filter(col("host") === "h13.example.test").count() == 0)
  }

  test("chain ordering: every chain is fetched p0<p1<p2<p3 by wave") {
    import spark.implicits._
    val logs = CrawlEngine.orderingTrace(spark, store)
      .select("url", "wave").as[(String, Int)].collect().toMap
    val ids = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id").as[Long].collect().filter(PagesGen.hostIdOf(_) != 13)
    ids.filter(id => PagesGen.pageIdxOf(id) > 0).foreach { id =>
      val cur = logs(PagesGen.urlOf(id))
      val prev = logs(PagesGen.urlOf(id - 1))
      assert(prev < cur, s"chain order violated at doc $id")
    }
  }

  test("lineage reconciles exactly: candidates = deduped + blocked + deferred + fetched + errors") {
    result // force the crawl
    val perWave = CrawlEngine.waveSummary(spark, store).collect()
    assert(perWave.nonEmpty)
    perWave.foreach { r =>
      val cand = r.getAs[Long]("candidates")
      val used = r.getAs[Long]("deduped") + r.getAs[Long]("blocked") +
        r.getAs[Long]("deferred") + r.getAs[Long]("fetched") + r.getAs[Long]("errors")
      assert(used == cand, s"wave ${r.getAs[Int]("wave")}: $used != $cand")
    }
    // per-partition lineage rows exist and sum to the fetch totals
    val lin = CrawlEngine.lineage(spark, store)
    val t = lin.agg(sum("fetched"), sum("errors")).head()
    assert(t.getLong(0) == result.fetched && t.getLong(1) == result.errors)
  }

  test("partition-count invariance: same digests under different shuffle parallelism") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "3")
      val s2 = freshStore("inv")
      val r2 = CrawlEngine.run(spark, sf, s2, CrawlEngine.Config(strategy = SeenSet.BloomExact))
      assert(r2.seenDigest == result.seenDigest && r2.seenCount == result.seenCount)
      assert(CrawlEngine.traceDigest(spark, s2) == CrawlEngine.traceDigest(spark, store))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("resume-equivalence: interrupted crawl continues to identical state") {
    val s3 = freshStore("resume")
    val confBefore = spark.conf.getAll
    val tablesBefore = spark.catalog.listTables().collect().map(_.name).toSet
    CrawlEngine.run(spark, sf, s3, CrawlEngine.Config(maxWaves = 2))
    def staged = new java.io.File(s"$s3/pages").listFiles()
      .map(f => f.getName -> f.lastModified).toSet
    val stagedFirst = staged
    val r3 = CrawlEngine.run(spark, sf, s3, CrawlEngine.Config()) // resume
    // the resumed run re-attaches the staged pages instead of writing them
    assert(staged == stagedFirst)
    // run leaves the caller's session as it found it
    assert(spark.conf.getAll == confBefore)
    assert(spark.catalog.listTables().collect().map(_.name).toSet == tablesBefore)
    assert(r3.seenDigest == result.seenDigest)
    assert(CrawlEngine.traceDigest(spark, s3) == CrawlEngine.traceDigest(spark, store))
  }

  /** Roll the frontier back one snapshot: the state then looks exactly like
    * a crash DURING the last processed wave — its questions/fetchlog/bloom/
    * cuckoo commits landed, but the frontier never advanced.
    */
  private def simulateMidWaveCrash(storeDir: String): Unit = {
    val snaps = new java.io.File(s"$storeDir/frontier/_snapshots")
      .listFiles().filter(_.getName.endsWith(".manifest")).sortBy(_.getName)
    assert(snaps.length >= 2, "need at least two frontier snapshots to roll back")
    assert(snaps.last.delete())
  }

  test("mid-wave crash replay is idempotent (ADVICE r01): no lost questions/links") {
    val s4 = freshStore("midcrash")
    CrawlEngine.run(spark, sf, s4, CrawlEngine.Config(maxWaves = 2))
    simulateMidWaveCrash(s4) // crashed while processing wave 1
    val r4 = CrawlEngine.run(spark, sf, s4, CrawlEngine.Config())
    assert(r4.seenDigest == result.seenDigest && r4.seenCount == result.seenCount)
    assert(r4.fetched == result.fetched && r4.errors == result.errors)
    assert(CrawlEngine.traceDigest(spark, s4) == CrawlEngine.traceDigest(spark, store))
    val q = new graft.plans.SnapshotTable(spark, s4, "questions").read()
    val qRef = new graft.plans.SnapshotTable(spark, store, "questions").read()
    assert(q.count() == qRef.count(), "replayed wave lost or duplicated questions")
  }

  test("mid-wave crash replay is idempotent under BloomCuckoo (shard state as-of)") {
    val s5 = freshStore("midcrash-cuckoo")
    val cfgC = CrawlEngine.Config(strategy = SeenSet.BloomCuckoo)
    CrawlEngine.run(spark, sf, s5, cfgC.copy(maxWaves = 2))
    simulateMidWaveCrash(s5)
    val r5 = CrawlEngine.run(spark, sf, s5, cfgC)
    assert(r5.seenDigest == result.seenDigest && r5.fetched == result.fetched)
    assert(CrawlEngine.traceDigest(spark, s5) == CrawlEngine.traceDigest(spark, store))
  }

  test("mid-wave crash replay across a cuckoo COMPACTION wave is idempotent " +
       "(LSM deltas fold into the base deterministically on replay)") {
    val s6 = freshStore("midcrash-compact")
    val cfgC = CrawlEngine.Config(strategy = SeenSet.BloomCuckoo)
    // run into wave 4 — with compactThreshold=4, shards that took a delta in
    // each of waves 0-3 compact during wave 4 — then crash mid-wave-4
    CrawlEngine.run(spark, sf, s6, cfgC.copy(maxWaves = 5))
    simulateMidWaveCrash(s6)
    val r6 = CrawlEngine.run(spark, sf, s6, cfgC)
    assert(r6.seenDigest == result.seenDigest && r6.fetched == result.fetched)
    assert(CrawlEngine.traceDigest(spark, s6) == CrawlEngine.traceDigest(spark, store))
  }

  test("strategy equivalence: ExactAnti ≡ BloomExact ≡ BloomShardExact ≡ " +
       "BloomCuckoo at test scale") {
    val sE = freshStore("exact")
    val rE = CrawlEngine.run(spark, sf, sE, CrawlEngine.Config(strategy = SeenSet.ExactAnti))
    assert(rE.seenDigest == result.seenDigest && rE.fetched == result.fetched)
    val sS = freshStore("shardexact")
    val rS = CrawlEngine.run(spark, sf, sS,
      CrawlEngine.Config(strategy = SeenSet.BloomShardExact))
    assert(rS.seenDigest == result.seenDigest && rS.fetched == result.fetched)
    assert(CrawlEngine.traceDigest(spark, sS) == CrawlEngine.traceDigest(spark, store))
    val sC = freshStore("cuckoo")
    val rC = CrawlEngine.run(spark, sf, sC, CrawlEngine.Config(strategy = SeenSet.BloomCuckoo))
    assert(rC.seenDigest == result.seenDigest && rC.fetched == result.fetched)
    assert(CrawlEngine.traceDigest(spark, sC) == CrawlEngine.traceDigest(spark, store))
  }

  test("URL-seen set equals the reference-model set exactly (north rule)") {
    import spark.implicits._
    result // force the shared crawl
    // expected: every url of every page on a robots-allowed host — computed
    // in plain Scala from the generator model, no Spark involved
    val expected = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id").as[Long].collect()
      .filter(id => PagesGen.hostIdOf(id) != 13)
      .map(PagesGen.urlOf).toSet
    val crawled = CrawlEngine.orderingTrace(spark, store)
      .select("url").as[String].collect().toSet
    assert(crawled == expected,
      s"missing=${(expected -- crawled).take(3)} extra=${(crawled -- expected).take(3)}")
  }

  test("bloom saturation (VERDICT r02): crossing bloomExpected stays exact, " +
       "filter reports saturated, pre-filter bypassed") {
    // bloomExpected=64 is crossed in wave 0 at this scale: every later wave
    // runs with the pre-filter bypassed — digests must still equal the
    // reference run's (the confirm tier carries full dedup).
    val tiny = CrawlEngine.Config(bloomExpected = 64L)
    val sS = freshStore("bloomsat")
    val rS = CrawlEngine.run(spark, sf, sS, tiny.copy(strategy = SeenSet.BloomExact))
    assert(rS.seenDigest == result.seenDigest && rS.fetched == result.fetched &&
      rS.deduped == result.deduped)
    assert(CrawlEngine.traceDigest(spark, sS) == CrawlEngine.traceDigest(spark, store))
    val loaded = SeenSet.Bloom.load(spark, s"$sS/bloom").get._2
    assert(loaded.saturated && loaded.inserted > 64L,
      s"persisted filter must report saturation (inserted=${loaded.inserted})")
    // same under the cuckoo confirm tier
    val sSC = freshStore("bloomsat-cuckoo")
    val rSC = CrawlEngine.run(spark, sf, sSC, tiny.copy(strategy = SeenSet.BloomCuckoo))
    assert(rSC.seenDigest == result.seenDigest && rSC.fetched == result.fetched)
  }

  test("non-power-of-two bloomExpected crawls clean (Spark 4 V2-filter merge regression)") {
    // 6,553,600 is the bench's amplify-sized value that made driver-created
    // and aggregate-built filters disagree on hash-function count
    // (BloomFilterImplV2.checkCompatibilityForMerge); the filter is now
    // adopted from the first stat build, so only same-construction merges
    // ever happen.
    val sNp = freshStore("bloom-nonpow2")
    val rNp = CrawlEngine.run(spark, sf, sNp,
      CrawlEngine.Config(bloomExpected = 6553600L))
    assert(rNp.seenDigest == result.seenDigest && rNp.fetched == result.fetched)
  }

  test("NULL html routes to status='error', never the parse UDF (ADVICE r02)") {
    import spark.implicits._
    // poison ONE chain-tail page (page_idx 3 on an allowed host): only that
    // url errors; the rest of its chain still crawls
    val target = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id").as[Long].collect()
      .filter(id => PagesGen.pageIdxOf(id) == 3 && PagesGen.hostIdOf(id) != 13)
      .min
    val targetUrl = PagesGen.urlOf(target)
    val dir = freshStore("nullhtml") + "/pages"
    graft.plans.BucketedTable.write(PagesGen.pages(spark, sf).toDF()
      .withColumn("html",
        when(col("url") === targetUrl, lit(null).cast("binary")).otherwise(col("html"))),
      dir, "graft_pages_nullhtml", "url", 8)
    val sN = freshStore("nullhtml-store")
    val rN = CrawlEngine.run(spark, sf, sN,
      CrawlEngine.Config(pagesTable = Some("graft_pages_nullhtml")))
    assert(rN.errors == 1, s"expected exactly the poisoned url as error, got ${rN.errors}")
    assert(rN.fetched == result.fetched - 1)
    val errUrls = new graft.plans.SnapshotTable(spark, sN, "fetchlog").read()
      .filter(col("status") === "error").select("url").as[String].collect()
    assert(errUrls.toSeq == Seq(targetUrl))
  }

  test("bucketed-table crawl (deferred observe-counts path) matches the reference digests") {
    // the bench configuration end-to-end: a caller-staged pages table of 8
    // buckets (the reference run stages StagedPagesBuckets itself) — the
    // digests must not depend on the bucket count
    val base = freshStore("bucketed-crawl")
    graft.plans.BucketedTable.write(PagesGen.pages(spark, sf).toDF(),
      s"$base/pages", "graft_pages_spec", "url", 8)
    val sB = freshStore("bucketed-store")
    val rB = CrawlEngine.run(spark, sf, sB,
      CrawlEngine.Config(pagesTable = Some("graft_pages_spec")))
    assert(rB.seenDigest == result.seenDigest && rB.fetched == result.fetched &&
      rB.deduped == result.deduped && rB.errors == result.errors)
    assert(CrawlEngine.traceDigest(spark, sB) == CrawlEngine.traceDigest(spark, store))
  }

  test("bucketed staging rejects duplicate urls (fetch-join key contract)") {
    import spark.implicits._
    val dup = Seq(("https://a/x", "h"), ("https://a/x", "h2"), ("https://a/y", "h3"))
      .toDF("url", "html")
    val dir = freshStore("dupstage")
    val e = intercept[IllegalArgumentException] {
      graft.plans.BucketedTable.write(dup, s"$dir/t", "graft_dup_test", "url", 4)
    }
    assert(e.getMessage.contains("duplicate"))
  }

  test("cuckoo shard-count invariance: 8 and 64 shards produce the reference " +
       "digests (VERDICT r03 #6 — shards scale with the frontier, not semantics)") {
    for (shards <- Seq(8, 64)) {
      val s = freshStore(s"shards$shards")
      val r = CrawlEngine.run(spark, sf, s, CrawlEngine.Config(
        strategy = SeenSet.BloomCuckoo, cuckooShards = shards))
      assert(r.seenDigest == result.seenDigest && r.fetched == result.fetched,
        s"digest mismatch at cuckooShards=$shards")
      assert(CrawlEngine.traceDigest(spark, s) == CrawlEngine.traceDigest(spark, store))
    }
  }

  test("cuckoo pruned-I/O crawl (pruneBytes=0, the 10^10 read path): " +
       "digests unchanged and the final op read < shards blobs (VERDICT r03 #3)") {
    val s = freshStore("prunecrawl")
    val r = CrawlEngine.run(spark, sf, s, CrawlEngine.Config(
      strategy = SeenSet.BloomCuckoo, cuckooPruneBytes = 0L))
    assert(r.seenDigest == result.seenDigest && r.fetched == result.fetched)
    assert(CrawlEngine.traceDigest(spark, s) == CrawlEngine.traceDigest(spark, store))
    // the closing wave probes an (empty-to-tiny) candidate set: with pruning
    // forced on, its blob read must be a strict subset of the shard count
    assert(SeenSet.lastBlobDirsRead >= 0 &&
      SeenSet.lastBlobDirsRead < CrawlEngine.Config().cuckooShards,
      s"expected a pruned read, got ${SeenSet.lastBlobDirsRead} blobs")
  }

  test("cuckoo shard growth inside a crawl: perShardCapacity=8 (100×+ under-" +
       "sized) crawls clean with reference digests (VERDICT r03 #4)") {
    val s = freshStore("shardgrow")
    val r = CrawlEngine.run(spark, sf, s, CrawlEngine.Config(
      strategy = SeenSet.BloomCuckoo, cuckooPerShardCapacity = 8L))
    assert(r.seenDigest == result.seenDigest && r.fetched == result.fetched &&
      r.deduped == result.deduped)
    assert(CrawlEngine.traceDigest(spark, s) == CrawlEngine.traceDigest(spark, store))
  }

  test("repeat crawl: every wave >= 1 compiles at most 2 generated classes " +
       "(a wave's generated code fits Spark's default codegen cache)") {
    // shard counts no other test uses: they are literals in the wave's
    // plans, so the first crawl starts with none of its classes cached
    val cfg = CrawlEngine.Config(cuckooShards = 5, frontierShards = 7)
    CrawlEngine.run(spark, sf, freshStore("gate-warm"), cfg)
    val s = freshStore("gate")
    val r = CrawlEngine.run(spark, sf, s, cfg)
    // wave w publishes frontier version w + 1 with its codegen_compiles
    val frontier = new graft.plans.SnapshotTable(spark, s, "frontier")
    val compiles = (2 to r.waves).map(v => v - 1 -> frontier.metaAt(v)("codegen_compiles").toLong)
    assert(compiles.size >= 2, s"expected a multi-wave crawl, got ${r.waves} waves")
    assert(compiles.forall(_._2 <= 2), s"(wave, compiles): $compiles")
  }

  test("questions were extracted during the crawl") {
    val q = new graft.plans.SnapshotTable(spark, store, "questions").read()
    assert(q.count() > 0)
    assert(q.filter(col("qtype") === "mcq").count() > 0)
    assert(q.filter(col("qtype") === "theory").count() > 0)
  }
}
