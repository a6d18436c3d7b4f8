package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SeenSet
import graft.plans.SnapshotTable

/** Unit-level contracts of the LSM cuckoo shard store (VERDICT r03
  * #2/#3/#4, extended): a wave's inserts append as exact per-shard delta
  * blobs with ZERO read of prior state, untouched files carry forward at
  * the manifest level, a shard compacts its deltas into its base chain at
  * the blob-count threshold, probes read only the shards the wave can touch
  * once pruning engages, and an under-sized shard grows gracefully.
  */
class SeenSetShardSpec extends AnyFunSuite with TempDirs {

  lazy val spark = SparkTestSession.get

  private def freshTable(tag: String): SnapshotTable =
    new SnapshotTable(spark, tempDir(tag),
      "seen_cuckoo")

  private val Shards = 8

  /** Well-mixed hashes landing in the given shard (pmod semantics of the
    * engine; mixed like xxhash64 output — sequential longs would degenerate
    * the 16-bit fingerprint and make every probe collide).
    */
  private def hashesIn(shard: Int, n: Int): Seq[Long] =
    Iterator.from(0)
      .map(i => graft.sources.PagesGen.mix(shard.toLong * 1000003L + i))
      .filter(h => ((h % Shards) + Shards) % Shards == shard).take(n).toSeq

  private def insert(t: SnapshotTable, hashes: Seq[Long], wave: Int,
                     capacity: Long = 1L << 12,
                     compactThreshold: Int = SeenSet.DefaultCompactThreshold): Unit = {
    import spark.implicits._
    SeenSet.cuckooInsert(spark, hashes.toDS(), t, Shards, capacity, wave,
      pruneBytes = 0L, compactThreshold = compactThreshold)
  }

  private def flags(t: SnapshotTable, hashes: Seq[Long],
                    pruneBytes: Long = 0L): Map[Long, Boolean] = {
    import spark.implicits._
    val cands = hashes.toDF("url_hash")
    SeenSet.cuckooFlagged(spark, cands, t, Shards, pruneBytes = pruneBytes)
      .select(col("url_hash"), col("is_seen"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
  }

  test("per-shard delta commit: a wave touching one shard appends ONE delta " +
       "dir; every other shard's dirs are carried forward verbatim " +
       "(VERDICT r03 #2, LSM form)") {
    val t = freshTable("shardcommit")
    insert(t, hashesIn(0, 50) ++ hashesIn(1, 50) ++ hashesIn(5, 50), wave = 0)
    val v0dirs = t.versionDirs(t.latestVersion.get)
    assert(v0dirs.size == 3, s"wave 0 touched 3 shards, dirs=$v0dirs")
    insert(t, hashesIn(1, 80), wave = 1) // second wave touches only shard 1
    val v1dirs = t.versionDirs(t.latestVersion.get)
    assert(v1dirs.size == 4, s"shard 1 gains a delta dir, dirs=$v1dirs")
    def byShard(dirs: Seq[String]) =
      dirs.groupBy(d => SnapshotTable.shardIdOf(d).get)
    val b0 = byShard(v0dirs); val b1 = byShard(v1dirs)
    assert(b1(0) == b0(0) && b1(5) == b0(5),
      "untouched shards must reference the PRIOR wave's files unchanged")
    assert(b1(1).toSet.contains(b0(1).head) &&
      b1(1).exists(_.contains("wave=1")),
      "the touched shard keeps its base AND gains the wave-1 delta")
    // and the carried + delta files together hold the full state
    val f = flags(t, hashesIn(0, 50) ++ hashesIn(1, 100) ++ hashesIn(5, 50))
    assert(hashesIn(0, 50).forall(f(_)) && hashesIn(5, 50).forall(f(_)))
    assert(hashesIn(1, 80).forall(f(_)))
    assert(hashesIn(1, 100).drop(80).forall(!f(_)), "never-inserted stay unseen")
  }

  test("LSM compaction: a shard folds its delta blobs into one base chain at " +
       "the threshold — dir count drops to 1, membership exact") {
    val t = freshTable("compact")
    for (w <- 0 until 5) // threshold 4: waves 0-3 accumulate, wave 4 compacts
      insert(t, hashesIn(3, (w + 1) * 40).drop(w * 40), wave = w)
    val dirs = t.versionDirs(t.latestVersion.get)
      .filter(d => SnapshotTable.shardIdOf(d).contains(3))
    assert(dirs.size == 1 && dirs.head.contains("wave=4"),
      s"shard 3 must hold ONE compacted blob after wave 4, got $dirs")
    val f = flags(t, hashesIn(3, 220))
    assert(hashesIn(3, 200).forall(f(_)), "all five waves' keys survive compaction")
    assert(hashesIn(3, 220).drop(200).count(f(_)) <= 1, "FP bound holds")
  }

  test("exact-base compaction (BloomShardExact tier): membership exact " +
       "forever, ZERO false positives, dirs collapse at the threshold") {
    import spark.implicits._
    val t = freshTable("exactbase")
    for (w <- 0 until 5)
      SeenSet.cuckooInsert(spark,
        hashesIn(6, (w + 1) * 40).drop(w * 40).toDS(), t, Shards, 1L << 12,
        wave = w, pruneBytes = 0L, exactBase = true)
    val dirs = t.versionDirs(t.latestVersion.get)
      .filter(d => SnapshotTable.shardIdOf(d).contains(6))
    assert(dirs.size == 1 && dirs.head.contains("wave=4"),
      s"shard 6 must compact to one exact base, got $dirs")
    val f = flags(t, hashesIn(6, 300))
    assert(hashesIn(6, 200).forall(f(_)))
    assert(hashesIn(6, 300).drop(200).count(f(_)) == 0,
      "the exact tier admits ZERO false positives")
  }

  test("exact tier refuses to resume over an approximate (cuckoo) base") {
    import spark.implicits._
    val t = freshTable("mixedtier")
    // chain base via forced compaction under the cuckoo tier: wave 0 writes
    // a delta (nothing to compact yet), wave 1 at threshold 1 folds it into
    // a CHAIN base — the keyless form the exact tier cannot adopt
    SeenSet.cuckooInsert(spark, hashesIn(1, 50).toDS(), t, Shards, 1L << 12,
      wave = 0, pruneBytes = 0L, compactThreshold = 1)
    SeenSet.cuckooInsert(spark, hashesIn(1, 70).drop(50).toDS(), t, Shards,
      1L << 12, wave = 1, pruneBytes = 0L, compactThreshold = 1)
    val e = intercept[Exception] {
      SeenSet.cuckooInsert(spark, hashesIn(1, 90).drop(70).toDS(), t, Shards,
        1L << 12, wave = 2, pruneBytes = 0L, compactThreshold = 1,
        exactBase = true)
    }
    def messages(x: Throwable): Seq[String] =
      if (x == null) Nil else Option(x.getMessage).toSeq ++ messages(x.getCause)
    assert(messages(e).exists(_.contains("cannot resume under the exact")),
      s"expected the mixed-tier guard, got: ${messages(e)}")
  }

  test("probe pruning: a wave confined to 2 of 8 shards reads 2 blobs, " +
       "not 8, with identical flags (VERDICT r03 #3)") {
    val t = freshTable("prune")
    insert(t, (0 until Shards).flatMap(hashesIn(_, 30)), wave = 0)
    val probeSet = hashesIn(2, 40) ++ hashesIn(6, 40)
    val pruned = flags(t, probeSet, pruneBytes = 0L) // 0 ⇒ always prune
    assert(SeenSet.lastBlobDirsRead == 2,
      s"expected 2 shard blobs read, got ${SeenSet.lastBlobDirsRead}")
    val full = flags(t, probeSet, pruneBytes = Long.MaxValue) // never prune
    assert(SeenSet.lastBlobDirsRead == Shards)
    assert(pruned == full, "pruning must not change any flag")
    assert(hashesIn(2, 30).forall(pruned(_)))
    assert(hashesIn(2, 40).drop(30).forall(!pruned(_)))
  }

  test("delta insert reads ZERO prior blobs (the O(wave) insert path)") {
    val t = freshTable("insertprune")
    insert(t, (0 until Shards).flatMap(hashesIn(_, 30)), wave = 0)
    insert(t, hashesIn(3, 200).drop(30), wave = 1)
    assert(SeenSet.lastBlobDirsRead == 0,
      s"a pure delta wave must read no prior state, got ${SeenSet.lastBlobDirsRead}")
    val f = flags(t, hashesIn(3, 200) ++ hashesIn(4, 30))
    assert(hashesIn(3, 200).forall(f(_)) && hashesIn(4, 30).forall(f(_)))
  }

  test("pure-delta relational path writes byte-identical blobs to the " +
       "cogroup path (round-6: the codegen insert twin)") {
    // the relational insert (SeenSet.cuckooInsert's shard stream) must cut
    // EXACTLY the blobs ShardState.serializeDelta produces per shard —
    // stores built by either engine version interoperate bit-for-bit
    val hashes = (0 until Shards).flatMap(hashesIn(_, 37)) ++ hashesIn(2, 90).drop(37)
    val t = freshTable("deltatwim")
    insert(t, hashes, wave = 0) // compactIds empty on a fresh table → twin path
    val blobs = spark.read.parquet(t.versionDirs(t.latestVersion.get): _*)
      .collect().map(r => r.getAs[Int]("shard") -> r.getAs[Array[Byte]]("blob")).toMap
    val expected = hashes.groupBy(h => ((h % Shards) + Shards) % Shards)
      .map { case (sh, hs) =>
        sh.toInt -> graft.util.ShardState.serializeDelta(hs.toArray) }
    assert(blobs.keySet == expected.keySet)
    expected.foreach { case (sh, bytes) =>
      assert(java.util.Arrays.equals(blobs(sh), bytes),
        s"shard $sh blob bytes differ from the cogroup-path serialization")
    }
  }

  test("graceful growth: compacting 100× past perShardCapacity stays correct, " +
       "no exception (VERDICT r03 #4)") {
    val t = freshTable("growth")
    // compactThreshold=1 forces a fold-into-base every wave, so the base
    // chain (not the exact deltas) carries the overflow
    insert(t, hashesIn(2, 3000), wave = 0, capacity = 16, compactThreshold = 1)
    insert(t, hashesIn(2, 4000).drop(3000), wave = 1, capacity = 16,
      compactThreshold = 1)
    val f = flags(t, hashesIn(2, 4100))
    assert(hashesIn(2, 4000).forall(f(_)), "no false negatives across growth")
    assert(hashesIn(2, 4100).drop(4000).count(f(_)) <= 2,
      "fresh hashes must stay (near-universally) unseen — FP-rate bound")
  }

  test("maintenance: empty insert at compactThreshold=1 compacts EVERY shard " +
       "to one base blob (the rewrite-data-files analog)") {
    val t = freshTable("compactall")
    for (w <- 0 until 3)
      insert(t, (0 until Shards).flatMap(sh => hashesIn(sh, (w + 1) * 20).drop(w * 20)),
        wave = w)
    assert(t.versionDirs(t.latestVersion.get).size == Shards * 3)
    insert(t, Seq.empty[Long], wave = 3, compactThreshold = 1)
    val dirs = t.versionDirs(t.latestVersion.get)
    assert(dirs.size == Shards && dirs.forall(_.contains("wave=3")),
      s"every shard must hold ONE compacted blob, got $dirs")
    val f = flags(t, (0 until Shards).flatMap(hashesIn(_, 60)))
    assert((0 until Shards).flatMap(hashesIn(_, 60)).forall(f(_)))
  }

  test("empty-wave insert carries the full prior state forward") {
    val t = freshTable("emptywave")
    insert(t, hashesIn(0, 20), wave = 0)
    insert(t, Seq.empty[Long], wave = 1)
    assert(t.meta("wave") == "1")
    val f = flags(t, hashesIn(0, 20))
    assert(hashesIn(0, 20).forall(f(_)))
  }

  test("exact tier REFUSES to PROBE an approximate (cuckoo) base too " +
       "(ADVICE r04: the insert-only guard let probes serve FP-capable " +
       "verdicts from a BloomCuckoo store)") {
    import spark.implicits._
    val t = freshTable("mixedprobe")
    SeenSet.cuckooInsert(spark, hashesIn(1, 50).toDS(), t, Shards, 1L << 12,
      wave = 0, pruneBytes = 0L, compactThreshold = 1)
    SeenSet.cuckooInsert(spark, hashesIn(1, 70).drop(50).toDS(), t, Shards,
      1L << 12, wave = 1, pruneBytes = 0L, compactThreshold = 1) // chain base
    val e = intercept[Exception] {
      SeenSet.cuckooFlagged(spark, hashesIn(1, 10).toDF("url_hash"), t,
        Shards, pruneBytes = 0L, requireExact = true).count()
    }
    def messages(x: Throwable): Seq[String] =
      if (x == null) Nil else Option(x.getMessage).toSeq ++ messages(x.getCause)
    assert(messages(e).exists(_.contains("refuses to probe")),
      s"expected the probe-side tier guard, got: ${messages(e)}")
    // the exact same probe WITHOUT the exact contract still works
    val f = flags(t, hashesIn(1, 10))
    assert(hashesIn(1, 10).forall(f(_)))
  }

  test("insert commits record blobs_read in manifest metadata — the " +
       "cluster-portable pruned-I/O channel (VERDICT r04 #7)") {
    val t = freshTable("blobsmeta")
    insert(t, (0 until Shards).flatMap(hashesIn(_, 30)), wave = 0)
    assert(t.metaAt(t.latestVersion.get).get("blobs_read").contains("0"),
      "first wave has no prior state to read")
    insert(t, hashesIn(3, 60).drop(30), wave = 1)
    assert(t.metaAt(t.latestVersion.get).get("blobs_read").contains("0"),
      "a pure delta wave must record ZERO prior blobs read")
    // force a full compaction: every shard reads exactly its prior blobs
    insert(t, Seq.empty[Long], wave = 2, compactThreshold = 1)
    val m = t.metaAt(t.latestVersion.get)
    assert(m.get("blobs_read").contains((Shards + 1).toString),
      s"compaction reads each prior blob exactly once, got ${m.get("blobs_read")}")
    assert(m.get("compacted_shards").contains(Shards.toString))
  }

  test("mid-wave crash replay with a CHANGED compaction threshold keeps the " +
       "pre-wave history (ADVICE r04: carry-forward from the pre-wave " +
       "manifest, not the crashed attempt's)") {
    val t = freshTable("replaythreshold")
    for (w <- 0 until 4) // threshold 4 → wave 4 will compact
      insert(t, hashesIn(5, (w + 1) * 25).drop(w * 25), wave = w)
    // crashed attempt of wave 4: compacts shard 5 (threshold 4 reached),
    // publishing a manifest whose shard-5 history is ONLY the wave-4 dir
    insert(t, hashesIn(5, 125).drop(100), wave = 4)
    // replay of wave 4 under a RAISED threshold: no compaction this time —
    // the carry-forward must come from the pre-wave manifest (waves 0-3),
    // not from the crashed attempt (whose wave-4 dir is overwritten and
    // whose carried set already dropped waves 0-3)
    insert(t, hashesIn(5, 125).drop(100), wave = 4, compactThreshold = 999)
    val f = flags(t, hashesIn(5, 125))
    assert(hashesIn(5, 125).forall(f(_)),
      "waves 0-3 keys must survive a replay that no longer compacts")
  }

  test("mergeSortedDedup: primitive k-way merge equals the boxed " +
       "sort-distinct reference on overlapping inputs") {
    val rnd = new scala.util.Random(42)
    for (_ <- 0 until 50) {
      val k = 1 + rnd.nextInt(6)
      val arrays = Array.fill(k) {
        val a = Array.fill(rnd.nextInt(40))(rnd.nextInt(60).toLong - 30L)
        java.util.Arrays.sort(a); a
      }
      val got = graft.util.ShardState.mergeSortedDedup(arrays)
      val want = arrays.flatten.distinct.sorted
      assert(got.toSeq == want.toSeq, s"k=$k")
    }
    assert(graft.util.ShardState.mergeSortedDedup(Array.empty).isEmpty)
  }

  test("forced big-shard exact compaction (5M keys through one shard) " +
       "completes with exact membership — the primitive-merge path at the " +
       "scale the boxed version churned (VERDICT r04 #5)") {
    import spark.implicits._
    val t = freshTable("bigcompact")
    val perWave = 1000000
    // ONE shard: all keys collide into a single compaction group; threshold
    // 4 means wave 4 (pre-wave dir count 4) folds waves 0-3 + its own
    // inserts into one exact base
    for (w <- 0 until 5) {
      val keys = (0 until perWave).map(i =>
        graft.sources.PagesGen.mix(w.toLong * 10000019L + i))
      SeenSet.cuckooInsert(spark, keys.toDS(), t, 1, 1L << 12,
        wave = w, pruneBytes = 0L, compactThreshold = 4, exactBase = true)
    }
    val dirs = t.versionDirs(t.latestVersion.get)
    assert(dirs.size == 1 && dirs.head.contains("wave=4"),
      s"expected one compacted base, got $dirs")
    val probe = (0 until 5).flatMap(w => Seq(0, perWave / 2, perWave - 1).map(i =>
      graft.sources.PagesGen.mix(w.toLong * 10000019L + i)))
    val fresh = (0 until 20).map(i => graft.sources.PagesGen.mix(-1L - i))
    import org.apache.spark.sql.functions.col
    val f = SeenSet.cuckooFlagged(spark, (probe ++ fresh).toDF("url_hash"), t, 1,
        pruneBytes = 0L)
      .select(col("url_hash"), col("is_seen"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(probe.forall(f(_)), "all compacted keys present")
    assert(fresh.forall(!f(_)), "exact base: zero FPs")
  }

  test("bloom snapshot: unknown magic is a clean incompatibility error (ADVICE r03)") {
    val dir = tempDir("bloommagic")
    // round-trip sanity first
    val b = new SeenSet.Bloom(1000, 0.01)
    b.inserted = 7
    b.save(spark, dir, 3)
    val (v, loaded) = SeenSet.Bloom.load(spark, dir).get
    assert(v == 3 && loaded.inserted == 7 && loaded.expected == 1000)
    // legacy layout: the round-3 header began with the raw inserted count
    val legacy = new java.io.DataOutputStream(
      new java.io.FileOutputStream(s"$dir/bloom_v00009.bin"))
    legacy.writeLong(42L); legacy.writeLong(100L); legacy.writeBoolean(false)
    legacy.close()
    val e = intercept[IllegalStateException] { SeenSet.Bloom.load(spark, dir) }
    assert(e.getMessage.contains("incompatible bloom snapshot"))
  }

  test("wave bloom accumulator: value is a read-only snapshot — reads during " +
       "adds (executor heartbeats) lose no hash and share no state") {
    import org.apache.spark.util.sketch.BloomFilter
    val items = 20000L
    val bits = BloomFilter.optimalNumOfBits(items, 0.01)
    val acc = new SeenSet.WaveBloom(items, bits)
    // enough hashes that the task side switches from exact keys to a filter
    val hs = (0 until items.toInt).map(i => graft.sources.PagesGen.mix(i.toLong))
    @volatile var stop = false
    val reader = new Thread(() => while (!stop) acc.value)
    reader.start()
    try hs.foreach(h => acc.add(h)) finally { stop = true; reader.join() }
    // the driver merges the task's copy, as the scheduler does
    val driver = new SeenSet.WaveBloom(items, bits)
    driver.merge(acc)
    val f = driver.value
    assert(hs.forall(f.mightContainLong), "every added hash is in the wave filter")
    // a snapshot is the caller's own object
    val marker = Iterator.from(1).map(i => graft.sources.PagesGen.mix(-i.toLong))
      .find(m => !acc.value.mightContainLong(m)).get
    acc.value.putLong(marker)
    assert(!acc.value.mightContainLong(marker))
    assert(!driver.value.mightContainLong(marker))
  }
}
