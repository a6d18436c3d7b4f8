package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.plans.SnapshotTable
import graft.util.{CuckooChain, ShardState}

/** URL-seen set (SURVEY §2.3 J4, §2.9; north rule's bloom/cuckoo pipeline).
  *
  * Three tiers, composable per wave over candidate urls:
  *
  *  1. **Broadcast Bloom pre-filter** — maintained incrementally (union of
  *     per-wave inserts, `BloomFilter.mergeInPlace`), persisted per wave for
  *     resume. `mightContain == false` proves NOT-seen: those candidates skip
  *     the confirm shuffle entirely. At 1% fpp only ~1% of genuinely-new urls
  *     pay the confirm cost.
  *  2. **Exact confirm** — left-anti join of the (already bloom-thinned)
  *     suspects against the seen log on `url_hash`. Exact semantics: the
  *     final seen set equals the reference run's (dedup-on-request,
  *     first-wins). This is the default confirm tier.
  *  3. **Cuckoo confirm** — P partitioned cuckoo shards
  *     (`pmod(url_hash, P)`), each merged per wave through one shard-ordered
  *     exchange (shard blobs meet their wave inserts on the same reducer —
  *     never broadcast, never driver-collected). O(1) memory probes instead of scanning the seen
  *     log; ~1.2e-4 false-positive rate per chain link (a false positive
  *     skips a fetch — see CrawlEngine.Config.strategy for the loss bound),
  *     no false negatives. The explicit opt-in tier for the 10^10-scale
  *     path, and Bench's primary measured tier.
  *
  * Cuckoo state I/O is O(wave) per wave, not O(seen set) — LSM-style:
  * inserts write each touched shard's hashes as an EXACT sorted delta blob
  * (no read of prior state; uniform hashing touches every shard each wave,
  * so "rewrite only touched shards" alone would still rewrite everything),
  * and a shard compacts its deltas' keys into its base [[graft.util.CuckooChain]]
  * once it holds `compactThreshold` blobs — amortized O(seen/threshold)
  * read+write per wave, manifest-level file reuse for the rest
  * ([[SnapshotTable.commitSharded]]). Probes prune their blob read to the
  * suspect shards once state bytes pass `pruneBytes` (an extra tiny
  * distinct-shards job — below the threshold, reading everything is cheaper
  * than planning the pruned scan); deltas are exact, so probe FP stays at
  * the base chain's rate. A base that outgrows `perShardCapacity` grows
  * gracefully by chaining a larger filter instead of the round-3 mid-wave
  * executor exception.
  *
  * Dedup analogs in the reference: Scrapy's request dupefilter (implicit),
  * diagram seen-set `/root/reference/core/main.py:344-351`, theory number
  * seen-set `core/main.py:409-415`.
  */
object SeenSet {

  sealed trait Strategy
  case object ExactAnti extends Strategy          // plain left-anti (baseline)
  case object BloomExact extends Strategy         // bloom pre-filter + full-log exact confirm
  case object BloomShardExact extends Strategy    // bloom + LSM shard confirm, EXACT base (default)
  case object BloomCuckoo extends Strategy        // bloom + LSM shard confirm, cuckoo base (compressed)

  final case class ShardBlob(shard: Int, blob: Array[Byte])

  /** Deterministic url hash used across the engine (no sign issues in pmod). */
  def urlHashCol(url: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    xxhash64(url)

  // --- bloom tier -----------------------------------------------------------

  /** Sizing policy (VERDICT r02): `expected` must be ≥ the projected insert
    * count — past it the FP rate climbs toward 1 and the pre-filter
    * degenerates into "everything is a suspect". The filter therefore TRACKS
    * its insert count: once `inserted > expected` it reports [[saturated]],
    * further merges are skipped (the bits are already useless), and the
    * engine bypasses the pre-filter entirely — every candidate goes straight
    * to the (exact/cuckoo) confirm tier, which stays correct at any scale
    * (CrawlEngineSpec proves digest equality across the boundary). Both
    * counters persist with the bits, so a resumed run keeps the policy.
    */
  final class Bloom(var expected: Long, fpp: Double) extends Serializable {
    /** null until the first wave merges — the filter is ADOPTED from the
      * first wave's [[WaveBloom]] build rather than pre-created with
      * `BloomFilter.create(expected, fpp)`: that driver-side shape and the
      * `stat.bloomFilter` aggregate's (which earlier stores persisted) can
      * disagree on hash-function count for non-power-of-two `expected`
      * (`BloomFilterImplV2.checkCompatibilityForMerge` throws), so every wave
      * filter takes the aggregate's shape ([[Bloom.aggShape]]).
      */
    var filter: BloomFilter = null
    var inserted: Long = 0L
    def saturated: Boolean = inserted > expected
    def isUnbuilt: Boolean = filter == null
    /** Merge a distributed-built wave filter of `n` inserts (must share
      * (expected, fpp) so the bit arrays are compatible). Skipped once
      * saturated — the engine no longer probes a saturated filter, so
      * merging would be pure cost; the count still advances so saturation
      * is monotone across resume.
      */
    def merge(other: BloomFilter, n: Long): Unit = {
      if (!saturated) {
        if (filter == null) filter = other else filter.mergeInPlace(other)
      }
      inserted += n
    }
    def save(spark: SparkSession, dir: String, wave: Int): Unit = {
      val p = new Path(dir, f"bloom_v$wave%05d.bin")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(p, true)
      try {
        out.writeLong(Bloom.Magic); out.writeInt(Bloom.Version)
        out.writeLong(inserted); out.writeLong(expected)
        out.writeBoolean(filter != null)
        if (filter != null) filter.writeTo(out)
      } finally out.close()
    }
  }

  object Bloom {
    /** "GRAFTBLM" — disambiguates the header from both legacy layouts
      * (ADVICE r03): the round-3 header began with a raw `inserted` count
      * and the round-2 file was a bare Spark BloomFilter stream; neither can
      * start with this value, so a non-magic first word is a reliable
      * incompatibility signal instead of a silent misparse.
      */
    val Magic: Long = 0x4752414654424C4DL
    val Version: Int = 1

    /** (items, bits) of the filter `stat.bloomFilter(col, expected, fpp)`
      * builds: `bloom_filter_agg` caps both by the session's runtime-filter
      * limits. A filter of this shape is merge-compatible with every filter
      * a store persisted from that aggregate.
      */
    def aggShape(spark: SparkSession, expected: Long, fpp: Double): (Long, Long) = {
      def cap(key: String) = spark.conf.get(s"spark.sql.optimizer.runtime.bloomFilter.$key").toLong
      (math.min(expected, cap("maxNumItems")),
        math.min(BloomFilter.optimalNumOfBits(expected, fpp), cap("maxNumBits")))
    }

    /** Load the newest persisted filter below `maxWaveExclusive` (replay
      * safety: a filter saved by a crashed attempt of the wave being replayed
      * is skipped — it would only add false positives, but the pre-crash
      * state is the exact one).
      */
    def load(spark: SparkSession, dir: String,
             maxWaveExclusive: Int = Int.MaxValue): Option[(Int, Bloom)] = {
      val d = new Path(dir)
      val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(d)) return None
      val vs = fs.listStatus(d).map(_.getPath.getName)
        .filter(n => n.startsWith("bloom_v") && n.endsWith(".bin"))
        .map(_.stripPrefix("bloom_v").stripSuffix(".bin").toInt)
        .filter(_ < maxWaveExclusive)
      if (vs.isEmpty) None
      else {
        val v = vs.max
        val p = new Path(d, f"bloom_v$v%05d.bin")
        val in = fs.open(p)
        val b = new Bloom(1, 0.5)
        try {
          if (in.readLong() != Magic) throw new IllegalStateException(
            s"incompatible bloom snapshot $p (pre-v1 layout or foreign " +
              "bytes) — the pre-filter's bits are load-bearing for dedup " +
              "(a lost filter re-fetches seen urls); resume requires a " +
              "compatible store, start a fresh crawl store")
          val ver = in.readInt()
          if (ver != Version) throw new IllegalStateException(
            s"bloom snapshot $p has version $ver, this engine reads $Version")
          b.inserted = in.readLong()
          b.expected = in.readLong()
          if (in.readBoolean()) b.filter = BloomFilter.readFrom(in)
        } finally in.close()
        Some((v, b))
      }
    }
  }

  /** A wave's bloom insert as a side output of a job the wave already runs
    * (the fetchlog write taps every attempted `url_hash` into it) — no job
    * and no generated classes of its own. Each task keeps its hashes exactly
    * until they would outweigh the filter's bits, then switches to a filter
    * of [[Bloom.aggShape]], so the driver receives at most one filter's
    * bytes per task and only 8 B per hash for small waves. Merging is a bit
    * OR, hence idempotent: a retried or re-run task can only re-set bits
    * that are set anyway, and the result equals the aggregate-built filter
    * of the same hashes bit for bit.
    *
    * `value` and `isZero` may run on another thread while a task adds:
    * executor heartbeats report a running task's accumulators, and in local
    * mode the heartbeat reads the task's own object. So every member locks,
    * and `value` only reads — it returns a fresh filter.
    */
  final class WaveBloom(items: Long, bits: Long)
      extends org.apache.spark.util.AccumulatorV2[Long, BloomFilter] {
    private var keys = new Array[Long](0)
    private var n = 0
    private var filter: BloomFilter = null
    private def putKeys(f: BloomFilter): BloomFilter = {
      var i = 0
      while (i < n) { f.putLong(keys(i)); i += 1 }
      f
    }
    /** Moves the exact keys into this accumulator's own filter. */
    private def toFilter(): BloomFilter = {
      if (filter == null) filter = BloomFilter.create(items, bits)
      putKeys(filter)
      n = 0; keys = new Array[Long](0)
      filter
    }
    override def isZero: Boolean = synchronized { n == 0 && filter == null }
    override def copy(): WaveBloom = synchronized {
      val c = new WaveBloom(items, bits)
      c.merge(this)
      c
    }
    override def reset(): Unit = synchronized {
      keys = new Array[Long](0); n = 0; filter = null
    }
    override def add(h: Long): Unit = synchronized {
      if (filter != null) filter.putLong(h)
      else {
        if (n == keys.length) {
          if (n.toLong * 64 >= bits) { toFilter().putLong(h); return }
          keys = java.util.Arrays.copyOf(keys, math.max(16, n * 2))
        }
        keys(n) = h; n += 1
      }
    }
    override def merge(other: org.apache.spark.util.AccumulatorV2[Long, BloomFilter]): Unit =
      other match {
        case o: WaveBloom => synchronized {
          o.synchronized {
            if (o.filter != null) toFilter().mergeInPlace(o.filter)
            var i = 0
            while (i < o.n) { add(o.keys(i)); i += 1 }
          }
        }
      }
    /** The filter of every hash added so far, as a new object: this
      * accumulator's state is left as it is.
      */
    override def value: BloomFilter = synchronized {
      val f = BloomFilter.create(items, bits)
      if (filter != null) f.mergeInPlace(filter)
      putKeys(f)
    }
  }

  // --- probe: candidates → fresh (not seen) ----------------------------------
  // `candidates` must carry `url_hash: Long`. Returns candidates minus seen.

  /** Tier 2/baseline: exact anti-join against the seen log. */
  def exactFresh(candidates: DataFrame, seenLog: DataFrame): DataFrame =
    candidates.join(seenLog.select(col("url_hash").as("seen_hash")),
      candidates("url_hash") === col("seen_hash"), "left_anti")

  /** Bloom split: (definitely-new, suspects). No shuffle — a broadcast-udf
    * filter that prunes the confirm join's build side. An unbuilt filter
    * (no wave merged yet) represents the empty set and probes as a 1-item
    * empty filter: everything is definitely-new, through the same plan as
    * every later wave, so wave 0 compiles no classes of its own.
    */
  def bloomSplit(spark: SparkSession, candidates: DataFrame, bloom: Bloom)
      : (DataFrame, DataFrame) = {
    val suspect = bloomSuspect(spark, bloom)
    (candidates.filter(!suspect), candidates.filter(suspect))
  }

  /** The bloom split's predicate: true for the candidates the confirm tier
    * must check (`url_hash` might be seen).
    */
  def bloomSuspect(spark: SparkSession, bloom: Bloom): org.apache.spark.sql.Column = {
    val bc = spark.sparkContext.broadcast(
      if (bloom.isUnbuilt) BloomFilter.create(1) else bloom.filter)
    udf((h: Long) => bc.value.mightContainLong(h)).apply(col("url_hash"))
  }

  /** Frees the blocks of the local checkpoints in `ds`'s plan now:
    * `unpersist` does not reach them, and the context cleaner would wait
    * for a GC of the driver objects that reference them. Only for frames
    * whose checkpoints have no reader left.
    */
  private[graft] def releaseCheckpoints(ds: DataFrame): Unit =
    ds.queryExecution.logical.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD if r.rdd.isCheckpointed =>
        r.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** Tier 3: cuckoo-shard confirm (shard-aligned, distributed). */
  def cuckooFresh(spark: SparkSession, candidates: DataFrame,
                  shardTable: SnapshotTable, shards: Int,
                  asOfWaveExclusive: Int = Int.MaxValue): DataFrame =
    cuckooFlagged(spark, candidates, shardTable, shards, asOfWaveExclusive)
      .filter(!col("is_seen")).drop("is_seen")

  /** Shard blobs read by the last probe/insert PLANNED on this JVM — test
    * and diagnostic instrumentation for the pruned-read path (the per-wave
    * figure the 10^10 I/O story rests on); -1 until a cuckoo op runs. The
    * count is computed DRIVER-side at plan time (the dir list is driver
    * metadata), so it is correct on a real cluster too; it is a static only
    * in that concurrent crawls on one driver JVM overwrite each other.
    * The cluster-portable channel is the insert commit's `blobs_read`
    * manifest metadata ([[cuckooInsert]]) — queryable from the store itself
    * (VERDICT r04 #7).
    */
  @volatile var lastBlobDirsRead: Int = -1

  /** I/O threshold below which blob reads skip shard pruning: pruning costs
    * an extra tiny distinct-shards job per wave, worth it only once the
    * state's bytes dwarf that job (at 10^10 urls the state is ~25 GB and a
    * bloom-thinned wave touches few shards; at bench scale it is ~10 MB and
    * every wave touches all shards).
    */
  val DefaultPruneBytes: Long = 256L << 20

  /** Shard state strictly before `waveExclusive` (on a mid-wave crash replay
    * this skips the crashed attempt's insert, so the replay flags exactly
    * what the original attempt flagged), restricted to the shards in
    * `wanted` when the state is big enough that the pruned read pays for its
    * planning job. Pruning is exact: a shard outside `wanted` has no
    * candidate to flag and no insert to merge.
    */
  private def blobsBefore(spark: SparkSession, shardTable: SnapshotTable,
                          waveExclusive: Int, wanted: () => Set[Int],
                          pruneBytes: Long): (Dataset[ShardBlob], Int) = {
    import spark.implicits._
    val v = shardTable.latestVersionBefore(waveExclusive)
    val dirs =
      if (shardTable.isEmptyAt(v)) Nil
      else if (shardTable.versionBytes(v.get) < pruneBytes) shardTable.versionDirs(v.get)
      else shardTable.versionDirs(v.get, Some(wanted()))
    lastBlobDirsRead = dirs.size
    // no dirs still plans a (file-less) parquet scan, never an empty local
    // relation the optimizer would prune: every wave then runs one plan
    // shape, and so one set of generated classes
    (spark.read.schema(org.apache.spark.sql.Encoders.product[ShardBlob].schema)
      .parquet(dirs: _*).as[ShardBlob], dirs.size)
  }

  /** A shard-ordered stream of (shard, key, blob) rows: per shard, its
    * prior `blobs` (key = null, so they sort first) and then its `keys`
    * (`shard: int`, `h: long`) in ascending order. This is the one confirm-
    * tier exchange: a codegen hash exchange of narrow UnsafeRows plus an
    * in-partition sort, shared by the probe ([[cuckooFlagged]]) and the
    * insert ([[cuckooInsert]]) so the two compile the same classes — the
    * typed `groupByKey.cogroup` forms they replace each grouped wide
    * objects outside codegen. Deterministic under task retry: the exchange
    * keys and the sort are value-derived.
    */
  private def shardStream(spark: SparkSession, keys: DataFrame,
                          blobs: Dataset[ShardBlob]): Dataset[(Int, java.lang.Long, Array[Byte])] = {
    import spark.implicits._
    keys.select(col("shard"), col("h"), lit(null).cast("binary").as("blob"))
      .unionByName(blobs.toDF().select(col("shard"), lit(null).cast("long").as("h"), col("blob")))
      .repartition(col("shard"))
      .sortWithinPartitions("shard", "h")
      .as[(Int, java.lang.Long, Array[Byte])]
  }

  /** Tier 3, flag form: every candidate row returned with `is_seen`.
    *
    * The probe streams each suspect shard's blobs ahead of its `suspect`
    * candidates' hashes ([[shardStream]]), emits one verdict per suspect
    * hash (seen = some blob contains it), and flags every candidate with a
    * join on
    * `url_hash` — so the candidates are scanned once for the flag, only the
    * suspects' narrow keys reach the confirm exchange, and the wide rows
    * never leave codegen. The verdicts are materialized eagerly (one job);
    * the returned frame joins them lazily. A non-suspect is never seen (`suspect` must hold
    * for every candidate that might be, e.g. a bloom pre-filter's verdict).
    *
    * `requireExact = true` (the [[BloomShardExact]] tier): the probe REJECTS
    * approximate (cuckoo-chain) base blobs instead of silently serving
    * FP-capable verdicts from them — a BloomCuckoo-written store resumed
    * under the exact tier would otherwise contradict the tier's never-drops-
    * a-new-URL contract until the first compaction errored (ADVICE r04).
    */
  def cuckooFlagged(spark: SparkSession, candidates: DataFrame,
                    shardTable: SnapshotTable, shards: Int,
                    asOfWaveExclusive: Int = Int.MaxValue,
                    pruneBytes: Long = DefaultPruneBytes,
                    requireExact: Boolean = false,
                    suspect: org.apache.spark.sql.Column = lit(true)): DataFrame = {
    import spark.implicits._
    val keys0 = candidates.filter(suspect).select(
      pmod(col("url_hash"), lit(shards)).cast("int").as("shard"), col("url_hash").as("h"))
    // when pruning will run its distinct-shards job, checkpoint the suspect
    // keys ONCE — otherwise the suspect filter (a broadcast UDF over the
    // frontier scan) would be evaluated once more for the shard set. Below
    // the threshold no checkpoint cost is paid.
    val v = shardTable.latestVersionBefore(asOfWaveExclusive)
    val willPrune = !shardTable.isEmptyAt(v) &&
      shardTable.versionBytes(v.get) >= pruneBytes
    val keys = if (willPrune) keys0.localCheckpoint() else keys0
    val (blobs, _) = blobsBefore(spark, shardTable, asOfWaveExclusive,
      () => keys.select("shard").distinct().collect().map(_.getInt(0)).toSet,
      pruneBytes)
    val verdicts = shardStream(spark, keys, blobs)
      .mapPartitions { rows =>
        // a shard owns one base + up to compactThreshold delta blobs
        // (LSM layout, see cuckooInsert); seen = any blob contains it
        var shard = Int.MinValue
        var states: List[ShardState.Blob] = Nil
        var last: java.lang.Long = null
        rows.flatMap { case (sh, h, blob) =>
          if (sh != shard) { shard = sh; states = Nil; last = null }
          if (h == null) {
            val st = ShardState.deserialize(blob)
            if (requireExact && st.isInstanceOf[ShardState.Base])
              throw new IllegalStateException(
                s"shard $sh holds an approximate (cuckoo) base blob — this " +
                  "store was written with strategy=BloomCuckoo; the exact shard " +
                  "tier refuses to probe it (a chain FP would silently drop a " +
                  "never-seen url); continue with BloomCuckoo or start a fresh store")
            states ::= st
            Iterator.empty
          } else if (h == last) Iterator.empty
          else { last = h; Iterator.single((h.longValue, states.exists(_.contains(h)))) }
        }
      }
      // one verdict per suspect hash, materialized by its own job: the
      // caller's plan then holds a row scan of the verdicts in place of the
      // probe's stages
      .toDF("url_hash", "is_seen").localCheckpoint()
    // the keys checkpoint is read only by the verdicts job and the shard set
    if (willPrune) releaseCheckpoints(keys)
    // plus a null-key row, joined null-safe: it matches no candidate (every
    // url_hash is non-null) and, unlike a plain equi-join key, is not
    // filtered out by inferred not-null constraints — so the build side is
    // never empty, adaptive execution never drops the join, and every wave
    // plans (and generates classes for) the same join, suspects or none
    val withSentinel = verdicts.unionByName(spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(null, false)), verdicts.schema
        .map(_.copy(nullable = true)).foldLeft(new org.apache.spark.sql.types.StructType())(_ add _)))
      .withColumnRenamed("url_hash", "v_hash")
    candidates
      .join(withSentinel, candidates("url_hash") <=> withSentinel("v_hash"), "left")
      .select((candidates.columns.map(candidates(_)) :+
        coalesce(col("is_seen"), lit(false)).as("is_seen")): _*)
  }

  /** Default number of blobs a shard accumulates before compaction. */
  val DefaultCompactThreshold: Int = 4

  /** Merge this wave's inserts into the cuckoo shard table, LSM-style:
    *
    *  - Every touched shard writes this wave's inserts as an EXACT sorted-
    *    hash DELTA blob — no read of prior state at all. (Uniform hashing
    *    means a production wave touches every shard, so the round-3-verdict
    *    "rewrite only touched shards" fix alone still rewrites O(seen set)
    *    per wave in steady state; deltas make the per-wave write O(wave).)
    *  - A shard whose blob count has reached `compactThreshold` COMPACTS in
    *    the same pass: its deltas' keys (retained exactly for this
    *    purpose — cuckoo fingerprints alone cannot be rehashed into a
    *    bigger/merged filter) fold into the base [[CuckooChain]], its prior
    *    dirs are dropped from the manifest, amortizing O(seen/threshold)
    *    read+write per wave.
    *
    * Both run through one [[shardStream]] pass: only compacting shards
    * contribute prior blobs (a pure-delta wave reads ZERO), and each shard's
    * inserts arrive sorted, so a delta blob is its contiguous sorted run —
    * byte-identical to `ShardState.serializeDelta` (SeenSetShardSpec) — and
    * a compaction folds keys in a value-derived order, deterministic under
    * task retry.
    *
    * Probe FP stays at the base chain's rate — deltas are exact. A base
    * outgrowing `perShardCapacity` chains a larger filter (logged) instead
    * of failing the wave.
    *
    * `exactBase = true` (the [[BloomShardExact]] tier, the engine default):
    * compaction merges into ONE sorted key array instead of a chain —
    * membership stays EXACT forever (reference dupefilter semantics, zero
    * URL loss) at ~8 B/url vs the chain's ~2.3 B. Same O(wave) delta
    * inserts, same pruned probes; choose the cuckoo base only when state
    * bytes dominate the cost model.
    *
    * MAINTENANCE: an empty-insert call with `compactThreshold = 1` is a
    * full compaction (every shard holding any blob folds to one base blob)
    * — the analog of Iceberg's rewrite-data-files action, for running
    * off-crawl when delta accumulation should be reset.
    */
  def cuckooInsert(spark: SparkSession, newHashes: Dataset[Long],
                   shardTable: SnapshotTable, shards: Int, perShardCapacity: Long,
                   wave: Int, pruneBytes: Long = DefaultPruneBytes,
                   compactThreshold: Int = DefaultCompactThreshold,
                   exactBase: Boolean = false): Unit = {
    import spark.implicits._
    // base = state strictly before this wave: a replayed insert after a
    // mid-wave crash merges into the same pre-crash base (idempotent commit)
    // instead of double-inserting into the crashed attempt's blobs. The
    // compaction set is likewise decided from the pre-wave manifest (pure
    // driver metadata — no Spark job, no filesystem listing).
    val v = shardTable.latestVersionBefore(wave)
    val compactIds: Set[Int] =
      if (shardTable.isEmptyAt(v)) Set.empty
      else shardTable.shardDirCounts(v.get)
        .filter(_._2 >= compactThreshold).keySet
    // only compacting shards read their prior blobs (a pure delta wave reads
    // ZERO); pruneBytes=0 forces the restriction — the wanted set is already
    // precomputed driver-side, so there is no planning job to amortize
    val (blobs, blobsRead) = blobsBefore(spark, shardTable, wave, () => compactIds,
      pruneBytes = 0L)
    val keys = newHashes.toDF("h")
      .select(pmod(col("h"), lit(shards.toLong)).cast("int").as("shard"), col("h"))
    val merged: Dataset[ShardBlob] = shardStream(spark, keys, blobs).mapPartitions { rows =>
      val out = scala.collection.mutable.ArrayBuffer.empty[ShardBlob]
      val prior = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      val ins = new scala.collection.mutable.ArrayBuilder.ofLong
      var cur = Int.MinValue
      def flush(): Unit = if (cur != Int.MinValue) {
        out += foldShard(cur, prior.toSeq, ins.result(), perShardCapacity, exactBase)
        prior.clear(); ins.clear()
      }
      rows.foreach { case (sh, h, blob) =>
        if (sh != cur) { flush(); cur = sh }
        if (h == null) prior += blob else ins += h.longValue
      }
      flush()
      out.iterator
    }
    // `blobs_read` rides the manifest: the cluster-portable record of the
    // pruned-I/O invariant (a pure delta wave reads 0 prior blobs, a
    // compaction wave reads only its compacting shards' blobs) — asserted
    // from the store itself in SeenSetShardSpec, no JVM statics involved
    shardTable.commitSharded(merged.toDF(), "shard", wave,
      compactedShards = compactIds,
      metaKv = Map("blobs_read" -> blobsRead.toString,
        "compacted_shards" -> compactIds.size.toString))
  }

  /** One shard's new blob from its prior blobs (non-empty only when it
    * compacts) and this wave's inserts, ascending.
    */
  private def foldShard(shard: Int, prior: Seq[Array[Byte]], ins: Array[Long],
                        perShardCapacity: Long, exactBase: Boolean): ShardBlob =
    if (prior.isEmpty) ShardBlob(shard, ShardState.serializeDeltaPresorted(ins))
    else if (exactBase) {
      // exact tier compaction: k-way merge-dedup every key (deltas retain
      // them all, each blob already sorted) into ONE sorted primitive
      // array — membership stays exact forever, at ~8 B/url vs the
      // chain's ~2.3 B, and the merge allocates exactly the output (no
      // boxing — VERDICT r04 wrong #2: an under-sharded store's
      // compaction was GC churn). A chain base here means the store was
      // written by the approximate tier: its keys are gone, so the tiers
      // cannot be switched mid-store.
      val sortedInputs = prior.map { b =>
        ShardState.deserialize(b) match {
          case ShardState.Delta(hs) => hs
          case ShardState.Base(_) => throw new IllegalStateException(
            s"shard $shard holds an approximate (cuckoo) base blob — this " +
              "store was written with strategy=BloomCuckoo and cannot " +
              "resume under the exact shard tier (fingerprints have no " +
              "keys); continue with BloomCuckoo or start a fresh store")
        }
      }.toArray :+ ins
      ShardBlob(shard, ShardState.serializeDeltaPresorted(
        ShardState.mergeSortedDedup(sortedInputs)))
    } else {
      // compacting shard: fold base + exact deltas + this wave into ONE chain
      var grown = 0
      var chain: CuckooChain = null
      val deltaKeys = scala.collection.mutable.ArrayBuffer.empty[Long]
      prior.foreach { b =>
        ShardState.deserialize(b) match {
          case ShardState.Base(c) =>
            if (chain == null) chain = c
            else throw new IllegalStateException(
              s"cuckoo shard $shard has two base blobs — corrupt manifest")
          case ShardState.Delta(hs) => deltaKeys ++= hs
        }
      }
      if (chain == null) chain = CuckooChain.create(perShardCapacity)
      deltaKeys.foreach(h => grown += chain.insert(h))
      ins.foreach(h => grown += chain.insert(h))
      if (grown > 0) System.err.println(
        s"[graft] WARN cuckoo shard $shard base grew $grown time(s) to " +
          s"chain length ${chain.length} (count=${chain.count}) — " +
          s"perShardCapacity $perShardCapacity is under-sized; correct, " +
          "but probe FP rate scales with chain length")
      ShardBlob(shard, chain.serialize())
    }

  /** Order-insensitive digest of a url set (SURVEY A9 / FIXTURES §4):
    * (count, bit_xor(xxhash64(url))) — equality proof vs the reference run.
    * XOR instead of sum: overflow-free under ANSI mode, commutative, and the
    * set is duplicate-free so pair-cancellation can't occur.
    */
  def digest(df: DataFrame, urlCol: String = "url"): (Long, Long) = {
    val r = df.select(xxhash64(col(urlCol)).as("h"))
      .agg(count(lit(1)), expr("bit_xor(h)")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }
}
