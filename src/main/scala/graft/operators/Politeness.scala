package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.plans.RowPass

/** Politeness gate + per-host fetch budget (SURVEY §2.8 P1-P3, O6, J6).
  *
  * The reference throttles with `DOWNLOAD_DELAY=2`, `CONCURRENT_REQUESTS=1`,
  * `ROBOTSTXT_OBEY=True` (`/root/reference/run_spider.py:199-202`). At wave
  * granularity that becomes: per host, at most
  * `budget = max(1, waveDurationMs / crawlDelayMs)` urls per wave, taken in
  * deterministic priority order `(priority, depth, discovery_ts, url)`
  * (BASELINE.json:6); robots-disallowed hosts are blocked outright via a
  * broadcast map join (robots tables are per-host → tiny vs the frontier).
  *
  * Skew (P8): a hot host would funnel its whole frontier slice through one
  * window partition. The rank is computed in two phases — phase 1 ranks
  * within `(host, salt)` (salt = pmod(xxhash64(url), S)) and keeps only the
  * per-salt top-budget, an exact superset of the global per-host top-budget;
  * phase 2 ranks the ≤ S·budget survivors per host exactly. Result is
  * identical to a single-phase rank but the heavy sort fans out S-wide.
  */
object Politeness {

  final case class RobotsRow(host: String, fetched_ts: java.sql.Timestamp,
                             allowed: Boolean, crawl_delay_ms: Long)

  /** Deterministic robots fixture for generated hosts (FIXTURES.md §3):
    * hot host h0 keeps the reference's 2000 ms delay; h13 is disallowed;
    * everything else 1000 ms.
    */
  def robotsFixture(spark: SparkSession): Dataset[RobotsRow] = {
    import spark.implicits._
    val ts = new java.sql.Timestamp(graft.sources.PagesGen.Epoch * 1000L)
    (0 to 31).map { id =>
      RobotsRow(s"h$id.example.test", ts, allowed = id != 13,
        if (id == 0) 2000L else 1000L)
    }.toDS()
  }

  final case class Budgeted(fetchNow: DataFrame, deferred: DataFrame,
                            blocked: DataFrame)

  /** One-pass disposition tagging for the wave loop: every candidate row is
    * returned exactly once with `disp` ∈ {seen, blocked, deferred, fetch}
    * and `host_rank` (fetch rows: 1-based deterministic fetch position;
    * 0 otherwise). Input must carry `is_seen`; only !is_seen ∧ allowed rows
    * enter the salted two-phase rank (same exactness argument as budgetTopK).
    *
    * One linear chain — robots join → phase-1 rank pass → phase-2 rank pass
    * — so no branch re-reads the input: the upstream dedup-flag subtree
    * (scan + bloom UDF + confirm) is evaluated once without a checkpoint
    * job, and the caller's local checkpoint of the result is the wave's
    * single materialization. Each phase is an exchange and a sort in the
    * plan followed by a hand-written pass over the sorted rows
    * ([[graft.plans.RowPass]]), which generates no classes where a window
    * operator compiles several. Closed rows (seen / blocked) ride the same
    * passes in groups of their own (`open` is a partition key) and take no
    * rank.
    */
  def disposition(flagged: DataFrame, robots: DataFrame, waveDurationMs: Long,
                  saltBuckets: Int = 16): DataFrame = {
    val ord = Seq("priority", "depth", "discovery_ts", "url")
    val gated = flagged.join(
      broadcast(robots.select(col("host"), col("allowed"), col("crawl_delay_ms"))),
      Seq("host"), "left")
      .withColumn("budget", greatest(lit(1L),
        lit(waveDurationMs) / coalesce(col("crawl_delay_ms"), lit(2000L))).cast("long"))
      .withColumn("open", !col("is_seen") && coalesce(col("allowed"), lit(true)))
      .withColumn("salt", pmod(xxhash64(col("url")), lit(saltBuckets)))
      .drop("allowed", "crawl_delay_ms")

    // Skew shield (P8): phase 1 ranks within (host, salt) and keeps the
    // per-salt top-(budget+1) — a superset of the per-host top-budget, so the
    // survivors' phase-2 ranks ≤ budget are exact. Phase 2 ranks a host's
    // ≤ salt·(budget+1) survivors in one group (grp = -1) while cut rows
    // stay spread by salt, so no pass funnels a hot host's whole slice.
    // The +1 also decides skew shield #1: a host's open slice fits its
    // budget iff its survivors do (any cut salt alone leaves budget+1).
    val in1 = gated.repartition(col("host"), col("salt"), col("open"))
      .sortWithinPartitions((Seq("host", "salt", "open") ++ ord).map(col): _*)
    // grp takes salt's type and position, so phase 2's exchange and sort
    // reuse phase 1's partitioning and ordering classes
    val out1 = new RowPass.Out(in1.schema, in1.columns.toSeq.filter(_ != "salt"),
      StructType(Seq(in1.schema("salt").copy(name = "grp"))))
    val key1 = new RowPass.GroupKey(in1.schema, Seq("host", "salt", "open"))
    val Seq(iOpen1, iBudget1, iSalt) = Seq("open", "budget", "salt").map(in1.schema.fieldIndex)
    val phase1 = RowPass(in1, out1.schema) { rows =>
      val write = out1.writer()
      val newGroup = key1.tracker()
      val ext = new GenericInternalRow(1)
      var n = 0L
      rows.map { r =>
        if (newGroup(r)) n = 0L
        n += 1
        ext.setLong(0, if (r.getBoolean(iOpen1) && n <= r.getLong(iBudget1) + 1) -1L
          else r.getLong(iSalt))
        write(r, ext)
      }
    }

    // Phase 2 ranks the survivors (host_rank = r2 ≤ budget). A host whose
    // survivors fit its budget fetches unranked (host_rank 0 — the trace
    // orders those rows by their sort key, which is equivalent and
    // partition-count independent), so a survivor group's first `budget`
    // rows wait until row budget+1 shows it does not fit, or until the
    // group ends: at most `budget` rows are held, and only there.
    val in2 = phase1.repartition(col("host"), col("grp"), col("open"))
      .sortWithinPartitions((Seq("host", "grp", "open") ++ ord).map(col): _*)
    val out2 = new RowPass.Out(in2.schema,
      in2.columns.toSeq.filterNot(Set("is_seen", "budget", "open", "grp")),
      StructType(Seq(StructField("host_rank", IntegerType, nullable = false),
        StructField("disp", StringType, nullable = false))))
    val key2 = new RowPass.GroupKey(in2.schema, Seq("host", "grp", "open"))
    val Seq(iSeen, iOpen, iBudget, iGrp) =
      Seq("is_seen", "open", "budget", "grp").map(in2.schema.fieldIndex)
    RowPass(in2, out2.schema) { rows =>
      val write = out2.writer()
      val newGroup = key2.tracker()
      val ext = new GenericInternalRow(2)
      def emit(r: InternalRow, rank: Int, disp: UTF8String): InternalRow = {
        ext.setInt(0, rank); ext.update(1, disp); write(r, ext)
      }
      val held = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      def release(ranked: Boolean): Iterator[InternalRow] = {
        val out = held.indices.map(i => emit(held(i), if (ranked) i + 1 else 0, Fetch).copy())
        held.clear()
        out.iterator
      }
      var survivors = false // the current group is a host's survivors (grp = -1)
      var budget = 0L
      var r2 = 0L
      rows.flatMap { r =>
        val ended = if (!newGroup(r)) Iterator.empty else {
          val fit = release(ranked = false)
          survivors = r.getLong(iGrp) == -1L
          budget = r.getLong(iBudget)
          r2 = 0L
          fit
        }
        if (!survivors) {
          val disp = if (r.getBoolean(iSeen)) Seen
            else if (!r.getBoolean(iOpen)) Blocked
            else Deferred
          ended ++ Iterator.single(emit(r, 0, disp))
        } else {
          r2 += 1
          if (r2 <= budget) { held += r.copy(); ended }
          else if (r2 == budget + 1) ended ++ release(ranked = true) ++
            Iterator.single(emit(r, 0, Deferred))
          else ended ++ Iterator.single(emit(r, 0, Deferred))
        }
      } ++ release(ranked = false)
    }
  }

  private val Seen = UTF8String.fromString("seen")
  private val Blocked = UTF8String.fromString("blocked")
  private val Deferred = UTF8String.fromString("deferred")
  private val Fetch = UTF8String.fromString("fetch")

  /** Split the deduped frontier into (fetchNow ranked per host, deferred to
    * next wave, robots-blocked). `frontier` needs `url` and `host` columns;
    * ordering columns `priority, depth, discovery_ts` must be present.
    * `fetchNow` gains `host_rank` (1-based fetch position within host+wave —
    * the deterministic ordering-trace key).
    */
  def budgetTopK(frontier: DataFrame, robots: DataFrame, waveDurationMs: Long,
                 saltBuckets: Int = 16): Budgeted = {
    val joined = frontier.join(
      broadcast(robots.select(col("host"), col("allowed"), col("crawl_delay_ms"))),
      Seq("host"), "left")
    // unknown host → reference default: allowed, DOWNLOAD_DELAY=2s
    val gated = joined
      .withColumn("allowed", coalesce(col("allowed"), lit(true)))
      .withColumn("crawl_delay_ms", coalesce(col("crawl_delay_ms"), lit(2000L)))
      .withColumn("budget",
        greatest(lit(1L), lit(waveDurationMs) / col("crawl_delay_ms")).cast("long"))
    val blocked = gated.filter(!col("allowed"))
      .drop("allowed", "crawl_delay_ms", "budget")
    val open = gated.filter(col("allowed"))

    val ord = Seq(col("priority"), col("depth"), col("discovery_ts"), col("url"))
    val w1 = Window.partitionBy(col("host"), col("salt")).orderBy(ord: _*)
    val phase1 = open
      .withColumn("salt", pmod(xxhash64(col("url")), lit(saltBuckets)))
      .withColumn("r1", row_number().over(w1))
    val survivors = phase1.filter(col("r1") <= col("budget"))
    val cut1 = phase1.filter(col("r1") > col("budget"))

    val w2 = Window.partitionBy(col("host")).orderBy(ord: _*)
    val phase2 = survivors.withColumn("host_rank", row_number().over(w2))
    val fetchNow = phase2.filter(col("host_rank") <= col("budget"))
      .drop("salt", "r1", "allowed", "crawl_delay_ms", "budget")
    val cut2 = phase2.filter(col("host_rank") > col("budget")).drop("host_rank")

    val deferred = cut1.unionByName(cut2)
      .drop("salt", "r1", "allowed", "crawl_delay_ms", "budget")
    Budgeted(fetchNow, deferred, blocked)
  }
}
