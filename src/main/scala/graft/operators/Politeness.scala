package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

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
    * One linear chain — robots join → phase-1 window → phase-2 window →
    * project — so no branch re-reads the input: the upstream dedup-flag
    * subtree (scan + bloom UDF + confirm) is evaluated once without a
    * checkpoint job, and the caller's local checkpoint of the result is
    * the wave's single materialization. Closed rows (seen / blocked) ride
    * the same windows in partitions of their own (`open` is a partition
    * key) and ignore the window outputs.
    */
  def disposition(flagged: DataFrame, robots: DataFrame, waveDurationMs: Long,
                  saltBuckets: Int = 16): DataFrame = {
    val ord = Seq(col("priority"), col("depth"), col("discovery_ts"), col("url"))
    val gated = flagged.join(
      broadcast(robots.select(col("host"), col("allowed"), col("crawl_delay_ms"))),
      Seq("host"), "left")
      .withColumn("budget", greatest(lit(1L),
        lit(waveDurationMs) / coalesce(col("crawl_delay_ms"), lit(2000L))).cast("long"))
      .withColumn("open", !col("is_seen") && coalesce(col("allowed"), lit(true)))
      .withColumn("salt", pmod(xxhash64(col("url")), lit(saltBuckets)))

    // Skew shield (P8): phase 1 ranks within (host, salt) and keeps the
    // per-salt top-(budget+1) — a superset of the per-host top-budget, so the
    // survivors' phase-2 ranks ≤ budget are exact. Phase 2 ranks a host's
    // ≤ salt·(budget+1) survivors in one partition (grp = -1) while cut rows
    // stay spread by salt, so no window funnels a hot host's whole slice.
    // The +1 also decides skew shield #1: a host's open slice fits its
    // budget iff its survivors do (any cut salt alone leaves budget+1).
    val w1 = Window.partitionBy(col("host"), col("salt"), col("open")).orderBy(ord: _*)
    val w2 = Window.partitionBy(col("host"), col("grp"), col("open")).orderBy(ord: _*)
    val ranked = gated
      .withColumn("grp", when(col("open") && row_number().over(w1) <= col("budget") + 1,
        lit(-1L)).otherwise(col("salt")))
      .withColumn("r2", row_number().over(w2))
      .withColumn("host_n", count(lit(1)).over(
        w2.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    // hosts whose whole open slice fits the budget fetch unranked (host_rank
    // 0 — the trace orders those rows by their sort key, which is equivalent
    // and partition-count independent)
    val ranks = col("grp") === -1 && col("host_n") > col("budget")
    ranked
      .withColumn("host_rank",
        when(ranks && col("r2") <= col("budget"), col("r2")).otherwise(lit(0)))
      .withColumn("disp",
        when(col("is_seen"), lit("seen"))
          .when(!col("open"), lit("blocked"))
          .when(col("grp") =!= -1, lit("deferred"))
          .when(!ranks || col("r2") <= col("budget"), lit("fetch"))
          .otherwise(lit("deferred")))
      .drop("allowed", "crawl_delay_ms", "budget", "is_seen", "open", "salt",
        "grp", "r2", "host_n")
  }

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
