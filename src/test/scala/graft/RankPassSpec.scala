package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Frontier, Politeness}

/** The hand-written rank passes (`Politeness.disposition`, `Frontier.
  * dedupByUrl`) against the window formulations they replace, kept here as
  * the reference: identical rows, dispositions and ranks.
  */
class RankPassSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get

  private val waveMs = 10000L // budget 5 at 2000 ms, 10 at 1000 ms

  /** The window form of the disposition (two row_number windows and a
    * count window over the salted groups).
    */
  private def windowDisposition(flagged: DataFrame, robots: DataFrame,
                                saltBuckets: Int = 16): DataFrame = {
    val ord = Seq(col("priority"), col("depth"), col("discovery_ts"), col("url"))
    val gated = flagged.join(
      broadcast(robots.select(col("host"), col("allowed"), col("crawl_delay_ms"))),
      Seq("host"), "left")
      .withColumn("budget", greatest(lit(1L),
        lit(waveMs) / coalesce(col("crawl_delay_ms"), lit(2000L))).cast("long"))
      .withColumn("open", !col("is_seen") && coalesce(col("allowed"), lit(true)))
      .withColumn("salt", pmod(xxhash64(col("url")), lit(saltBuckets)))
    val w1 = Window.partitionBy(col("host"), col("salt"), col("open")).orderBy(ord: _*)
    val w2 = Window.partitionBy(col("host"), col("grp"), col("open")).orderBy(ord: _*)
    val ranked = gated
      .withColumn("grp", when(col("open") && row_number().over(w1) <= col("budget") + 1,
        lit(-1L)).otherwise(col("salt")))
      .withColumn("r2", row_number().over(w2))
      .withColumn("host_n", count(lit(1)).over(
        w2.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
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

  /** The window form of the frontier dedup (row_number + max(is_surv)). */
  private def windowDedup(rows: DataFrame): DataFrame = {
    val byUrl = Window.partitionBy("url", "url_hash").orderBy(
      "priority", "depth", "discovery_ts", "seed_subject", "seed_year")
    rows.withColumn("rn", row_number().over(byUrl))
      .withColumn("vetted", max(col("is_surv")).over(
        byUrl.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(col("rn") === 1)
      .drop("rn", "is_surv")
  }

  private def sameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.columns.toSeq == b.columns.toSeq)
    def rows(df: DataFrame) = df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    val (ra, rb) = (rows(a), rows(b))
    assert(ra.size == rb.size)
    assert(ra == rb, s"first difference: ${ra.zip(rb).find(p => p._1 != p._2)}")
  }

  private val ts0 = new java.sql.Timestamp(0L)
  private def ts(s: Long) = new java.sql.Timestamp(s * 1000L)

  /** One candidate row (frontier columns + is_seen). */
  private def cand(host: String, path: String, priority: Int, depth: Int,
                   t: java.sql.Timestamp, seen: Boolean = false) = {
    val url = s"https://$host/$path"
    (url, host, priority, depth, t, "math", 2020, seen)
  }

  private def flaggedOf(rows: Seq[(String, String, Int, Int, java.sql.Timestamp,
                                   String, Int, Boolean)]): DataFrame = {
    import spark.implicits._
    rows.toDF("url", "host", "priority", "depth", "discovery_ts", "seed_subject",
      "seed_year", "is_seen")
      .withColumn("url_hash", xxhash64(col("url")))
      .select("url", "url_hash", "host", "priority", "depth", "discovery_ts",
        "seed_subject", "seed_year", "is_seen")
  }

  private def robots: DataFrame = {
    import spark.implicits._
    Seq(("hot.test", true, 2000L), ("ties.test", true, 2000L),
      ("exact.test", true, 2000L), ("plus1.test", true, 2000L),
      ("blocked.test", false, 1000L), ("mixed.test", true, 1000L))
      .toDF("host", "allowed", "crawl_delay_ms")
  }

  test("disposition: hand-written rank passes equal the window formulation") {
    val hot = (0 until 240).map(i =>
      cand("hot.test", s"p$i", i % 3, i % 2, ts(i % 7)))
    // every row shares (priority, depth, discovery_ts): url alone ranks them
    val ties = (0 until 40).map(i => cand("ties.test", s"t$i", 1, 1, ts0))
    // budget 5: exactly at budget, and one over
    val exact = (0 until 5).map(i => cand("exact.test", s"e$i", 0, i, ts0))
    val plus1 = (0 until 6).map(i => cand("plus1.test", s"q$i", 0, 0, ts(i)))
    // closed rows: seen ones, and a robots-blocked host
    val closed = (0 until 12).map(i => cand("mixed.test", s"m$i", i % 2, 0, ts0,
      seen = i % 3 == 0)) ++
      (0 until 8).map(i => cand("blocked.test", s"b$i", 0, 0, ts0, seen = i == 0))
    // a host with no robots row takes the default 2000 ms delay
    val unknown = (0 until 9).map(i => cand("unknown.test", s"u$i", 2, 0, ts(i)))
    val flagged = flaggedOf(hot ++ ties ++ exact ++ plus1 ++ closed ++ unknown)

    // the hot host spreads over every salt
    assert(flagged.filter(col("host") === "hot.test")
      .select(pmod(xxhash64(col("url")), lit(16))).distinct().count() == 16)

    val got = Politeness.disposition(flagged, robots, waveMs)
    sameRows(got, windowDisposition(flagged, robots))

    // the inputs reach every branch
    def hostDisp(h: String) = got.filter(col("host") === h)
      .groupBy("disp").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hostDisp("hot.test") == Map("fetch" -> 5L, "deferred" -> 235L))
    assert(hostDisp("exact.test") == Map("fetch" -> 5L))
    assert(hostDisp("plus1.test") == Map("fetch" -> 5L, "deferred" -> 1L))
    assert(hostDisp("blocked.test") == Map("blocked" -> 7L, "seen" -> 1L))
    assert(hostDisp("mixed.test") == Map("seen" -> 4L, "fetch" -> 8L))
    // ranked hosts number their fetches 1..budget; fitting hosts fetch unranked
    def ranks(h: String) = got.filter(col("host") === h && col("disp") === "fetch")
      .select("host_rank").collect().map(_.getInt(0)).sorted.toSeq
    assert(ranks("plus1.test") == (1 to 5))
    assert(ranks("ties.test") == (1 to 5))
    assert(ranks("exact.test") == Seq.fill(5)(0))
  }

  test("frontier dedup: the hand-written pass equals the window formulation") {
    import spark.implicits._
    val rows = Seq(
      // duplicate url: surviving and discovered copies, min key from a discovery
      ("https://a.test/1", 2, 2, 5L, "math", 2020, 1),
      ("https://a.test/1", 1, 1, 9L, "math", 2020, 0),
      ("https://a.test/1", 1, 1, 9L, "math", 2021, 0),
      // equal (priority, depth, discovery_ts): seed columns break the tie
      ("https://a.test/2", 0, 0, 1L, "phys", 2020, 0),
      ("https://a.test/2", 0, 0, 1L, "chem", 2022, 0),
      ("https://a.test/2", 0, 0, 1L, "chem", 2019, 1),
      // discovered only, surviving only, and a plain duplicate
      ("https://b.test/3", 3, 3, 2L, "math", 2020, 0),
      ("https://b.test/4", 1, 0, 0L, "math", 2020, 1),
      ("https://b.test/5", 1, 2, 3L, "bio", 2020, 0),
      ("https://b.test/5", 1, 2, 3L, "bio", 2020, 0)
    ).toDF("url", "priority", "depth", "ts", "seed_subject", "seed_year", "is_surv")
      .select(col("url"), xxhash64(col("url")).as("url_hash"),
        regexp_extract(col("url"), "https?://([^/]+)/", 1).as("host"),
        col("priority"), col("depth"), timestamp_seconds(col("ts")).as("discovery_ts"),
        col("seed_subject"), col("seed_year"), col("is_surv"))
      .repartition(3)
    val got = Frontier.dedupByUrl(rows)
    sameRows(got, windowDedup(rows))
    val picked = got.select("url", "priority", "seed_subject", "seed_year", "vetted")
      .as[(String, Int, String, Int, Int)].collect().map(r => r._1 -> r).toMap
    assert(picked("https://a.test/1") == (("https://a.test/1", 1, "math", 2020, 1)))
    assert(picked("https://a.test/2") == (("https://a.test/2", 0, "chem", 2019, 1)))
    assert(picked("https://b.test/3")._5 == 0 && picked("https://b.test/4")._5 == 1)
    assert(picked.size == 5)
  }
}
