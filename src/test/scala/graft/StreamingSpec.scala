package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{EventStream, LineageStream}

/** Structured Streaming coverage (SURVEY P5): file-source tailing, event-time
  * windows + watermark, mapGroupsWithState custom state, and the live
  * lineage sink over a real crawl store.
  */
class StreamingSpec extends AnyFunSuite with TempDirs {

  lazy val spark = SparkTestSession.get
  private val sf = "/root/testdata/sf0.001"

  /** The streaming file source needs a directory; stage the single-file
    * events parquet into one.
    */
  private lazy val eventsDir: String = {
    val d = java.nio.file.Paths.get(tempDir("events-src"))
    Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      d.resolve("events.parquet"))
    d.toString
  }

  test("event-time windowed counts with watermark reconcile with batch") {
    val q = EventStream.windowedCounts(spark, eventsDir, "win_test")
    q.processAllAvailable(); q.stop()
    // append-mode emits only watermark-closed windows; at least the early
    // ones must be present and each window count must match the batch answer
    val streamed = spark.table("win_test")
      .select(col("window.start").as("ws"), col("event_type"), col("n"))
    val batch = spark.read.parquet(s"$sf/events.parquet")
      .groupBy(window(col("ts"), "15 minutes").getField("start").as("ws"),
        col("event_type")).agg(count(lit(1)).as("n_batch"))
    val joined = streamed.join(batch, Seq("ws", "event_type"), "inner")
    assert(joined.count() > 0)
    assert(joined.filter(col("n") =!= col("n_batch")).count() == 0)
  }

  test("mapGroupsWithState accumulates per-user session state") {
    val q = EventStream.userSessions(spark, eventsDir, "sess_test")
    q.processAllAvailable(); q.stop()
    val sessions = spark.table("sess_test")
    val batch = spark.read.parquet(s"$sf/events.parquet")
      .groupBy("user_id").agg(count(lit(1)).as("n_batch"))
    val j = sessions.join(batch, Seq("user_id"))
    assert(j.count() > 0)
    assert(j.filter(col("n_events") =!= col("n_batch")).count() == 0)
  }

  test("lineage stream tails a crawl store's fetchlog") {
    val store = tempDir("stream-crawl")
    CrawlEngine.run(spark, sf, store, CrawlEngine.Config(maxWaves = 3))
    val q = LineageStream.start(spark, store)
    q.processAllAvailable(); q.stop()
    val live = LineageStream.snapshot(spark)
    assert(live.count() > 0)
    val trace = CrawlEngine.orderingTrace(spark, store)
    val batchTotal = trace.count()
    val streamTotal = live.agg(sum("attempted")).head().getLong(0)
    assert(streamTotal == batchTotal)
  }
}
