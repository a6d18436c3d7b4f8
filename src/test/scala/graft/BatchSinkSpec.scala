package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.BatchSink
import graft.util.Retry

/** Reference-format artifact tree (S5-S11) + retry policies (X18). */
class BatchSinkSpec extends AnyFunSuite with TempDirs {

  lazy val spark = SparkTestSession.get

  private lazy val questions = {
    import graft.functions.QuestionParser
    val parse = udf((html: Array[Byte]) => QuestionParser.parsePage(html))
    graft.sources.PagesGen.pages(spark, "/root/testdata/sf0.001").toDF()
      .withColumn("p", parse(col("html")))
      .select(col("url"),
        regexp_extract(col("url"), "questions/([a-z-]+)-", 1).as("seed_subject"),
        regexp_extract(col("url"), "-(\\d+)/c", 1).cast("int").as("seed_year"),
        posexplode(col("p.questions")).as(Seq("pos", "q")))
      .select(col("url"), col("seed_subject"), col("seed_year"), col("pos"),
        col("q.section"), col("q.qtype"), col("q.number"), col("q.question"),
        col("q.options"), col("q.subparts"), col("q.diagrams"),
        col("q.answer"), col("q.solution"), col("q.answer_after_solution"))
      .filter(col("seed_year") === 2015) // one year slice keeps the test fast
  }

  test("writes the reference artifact tree per batch") {
    val out = tempDir("batch-out")
    val dirs = BatchSink.writeBatchOutputs(spark, questions, out)
    assert(dirs.nonEmpty)
    dirs.foreach { d =>
      val name = Paths.get(d).getFileName.toString
      assert(Files.exists(Paths.get(d, s"$name.json")))
      assert(Files.exists(Paths.get(d, s"$name.csv")))
      assert(Files.exists(Paths.get(d, s"${name}_metadata.json")))
      assert(Files.exists(Paths.get(d, "reports", s"${name}_image_download_report.txt")))
    }
    // JSON is loadable and has the reference root keys
    val j = new String(Files.readAllBytes(
      Paths.get(dirs.head, Paths.get(dirs.head).getFileName.toString + ".json")),
      StandardCharsets.UTF_8)
    assert(j.startsWith("{\n  \"objectives\": ["))
    assert(j.contains("\"theory\": ["))
    assert(j.contains("\"page_screenshot\": \"https://ik.imagekit.io/"))
    // CSV header leads with the common rank-0 fields (python-sorted)
    val csv = new String(Files.readAllBytes(
      Paths.get(dirs.head, Paths.get(dirs.head).getFileName.toString + ".csv")),
      StandardCharsets.UTF_8)
    assert(csv.startsWith("answer,diagrams,number,question,solution,type"))
    // metadata json has format_version 2.0
    val m = new String(Files.readAllBytes(Paths.get(dirs.head,
      Paths.get(dirs.head).getFileName.toString + "_metadata.json")),
      StandardCharsets.UTF_8)
    assert(m.contains("\"format_version\": \"2.0\""))

    // S7/S15/X10: scanning the tree back recovers (subject, year)
    val scanned = BatchSink.scanBatches(spark, out).collect()
    assert(scanned.length == dirs.length)
    assert(scanned.forall(_.getAs[Int]("year") == 2015))
  }

  test("metadata JSON artifact: year as string, zero-count type keys omitted (ADVICE r01)") {
    // force a batch whose theory questions have no diagrams: the reference's
    // defaultdict->dict conversion then omits the 'theory' key entirely
    val q2 = questions.withColumn("diagrams",
      when(col("qtype") === "theory",
        expr("array()").cast("array<string>")).otherwise(col("diagrams")))
    val out = tempDir("meta-fmt")
    val dirs = BatchSink.writeBatchOutputs(spark, q2, out)
    val name = Paths.get(dirs.head).getFileName.toString
    val raw = new String(Files.readAllBytes(
      Paths.get(dirs.head, s"${name}_metadata.json")), StandardCharsets.UTF_8)
    val year = name.substring(name.lastIndexOf('_') + 1)
    assert(raw.contains("\"year\": \"" + year + "\""),
      "metadata year must be a JSON string (the reference parses it from the CLI/dir name)")
    val root = graft.util.Json.parse(raw).asInstanceOf[scala.collection.Map[String, Any]]
    val diag = root("spider_stats").asInstanceOf[scala.collection.Map[String, Any]](
      "questions_with_diagrams").asInstanceOf[scala.collection.Map[String, Any]]
    assert(!diag.contains("theory"), "zero-count type key must be omitted")
    assert(diag.contains("objectives"))
    // downloaded_image_map renders as a JSON OBJECT in download order
    val ids = root("spider_stats").asInstanceOf[scala.collection.Map[String, Any]](
      "image_download_stats").asInstanceOf[scala.collection.Map[String, Any]]
    assert(ids("downloaded_image_map").isInstanceOf[scala.collection.Map[_, _]])
  }

  test("raw Scrapy feeds (S5/S6 literal): temp json/csv written, json scans back") {
    val out = tempDir("rawfeed")
    val feeds = BatchSink.writeRawFeeds(spark, questions, out)
    assert(feeds.nonEmpty)
    feeds.foreach { case (j, c) =>
      assert(Files.exists(Paths.get(j)) && Files.exists(Paths.get(c)))
      assert(new String(Files.readAllBytes(Paths.get(j)), StandardCharsets.UTF_8)
        .startsWith("[\n"))
    }
    // round-trip: the scanned-back feed reproduces the per-type counts of
    // the in-memory questions (the restructure pipeline's real input path)
    val (jsonP, _) = feeds.head
    val name = Paths.get(jsonP).getFileName.toString
      .stripPrefix("temp_").stripSuffix(".json")
    val cut = name.lastIndexOf('_')
    val (subject, year) = (name.substring(0, cut), name.substring(cut + 1).toInt)
    val back = BatchSink.readRawFeed(spark, jsonP)
      .groupBy(col("type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = questions
      .filter(col("seed_subject") === subject && col("seed_year") === year)
      .groupBy(col("qtype")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(back == direct, s"feed=$back direct=$direct")
  }

  test("raw feed honors F9 key-order provenance: solution before answer (m01)") {
    import graft.functions.QuestionParser
    val html = new String(Files.readAllBytes(Paths.get(
      "src/test/resources/golden/manual/m01_light_to_electrical.html")),
      StandardCharsets.UTF_8)
    val parse = udf((h: String) => QuestionParser.parsePage(h))
    import spark.implicits._
    val q = Seq(("https://h.example.test/bece/questions/science-2015/c0/p0", html))
      .toDF("url", "html")
      .withColumn("seed_subject", lit("science"))
      .withColumn("seed_year", lit(2015))
      .withColumn("p", parse(col("html")))
      .select(col("url"), col("seed_subject"), col("seed_year"),
        posexplode(col("p.questions")).as(Seq("pos", "q")))
      .select(col("url"), col("seed_subject"), col("seed_year"), col("pos"),
        col("q.section"), col("q.qtype"), col("q.number"), col("q.question"),
        col("q.options"), col("q.subparts"), col("q.diagrams"),
        col("q.answer"), col("q.solution"), col("q.answer_after_solution"))
    val out = tempDir("f9-order")
    val Seq((jsonP, _)) = BatchSink.writeRawFeeds(spark, q, out)
    val feed = new String(Files.readAllBytes(Paths.get(jsonP)), StandardCharsets.UTF_8)
    assert(feed.indexOf("\"solution\"") >= 0 && feed.indexOf("\"answer\"") >= 0)
    assert(feed.indexOf("\"solution\"") < feed.indexOf("\"answer\""),
      "F9-with-solution item must emit ..., solution, answer")
    // and the restructured JSON (jsonRow path) does the same
    val dirs = BatchSink.writeBatchOutputs(spark, q, out)
    val sj = new String(Files.readAllBytes(Paths.get(dirs.head,
      Paths.get(dirs.head).getFileName.toString + ".json")), StandardCharsets.UTF_8)
    assert(sj.indexOf("\"solution\"") < sj.indexOf("\"answer\""))
    assert(!sj.contains("answer_after_solution"), "the directive field must not render")
  }

  test("retry with exponential backoff doubles delays and stops at success") {
    val delays = scala.collection.mutable.ArrayBuffer.empty[Long]
    var calls = 0
    val r = Retry.withBackoff(maxAttempts = 4, delayMs = 100, sleeper = delays += _) {
      calls += 1
      if (calls < 3) sys.error("flaky")
      "ok"
    }
    assert(r.value.contains("ok") && r.attempts == 3)
    assert(delays.toSeq == Seq(100L, 200L))
  }

  test("retry exhaustion returns the last error") {
    val r = Retry.withFixedDelay(maxAttempts = 3, delayMs = 5, sleeper = _ => ()) {
      sys.error("always down"): String
    }
    assert(r.value.isEmpty && r.attempts == 3)
    assert(r.lastError.exists(_.getMessage == "always down"))
  }
}
