package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{BatchSink, Enrichment, ScreenshotWorkflow}
import graft.util.Json

/** The J2 artifact round-trip (update_all_metadata.py) and the documented
  * DataEnrichmentService file write-backs (docs/API_REFERENCE.md:225-286).
  */
class EnrichmentSpec extends AnyFunSuite with TempDirs {

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
      .filter(col("seed_year").isin(2015, 2016, 2017))
  }

  private def writeTree(): String = {
    val out = tempDir("enrich")
    BatchSink.writeBatchOutputs(spark, questions, out)
    out
  }

  private def read(p: String): String =
    new String(Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8)

  test("bulk metadata update round-trip: update -> current, all three outcomes reachable") {
    val out = writeTree()
    // freshly written metadata has no screenshot url -> every batch 'update'
    val first = Enrichment.updateAllMetadata(spark, out).collect()
    assert(first.nonEmpty && first.forall(_.getAs[String]("outcome") == "update"))
    // second run: the applied urls now round-trip from the files -> 'current'
    val second = Enrichment.updateAllMetadata(spark, out).collect()
    assert(second.forall(_.getAs[String]("outcome") == "current"))
    // tamper one batch stale, delete another batch's JSON
    val names = first.map(r => s"${r.getAs[String]("subject")}_${r.getAs[Int]("year")}")
      .sorted
    Enrichment.enrichMetadataFile(
      s"$out/${names.head}/${names.head}_metadata.json", "https://stale.example/x.png")
    Files.delete(Paths.get(s"$out/${names.last}/${names.last}.json"))
    val third = Enrichment.classify(Enrichment.scanBatchState(spark, out))
      .collect().map(r =>
        s"${r.getAs[String]("subject")}_${r.getAs[Int]("year")}" ->
          r.getAs[String]("outcome")).toMap
    assert(third(names.head) == "update")
    assert(third(names.last) == "skip")
    assert(third.values.count(_ == "current") == names.length - 2)
  }

  test("enrich_json_file sets the root field; repeat is byte-stable") {
    val out = writeTree()
    val dir = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).min
    val p = s"$out/$dir/$dir.json"
    assert(Enrichment.enrichJsonFile(p, "https://u.example/a.png", "extra_field"))
    val root1 = Json.parse(read(p)).asInstanceOf[scala.collection.Map[String, Any]]
    assert(root1("extra_field") == "https://u.example/a.png")
    assert(root1.contains("objectives") && root1.contains("theory"))
    val bytes1 = read(p)
    assert(Enrichment.enrichJsonFile(p, "https://u.example/a.png", "extra_field"))
    assert(read(p) == bytes1, "second identical enrichment changed bytes")
  }

  test("enrich_csv_file appends the column to header and every record") {
    val out = writeTree()
    val dir = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).min
    val p = s"$out/$dir/$dir.csv"
    val before = Enrichment.splitCsvRecords(read(p))
    assert(Enrichment.enrichCsvFile(p, "https://u.example/s.png"))
    val after = Enrichment.splitCsvRecords(read(p))
    assert(after.length == before.length, "record count changed")
    assert(after.head == before.head + ",page_screenshot")
    after.tail.foreach(r => assert(r.endsWith(",https://u.example/s.png")))
  }

  test("enrich_files(create_backup=true) snapshots pre-enrichment bytes") {
    val out = writeTree()
    val dir = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).min
    val json = s"$out/$dir/$dir.json"
    val csv = s"$out/$dir/$dir.csv"
    val meta = s"$out/$dir/${dir}_metadata.json"
    val (jb, cb, mb) = (read(json), read(csv), read(meta))
    assert(Enrichment.enrichFiles(Some(json), Some(csv), Some(meta),
      "https://u.example/w.png", createBackup = true))
    assert(read(json + ".backup") == jb)
    assert(read(csv + ".backup") == cb)
    assert(read(meta + ".backup") == mb)
    assert(read(json) != jb && read(csv) != cb && read(meta) != mb)
    // metadata got the url inside spider_stats, other fields intact
    val m = Json.parse(read(meta)).asInstanceOf[scala.collection.Map[String, Any]]
    val stats = m("spider_stats").asInstanceOf[scala.collection.Map[String, Any]]
    assert(stats("page_screenshot") == "https://u.example/w.png")
    assert(m("format_version") == "2.0")
  }

  private def itemsOf(out: String): Seq[ScreenshotWorkflow.Item] =
    new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).sorted
      .map { name =>
        val cut = name.lastIndexOf('_')
        ScreenshotWorkflow.Item(name.substring(0, cut),
          name.substring(cut + 1).toInt, s"https://kuulchat.com/x/$name/")
      }.toSeq

  test("screenshot workflow batch: capture->upload->enrich, then classify=current") {
    val out = writeTree()
    val results = ScreenshotWorkflow.processBatch(spark, itemsOf(out), out).cache()
    val rows = results.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("ok") && r.getAs[Boolean]("enriched"))
      assert(r.getAs[Int]("capture_attempts") == 1 && r.getAs[Int]("upload_attempts") == 1)
    }
    val tally = ScreenshotWorkflow.batchTally(results).head()
    assert(tally.getAs[Long]("successful") == rows.length.toLong)
    assert(tally.getAs[Long]("failed") == 0L)
    // the enriched tree round-trips: every batch already up to date
    val cls = Enrichment.classify(Enrichment.scanBatchState(spark, out)).collect()
    assert(cls.forall(_.getAs[String]("outcome") == "current"))
  }

  test("workflow config gate (VERDICT r02 #10): invalid/disabled config skips every item") {
    import graft.operators.ScreenshotWorkflow.ScreenshotConfig
    val out = writeTree()
    val items = itemsOf(out)
    // from_env with no credentials: enabled but invalid → load_config demotes
    // to disabled (screenshot_config.py:178-190) → every item skipped
    val noCreds = ScreenshotConfig.fromEnv(Map.empty)
    assert(noCreds.enabled && noCreds.validationErrors.exists(_.contains("IMAGEKIT_PUBLIC_KEY")))
    assert(!noCreds.effective.enabled)
    val before = read(s"$out/${items.head.subject}_${items.head.year}/" +
      s"${items.head.subject}_${items.head.year}_metadata.json")
    val results = ScreenshotWorkflow.processBatch(spark, items, out,
      config = noCreds).cache()
    val rows = results.collect()
    assert(rows.forall(r => r.getAs[Boolean]("skipped") && !r.getAs[Boolean]("ok")))
    assert(rows.forall(_.getAs[String]("skip_reason")
      .contains("Missing required environment variables")))
    assert(rows.forall(r => r.getAs[Int]("capture_attempts") == 0))
    // no stage ran: artifacts untouched
    assert(read(s"$out/${items.head.subject}_${items.head.year}/" +
      s"${items.head.subject}_${items.head.year}_metadata.json") == before)
    val tally = ScreenshotWorkflow.batchTally(results).head()
    assert(tally.getAs[Long]("skipped_items") == items.length.toLong)
    assert(tally.getAs[Long]("successful") == 0L &&
      tally.getAs[Long]("enriched_batches") == 0L)
    // explicit disable works even with valid creds
    val disabled = ScreenshotConfig().copy(enabled = false)
    val r2 = ScreenshotWorkflow.processBatch(spark, items.take(1), out, config = disabled)
    assert(r2.head().getAs[String]("skip_reason") == "screenshot functionality disabled")
    // the reference's other validation rules fire too
    assert(ScreenshotConfig().copy(browserType = "ie6").validationErrors
      .exists(_.contains("Invalid browser type")))
    assert(ScreenshotConfig().copy(viewportWidth = 0).validationErrors
      .exists(_.contains("Viewport")))
    assert(ScreenshotConfig().copy(timeoutMs = -1).validationErrors
      .exists(_.contains("Timeout")))
    assert(ScreenshotConfig().copy(pdfQuality = 101).validationErrors
      .exists(_.contains("PDF quality")))
    // a valid default config stays enabled
    assert(ScreenshotConfig().effective.enabled)
  }

  test("workflow reports enriched=false when no batch artifacts exist (ADVICE r02)") {
    val tmp = tempDir("noart")
    val item = ScreenshotWorkflow.Item("ghost", 1999, "https://kuulchat.com/x/ghost_1999/")
    val r = ScreenshotWorkflow.processUrl(item, tmp)
    assert(r.ok && r.upload_ok, "capture/upload still succeed")
    assert(!r.enriched, "enriched must not be vacuously true with zero artifacts")
  }

  test("workflow retry accounting: flaky capture recovers, dead upload short-circuits") {
    val out = writeTree()
    val items = itemsOf(out)
    var calls = 0
    val flaky: ScreenshotWorkflow.Item => String =
      i => { calls += 1; if (calls < 3) throw new RuntimeException("timeout")
             else ScreenshotWorkflow.captureStub(i) }
    val r1 = ScreenshotWorkflow.processUrl(items.head, out, capture = flaky)
    assert(r1.ok && r1.capture_attempts == 3 && r1.upload_attempts == 1)

    val metaP = s"$out/${items.last.subject}_${items.last.year}/" +
      s"${items.last.subject}_${items.last.year}_metadata.json"
    val before = read(metaP)
    val r2 = ScreenshotWorkflow.processUrl(items.last, out,
      upload = (_, _) => throw new RuntimeException("storage down"))
    assert(!r2.ok && r2.upload_attempts == 3 && !r2.enriched)
    assert(read(metaP) == before, "failed upload must not touch the artifacts")
  }
}
