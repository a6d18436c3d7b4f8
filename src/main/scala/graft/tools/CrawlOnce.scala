package graft.tools

import org.apache.spark.sql.SparkSession

import graft.CrawlEngine
import graft.operators.SeenSet

/** ONE timed bench-config crawl rep (the exact `Bench.crawlAt` shape) as a
  * standalone main, for A/B experiments across builds: stage pages once to a
  * shared dir, then alternate invocations of two compiled trees on the same
  * staged input. Prints one JSON line.
  *
  * Usage: CrawlOnce <stageBase> [cpus=32] [sfDir=/root/testdata/sf0.1]
  *                  [amplify=800] [strategy=shardexact]
  */
object CrawlOnce {

  private def session(cpus: Int, app: String): SparkSession = {
    // honors GRAFT_MASTER / a spark-submit-supplied master (ToolSession):
    // `local-cluster[W,C,MB]` turns a rep into W real executor JVMs — the
    // north rule's two-cluster-size protocol in its literal spark-submit form
    val master = ToolSession.resolveMaster(cpus.toString)
    val b = SparkSession.builder()
      .master(master)
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.ui.enabled", "false")
    val s = ToolSession.configureCluster(b, master).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def deleteTree(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(x => java.nio.file.Files.deleteIfExists(x))
  }

  def main(args: Array[String]): Unit = {
    val base = args(0)
    val cpus = if (args.length > 1) args(1).toInt else 32
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val amplify = if (args.length > 3) args(3).toInt else 800
    val strategy = (if (args.length > 4) args(4) else "shardexact") match {
      case "exact" => SeenSet.ExactAnti
      case "bloomcuckoo" => SeenSet.BloomCuckoo
      case "bloomexact" => SeenSet.BloomExact
      case _ => SeenSet.BloomShardExact
    }
    val bucketDir = s"$base/pages_bucketed"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(bucketDir))) {
      val s = session(32, "graft-ab-stage")
      val dir = s"$base/pages"
      graft.sources.PagesGen.pages(s, sfDir, amplify).toDF()
        .write.mode("overwrite").parquet(dir)
      graft.plans.BucketedTable.write(s.read.parquet(dir), bucketDir,
        "graft_pages_stage", "url", 64)
      s.stop()
      System.err.println(s"[ab] staged $bucketDir")
    }
    val spark = session(cpus, s"graft-ab-$cpus")
    graft.plans.BucketedTable.register(spark, bucketDir, "graft_pages",
      graft.plans.BucketedTable.PagesDdl, "url", 64)
    val store = java.nio.file.Files.createTempDirectory(s"graft-ab-$cpus").toString
    val cfg = CrawlEngine.Config(
      waveDurationMs = 4000000000L,
      strategy = strategy,
      parseQuestions = true,
      amplify = amplify,
      bloomExpected = math.max(1L << 22, amplify.toLong * 8192L),
      pagesTable = Some("graft_pages"))
    val t0 = System.nanoTime()
    val r = CrawlEngine.run(spark, sfDir, store, cfg)
    val sec = (System.nanoTime() - t0) / 1e9
    spark.stop()
    deleteTree(store)
    println(f"""{"ab_crawl_sec":$sec%.2f,"urls":${r.fetched + r.deduped},"urls_per_sec":${(r.fetched + r.deduped) / sec}%.1f,"digest":${r.seenDigest},"waves":${r.waves},"cpus":$cpus}""")
  }
}
