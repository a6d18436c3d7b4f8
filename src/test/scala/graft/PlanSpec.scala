package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan quality gates (builder brief: "explain the plan and iterate
  * until it's the plan you'd want"). These lock in the plan shapes that
  * matter at 100 TB: scan-level filter pushdown + column pruning, broadcast
  * joins for dims, TakeOrdered for sort+limit, partial aggregation, and
  * whole-stage codegen on the hot relational paths.
  */
class PlanSpec extends AnyFunSuite with TempDirs {

  lazy val spark = SparkTestSession.get
  private val sf = "/root/testdata/sf0.01"

  private def planOf(df: DataFrame): String = {
    df.collect() // finalize AQE
    df.queryExecution.executedPlan.toString
  }

  test("filters and projection reach the parquet scan (pushdown + pruning)") {
    val df = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("n_chars") > 300)
      .select(col("doc_id"))
    val plan = planOf(df)
    assert(plan.contains("PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,300)]"),
      s"filter not pushed:\n$plan")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,n_chars:bigint>"),
      s"columns not pruned:\n$plan")
  }

  test("dimension joins broadcast (q2) — no shuffle of the fact side") {
    val plan = planOf(Queries.all("q2_dim_join")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), s"dim join degraded to SMJ:\n$plan")
  }

  test("sort+limit compiles to TakeOrderedAndProject (q3) — no global sort") {
    val df = spark.read.parquet(s"$sf/orders.parquet")
      .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(10)
      .select(col("o_orderkey"), col("o_totalprice"))
    val plan = planOf(df)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("aggregation is partial+final (q1) inside whole-stage codegen") {
    val plan = planOf(Queries.all("q1_lineitem_agg")(spark, sf))
    assert(plan.contains("partial_sum"), s"no partial (map-side) agg:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2, s"no partial+final agg:\n$plan")
    // whole-stage codegen renders as "*(n)" in the compact plan string
    assert(plan.contains("*(1)"), s"no codegen span:\n$plan")
  }

  test("seen-set dedup is an anti join (j4), not a full materialized except") {
    val plan = planOf(Queries.all("j4_seen_antijoin")(spark, sf))
    assert(plan.contains("LeftAnti"), plan)
  }

  test("bucketed fetch join: pages side has zero exchange and zero sort") {
    import graft.plans.BucketedTable
    import graft.sources.PagesGen
    val store = tempDir("bucket-plan")
    val pagesDf = PagesGen.pages(spark, "/root/testdata/sf0.001").toDF()
    BucketedTable.write(pagesDf, s"$store/pages_bucketed", "graft_pages_plan_stage",
      "url", 8)
    BucketedTable.register(spark, s"$store/pages_bucketed", "graft_pages_plan",
      BucketedTable.PagesDdl, "url", 8)
    val wave = CrawlEngine.seedFrontier(spark, "/root/testdata/sf0.001")
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // sorted bucket scans are gated off by default since 3.0 (planning-time
    // file listing cost); the engine's bench sessions turn this on
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try {
      val full = planOf(CrawlEngine.joinWavePages(wave, spark.table("graft_pages_plan"))
        .select(col("url"), col("warc_ts")))
      // AQE renders final + initial plans — assert on the final one only
      val plan = full.split("== Initial Plan ==").head
      assert(plan.contains("SortMergeJoin"), plan)
      // exactly ONE url exchange and ONE sort — both on the wave side: the
      // bucketed+sorted pages scan provides its distribution and order free
      assert("Exchange hashpartitioning\\(url".r.findAllIn(plan).size == 1,
        s"pages side exchanged:\n$plan")
      assert("Sort \\[url".r.findAllIn(plan).size == 1,
        s"pages side re-sorted:\n$plan")
      assert(plan.contains("Bucketed: true"), s"scan not bucketed:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
    }
  }
}
