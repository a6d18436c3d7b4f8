package graft.plans

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Bucketed-table staging for the fetch join's 10^10-scale shape (SURVEY §4;
  * the north star's Iceberg pages table): pages hashed into `buckets` files
  * by the join key at WRITE time, one sorted file per bucket, so every
  * subsequent join on that key gets the hash distribution and sort order for
  * free — zero exchange, zero sort, zero broadcast of the big side, on every
  * wave. The wave side alone shuffles (small rows) into the bucket layout.
  *
  * The in-memory catalog is session-scoped but the bucket-tagged files
  * persist, so a fresh session re-attaches with [[register]] (CREATE TABLE …
  * CLUSTERED BY … LOCATION). Swapping in an Iceberg catalog replaces this
  * object behind the same two calls.
  */
object BucketedTable {

  /** Write `df` bucketed+sorted by `keyCol`. `repartition(buckets, key)`
    * first so each bucket is written by exactly one task → ONE file per
    * bucket, which is what lets Spark trust the per-bucket sort order (multi
    * file buckets keep the distribution but re-sort on read).
    *
    * KEY-UNIQUENESS CONTRACT (ADVICE r02): CrawlEngine's fetch join and its
    * nOk==nFetch error-recovery short-circuit assume one page per url — a
    * duplicate key would double-fetch and silently cancel missing-url error
    * rows. Asserted ONCE per staged corpus (one column-pruned agg), so every
    * downstream wave can rely on it for free.
    */
  def write(df: DataFrame, dir: String, table: String,
            keyCol: String, buckets: Int): Unit = {
    val spark = df.sparkSession
    val dups = df.groupBy(col(keyCol)).count().filter(col("count") > 1).limit(1).count()
    require(dups == 0, s"bucketed table $table: duplicate $keyCol values — " +
      "the fetch-join contract requires one row per key")
    spark.sql(s"DROP TABLE IF EXISTS $table")
    df.repartition(buckets, col(keyCol))
      .write.format("parquet")
      .bucketBy(buckets, keyCol).sortBy(keyCol)
      .option("path", dir)
      .mode(SaveMode.Overwrite)
      .saveAsTable(table)
  }

  /** Attach an already-staged bucketed dir to THIS session's catalog. */
  def register(spark: SparkSession, dir: String, table: String,
               schemaDdl: String, keyCol: String, buckets: Int): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(
      s"""CREATE TABLE $table ($schemaDdl) USING parquet
         |CLUSTERED BY ($keyCol) SORTED BY ($keyCol) INTO $buckets BUCKETS
         |LOCATION '$dir'""".stripMargin)
  }

  /** The staged pages schema (PagesGen.PageRow / the north rule's input
    * hint: url, warc_ts, html, text, lang).
    */
  val PagesDdl: String =
    "url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING"
}
