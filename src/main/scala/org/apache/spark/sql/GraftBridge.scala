package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Expression, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Package-private bridge (the standard pattern for libraries adding native
  * Catalyst expressions or plans — cf. SNIPPETS.md [2]/[3]): what the engine
  * needs lives behind `private[sql]` / `private[spark]` in Spark 4.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A DataFrame over `rdd`'s rows of `schema`, planned as a scan of the
    * RDD (a `LogicalRDD`, the node a local checkpoint plans as). No encoder
    * is involved, so no serializer or deserializer class is generated.
    * `sortedBy`: columns each partition's rows are already ascending in
    * (a writer that needs that order then adds no sort). `rows`: the exact
    * row count when known, so the planner sizes joins from it (the default
    * estimate is the session's huge default size).
    */
  def ofRows(spark: SparkSession, schema: StructType, rdd: RDD[InternalRow],
             sortedBy: Seq[String] = Nil, rows: Option[Long] = None): DataFrame = {
    val s = spark.asInstanceOf[classic.SparkSession]
    val output = DataTypeUtils.toAttributes(schema)
    val ordering = sortedBy.map(c => SortOrder(output.find(_.name == c).get, Ascending))
    val stats = rows.map(n => Statistics(
      sizeInBytes = EstimationUtils.getSizePerRow(output) * n, rowCount = Some(BigInt(n))))
    classic.Dataset.ofRows(s,
      LogicalRDD(output, rdd, outputOrdering = ordering)(s, originStats = stats))
  }

  /** The plan `spark.read.schema(schema).parquet()` builds for no paths — a
    * parquet scan of no files — without the "All paths were ignored"
    * warning `DataSource` logs for an empty path list.
    */
  def emptyParquet(spark: SparkSession, schema: StructType): DataFrame =
    spark.baseRelationToDataFrame(HadoopFsRelation(
      new InMemoryFileIndex(spark, Nil, Map.empty, Some(schema)),
      new StructType(), schema.asNullable, None, new ParquetFileFormat, Map.empty)(spark))

  /** Frees `rdd`'s blocks as `RDD.unpersist` does, without the warning that
    * a locally checkpointed RDD cannot be recomputed afterwards.
    */
  def releaseBlocks(rdd: RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
