package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, InterpretedUnsafeProjection, JoinedRow, UnsafeRow}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType

/** Hand-written per-partition passes over a DataFrame's rows — ranks, group
  * picks, shard folds — that generate no classes. A pass reads the input's
  * `InternalRow`s in plan order, writes its output rows with interpreted
  * projections or an `UnsafeRowWriter`, and its RDD is planned back into a
  * DataFrame as a scan ([[GraftBridge.ofRows]]). The window operators and
  * typed `mapPartitions` it stands in for each compile their own classes
  * (mutable projections per window frame, encoder serializers per object
  * type), and a wave's classes must fit Spark's codegen cache (see the
  * `CrawlEngine` header). The exchange and sort that feed a pass stay in
  * the input's plan.
  */
object RowPass {

  /** `f` over each partition of `df`'s rows, its output rows (of `schema`)
    * planned as a DataFrame. Building it plans `df` — with adaptive
    * execution that runs `df`'s shuffle stages now; `f` runs when the
    * result is computed. `f` sees reused row buffers: it copies a row it
    * holds past the next one. `sortedBy`: columns `f`'s output is
    * ascending in per partition (see [[GraftBridge.ofRows]]).
    */
  def apply(df: DataFrame, schema: StructType, sortedBy: Seq[String] = Nil)(
      f: Iterator[InternalRow] => Iterator[InternalRow]): DataFrame =
    GraftBridge.ofRows(df.sparkSession, schema, rowsOf(df).mapPartitions(f), sortedBy)

  /** [[apply]]'s rows plus `extra`, materialized once as a local checkpoint
    * (one job; the blocks live in executor memory, without lineage) and
    * planned as a scan of its blocks with their exact count — no scan stage
    * of its own, as `Dataset.localCheckpoint` would compile.
    */
  def checkpoint(df: DataFrame, schema: StructType, extra: Seq[InternalRow])(
      f: Iterator[InternalRow] => Iterator[InternalRow]): DataFrame = {
    val rdd = rowsOf(df).mapPartitions(f).map(_.copy())
      .union(df.sparkSession.sparkContext.parallelize(extra, 1))
    rdd.localCheckpoint()
    val n = rdd.count()
    GraftBridge.ofRows(df.sparkSession, schema, rdd, rows = Some(n))
  }

  /** `df`'s rows. Planning them runs `df`'s shuffle stages, as one SQL
    * execution (a Dataset action's form), so listeners see those jobs under
    * the caller's call site.
    */
  private def rowsOf(df: DataFrame): RDD[InternalRow] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("rows"))(qe.toRdd)
  }

  private def bound(in: StructType, name: String): BoundReference = {
    val i = in.fieldIndex(name)
    BoundReference(i, in(i).dataType, in(i).nullable)
  }

  /** Output rows of the input's `keep` columns followed by `extra` ones. */
  final class Out(in: StructType, keep: Seq[String], extra: StructType) extends Serializable {
    val schema: StructType = StructType(keep.map(in(_)) ++ extra)
    /** A writer for one partition: (input row, row of the extra values) →
      * output row, in a buffer the next call reuses.
      */
    def writer(): (InternalRow, InternalRow) => InternalRow = {
      val proj = InterpretedUnsafeProjection.createProjection(keep.map(bound(in, _)) ++
        extra.fields.indices.map(j =>
          BoundReference(in.length + j, extra(j).dataType, extra(j).nullable)))
      val joined = new JoinedRow
      (row, ext) => proj(joined(row, ext))
    }
  }

  /** Group boundaries of rows sorted on `cols` (nulls form a group, as a
    * window partition's do).
    */
  final class GroupKey(in: StructType, cols: Seq[String]) extends Serializable {
    /** A test for one partition: true when a row's key differs from the
      * previous row's, and for the first row.
      */
    def tracker(): InternalRow => Boolean = {
      val proj = InterpretedUnsafeProjection.createProjection(cols.map(bound(in, _)))
      var prev: UnsafeRow = null
      row => {
        val k = proj(row)
        if (prev != null && k == prev) false else { prev = k.copy(); true }
      }
    }
  }
}
