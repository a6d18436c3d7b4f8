package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search (builder brief): brute-force cosine top-k as
  * the exact baseline, random-hyperplane LSH bucketing as the scale path.
  * Dot products via `aggregate(zip_with(...))` — Catalyst built-ins, codegen,
  * no UDF.
  *
  * Scale shape: brute force is queries × corpus — right only when queries is
  * a small broadcast side (it is: per-batch probe sets). The LSH variant
  * shuffles corpus once on an 8-bit bucket key and confines the quadratic
  * term to within-bucket; recall is tunable by nTables (union of bucketings).
  */
object Similarity {

  /** cosine(a, b) for two float-array columns, computed in double — the
    * native codegen expression (graft.functions.CosineSimilarity): one fused
    * loop, whole-stage-codegen eligible. Summation order matches the
    * sequential-fold reference formulation, so results are bit-identical to
    * the DuckDB oracle path.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity.cosineSim(a, b)

  /** Spread an under-split scan across the session's cores (guide §2.5):
    * a small single-file embeddings table arrives as ONE scan partition,
    * which would serialize the streaming side of every bucket join — and
    * with it all the per-pair cosine evaluations — into a single task.
    * A no-op whenever the scan already fans out (the real-scale case),
    * never a corpus shuffle.
    */
  private def spread(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    if (df.rdd.getNumPartitions < sc.defaultParallelism)
      df.repartition(sc.defaultParallelism) else df
  }

  /** Interpreted built-ins formulation (aggregate ∘ zip_with) — kept as the
    * semantic cross-check for CosineSimilaritySpec; measurably slower
    * (per-element interpreted lambda steps).
    */
  def cosineHof(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val na = aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val nb = aggregate(transform(b, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    dot / (sqrt(na) * sqrt(nb))
  }

  /** Exact top-k neighbors per query via broadcast cross join + window. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    c.crossJoin(broadcast(q))
      .withColumn("cos", round(cosine(col("qv"), col("cv")), 4))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cos"))
  }

  /** Deterministic pseudo-random hyperplane component in [-1, 1) for
    * (table, plane, dim) — identical on every executor, every run, and a
    * pure mul-mod map (graft.util.SqlHash) so the n2/n3/m4 DuckDB oracles
    * regenerate the identical plane matrix in SQL.
    */
  private def hpComponent(table: Int, plane: Int, dim: Int): Double =
    graft.util.SqlHash.hpComponent(table, plane, dim)

  private def bucketOf(planes: Array[Array[Double]], v: Seq[Float]): Long = {
    var bucket = 0L
    var p = 0
    while (p < planes.length) {
      val row = planes(p)
      val n = math.min(v.length, row.length)
      var dot = 0.0
      var i = 0
      while (i < n) { dot += v(i).toDouble * row(i); i += 1 }
      if (dot > 0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }

  /** LSH bucket id: `nPlanes` sign bits of hyperplane dot products. One
    * compiled UDF with the hyperplane matrix precomputed in the closure —
    * the round-1 `aggregate(zip_with(...))` formulation evaluated
    * nPlanes×dims *interpreted* lambda steps per row (the measured
    * ~55-100×-slow pattern this codebase replaces everywhere else).
    */
  def lshBucket(vec: Column, table: Int, nPlanes: Int, dims: Int): Column = {
    val planes: Array[Array[Double]] =
      Array.tabulate(nPlanes, dims)((p, d) => hpComponent(table, p, d))
    val bucketUdf = udf((v: Seq[Float]) => bucketOf(planes, v))
    bucketUdf(vec)
  }

  /** Multi-probe bucket set (Lv et al., multi-probe LSH): the base bucket
    * plus every bucket within `flips` sign-bit flips — a near neighbor that
    * lands one hyperplane to the "wrong" side is still probed, which is THE
    * standard recall lever that doesn't multiply corpus-side storage: only
    * the (small) probing side fans out, the corpus stays one bucket per
    * table. flips=1 → 1+nPlanes probes; flips=2 adds C(nPlanes, 2) more.
    */
  def lshProbeBuckets(vec: Column, table: Int, nPlanes: Int, dims: Int,
                      flips: Int): Column = {
    val planes: Array[Array[Double]] =
      Array.tabulate(nPlanes, dims)((p, d) => hpComponent(table, p, d))
    val np = nPlanes
    val f = flips
    val probeUdf = udf((v: Seq[Float]) => {
      val base = bucketOf(planes, v)
      val out = scala.collection.mutable.ArrayBuffer(base)
      if (f >= 1) (0 until np).foreach(p => out += (base ^ (1L << p)))
      if (f >= 2) for (p <- 0 until np; q <- (p + 1) until np)
        out += (base ^ (1L << p) ^ (1L << q))
      out.toSeq
    })
    probeUdf(vec)
  }

  /** ALL-tables base buckets in one UDF pass: array of (table, bucket).
    * The per-table [[lshBucket]] formulation joined table-by-table — nTables
    * scans of each side, nTables broadcasts, an nTables-way union (the m4
    * plan carried 8 parquet scans). Emitting (table, bucket) pairs from one
    * projection makes the table id part of the JOIN KEY, so one join over
    * one exchange computes the identical union-of-tables candidate set
    * (guide §2.4: remove shuffles outright).
    */
  private def lshBucketsAllTables(vec: Column, nTables: Int, nPlanes: Int,
                                  dims: Int): Column = {
    val planes: Array[Array[Array[Double]]] =
      Array.tabulate(nTables, nPlanes, dims)((t, p, d) => hpComponent(t, p, d))
    val u = udf((v: Seq[Float]) =>
      planes.indices.map(t => (t, bucketOf(planes(t), v))))
    u(vec)
  }

  /** ALL-tables multi-probe buckets in one UDF pass: array of
    * (table, bucket) covering [[lshProbeBuckets]] for every table.
    */
  private def lshProbesAllTables(vec: Column, nTables: Int, nPlanes: Int,
                                 dims: Int, flips: Int): Column = {
    val planes: Array[Array[Array[Double]]] =
      Array.tabulate(nTables, nPlanes, dims)((t, p, d) => hpComponent(t, p, d))
    val np = nPlanes
    val f = flips
    val u = udf((v: Seq[Float]) => {
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
      var t = 0
      while (t < planes.length) {
        val base = bucketOf(planes(t), v)
        out += ((t, base))
        if (f >= 1) (0 until np).foreach(p => out += ((t, base ^ (1L << p))))
        if (f >= 2) for (p <- 0 until np; q <- (p + 1) until np)
          out += ((t, base ^ (1L << p) ^ (1L << q)))
        t += 1
      }
      out.toSeq
    })
    u(vec)
  }

  /** Approximate top-k: corpus bucketed once per LSH table, queries
    * MULTI-PROBE their bucket neighborhood ([[lshProbeBuckets]]); exact
    * cosine within probed buckets, best-of across tables.
    *
    * Sizing: `nPlanes` ≈ log2(corpusSize / targetBucketSize) — too many
    * planes shatters the space and recall collapses (the round-2 default of
    * 8 planes on a 500-vector corpus measured recall@3 = 0.07; 4 planes +
    * 1-flip probing measures ≥ 0.9, SimilaritySpec gate). At 10^10 rows the
    * same defaults give ~2^4-sized buckets only with nPlanes ≈ 30 — always
    * size from the corpus. probeFlips is the recall lever that costs only
    * query-side fan-out (corpus-side storage and shuffle are unchanged).
    */
  def annTopK(queries: DataFrame, corpus: DataFrame, k: Int, nTables: Int = 4,
              nPlanes: Int = 8, dims: Int = 64,
              idCol: String = "vec_id", vecCol: String = "embedding",
              probeFlips: Int = 1): DataFrame = {
    // one join on (table, bucket) — see lshBucketsAllTables: the table id is
    // part of the join key, so the union-over-tables candidate set costs one
    // corpus scan + one broadcast instead of nTables of each
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      explode(lshProbesAllTables(col(vecCol), nTables, nPlanes, dims, probeFlips))
        .as("tb"))
      .select(col("query_id"), col("qv"),
        col("tb._1").as("t"), col("tb._2").as("bucket"))
    val c = spread(corpus)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        explode(lshBucketsAllTables(col(vecCol), nTables, nPlanes, dims)).as("tb"))
      .select(col("neighbor_id"), col("cv"),
        col("tb._1").as("t"), col("tb._2").as("bucket"))
    val all = c.join(broadcast(q), Seq("t", "bucket"))
      .withColumn("cos", round(cosine(col("qv"), col("cv")), 4))
      .select(col("query_id"), col("neighbor_id"), col("cos"))
      .distinct()
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    all.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cos"))
  }

  /** IVF (inverted-file) approximate top-k — the other standard ANN scale
    * path beside LSH: a coarse quantizer of `nCells` deterministic centroids
    * (seeded pseudo-random directions; a trained k-means codebook would slot
    * into the same shape), corpus rows assigned to their nearest cell ONCE
    * (at scale: a materialized index column), queries probing only their
    * `nProbe` nearest cells. Quadratic term confined to the probed cells;
    * join key is the tiny cell id; the centroid matrix lives in the UDF
    * closure (KBs).
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int, nCells: Int = 16,
              nProbe: Int = 4, dims: Int = 64,
              idCol: String = "vec_id", vecCol: String = "embedding",
              corpusAssign: Int = 1): DataFrame = {
    val centroids: Array[Array[Double]] =
      Array.tabulate(nCells, dims)((c, d) => hpComponent(1 << 16 | c, 0, d))
    def cellScores(v: Seq[Float]): Array[Double] = {
      val out = new Array[Double](centroids.length)
      var c = 0
      while (c < centroids.length) {
        val row = centroids(c)
        val n = math.min(v.length, row.length)
        var dot = 0.0
        var norm = 0.0
        var i = 0
        while (i < n) { dot += v(i).toDouble * row(i); norm += v(i).toDouble * v(i); i += 1 }
        out(c) = if (norm > 0) dot / math.sqrt(norm) else 0.0
        c += 1
      }
      out
    }
    def topCells(v: Seq[Float], n: Int): Seq[Int] =
      cellScores(v).zipWithIndex.sortBy { case (s, i) => (-s, i) }
        .take(n).map(_._2).toSeq
    // corpus multi-assignment (FAISS-style replication): each corpus row
    // indexes under its top-`corpusAssign` cells — a boundary vector whose
    // best cell isn't the query's becomes reachable via its second cell.
    // Costs ×corpusAssign index rows (NOT extra shuffles), vs nProbe which
    // costs query-side scan breadth; the two compose (SimilaritySpec
    // measures the recall gate with corpusAssign=2, nProbe=8).
    val ca = corpusAssign
    val assignUdf = udf((v: Seq[Float]) => topCells(v, ca))
    val np = nProbe
    val probeUdf = udf((v: Seq[Float]) => topCells(v, np))
    val c = spread(corpus).select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      explode(assignUdf(col(vecCol))).as("cell"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      explode(probeUdf(col(vecCol))).as("cell"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    c.join(broadcast(q), Seq("cell"))
      .withColumn("cos", round(cosine(col("qv"), col("cv")), 4))
      // a pair can meet in several (probe × assignment) cells: dedup BEFORE
      // ranking so a duplicate can't occupy two top-k slots
      .select(col("query_id"), col("neighbor_id"), col("cos")).distinct()
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cos"))
  }

  /** Embedding near-dup at scale: block by LSH bucket (no label needed) —
    * multi-table union for recall, exact cosine verify, quadratic term
    * confined to within-bucket. This is the 100-TB path; [[cosineNearDup]]
    * below is the label-blocked variant with a DuckDB oracle.
    */
  def cosineNearDupLsh(vecs: DataFrame, threshold: Double, nTables: Int = 4,
                       nPlanes: Int = 8, dims: Int = 64,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       probeFlips: Int = 1): DataFrame = {
    // one side multi-probes, the other keeps its base bucket: a pair within
    // `probeFlips` hamming of each other's buckets meets regardless of
    // which id is smaller (the flip relation is symmetric). One join on
    // (table, block) — see lshBucketsAllTables — replaces the per-table
    // join + nTables-way union (identical candidate set, 1/nTables the
    // scans and exchanges).
    val l = spread(vecs)
      .select(col(idCol).as("id_a"), col(vecCol).as("va"),
        explode(lshProbesAllTables(col(vecCol), nTables, nPlanes, dims, probeFlips))
          .as("tb"))
      .select(col("id_a"), col("va"),
        col("tb._1").as("t"), col("tb._2").as("block"))
    val r = vecs.select(col(idCol).as("id_b"), col(vecCol).as("vb"),
      explode(lshBucketsAllTables(col(vecCol), nTables, nPlanes, dims)).as("tb"))
      .select(col("id_b"), col("vb"),
        col("tb._1").as("t"), col("tb._2").as("block"))
    l.join(r, Seq("t", "block"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", round(cosine(col("va"), col("vb")), 4))
      // NOTE the threshold predicate is pushed into the join condition and
      // the cosine then runs twice per candidate pair (condition + projected
      // value). For the ~2 μs set intersections in Dedup the evalOnce
      // barrier pays for itself; here the fused 64-float cosine is cheaper
      // than the boxed barrier call per row (measured +0.2 s with the
      // barrier on the bench corpus), so double-eval is the better trade.
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
      .distinct()
  }

  /** Embedding-cosine near-duplicate pairs, blocked by a label/cluster column
    * (or LSH bucket at scale — see [[cosineNearDupLsh]]): pairs with
    * cosine >= threshold.
    */
  def cosineNearDup(vecs: DataFrame, threshold: Double, blockCol: String = "label",
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val l = vecs.select(col(blockCol).as("block"), col(idCol).as("id_a"), col(vecCol).as("va"))
    val r = vecs.select(col(blockCol).as("block"), col(idCol).as("id_b"), col(vecCol).as("vb"))
    l.join(r, Seq("block"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", round(cosine(col("va"), col("vb")), 4))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }
}
