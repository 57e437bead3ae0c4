package graft.sim

import graft.util.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed Lloyd's k-means over an `array<float>` embedding column —
  * the corpus-clustering primitive behind cluster-balanced sampling and
  * SemDeDup-style per-cluster dedup (reference scope: grouping/partitioning
  * of feature relations, dfpipeline's Aggregator/grouped family, re-expressed
  * for embeddings).
  *
  * 100-TB shape:
  *  - each iteration is ONE map-side-combined aggregate whose shuffle
  *    carries k·dim long partial sums + k counts per partition — bounded
  *    plan state, independent of corpus size;
  *  - assignment is a codegen'd projection against centroid LITERALS
  *    (no broadcast join, no shuffle of the corpus — ever);
  *  - the corpus is scanned `iters + 1` times total (classic Lloyd's);
  *    the quantized projection is persisted so the parquet decode happens
  *    once.
  *
  * Engine-portable exactness (the same discipline as
  * [[Similarity.portablePlanes]]): vectors are floor-quantized to integers
  * ≤ 2²⁰ ([[Similarity.quantize]] semantics), so per-cluster sums are exact
  * longs, centroids are exact-long / exact-long IEEE divisions (bit-equal in
  * any engine), squared distances fold LEFT-ASSOCIATIVELY in fixed dimension
  * order (no engine reassociates FP addition), and argmin ties break to the
  * LOWER cluster id via a cascaded `<=` chain. Init is the first k rows by
  * id. An external SQL engine replays every iteration bit-for-bit —
  * see SparkEntry's generated q_kmeans oracle.
  */
object Cluster {

  /** Per-dimension floor-quantized integer columns `__x0 … __x{dims-1}`
    * (exact for float inputs — power-of-two scale). */
  private def quantized(df: DataFrame, idCol: String, vecCol: String,
      dims: Int): DataFrame =
    df.select(
      col(idCol) +:
        (0 until dims).map(i =>
          floor(element_at(col(vecCol), i + 1).cast("double") *
            lit(1048576.0)).cast("double").as(s"__x$i")): _*)

  /** Squared distance to a centroid literal, fixed-order left fold,
    * over quantized columns named `prefix0 … prefix{dims-1}`. */
  private[sim] def dist2P(c: Array[Double], dims: Int,
      prefix: String): Column =
    (0 until dims).map { i =>
      val d = col(s"$prefix$i") - lit(c(i)); d * d
    }.reduceLeft(_ + _)

  private def dist2(c: Array[Double], dims: Int): Column =
    dist2P(c, dims, "__x")

  /** Argmin with ties to the lower cluster id, over quantized columns
    * named `prefix0 … prefix{dims-1}`: `array_min` over (distance, id)
    * structs — struct comparison is lexicographic, so the minimum
    * distance wins and equal distances fall to the LOWER id, exactly the
    * selection the previous `when`-cascade encoded. The cascade form
    * duplicated every distance expression O(k²) times across its pairwise
    * `<=` conditions; after projection collapse that emitted multi-MiB
    * task binaries ("Broadcasting large task binary" WARNs on the PQ/
    * k-means paths) and taxed the whole suite through JIT/code-cache
    * churn. This form carries each of the k distance expressions ONCE. */
  private[sim] def argminColP(cents: Array[Array[Double]], dims: Int,
      prefix: String): Column =
    array_min(array(cents.zipWithIndex.map { case (c, j) =>
      struct(dist2P(c, dims, prefix).as("d"), lit(j).as("c"))
    }.toIndexedSeq: _*)).getField("c")

  private def argminCol(cents: Array[Array[Double]], dims: Int): Column =
    argminColP(cents, dims, "__x")

  /** Public Lloyd's fit returning only the final centroids in the
    * QUANTIZED integer space (floor(x·2²⁰) coordinates) — the codebook
    * entry point for [[Pq]]: callers pass a (possibly sliced) vector
    * column and get back exact-rational centroid literals with the full
    * engine-portability contract of [[kMeans]]. */
  def fitQuantized(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, dims: Int): Array[Array[Double]] = {
    val (q, cents) = fitCentroids(df, idCol, vecCol, k, iters, dims)
    Materialize.release(q)
    cents
  }

  /** Run `iters` Lloyd's iterations; returns `(idCol, cluster)`.
    *
    * `dims` bounds how many leading vector dimensions participate (callers
    * clustering 1k-dim embeddings typically JL-project first —
    * [[Embeddings.randomProjection]] — then cluster the projection).
    * Empty clusters keep their previous centroid (replayable rule).
    */
  def kMeans(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, dims: Int): DataFrame = {
    val (q, cents) = fitCentroids(df, idCol, vecCol, k, iters, dims)
    val out = q.select(col(idCol), argminCol(cents, dims).as("cluster"))
    // the final pass recomputes from source if the cache is gone — correct
    // either way; don't pin executor memory past the fit
    Materialize.release(q)
    out
  }

  /** The Lloyd's fit: returns the quantized projection, persisted for the
    * iterations and the caller's lazy plan over it, and the final
    * centroids (the caller releases the projection). */
  private def fitCentroids(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, dims: Int): (DataFrame, Array[Array[Double]]) = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(dims >= 1, s"dims must be >= 1, got $dims")
    val q = Materialize.shared(quantized(df, idCol, vecCol, dims),
      recomputable = true)
    // init: the first k rows by id — deterministic and oracle-replayable
    // (k rows of driver state; the fetch is a TakeOrdered, not a sort)
    var cents: Array[Array[Double]] = q.orderBy(col(idCol)).limit(k).collect()
      .map(r => Array.tabulate(dims)(i => r.getDouble(r.fieldIndex(s"__x$i"))))
    require(cents.length == k,
      s"k-means needs at least $k rows, found ${cents.length}")

    for (_ <- 0 until iters) {
      // ONE aggregate: k·dim exact long sums + k counts (bounded row)
      val aggs = (0 until cents.length).flatMap { j =>
        (0 until dims).map(i =>
          sum(when(col("__cl") === j, col(s"__x$i").cast("long")))
            .as(s"s_${j}_$i")) :+
          sum(when(col("__cl") === j, 1L).otherwise(0L)).as(s"n_$j")
      }
      val row = q.withColumn("__cl", argminCol(cents, dims))
        .agg(aggs.head, aggs.tail: _*).collect()(0)
      cents = Array.tabulate(cents.length) { j =>
        val n = row.getLong(row.fieldIndex(s"n_$j"))
        if (n == 0L) cents(j) // empty cluster keeps its centroid
        else Array.tabulate(dims)(i =>
          row.getLong(row.fieldIndex(s"s_${j}_$i")).toDouble / n)
      }
    }
    (q, cents)
  }

  /** Cluster exemplars: the `topN` members CLOSEST to their final
    * centroid per cluster — the inspection/labeling tool (name a cluster
    * by its most central members, seed per-cluster dedup, pick
    * representatives for human review). Returns
    * (cluster, idCol, dist2, rank) with rank 1 = most central.
    *
    * Selection rides [[graft.relational.Relational.topKPerGroup]]'s
    * bounded-heap aggregate on score = −distance — (dist ASC, id ASC)
    * total order, so no cluster ever funnels its full membership through
    * one window task and the pick replays exactly in any engine (the
    * distance folds in the same fixed dimension order as assignment). */
  def kMeansExemplars(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, dims: Int, topN: Int): DataFrame = {
    require(topN >= 1, s"topN must be >= 1, got $topN")
    val (q, cents) = fitCentroids(df, idCol, vecCol, k, iters, dims)
    val distAssigned = (0 until cents.length - 1)
      .foldRight(dist2(cents(cents.length - 1), dims)) { (j, rest) =>
        when(col("cluster") === j, dist2(cents(j), dims)).otherwise(rest)
      }
    val scored = q
      .withColumn("cluster", argminCol(cents, dims))
      .withColumn("__negdist", -distAssigned)
    val out = graft.relational.Relational
      .topKPerGroup(scored, Seq("cluster"), "__negdist", idCol, topN)
      .select(col("cluster"), col(idCol), (-col("score")).as("dist2"),
        col("rank").cast("long").as("rank"))
    Materialize.release(q)
    out
  }

  /** Cluster-size profile of a [[kMeans]] run: one aggregate over the
    * assignment — `(cluster, n)`. Convenience for balance checks before
    * cluster-stratified sampling. */
  def kMeansSizes(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, dims: Int): DataFrame =
    kMeans(df, idCol, vecCol, k, iters, dims)
      .groupBy("cluster").agg(count(lit(1)).as("n"))
}
