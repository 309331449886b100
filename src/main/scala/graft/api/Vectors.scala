package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.catalyst.Kernels
import graft.io.Tables

/** User-facing vector/similarity API over embedding columns
  * (`array<float>` or `array<double>`). The scalar helpers are Column
  * functions backed by the native codegen'd kernels
  * (graft.catalyst.VecExpressions); they and the DataFrame operators
  * below work on any session, with no extension or registration.
  * Accumulation order is fixed left-to-right double, so results are
  * reproducible across engines.
  */
object Vectors {

  /** In-order double dot product of two vector columns. */
  def dot(a: Column, b: Column): Column = Kernels.vecDot(a, b)

  /** L2 norm of a vector column. */
  def norm(v: Column): Column = sqrt(dot(v, v))

  /** Cosine similarity of two vector columns. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Squared L2 distance of two vector columns. */
  def sqDist(a: Column, b: Column): Column = Kernels.vecSqDist(a, b)

  /** Exact k-nearest-neighbors by squared L2: for every query row, the
    * `k` nearest data rows (self-matches by id excluded). The query side
    * broadcasts — it is the small, bounded side by construction; the data
    * side streams partition-local. Returns
    * `(qid, rank, id, dist)` with rank 1..k (ties broken by id). */
  def knn(data: DataFrame, id: Column, vec: Column,
          queries: DataFrame, qid: Column, qvec: Column, k: Int): DataFrame =
    topKByDist(data, id, vec, queries, qid, qvec, k, sqDist)

  /** The `k` data rows nearest each query row by `dist`, self-matches by
    * id excluded, ties broken by id; null distances (null/ragged vectors)
    * rank last, never as nearest. */
  private def topKByDist(data: DataFrame, id: Column, vec: Column,
                         queries: DataFrame, qid: Column, qvec: Column, k: Int,
                         dist: (Column, Column) => Column): DataFrame = {
    val d = Tables.fanOut(data.select(id.cast("long").as("id"), vec.as("v")))
    val q = queries.select(qid.cast("long").as("qid"), qvec.as("qv"))
    val w = Window.partitionBy("qid").orderBy(col("dist").asc_nulls_last, col("id"))
    d.crossJoin(broadcast(q))
      .filter(col("id") =!= col("qid"))
      .withColumn("dist", dist(col("v"), col("qv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id"), col("dist"))
  }

  /** Per-component integer quantization of a vector column:
    * floor(x · scale) as BIGINT. ONE rounding per stored value —
    * every engine computes the identical integer — after which squared
    * distances are exact BIGINTs whose sums are merge-order independent.
    * This is the vector form of the engine's floor-canon discipline, and
    * what makes large-scale kNN evaluation oracle-checkable through a
    * vectorized relational recomputation (see [[knnQuantized]]). */
  def quantize(v: Column, scale: Long): Column =
    transform(v, x => floor(x.cast("double") * scale).cast("long"))

  /** Exact k-NN by QUANTIZED squared L2 (scale-quantized components,
    * integer distances — bit-identical in any engine, so rank order has
    * no float tie ambiguity). Same contract as [[knn]] otherwise:
    * bounded query side broadcasts, data side streams partition-local
    * through the codegen'd `vec_sqdist_long` kernel, ties by id.
    * Returns `(qid, rank, id, dist)` with integer `dist`. */
  def knnQuantized(data: DataFrame, id: Column, vec: Column,
                   queries: DataFrame, qid: Column, qvec: Column,
                   k: Int, scale: Long = 100000L): DataFrame =
    topKByDist(data, id, quantize(vec, scale), queries, qid, quantize(qvec, scale), k,
      Kernels.vecSqDistLong(_, _))

  /** Top-k most cosine-similar data rows to a single query vector column
    * (one-row `queries` DataFrame). Returns `(id, cos)`, best first. */
  def cosineTopK(data: DataFrame, id: Column, vec: Column,
                 query: DataFrame, qvec: Column, k: Int): DataFrame = {
    val d = data.select(id.cast("long").as("id"), vec.as("v"))
    val q = query.select(qvec.as("qv"))
    d.crossJoin(broadcast(q))
      .withColumn("cos", cosine(col("v"), col("qv")))
      .select(col("id"), col("cos"))
      .orderBy(col("cos").desc, col("id"))
      .limit(k)
  }
}
