package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.api.QueryHygiene

/** ANN recall gates on a CLUSTERED embedding fixture.
  *
  * The shipped fixture embeddings are uniform synthetic vectors, where
  * coarse quantizer cells are only weakly informative (label blocking
  * measured 0.08 recall there) — so the MaintOpsSuite gates pass at
  * modest thresholds that say little about how the index behaves on
  * real, clustered embedding distributions. This suite generates a
  * mixture-of-Gaussians corpus (10 well-separated components, σ ≪
  * inter-center distance — the shape trained embedding spaces actually
  * have), writes it through the SAME parquet contract as the driver
  * fixtures, and runs the UNMODIFIED operators against it: on clustered
  * data the coarse cells align with the mixture components and recall
  * must clear the tightened ≥ 0.8 gate.
  */
class AnnClusteredSuite extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** Deterministic MoG fixture: 500 vectors, 64 dims, 10 components.
    * component(vec_id) = vec_id % 10, so the operators' structural
    * panels (queries vec_id < 5, Voronoi seeds vec_id < 8, PQ codewords
    * vec_id < 64) each span distinct components. Centers are uniform in
    * [-0.5, 0.5]^64; points add N(0, 0.05²) noise: inter-center
    * distance² ≈ 10.7 ≫ intra ≈ 0.3. */
  private lazy val dir: String = {
    val rnd = new scala.util.Random(20260814L)
    val centers = Array.fill(10, 64)((rnd.nextDouble() - 0.5).toFloat)
    val rows = (0 until 500).map { id =>
      val c = id % 10
      val v = Array.tabulate(64)(j =>
        centers(c)(j) + (rnd.nextGaussian() * 0.05).toFloat)
      (id.toLong, v.toSeq, c)
    }
    val out = QueryHygiene.scratchDir("graft_mog", inMemory = false)
    rows.toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding").cast("array<float>"), col("label").cast("int"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$out/embeddings.parquet")
    out
  }

  private def topSets(key: String): Map[Long, Set[Long]] =
    SparkEntry.queries(key)(spark, dir)
      .select("qid", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, r) => q -> r.map(_._2).toSet }

  private def recallVsBrute(key: String): Double = {
    val truth = topSets("vec_knn_brute")
    val approx = topSets(key)
    assert(approx.keySet == truth.keySet, "every query answered")
    approx.foreach { case (q, ids) => assert(ids.size == 5, s"query $q top-k size") }
    truth.map { case (q, t) => t.intersect(approx(q)).size }.sum.toDouble /
      truth.values.map(_.size).sum
  }

  test("ann_ivf_pq_topk: recall@5 ≥ 0.8 on clustered embeddings") {
    val r = recallVsBrute("ann_ivf_pq_topk")
    info(s"IVF-PQ recall@5 (clustered) = $r")
    assert(r >= 0.8, s"IVF-PQ recall@5 $r below clustered gate")
  }

  test("vec_prefix_rerank_topk: recall@5 ≥ 0.8 on clustered embeddings") {
    val r = recallVsBrute("vec_prefix_rerank_topk")
    info(s"matryoshka prefix-rerank recall@5 (clustered) = $r")
    assert(r >= 0.8, s"prefix-rerank recall@5 $r below clustered gate")
  }

  test("ann_ivf_topk (via ann_recall_eval): ≥ 0.8 mean recall on clustered embeddings") {
    // ann_recall_eval reports per-query n_hit of IVF(nprobe=1, label
    // cells) vs the exact top-5 — on clustered data the label cells ARE
    // the mixture components, so the macro recall must clear 0.8
    val rows = SparkEntry.queries("ann_recall_eval")(spark, dir)
      .select("qid", "n_hit").as[(Long, Long)].collect()
    assert(rows.length == 5)
    val r = rows.map(_._2).sum.toDouble / (5.0 * rows.length)
    info(s"IVF label-cell recall@5 (clustered) = $r")
    assert(r >= 0.8, s"ann_recall_eval clustered recall $r below gate")
    // and the ADC inequality still holds: approx sum ≥ truth sum − 5
    SparkEntry.queries("ann_recall_eval")(spark, dir)
      .select("qid", "sum_truth_c", "sum_ann_c").as[(Long, Long, Long)]
      .collect().foreach { case (q, st, sa) =>
        assert(sa >= st - 5, s"query $q: approx beats exact optimum") }
  }
}
