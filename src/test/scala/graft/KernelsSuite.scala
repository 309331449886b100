package graft

import org.apache.spark.sql.{AnalysisException, Row, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.api.Vectors
import graft.catalyst.{GraftExtensions, Kernels}

/** The kernel table ([[graft.catalyst.Kernels]]): the SQL surface checks
  * argument counts as Spark's built-ins do, and the DataFrame surface
  * needs no function registration at all. */
class KernelsSuite extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("kernel table: each expression's prettyName is its SQL name") {
    Kernels.all.foreach { k =>
      assert(k.build(Seq.fill(k.arity)(Literal(null))).prettyName === k.name)
    }
  }

  test("SQL: every kernel with n−1 or n+1 arguments throws WRONG_NUM_ARGS, as abs(1, 2) does") {
    val s = spark.newSession()
    GraftExtensions.install(s)
    val builtin = intercept[AnalysisException](s.sql("SELECT abs(1, 2)")).getCondition
    for (k <- Kernels.all; n <- Seq(k.arity - 1, k.arity + 1)) {
      val call = s"${k.name}(${Seq.fill(n)("NULL").mkString(", ")})"
      val e = intercept[AnalysisException](s.sql(s"SELECT $call"))
      assert(e.getCondition === builtin, call)
      assert(e.getMessage.contains(s"`${k.name}` requires ${k.arity} parameters"), call)
      assert(e.getMessage.contains(s"actual number is $n"), call)
    }
  }

  test("DataFrame kernels run on a plain session: no extension, nothing registered") {
    val plain = spark.newSession()
    assert(!plain.sessionState.functionRegistry.functionExists(FunctionIdentifier("vec_dot")))
    def vectors(s: SparkSession): Seq[Seq[Row]] = {
      import s.implicits._
      val data = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)),
        (3L, Seq(1.0f, 1.0f)), (4L, Seq(-1.0f, 0.5f))).toDF("vid", "emb")
      val q = Seq((0L, Seq(1.0f, 0.25f))).toDF("qid", "qemb")
      Seq(
        data.crossJoin(q).select(col("vid"), Vectors.cosine(col("emb"), col("qemb")))
          .orderBy("vid").collect().toSeq,
        Vectors.knn(data, col("vid"), col("emb"), q, col("qid"), col("qemb"), 3)
          .collect().toSeq)
    }
    def keys(s: SparkSession): Seq[Seq[Row]] =
      Seq("vec_cosine_topk", "dedup_embedding_lsh")
        .map(k => SparkEntry.queries(k)(s, TestSpark.sfDir).collect().toSeq)
    val got = vectors(plain) ++ keys(plain)
    assert(got.forall(_.nonEmpty))
    assert(got === vectors(spark) ++ keys(spark))
    assert(!plain.sessionState.functionRegistry.functionExists(FunctionIdentifier("vec_dot")))
  }
}
