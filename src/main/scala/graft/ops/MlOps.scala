package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.io.Tables
import graft.catalyst.Kernels

/** §2.37 distributed ML training steps — the aggregate-shaped inner
  * loops of classical ML expressed as exact Spark aggregations: the
  * normal-equation moment accumulation of linear regression (Xᵀ X, Xᵀ y
  * as ONE map-side-combinable pass) and decision-stump split finding
  * (the per-feature histogram + cumulative split scan of every GBDT
  * implementation).
  *
  * Scale shapes (100 TB notes):
  *  - linreg_normal_acc: the whole step is ONE aggregate with
  *    (p+1)² + (p+1) cells of BIGINT state over canon-quantized
  *    features — the classic "sufficient statistics" shuffle that makes
  *    linear models trainable at any scale (driver-side solve of the
  *    tiny system is out of the engine's scope by design);
  *  - stump_split_gain: candidate splits come from the value-bounded
  *    feature histogram; left/right class counts are prefix sums over
  *    that histogram (windows over bands, never rows). The weighted
  *    Gini is evaluated on doubles derived from exact integers with an
  *    IDENTICAL expression tree in both engines, then floor-quantized.
  */
object MlOps {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Normal-equation sufficient statistics for predicting quantity
    // from (1, discount_c, tax_c, price_unit): Xᵀ X and Xᵀ y entries in
    // long form (i, j, xtx / i, xty) — every sum exact BIGINT over
    // canon features; merge-order independent by construction.
    "linreg_normal_acc" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(
        lit(1L).as("x0"),
        floor(col("l_discount") * 100).cast("long").as("x1"),
        floor(col("l_tax") * 100).cast("long").as("x2"),
        floor(col("l_extendedprice")).cast("long").as("x3"),
        floor(col("l_quantity")).cast("long").as("y"))
      val xs = Seq("x0", "x1", "x2", "x3")
      val aggs =
        (for (i <- xs.indices; j <- xs.indices if j >= i)
          yield sum(col(xs(i)) * col(xs(j))).as(s"xtx_${i}_$j")) ++
        xs.indices.map(i => sum(col(xs(i)) * col("y")).as(s"xty_$i"))
      val acc = li.agg(aggs.head, aggs.tail: _*)
      val rows =
        (for (i <- xs.indices; j <- xs.indices if j >= i)
          yield struct(lit(i.toLong).as("i"), lit(j.toLong).as("j"),
            lit("xtx").as("kind"), col(s"xtx_${i}_$j").as("v"))) ++
        xs.indices.map(i => struct(lit(i.toLong).as("i"),
          lit(-1L).as("j"), lit("xty").as("kind"), col(s"xty_$i").as("v")))
      acc.select(explode(array(rows: _*)).as("r"))
        .select(col("r.i").as("i"), col("r.j").as("j"),
          col("r.kind").as("kind"), col("r.v").as("v"))
        .orderBy("kind", "i", "j")
    }),

    // Decision-stump split finding on the n_chars histogram for the
    // binary target lang = 'en': for every candidate boundary (split at
    // band b: left = bands ≤ b), the weighted Gini impurity — minimized
    // row first. Doubles enter only AFTER exact integer prefix sums,
    // with the same expression tree in both engines, then canon(1e6).
    "stump_split_gain" -> ((s, d) => {
      val hist = Tables.documents(s, d)
        .select(expr("n_chars div 25").as("band"),
          when(col("lang") === "en", 1L).otherwise(0L).as("y"))
        .groupBy("band")
        .agg(count(lit(1)).as("n"), sum("y").as("pos"))
      val wC = Window.orderBy("band")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wT = Window.partitionBy()
      val scored = hist
        .withColumn("nl", sum("n").over(wC))
        .withColumn("posl", sum("pos").over(wC))
        .withColumn("nt", sum("n").over(wT))
        .withColumn("post", sum("pos").over(wT))
        .filter(col("nl") < col("nt")) // a split must leave a right side
        .withColumn("nr", col("nt") - col("nl"))
        .withColumn("posr", col("post") - col("posl"))
        .withColumn("negl", col("nl") - col("posl"))
        .withColumn("negr", col("nr") - col("posr"))
        .withColumn("gini_c", floor((
          (col("nl").cast("double") -
            (col("posl") * col("posl") + col("negl") * col("negl"))
              .cast("double") / col("nl").cast("double")) +
          (col("nr").cast("double") -
            (col("posr") * col("posr") + col("negr") * col("negr"))
              .cast("double") / col("nr").cast("double"))) /
          col("nt").cast("double") * lit(1000000.0)).cast("long"))
      scored.select("band", "nl", "nr", "posl", "posr", "gini_c")
        .orderBy("gini_c", "band")
        .limit(10)
        .orderBy("band")
    }),

    // k-center greedy seeding (the deterministic farthest-point variant
    // of k-means++ init, k = 4): start at the smallest vec_id, then
    // repeatedly pick the vector MAXIMIZING its min quantized-integer
    // squared distance to the chosen set (tie → smallest id, exact via
    // max over (dist, −id) structs — no sampling, no float ties). Each
    // round is one ×1-row broadcast distance update + one 1-row argmax
    // aggregate over the corpus; the running min-distance column is
    // localCheckpointed so round r+1 never re-derives rounds 1..r —
    // Lloyd iteration gets its centroids without a single global sort.
    "vec_kmeanspp_init" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).select(col("vec_id"),
        graft.api.Vectors.quantize(col("embedding"), 100000L).as("qv"))
      val c1 = emb.orderBy("vec_id").limit(1).localCheckpoint()
      var cur = emb
        .crossJoin(broadcast(c1.select(col("qv").as("ce"))))
        .withColumn("dmin",
          Kernels.vecSqDistLong(col("qv"), col("ce")))
        .drop("ce").localCheckpoint()
      val first = c1.select(lit(1L).as("step"), col("vec_id").as("cid"),
        lit(0L).as("maxmin_d"))
      val picks = scala.collection.mutable.Buffer(first)
      for (step <- 2 to 4) {
        val pick = cur
          .agg(max(struct(col("dmin").as("d"), (-col("vec_id")).as("nid"))).as("w"))
          .select(lit(step.toLong).as("step"), (-col("w.nid")).as("cid"),
            col("w.d").as("maxmin_d"))
          .localCheckpoint() // 1 row; consumed twice (output + next update)
        picks += pick
        val cVec = pick.join(emb, pick("cid") === emb("vec_id"))
          .select(col("qv").as("ce"))
        cur = cur.crossJoin(broadcast(cVec))
          .withColumn("dmin", least(col("dmin"),
            Kernels.vecSqDistLong(col("qv"), col("ce"))))
          .drop("ce").localCheckpoint()
      }
      picks.reduce(_ unionByName _).orderBy("step")
    })
  )

  def oracles: Map[String, String] = Map(
    "linreg_normal_acc" -> {
      val xs = Seq("CAST(1 AS BIGINT)",
        "CAST(floor(l_discount * 100) AS BIGINT)",
        "CAST(floor(l_tax * 100) AS BIGINT)",
        "CAST(floor(l_extendedprice) AS BIGINT)")
      val xtx = for (i <- xs.indices; j <- xs.indices if j >= i) yield
        s"SELECT CAST($i AS BIGINT) AS i, CAST($j AS BIGINT) AS j, " +
          s"'xtx' AS kind, CAST(sum((${xs(i)}) * (${xs(j)})) AS BIGINT) AS v " +
          "FROM li"
      val xty = xs.indices.map(i =>
        s"SELECT CAST($i AS BIGINT), CAST(-1 AS BIGINT), 'xty', " +
          s"CAST(sum((${xs(i)}) * y) AS BIGINT) FROM li")
      s"""WITH li AS (SELECT l_discount, l_tax, l_extendedprice,
        |    CAST(floor(l_quantity) AS BIGINT) AS y FROM lineitem)
        |${(xtx ++ xty).mkString("\nUNION ALL\n")}
        |ORDER BY kind, i, j""".stripMargin
    },

    "vec_kmeanspp_init" -> {
      def sq(a: String, b: String): String =
        s"list_reduce(list_transform(generate_series(1, len($a)), " +
          s"i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), (x, y) -> x + y)"
      s"""WITH q AS MATERIALIZED (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 100000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |c1 AS (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT 1),
        |d1 AS MATERIALIZED (SELECT q.vec_id, q.qv,
        |    CAST(${sq("q.qv", "c1.qv")} AS BIGINT) AS dmin FROM q, c1),
        |p2 AS (SELECT vec_id, dmin FROM d1 ORDER BY dmin DESC, vec_id LIMIT 1),
        |c2 AS (SELECT q.qv FROM q JOIN p2 ON q.vec_id = p2.vec_id),
        |d2 AS MATERIALIZED (SELECT d1.vec_id, d1.qv,
        |    least(d1.dmin, CAST(${sq("d1.qv", "c2.qv")} AS BIGINT)) AS dmin
        |  FROM d1, c2),
        |p3 AS (SELECT vec_id, dmin FROM d2 ORDER BY dmin DESC, vec_id LIMIT 1),
        |c3 AS (SELECT q.qv FROM q JOIN p3 ON q.vec_id = p3.vec_id),
        |d3 AS MATERIALIZED (SELECT d2.vec_id, d2.qv,
        |    least(d2.dmin, CAST(${sq("d2.qv", "c3.qv")} AS BIGINT)) AS dmin
        |  FROM d2, c3),
        |p4 AS (SELECT vec_id, dmin FROM d3 ORDER BY dmin DESC, vec_id LIMIT 1)
        |SELECT CAST(1 AS BIGINT) AS step, c1.vec_id AS cid,
        |  CAST(0 AS BIGINT) AS maxmin_d FROM c1
        |UNION ALL SELECT 2, vec_id, dmin FROM p2
        |UNION ALL SELECT 3, vec_id, dmin FROM p3
        |UNION ALL SELECT 4, vec_id, dmin FROM p4
        |ORDER BY step""".stripMargin
    },

    "stump_split_gain" ->
      """WITH h AS (SELECT n_chars // 25 AS band, count(*) AS n,
        |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS pos
        |  FROM documents GROUP BY 1),
        |c AS (SELECT *, CAST(sum(n) OVER (ORDER BY band
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS nl,
        |    CAST(sum(pos) OVER (ORDER BY band
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS posl,
        |    CAST(sum(n) OVER () AS BIGINT) AS nt,
        |    CAST(sum(pos) OVER () AS BIGINT) AS post
        |  FROM h),
        |sp AS (SELECT *, nt - nl AS nr, post - posl AS posr,
        |    nl - posl AS negl, (nt - nl) - (post - posl) AS negr
        |  FROM c WHERE nl < nt),
        |g AS (SELECT band, nl, nr, posl, posr,
        |    CAST(floor((
        |      (CAST(nl AS DOUBLE) -
        |        CAST(posl * posl + negl * negl AS DOUBLE) / CAST(nl AS DOUBLE)) +
        |      (CAST(nr AS DOUBLE) -
        |        CAST(posr * posr + negr * negr AS DOUBLE) / CAST(nr AS DOUBLE))
        |    ) / CAST(nt AS DOUBLE) * 1000000.0) AS BIGINT) AS gini_c
        |  FROM sp)
        |SELECT * FROM (SELECT * FROM g ORDER BY gini_c, band LIMIT 10)
        |ORDER BY band""".stripMargin
  )
}
