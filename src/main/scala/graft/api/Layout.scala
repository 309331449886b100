package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-layout API for scan efficiency at scale: Z-order (Morton) curve
  * values for multi-dimensional clustering — sort/partition 100 TB of
  * parquet by `zValue` and range predicates on EITHER key prune most
  * files via min/max footer stats — and key-salting for skew-resistant
  * shuffle joins.
  */
object Layout {

  /** Morton interleave of two `bits`-bit bucket coordinates (each in
    * `[0, 2^bits)`): bit i of `x` lands at position 2i+1, bit i of `y` at
    * 2i. Pure fixed-order integer arithmetic (no engine-specific bit
    * operators), so any SQL engine reproduces the value exactly. */
  def zValue(x: Column, y: Column, bits: Int = 8): Column =
    (0 until bits).map { i =>
      (floor(x / lit((1L << i).toDouble)).cast("long") % 2) * lit(1L << (2 * i + 1)) +
        (floor(y / lit((1L << i).toDouble)).cast("long") % 2) * lit(1L << (2 * i))
    }.reduce(_ + _)

  /** Skew-resistant equi-join of a large fact side against a dimension:
    * the fact side gets a deterministic per-row salt in `[0, nSalts)`
    * derived from `saltBy` (a unique row id — NEVER the join key, which
    * would put a hot key's rows back on one reducer), the dimension is
    * replicated once per salt, and the join runs on `(key, salt)` so a
    * hot key's probe rows spread over `nSalts` reducers. The dimension
    * side carries a shuffle-hash hint: salting targets exactly the case
    * where the dimension is too big to broadcast but small enough to
    * replicate `nSalts`-fold. Output equals the plain inner join on
    * `key` (both sides must expose the join key under the same name). */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
                 saltBy: Column, nSalts: Int = 8): DataFrame = {
    val f = fact.withColumn("_graft_salt", pmod(hash(saltBy), lit(nSalts)))
    val d = dim.withColumn("_graft_salt",
      explode(sequence(lit(0), lit(nSalts - 1)))).hint("shuffle_hash")
    f.join(d, Seq(key, "_graft_salt")).drop("_graft_salt")
  }

  /** Materialize `df` as a bucketed + bucket-sorted catalog table (an
    * EXTERNAL table under a scratch path removed on JVM exit, so the
    * session's warehouse dir is never touched) and return it as read
    * through the catalog. Two tables bucketed the same way on their join
    * key sort-merge-join with NO shuffle exchange on either side — the
    * co-located-join layout a 100 TB star schema is stored in, where
    * re-shuffling the fact table on every query is the dominant cost.
    * Idempotent per (session, name, identity): `identity` is the RAW
    * dataset path — its digest goes into the physical table name, so two
    * paths that sanitize to the same identifier can never collide. */
  def bucketedTable(spark: SparkSession, df: => DataFrame, name: String,
                    identity: String, bucketCol: String,
                    nBuckets: Int = 16): DataFrame =
    materialize(spark, name, identity)(df.write.bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol))

  /** Materialize `df` as a PARTITIONED external catalog table (same
    * scratch/cleanup/idempotence contract as [[bucketedTable]]). Scans
    * with predicates on `partCol` prune whole directories via
    * `PartitionFilters` — at 100 TB the layout that turns a full-table
    * scan into reading one partition's files. */
  def partitionedTable(spark: SparkSession, df: => DataFrame, name: String,
                       identity: String, partCol: String): DataFrame =
    materialize(spark, name, identity)(df.write.partitionBy(partCol))

  private def materialize(spark: SparkSession, name: String, identity: String)(
      writer: => org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row]): DataFrame = {
    // collision-proof table identity: the sanitized name is for humans,
    // the md5 of the raw identity string is what distinguishes datasets
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(identity.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    val tbl = s"${name}_$digest"
    if (!spark.catalog.tableExists(tbl)) {
      // a real deployment's bucketed tables live in the warehouse; only
      // the fixture writes to scratch space
      val path = QueryHygiene.scratchDir(s"graft_tbl_$tbl", inMemory = false)
      writer.mode("overwrite").option("path", path).saveAsTable(tbl)
    }
    spark.table(tbl)
  }
}
