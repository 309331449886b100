package graft.perfbench

import org.apache.spark.sql.SparkSession

/** The program's shared-cache builds that `graft.Bench` forces before its
  * sweep. They are package-private to `graft`, so the benchmark reaches
  * them from this package. */
object SharedBuilds {
  def graphAdjacency(s: SparkSession, sf: String): Unit = { graft.ops.GraphOps.adjacency(s, sf).count(); () }
  def streamFixtureRows(s: SparkSession, sf: String): Unit = graft.streaming.StreamOps.prebuildFixtures(s, sf)
}
