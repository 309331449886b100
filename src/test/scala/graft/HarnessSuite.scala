package graft

import org.scalatest.funsuite.AnyFunSuite

class HarnessSuite extends AnyFunSuite {
  test("select keeps exact names and prefix* matches, sorted; empty selects all") {
    val keys = Seq("graph_pagerank", "dedup_cluster_cc_dist", "dedup_cluster_cc", "agg_cube")
    assert(Harness.select(keys, Nil) ===
      Seq("agg_cube", "dedup_cluster_cc", "dedup_cluster_cc_dist", "graph_pagerank"))
    assert(Harness.select(keys, Seq("dedup_cluster_cc")) === Seq("dedup_cluster_cc"))
    assert(Harness.select(keys, Seq("graph_*", "agg_cube")) === Seq("agg_cube", "graph_pagerank"))
    assert(Harness.select(keys, Seq("nope")) === Nil)
  }
}
