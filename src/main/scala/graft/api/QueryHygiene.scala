package graft.api

import org.apache.spark.sql.SparkSession

/** Post-query cache hygiene for the sequential drivers (Bench / Verify).
  *
  * Many operators materialize intermediates with `localCheckpoint()` /
  * `persist()` while a query runs. Within one query that is the right
  * call (the relation feeds several downstream joins), but the blocks
  * stay pinned in the block manager after the query's terminal action —
  * and a ~190-query sequential run accumulates gigabytes of dead blocks,
  * evicting the caches that ARE still live and driving GC churn. On a
  * loaded box this is the difference between a quiet 200 s run and a
  * thrashing 400 s one. A long-lived service would scope these to a
  * request the same way; local mode just has no executor boundary to do
  * it for us.
  *
  * The sweep unpersists every RDD that became persistent during the
  * query EXCEPT explicitly pinned shared caches (the graph family's
  * adjacency / common-neighbor relations, reused across all nine graph
  * queries — exactly the relations a deployment would keep as maintained
  * tables). Pinning is by RDD id, registered at cache-build time via
  * [[pinning]]: the earlier name-based exemption list silently broke
  * whenever a NEW query happened to be the first to touch a shared cache
  * (sorted bench order put `graph_assortativity` — absent from the list —
  * first, so the adjacency blocks were swept right after being built and
  * every later graph query re-derived the 2-shuffle build).
  */
object QueryHygiene {

  /** RDD ids of shared cross-query caches — never swept. Registered by
    * the cache builders themselves via [[pinning]], so the exemption
    * follows the cache, not whichever query happened to build it. */
  private val pinned = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  /** Run a shared-cache build and pin every RDD it persisted. The build
    * must materialize (or at least mark) its persistence inside `body` —
    * `persist()` registers the id immediately; `localCheckpoint()` is
    * eager by default. */
  def pinning[T](spark: SparkSession)(body: => T): T = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = body
    sc.getPersistentRDDs.keySet.diff(before).foreach(pinned.add(_))
    out
  }

  /** Run `body` for query `name`, then sweep the blocks it pinned and
    * the temp views it registered (streaming fixtures leave memory-sink
    * tables holding up to ~100k driver-side rows each; the relational
    * queries' table views are re-registered by every query that needs
    * them, so dropping is always safe). */
  def run[T](spark: SparkSession, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // SessionCatalog.getTempViewNames is a synchronized driver-side map
    // read; the public spark.catalog.listTables() builds and collects a
    // whole Dataset per call — 50-120 ms, which a ~400-query sequential
    // sweep pays twice per query (~1 min of pure harness overhead).
    // Every view these operators register is a LOCAL temp view
    // (createOrReplaceTempView / the memory sink), so the local-view
    // listing sees exactly the same set the old filter kept.
    val viewsBefore = spark.sessionState.catalog.getTempViewNames().toSet
    try body
    finally {
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!before(id) && !pinned.contains(id)) rdd.unpersist(blocking = false)
      }
      spark.sessionState.catalog.getTempViewNames()
        .filterNot(viewsBefore)
        .foreach(v => spark.catalog.dropTempView(v))
    }
  }

  /** Run `body` with the session conf `kvs` set, then give each key back
    * its previous value, or unset it if it was unset, even when `body`
    * throws. Spark reads most conf when it plans or starts a query, so
    * scope `body` to that call: a streaming query runs on a clone of the
    * session taken in `start()`, so a pin around `start()` holds for the
    * stream's whole life and no other query sees it. */
  def withConf[T](spark: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val conf = spark.conf
    val set = conf.getAll
    val old = kvs.map { case (k, _) => k -> set.get(k) }
    kvs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
