package graft.api

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.storage.GraftBroadcasts
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one owner of state that outlives a query. It owns three things:
  *
  *  - '''The sweep''' ([[run]]). Many operators materialize intermediates
  *    with `localCheckpoint()` / `persist()` while a query runs. Within
  *    one query that is the right call (the relation feeds several
  *    downstream joins), but the blocks stay pinned in the block manager
  *    after the query's terminal action — and a ~400-query sequential run
  *    accumulates gigabytes of dead blocks, evicting the caches that ARE
  *    still live and driving GC churn. A long-lived service would scope
  *    these to a request the same way; local mode just has no executor
  *    boundary to do it for us. The sweep unpersists every RDD that
  *    became persistent during the query except the pinned ones, and
  *    releases every broadcast created during it (below).
  *  - '''The shared-relation memo''' ([[memoized]], [[sharedRelation]]):
  *    values built once per (session, name, dataset dir) and reused by
  *    every later query — the graph adjacency and common-neighbor
  *    relations, the strict dedup labeling, the stream fixtures' replay
  *    rows, inferred parquet schemas; exactly what a deployment would
  *    keep as maintained tables. A shared relation's checkpoint is pinned
  *    by RDD id when it is built, so the exemption follows the relation,
  *    not whichever query happened to build it (a name-based exemption
  *    list once let the first graph query in sorted order sweep the
  *    adjacency it had just built).
  *  - '''Scratch directories''' ([[scratchDir]]): temp space for fixture
  *    tables, checkpoints and round-trip writes, removed when the JVM
  *    exits.
  *
  * '''Broadcasts.''' Each broadcast hash relation holds at least one
  * Tungsten page, `spark.buffer.pageSize`, which Spark sizes from the
  * heap and the cores: 16 MiB on a 3 GiB heap with 4 cores, where a
  * 1000-row build side measured 16.1 MB of driver storage memory. Task
  * binaries are broadcasts too, so one query creates tens of them.
  * Spark's `ContextCleaner` frees a broadcast only once a GC finds its
  * handle unreachable and the cleaner thread gets to it, so without the
  * sweep a heap reading taken right after GC still holds the previous
  * queries' relations (up to 50 MB after one key of the query mix). The
  * sweep drops the driver's copy of each broadcast created during the
  * query before [[run]] returns, and tells the block manager master and
  * the executors without waiting for them.
  *
  * The contract, the same for the broadcasts as for the swept RDDs: a
  * DataFrame built inside [[run]] is not re-executed after [[run]]
  * returns, and one query runs at a time per session (a broadcast another
  * thread creates meanwhile is released with the query's). Shared
  * relations are eager checkpoints and read none of their build's
  * broadcasts. In local mode a re-run of such a DataFrame still worked
  * after the sweep, because its plan keeps the broadcast value
  * reachable; nothing here relies on that.
  *
  * Everything here lives for the session. The memo holds a strong
  * reference to its session: fine for this library's one-session-per-JVM
  * drivers (Verify / Bench / tests); a long-lived multi-session service
  * would key a weak map or drop a session's entries on teardown.
  */
object QueryHygiene {

  /** RDD ids of shared relations — never swept. */
  private val pinned = ConcurrentHashMap.newKeySet[Int]()

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

  /** Builds on first access; concurrent callers wait for that build. */
  private final class Once(build: => Any) { lazy val value: Any = build }

  private val memo = new ConcurrentHashMap[(SparkSession, String, String), Once]()

  /** The value `name` of dataset `dir` in session `spark`: built by
    * `build` on the first call, the same instance on every later one.
    * The map's update only publishes a per-key holder and the build runs
    * outside it, so one memoized build may call another (the
    * common-neighbor relation builds the adjacency inside its own build;
    * a nested `computeIfAbsent` on one map throws `Recursive update`).
    * Racing first calls share one build. A build that throws stores no
    * value; the next call builds again. */
  def memoized[T](spark: SparkSession, name: String, dir: String)(build: => T): T =
    memo.computeIfAbsent((spark, name, dir), _ => new Once(build)).value.asInstanceOf[T]

  /** A memoized relation that survives the sweep. `plan` is evaluated
    * OUTSIDE [[pinning]], so whatever it checkpoints on the way (the
    * connected-components rounds, a pair relation) stays query-local and
    * is swept; only the final `localCheckpoint()` is pinned. That
    * checkpoint is eager, disk-backed and truncates the lineage: its
    * blocks are the only copy, so they must never be swept. */
  def sharedRelation(spark: SparkSession, name: String, dir: String)(
      plan: => DataFrame): DataFrame =
    memoized(spark, name, dir) {
      val p = plan
      pinning(spark)(p.localCheckpoint())
    }

  private val scratchDirs = new ConcurrentLinkedQueue[String]()

  private lazy val cleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      scratchDirs.forEach(d => deleteRecursively(d))))

  /** A fresh directory whose name starts with `prefix`, removed when the
    * JVM exits. `inMemory` puts it on tmpfs (`/dev/shm`) when that is
    * writable: streaming checkpoints fsync their offset and commit logs
    * every micro-batch, pure latency on disk for a bounded fixture. Table
    * and parquet scratch, whose size grows with the scale factor, stays
    * on disk. A real deployment points both at durable storage; only the
    * fixtures make this trade. */
  def scratchDir(prefix: String, inMemory: Boolean): String = {
    cleanupHook
    val shm = Paths.get("/dev/shm")
    val dir =
      if (inMemory && Files.isDirectory(shm) && Files.isWritable(shm))
        Files.createTempDirectory(shm, prefix).toString
      else Files.createTempDirectory(prefix).toString
    scratchDirs.add(dir)
    dir
  }

  /** Remove a scratch directory now rather than at JVM exit. */
  def deleteScratch(dir: String): Unit = {
    scratchDirs.remove(dir)
    deleteRecursively(dir)
  }

  private def deleteRecursively(dir: String): Unit =
    try {
      import scala.jdk.CollectionConverters._
      val root = Paths.get(dir)
      if (Files.exists(root))
        Files.walk(root).iterator().asScala.toSeq.reverseIterator
          .foreach(p => try Files.deleteIfExists(p) catch { case _: Throwable => () })
    } catch { case _: Throwable => () }

  /** Run `body` for query `name`, then sweep the blocks it pinned, the
    * broadcasts it created and the temp views it registered (streaming
    * fixtures leave memory-sink tables holding up to ~100k driver-side
    * rows each; the relational queries' table views are re-registered by
    * every query that needs them, so dropping is always safe). */
  def run[T](spark: SparkSession, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val broadcastsBefore = GraftBroadcasts.held(sc)
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
      GraftBroadcasts.release(sc, GraftBroadcasts.held(sc) -- broadcastsBefore)
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
