package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftTestStorage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.storage.GraftBroadcasts
import org.scalatest.funsuite.AnyFunSuite
import graft.api.QueryHygiene

/** The shared-relation memo against the hygiene sweep, the broadcasts the
  * sweep releases, and the rule that keeps session-lifetime state in
  * `QueryHygiene` alone. */
class QueryHygieneSuite extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
  private def broadcasts: Set[Long] = GraftBroadcasts.held(spark.sparkContext)

  /** A hash join with a broadcast string-keyed build side of 1000 rows. */
  private def broadcastJoin: DataFrame = {
    val keys = spark.range(1000).select(concat(lit("k"), col("id")).as("k"), col("id").as("v"))
    spark.range(20000).select(concat(lit("k"), col("id") % 1000).as("k"))
      .join(broadcast(keys), "k")
  }

  private def broadcastJoins(df: DataFrame): Int =
    new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case j: BroadcastHashJoinExec => j
    }.size

  test("a broadcast join inside run leaves none of its broadcasts and gives back driver storage") {
    val sc = spark.sparkContext
    val before = broadcasts
    val used0 = GraftTestStorage.storageUsed(sc)
    var created = Set.empty[Long]
    var usedInside = 0L
    var listedInside = Set.empty[Long]
    QueryHygiene.run(spark, "hygiene_broadcast") {
      val df = broadcastJoin
      assert(df.agg(count(lit(1)), sum("v")).head().toSeq === Seq(20000L, 20L * 499500L))
      assert(broadcastJoins(df) === 1)
      created = broadcasts -- before
      usedInside = GraftTestStorage.storageUsed(sc)
      listedInside = GraftTestStorage.masterBroadcasts(sc).intersect(created)
    }
    assert(created.nonEmpty && listedInside.nonEmpty)
    assert(usedInside > used0, "the hash relation sits in driver storage while the query runs")
    assert(broadcasts.intersect(created).isEmpty, "run must release the broadcasts it created")
    assert(GraftTestStorage.storageUsed(sc) <= used0,
      s"driver storage ${GraftTestStorage.storageUsed(sc)} B after run, $used0 B before it")
    // the master hears of the removals without run waiting for it
    val deadline = System.nanoTime() + 10000000000L
    while (GraftTestStorage.masterBroadcasts(sc).intersect(created).nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(20)
    assert(GraftTestStorage.masterBroadcasts(sc).intersect(created).isEmpty,
      "the master still lists a block of a released broadcast")
  }

  test("a broadcast created before run survives it") {
    val sc = spark.sparkContext
    val b = sc.broadcast(Array.tabulate(1000)(i => i.toLong))
    try {
      assert(sc.parallelize(1 to 4, 2).map(_ => b.value.sum).collect().toSeq === Seq.fill(4)(499500L))
      QueryHygiene.run(spark, "hygiene_broadcast_before")(broadcastJoin.count())
      assert(broadcasts.contains(b.id))
      assert(sc.parallelize(1 to 4, 2).map(_ => b.value.length).collect().toSeq === Seq.fill(4)(1000))
    } finally b.destroy()
  }

  test("a shared relation whose plan broadcasts reads the same rows in a later run") {
    val before = broadcasts
    var created = Set.empty[Long]
    val (rel, first) = QueryHygiene.run(spark, "hygiene_broadcast_shared") {
      val r = QueryHygiene.sharedRelation(spark, "hygiene_broadcast_shared", "mem") {
        val df = broadcastJoin
        assert(broadcastJoins(df) === 1)
        df
      }
      created = broadcasts -- before
      (r, r.agg(count(lit(1)), sum("v"), countDistinct("k")).head().toSeq)
    }
    assert(created.nonEmpty && broadcasts.intersect(created).isEmpty)
    assert(first === Seq(20000L, 20L * 499500L, 1000L))
    assert(QueryHygiene.run(spark, "hygiene_broadcast_shared_read") {
      rel.agg(count(lit(1)), sum("v"), countDistinct("k")).head().toSeq
    } === first)
  }

  test("a body that throws still releases its broadcasts") {
    val before = broadcasts
    var created = Set.empty[Long]
    intercept[IllegalStateException] {
      QueryHygiene.run(spark, "hygiene_broadcast_throws") {
        broadcastJoin.count()
        created = broadcasts -- before
        throw new IllegalStateException("the query fails after its join ran")
      }
    }
    assert(created.nonEmpty && broadcasts.intersect(created).isEmpty)
  }

  test("a shared relation survives the sweep; its scaffolding and query-local checkpoints do not") {
    val before = persistentIds
    var scaffold, local = Set.empty[Int]
    val shared = QueryHygiene.run(spark, "hygiene_probe") {
      val rel = QueryHygiene.sharedRelation(spark, "hygiene_probe", "mem") {
        val b = persistentIds
        val base = spark.range(100).toDF("x").localCheckpoint()
        scaffold = persistentIds -- b
        base.select((col("x") * 2).as("y"))
      }
      val b = persistentIds
      spark.range(50).toDF("z").localCheckpoint()
      local = persistentIds -- b
      rel
    }
    val pinnedIds = persistentIds -- before
    assert(scaffold.nonEmpty && local.nonEmpty && pinnedIds.nonEmpty)
    assert(pinnedIds.intersect(scaffold ++ local).isEmpty,
      "the sweep must free the plan's own checkpoints and the query-local one")
    // the checkpoint's blocks are the only copy: reading it proves they stayed
    assert(shared.agg(count(lit(1)), sum("y")).head().toSeq === Seq(100L, 9900L))
    // a later call is the same instance and never rebuilds
    assert(QueryHygiene.sharedRelation(spark, "hygiene_probe", "mem")(
      fail("a memoized relation was rebuilt")) eq shared)
  }

  test("memo keys on (session, name, dir)") {
    val a = QueryHygiene.memoized(spark, "hygiene_key", "d1")(new Object)
    assert(QueryHygiene.memoized(spark, "hygiene_key", "d1")(new Object) eq a)
    assert(QueryHygiene.memoized(spark, "hygiene_key", "d2")(new Object) ne a)
    assert(QueryHygiene.memoized(spark, "hygiene_key2", "d1")(new Object) ne a)
    assert(QueryHygiene.memoized(spark.newSession(), "hygiene_key", "d1")(new Object) ne a)
  }

  test("a build that throws is not memoized; the next call builds again") {
    var attempts = 0
    def build: String = {
      attempts += 1
      if (attempts == 1) throw new IllegalStateException("first build fails")
      "built"
    }
    intercept[IllegalStateException](QueryHygiene.memoized(spark, "hygiene_throws", "mem")(build))
    assert(QueryHygiene.memoized(spark, "hygiene_throws", "mem")(build) === "built")
    assert(attempts === 2)
  }

  test("commonNeighbors on a cold session (nested adjacency build) matches the main session") {
    val d = TestSpark.sfDir
    def rows(s: org.apache.spark.sql.SparkSession) =
      graft.ops.GraphOps.commonNeighbors(s, d).collect().map(_.toSeq).toSeq
        .sortBy(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long]))
    val main = rows(spark)
    assert(main.nonEmpty)
    assert(rows(spark.newSession()) === main)
  }

  test("scratch dirs: in-memory ones go to tmpfs when writable, all are deleted on request") {
    val disk = QueryHygiene.scratchDir("graft_hygiene_disk", inMemory = false)
    val mem = QueryHygiene.scratchDir("graft_hygiene_mem", inMemory = true)
    assert(Paths.get(disk).getParent === Paths.get(System.getProperty("java.io.tmpdir")))
    val shm = Paths.get("/dev/shm")
    if (Files.isDirectory(shm) && Files.isWritable(shm)) assert(Paths.get(mem).getParent === shm)
    Files.createDirectories(Paths.get(disk, "a", "b"))
    Files.write(Paths.get(disk, "a", "b", "f"), Array[Byte](1))
    Seq(disk, mem).foreach { d =>
      QueryHygiene.deleteScratch(d)
      assert(!Files.exists(Paths.get(d)))
    }
  }

  test("only QueryHygiene creates scratch dirs, installs shutdown hooks or keeps session-keyed maps") {
    val owner = Paths.get("src/main/scala/graft/api/QueryHygiene.scala")
    val forbidden = Seq("createTempDirectory", "addShutdownHook", "ConcurrentHashMap[(SparkSession")
    val sources = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
    assert(sources.size > 50, "the lint must see the library sources")
    val hits = for {
      p <- sources if p != owner
      (line, n) <- Files.readAllLines(p).asScala.zipWithIndex
      word <- forbidden if line.contains(word)
    } yield s"$p:${n + 1}: $word"
    assert(hits.isEmpty, "state that outlives a query belongs to QueryHygiene:\n" + hits.mkString("\n"))
  }
}
