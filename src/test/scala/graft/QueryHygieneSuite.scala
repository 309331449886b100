package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.api.QueryHygiene

/** The shared-relation memo against the hygiene sweep, and the rule that
  * keeps session-lifetime state in `QueryHygiene` alone. */
class QueryHygieneSuite extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

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
