package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** User-facing feed-processing API over ANY DataFrame holding an ordered
  * event feed (reference `README.md` semantics) — DataFrame-in/
  * DataFrame-out, column-parameterized. The `graft.ops.FeedOps` query map
  * binds these semantics to the benchmark fixture tables.
  */
object Feeds {

  /** Resume a feed scan strictly after `cursor` (the `lastEventId`
    * contract, `README.md:12,150-154`): the predicate pushes into the
    * source scan, so pages at or before the cursor are never read. */
  def scanAfter(feed: DataFrame, id: Column, cursor: Column): DataFrame =
    feed.where(id > cursor)

  /** One batched page: the first `n` events after the cursor. */
  def page(feed: DataFrame, id: Column, cursor: Column, n: Int): DataFrame =
    scanAfter(feed, id, cursor).orderBy(id).limit(n)

  /** The feed head offset (what a streaming source's `latestOffset`
    * returns, `README.md:150-151`). */
  def latestOffset(feed: DataFrame, id: Column): DataFrame =
    feed.agg(max(id).as("latest_offset"))

  /** At-least-once → effectively-once: drop redelivered events by id
    * (`README.md:113-114`). */
  def dedupById(feed: DataFrame, idColumn: String): DataFrame =
    feed.dropDuplicates(idColumn)

  /** Aggregate-feed compaction (`README.md:184-192`): keep only the
    * newest entry per subject, newest = greatest `order`. One shuffle on
    * the subject key, with one row per key per task on the map side:
    * with [[graft.catalyst.GraftExtensions]] installed the optimizer
    * rewrites this window alone into a partial+final `max_by` aggregate.
    * Under [[readModel]] it does not: the optimizer folds the tombstone
    * filter into `__rn = 1`, the rewrite's exact pattern no longer
    * matches, and Spark's own partial `WindowGroupLimit` does the
    * map-side cut before the exchange instead (pinned by
    * RewriteRuleSuite). */
  def compactLatest(feed: DataFrame, subject: Column, order: Column): DataFrame = {
    val w = Window.partitionBy(subject).orderBy(order.desc)
    feed.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Read-model materialization (`README.md:168-179,290-292`): latest
    * full state per LIVE subject — compaction then tombstone removal
    * (`isTombstone` evaluated on the surviving latest row). */
  def readModel(feed: DataFrame, subject: Column, order: Column,
                isTombstone: Column): DataFrame =
    compactLatest(feed, subject, order).filter(!isTombstone)

  /** Consumer-side fan-in of several feeds into one chronological stream
    * (`README.md:9`): union by name. Callers order by their (time,
    * source, id) key when a total order is required. */
  def mergeFeeds(feeds: Seq[DataFrame]): DataFrame =
    feeds.reduce(_ unionByName _)

  /** Sequence-prefixed order-key codec (`README.md:159`). */
  def seqIdEncode(seq: Column, suffix: Column): Column =
    graft.udf.SeqId.encode(seq, suffix)
  def seqIdDecode(id: Column): Column =
    graft.udf.SeqId.decodeSeq(id)
}
