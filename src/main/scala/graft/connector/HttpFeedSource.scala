package graft.connector

import java.util
import java.util.concurrent.{Callable, ExecutionException, Executors, Future}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.udf.CloudEventsParse

/** DSv2 HTTP feed source — the subscription half of the spec
  * (`README.md:84-146`) as a Structured Streaming `MicroBatchStream`:
  *
  *  - offset ≙ `lastEventId` (string; "" = feed start, `README.md:300`);
  *    the checkpoint WAL is the durable cursor the spec mandates
  *    (`README.md:111`).
  *  - `latestOffset` performs the polling loop: long-poll GET with the
  *    `timeout` param (`README.md:126`, :298-301), then page to the head
  *    (empty array = end of feed, `README.md:79-82`).
  *  - each micro-batch binds the half-open id range (start, end]; the
  *    executor re-fetches those pages — deterministic for a fixed cursor
  *    (`README.md:332`), so ranges are replayable and the spec's
  *    at-least-once delivery (`README.md:113`) becomes exactly-once inside
  *    the pipeline.
  *  - a micro-batch is ONE ordered InputPartition unless a pinned
  *    Trigger.AvailableNow backlog is fanned out (`backfillPartitions`).
  *    Steady-state micro-batches are a page or two and read serially.
  *    A pinned AvailableNow range on a validated seq-prefixed feed, like
  *    a bounded batch read, keeps up to four chunks of its range in
  *    flight inside each partition ([[HttpFeedPartitionReader]]) and
  *    still emits in id order.
  *    Parallelism across keys comes after ingestion, by repartitioning on
  *    `subject` (SURVEY.md §3.2).
  *
  * Batch mode (`spark.read`) is bounded replay: find the head at plan time
  * ([[HttpFeedClient.resolveHead]] — O(log feed) seq probes on
  * sequence-prefixed ids, a serial walk only for opaque ids or a pushed
  * LIMIT's page budget), read (start, head] as one partition — or, with
  * `backfillPartitions=N`, as N cursor-range partitions (the
  * `feed_backfill_partition_plan` split wired into the source; ranges are
  * replayable by the `lastEventId` contract, `README.md:150-159`), so the
  * initial full-history replay scales out instead of serializing through
  * one task.
  */
class HttpFeedProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "http-feed"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CloudEventsParse.envelopeSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    // feeds may be auth-protected (Basic/Bearer, reference README.md:321-328)
    val auth = Option(opts.get("bearerToken")).map(t => s"Bearer $t")
      .orElse(for {
        u <- Option(opts.get("basicUser"))
        p <- Option(opts.get("basicPass"))
      } yield "Basic " + java.util.Base64.getEncoder
        .encodeToString(s"$u:$p".getBytes("UTF-8")))
    new HttpFeedTable(HttpFeedOptions(
      url = Option(opts.get("url"))
        .getOrElse(throw new IllegalArgumentException("http-feed requires option 'url'")),
      timeoutMs = Option(opts.get("timeoutMs")).map(_.toLong).getOrElse(5000L),
      startId = Option(opts.get("startId")).getOrElse(""),
      auth = auth,
      backfillPartitions =
        Option(opts.get("backfillPartitions")).map(_.toInt).getOrElse(1)))
  }
}

case class HttpFeedOptions(url: String, timeoutMs: Long, startId: String,
                           auth: Option[String] = None,
                           /** Bounded-replay (batch) fan-out: split the
                             * (startId, head] range into this many
                             * equi-depth cursor-range InputPartitions.
                             * 1 = the ordered single-partition read. */
                           backfillPartitions: Int = 1)

class HttpFeedTable(opts: HttpFeedOptions) extends Table with SupportsRead {
  override def name(): String = s"http-feed(${opts.url})"
  override def schema(): StructType = CloudEventsParse.envelopeSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new HttpFeedScanBuilder(opts)
}

/** Scan builder with the two pushdowns the protocol natively supports
  * (SURVEY.md §4): a `id > cursor` filter becomes the `lastEventId` start
  * offset (the server skips those pages entirely, `README.md:12`), and a
  * LIMIT becomes a page budget (bounded batched pagination,
  * `README.md:11`). Both cut HTTP round-trips, not just rows.
  */
class HttpFeedScanBuilder(opts: HttpFeedOptions) extends ScanBuilder
    with SupportsPushDownLimit with SupportsPushDownFilters {

  private var startId: String = opts.startId
  private var limit: Option[Int] = None
  private var pushed: Array[sources.Filter] = Array.empty

  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }
  // the source still returns at most `limit` rows but Spark keeps its own
  // limit for safety across pages
  override def isPartiallyPushed: Boolean = true

  override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
    // Only a strict `id > v` maps onto the exclusive lastEventId cursor; a
    // `>=` cannot (the cursor always skips the named id), so it stays purely
    // residual and is NOT reported as pushed.
    pushed = filters.collect {
      case f @ sources.GreaterThan("id", v: String) => if (v > startId) startId = v; f
    }
    filters // all remain residual: cursor advance is an optimization, Spark re-checks
  }
  override def pushedFilters(): Array[sources.Filter] = pushed

  override def build(): Scan =
    new HttpFeedScan(opts.copy(startId = startId), limit)
}

class HttpFeedScan(opts: HttpFeedOptions, limit: Option[Int] = None) extends Scan {
  override def readSchema(): StructType = CloudEventsParse.envelopeSchema
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new HttpFeedMicroBatchStream(opts)
  // ONE Batch per scan: Spark calls toBatch more than once on the same
  // Scan (observed twice per action), and each Batch resolves the head
  // over the wire — a fresh instance per call would repeat those requests
  // AND could pin a different head if the feed grew between calls. The
  // memoized Batch memoizes its partition plan too.
  private lazy val batch: Batch = new HttpFeedBatch(opts, limit)
  override def toBatch: Batch = batch
  override def supportedCustomMetrics(): Array[CustomMetric] = HttpFeedMetrics.supported
}

/** Scan metrics each [[HttpFeedPartitionReader]] reports, summed over the
  * scan's tasks (they show on `BatchScanExec.metrics` under these names). */
object HttpFeedMetrics {
  val Requests = "feedRequests"
  val CacheHits = "pageCacheHits"
  val StallMs = "readAheadStallMs"
  def supported: Array[CustomMetric] =
    Array(new FeedRequestsMetric, new PageCacheHitsMetric, new ReadAheadStallMetric)
  private[connector] def task(metric: String, v: Long): CustomTaskMetric =
    new CustomTaskMetric {
      override def name(): String = metric
      override def value(): Long = v
    }
}
abstract class HttpFeedSumMetric(metric: String, desc: String) extends CustomSumMetric {
  override def name(): String = metric
  override def description(): String = desc
}
class FeedRequestsMetric extends HttpFeedSumMetric(HttpFeedMetrics.Requests,
  "feed pages fetched from the server (retries not counted)")
class PageCacheHitsMetric extends HttpFeedSumMetric(HttpFeedMetrics.CacheHits,
  "feed pages served by the page cache")
class ReadAheadStallMetric extends HttpFeedSumMetric(HttpFeedMetrics.StallMs,
  "ms the readers waited for read-ahead chunks")

/** Offset = the lastEventId cursor, JSON-serialized into the WAL. */
case class HttpFeedOffset(lastEventId: String) extends Offset {
  override def json(): String =
    HttpFeedOffset.mapper.writeValueAsString(
      HttpFeedOffset.mapper.createObjectNode().put("lastEventId", lastEventId))
}
object HttpFeedOffset {
  private val mapper = new ObjectMapper()
  def fromJson(json: String): HttpFeedOffset =
    HttpFeedOffset(mapper.readTree(json).get("lastEventId").asText())
}

class HttpFeedMicroBatchStream(opts: HttpFeedOptions)
    extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  /** The Trigger.AvailableNow pin: its end id and the fan-out's split
    * inputs (the validated seq scheme or the page histogram). */
  @volatile private var availableNow: Option[HttpFeedClient.Head] = None

  override def initialOffset(): Offset = HttpFeedOffset(opts.startId)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** Trigger.AvailableNow: pin the head once; batches never pass it. An
    * AvailableNow run over a year of history IS the backfill job, just
    * driven through the streaming engine for its checkpoint/restart
    * semantics — so the pin is the bounded batch read's head resolution
    * ([[HttpFeedClient.resolveHead]]; its first request long-polls, so an
    * idle feed waits up to timeoutMs for data before pinning an empty
    * range). On validated seq-prefixed ids it costs O(log feed) requests
    * and the fan-out later splits any (s, e] by sequence arithmetic alone;
    * otherwise the serial walk's page histogram (free — same requests
    * either way) lets a `backfillPartitions=N` replay fan the pinned
    * backlog out the same way the bounded batch read does. */
  override def prepareForTriggerAvailableNow(): Unit =
    availableNow = Some(HttpFeedClient.resolveHead(opts.url, opts.startId,
      opts.timeoutMs, opts.auth))

  /** Steady state: one long-poll page + one empty-page confirm. Catch-up
    * after downtime (a backlog past [[HttpFeedClient.resolveHead]]'s
    * serial-page budget) switches to the O(log backlog) synthesized-cursor
    * probe on validated seq feeds instead of serially paging the whole
    * backlog through the driver. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    HttpFeedOffset(availableNow.fold {
      val from = start.asInstanceOf[HttpFeedOffset].lastEventId
      HttpFeedClient.probeHead(opts.url, from, opts.timeoutMs, auth = opts.auth)
    }(_.id))

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("use latestOffset(start, limit)")

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[HttpFeedOffset].lastEventId
    val e = end.asInstanceOf[HttpFeedOffset].lastEventId
    if (s == e) Array.empty
    else {
      // Opt-in fan-out of a pinned AvailableNow backlog. Steady-state
      // micro-batches — and consumers that kept the default — stay ONE
      // ordered partition; fanning out trades intra-batch arrival order
      // for parallelism, which stateful downstreams (that repartition by
      // key) never observed anyway.
      //
      // Coverage guard (both strategies): fan out ONLY when the plan can
      // end EXACTLY at `e`. A checkpointed (s, e] written by a DIFFERENT
      // run (e.g. a ProcessingTime run restarted as AvailableNow, or a
      // server pageSize change between runs) can put `e` outside this
      // run's pinned plan — a fan-out ending short of `e` would silently
      // drop rows the WAL already records as consumed. The single-
      // partition fallback reads exactly (s, e] regardless, so
      // exactly-once survives any checkpoint/plan mismatch.
      //
      // Seq strategy: `e` must BE this run's pinned end (then sequence
      // arithmetic splits (s, e] with no further requests; the final
      // partition ends at `e` itself by construction). Histogram
      // strategy: the page slice's last boundary must be `e` (batch
      // bounds are page-aligned by construction, so the slice is exact).
      val seqFan: Option[Array[InputPartition]] =
        if (opts.backfillPartitions > 1)
          availableNow.filter(_.id == e).flatMap(_.seq).flatMap { pin =>
            val w = pin.width
            val lo = if (s.isEmpty) Some(pin.firstSeq - 1)
                     else HttpFeedBackfill.seqBoundOf(s, w)
            val hi = HttpFeedBackfill.seqBoundOf(e, w)
            for { l <- lo; h <- hi; if h > l } yield
              HttpFeedBackfill.seqRangePartitions(opts, s, e,
                HttpFeedBackfill.uniformSeqBounds(l, h, opts.backfillPartitions), w)
          }
        else None
      seqFan.getOrElse {
        val slice =
          if (opts.backfillPartitions > 1)
            availableNow.fold(IndexedSeq.empty[(String, Int)])(_.pages)
              .filter(p => p._1 > s && p._1 <= e)
          else IndexedSeq.empty
        if (slice.nonEmpty && slice.last._1 == e)
          HttpFeedBackfill.equiDepthPartitions(opts, s, slice)
        else
          // the pin's validated seq scheme lets the one reader read ahead;
          // a range ending anywhere else (ProcessingTime batches, a foreign
          // checkpoint end) reads serially
          Array(HttpFeedInputPartition(opts.url, s, e, auth = opts.auth,
            seqWidth = availableNow.filter(_.id == e).flatMap(_.seq).map(_.width)))
      }
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new HttpFeedReaderFactory

  override def deserializeOffset(json: String): Offset = HttpFeedOffset.fromJson(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

class HttpFeedBatch(opts: HttpFeedOptions, limit: Option[Int] = None) extends Batch {
  // Spark may call planInputPartitions more than once on the same Batch
  // (measured: a count() over the source invoked it twice — a second head
  // resolution over the wire that could even pin a DIFFERENT head if the
  // feed grew between calls). Plan once, memoize.
  private lazy val planned: Array[InputPartition] = plan()

  override def planInputPartitions(): Array[InputPartition] = planned

  /** Bounded-replay plan. A pushed LIMIT keeps the single-partition path
    * and its page budget: the head walk stops after `limit` events, which
    * caps planning-time round-trips, and a global row limit over a
    * fan-out would admit rows from the wrong end of the order. Every other
    * read finds the head with [[HttpFeedClient.resolveHead]] and, with
    * `backfillPartitions=N`, splits (startId, head] by the strategy that
    * found it (the spec blesses both id schemes, `README.md:156-159`):
    *
    *  1. **Sequence-prefixed ids — O(log feed) plan.** Seq prefixes are
    *     positionally interpretable (`README.md:159`) and the server must
    *     honor cursors for ABSENT ids (`README.md:153-154`), so the head
    *     is found by binary-searching synthesized `lpad(seq)::` cursors
    *     and (start, head] splits by sequence arithmetic
    *     ([[HttpFeedBackfill.seqSplitBounds]]) — no walk on the driver,
    *     whatever N is, so a single-partition read fetches each page once.
    *  2. **Opaque/UUIDv6 ids, a seq-parsing server, or a range of at most
    *     two pages — histogram split.** The serial walk that found the
    *     head recorded the page histogram (free — same requests either
    *     way) and [[HttpFeedBackfill.equiDepthPartitions]] emits
    *     page-aligned ranges. */
  private def plan(): Array[InputPartition] = limit match {
    case Some(l) =>
      val head = HttpFeedClient.drainHead(opts.url, opts.startId, 0,
        maxEvents = l, auth = opts.auth)
      if (head == opts.startId) Array.empty
      else Array(HttpFeedInputPartition(opts.url, opts.startId, head, limit, opts.auth))
    case None =>
      val head = HttpFeedClient.resolveHead(opts.url, opts.startId, 0, opts.auth)
      if (head.id == opts.startId) Array.empty
      else if (opts.backfillPartitions <= 1)
        Array(HttpFeedInputPartition(opts.url, opts.startId, head.id, auth = opts.auth,
          seqWidth = head.seq.map(_.width)))
      else head.seq match {
        case Some(s) =>
          // Sequences may have gaps (a DB sequence is monotonic, not
          // dense), so equi-WIDTH seq ranges approximate equi-DEPTH row
          // buckets; each range is exact in COVERAGE (the union telescopes
          // to (startId, headId]) and only approximate in balance, which
          // the density refinement repairs on heavily-compacted feeds at
          // O(N) extra requests — still no O(feed) walk.
          val bounds = HttpFeedBackfill.seqSplitBounds(opts, s.firstSeq - 1,
            s.headSeq, s.width, s.samples)
          HttpFeedBackfill.seqRangePartitions(opts, opts.startId, head.id, bounds, s.width)
        case None =>
          HttpFeedBackfill.equiDepthPartitions(opts, opts.startId, head.pages)
      }
  }

  override def createReaderFactory(): PartitionReaderFactory = new HttpFeedReaderFactory
}

/** Shared equi-depth range splitter for bounded replays (batch `spark.read`
  * AND a pinned Trigger.AvailableNow backlog): assigns page `j` with
  * cumulative-before count `cumb` to bucket `cumb·N div total` — the
  * `feed_backfill_partition_plan` operator's exact formula — and emits one
  * (startId, endId] InputPartition per non-empty bucket. Ranges are
  * page-aligned (a page is never split) and replayable by the spec's own
  * `lastEventId` contract (`README.md:150-159`): each executor re-pages
  * its range independently, so the initial 100 TB replay — the longest
  * job this source ever runs — scales by N instead of serializing through
  * one task. Rows arrive partition-ordered, not globally ordered; a
  * consumer needing the feed's total order sorts by id, which at this
  * scale it had to do anyway after any shuffle. */
private[graft] object HttpFeedBackfill {

  /** Sequence covered through-and-including by an offset id under the seq
    * scheme: a real id `lpad(k)::suffix` covers through k; a synthesized
    * bare cursor `lpad(k)::` positions strictly BEFORE sequence k, so it
    * covers only through k − 1. None when the id does not parse with the
    * feed's pad width (→ caller falls back to a single partition). */
  def seqBoundOf(id: String, width: Int): Option[Long] =
    HttpFeedClient.parseSeqId(id).collect {
      case (k, w) if w == width =>
        if (id.length == width + graft.udf.SeqId.Sep.length) k - 1 else k
    }

  /** Overflow-safe equi-width internal boundaries for (loSeq, hiSeq]:
    * bound(i) = ⌊loSeq + span·i/n⌋ computed as
    * `loSeq + span/n·i + span%n·i/n` — exact (span = q·n + r ⇒
    * span·i/n = q·i + ⌊r·i/n⌋, and r·i < n² ≤ 2⁶² for Int partition
    * counts) where the naive `span·i` wraps Long for 18-digit sequence
    * bases ([[HttpFeedClient.parseSeqId]] admits prefixes to 18 digits). */
  def uniformSeqBounds(loSeq: Long, hiSeq: Long, n: Int): IndexedSeq[Long] = {
    val span = hiSeq - loSeq
    val nn = n.toLong
    (1L until nn).map(i => loSeq + span / nn * i + span % nn * i / nn)
  }

  /** Pick the internal split boundaries for (loSeq, headSeq]: uniform
    * sequence arithmetic when the probe pages saw roughly one live
    * density everywhere, or quantile boundaries from a probed density
    * model when they did not (heavily-compacted/gappy feeds, where
    * equi-width ranges give skewed partition depths). The gap check is
    * FREE: the head-probe's own pages sampled the backlog (gallop =
    * geometric stride over the whole span, bisection = concentrated near
    * the head), so disagreement among them is direct evidence of
    * non-uniform live density. */
  def seqSplitBounds(opts: HttpFeedOptions, loSeq: Long, headSeq: Long,
                     width: Int,
                     samples: IndexedSeq[HttpFeedClient.SeqSample]): IndexedSeq[Long] = {
    // span-1 samples (a probe that landed on the head's own sequence)
    // carry no density information — keeping them would false-flag every
    // sparse-but-uniform feed as gappy
    val densities = samples.collect {
      case s if s.seqLast > s.seqFirst && s.count > 0 =>
        s.count.toDouble / (s.seqLast - s.seqFirst + 1)
    }
    val gappy = densities.nonEmpty && densities.max > 3.0 * densities.min
    if (gappy)
      densityQuantileBounds(opts, loSeq, headSeq, width)
    else
      uniformSeqBounds(loSeq, headSeq, opts.backfillPartitions)
  }

  /** Balance refinement for gappy/compacted seq feeds at O(K) extra
    * requests (K = max(16, 2N) — bounded, never the O(feed) walk): probe
    * one page at the start of each of K equal-width grid segments of
    * (loSeq, headSeq]. Each probe page is an EXACT local measurement —
    * `count` events over a known sequence span — so the segments form a
    * piecewise-constant live-density model (leading gap [gridStart,
    * firstLiveSeq) is exactly empty; the page's density extends through
    * the segment). The N−1 internal boundaries then sit at the model
    * CDF's N-quantiles, interpolated within their segment. Approximate in
    * balance (the model is sampled), exact in coverage (boundaries only
    * feed [[seqRangePartitions]], whose union telescopes regardless). */
  def densityQuantileBounds(opts: HttpFeedOptions, loSeq: Long, headSeq: Long,
                            width: Int): IndexedSeq[Long] = {
    val n = opts.backfillPartitions
    val k = math.max(16, 2 * n)
    val grid = uniformSeqBounds(loSeq, headSeq, k)
    val segStarts = loSeq +: grid
    val segEnds = grid :+ headSeq
    // (firstLiveSeq, density, mass) per grid segment (segStart, segEnd]
    val segs = segStarts.zip(segEnds).map { case (g0, g1) =>
      if (g1 <= g0) (g1, 0.0, 0.0)
      else {
        val page = HttpFeedClient.fetchPage(opts.url,
          HttpFeedClient.seqCursor(g0 + 1, width), 0, opts.auth,
          cache = Some(HttpFeedClient.sharedCache))
        HttpFeedClient.seqSample(page) match {
          case Some(HttpFeedClient.SeqSample(f, l, c)) if f <= g1 =>
            val d = c.toDouble / math.max(1L, l - f + 1)
            (f, d, d * (g1 - f + 1))
          case _ => (g1, 0.0, 0.0) // segment is entirely a gap
        }
      }
    }
    val total = segs.iterator.map(_._3).sum
    if (total <= 0) return uniformSeqBounds(loSeq, headSeq, n)
    (1 until n).map { i =>
      val q = total * i / n
      var cum = 0.0
      var bound = headSeq
      var found = false
      segs.zip(segEnds).foreach { case ((f, d, m), g1) =>
        if (!found) {
          if (cum + m >= q && d > 0) {
            val within = math.max(1L, math.round((q - cum) / d))
            bound = math.min(g1, f - 1 + within)
            found = true
          } else cum += m
        }
      }
      math.min(math.max(bound, loSeq + 1), headSeq)
    }
  }

  /** Emit the (startId, endId] partitions for a seq-arithmetic split:
    * internal boundary b becomes the synthesized cursor(b+1) — "after all
    * events with seq ≤ b", a legal wire value per the positional-cursor
    * contract the planner VALIDATED at detect time — and the final
    * partition ends at `endId` itself (a real id when the head resolve
    * succeeded). Deduped/clamped so the union telescopes exactly to
    * (startId, endId] whatever the boundary quality.
    *
    * The partitions carry the width, so their readers read ahead, when
    * they all run at once (no more of them than the session's default
    * parallelism). Past that, partitions waiting for a core keep the
    * cores busy, and the chunks' extra requests only add load: with 8
    * partitions on 4 cores, ConnectorBench's pageSize=100 replay read
    * 15–20 % slower with read-ahead. */
  def seqRangePartitions(opts: HttpFeedOptions, startId: String, endId: String,
                         internalBounds: IndexedSeq[Long],
                         width: Int): Array[InputPartition] = {
    val ranges = ArrayBuffer[(String, String)]()
    var prevId = startId
    internalBounds.distinct.sorted.foreach { b =>
      val bid = HttpFeedClient.seqCursor(b + 1, width)
      if (bid > prevId && bid < endId) {
        ranges += prevId -> bid
        prevId = bid
      }
    }
    ranges += prevId -> endId
    val cores = SparkSession.getActiveSession.fold(Int.MaxValue)(_.sparkContext.defaultParallelism)
    val readAhead = Some(width).filter(_ => ranges.length <= cores)
    ranges.map { case (s, e) =>
      HttpFeedInputPartition(opts.url, s, e, auth = opts.auth, seqWidth = readAhead)
    }.toArray
  }

  def equiDepthPartitions(opts: HttpFeedOptions, startId: String,
                          pages: IndexedSeq[(String, Int)]): Array[InputPartition] = {
    val total = pages.iterator.map(_._2.toLong).sum
    val n = opts.backfillPartitions.toLong
    val parts = Array.newBuilder[InputPartition]
    var rangeStart = startId
    var bucketEnd = rangeStart // last page id seen in the current bucket
    var bucket = 0L
    var cumb = 0L
    pages.foreach { case (pageLastId, count) =>
      val b = cumb * n / total
      if (b != bucket) {
        parts += HttpFeedInputPartition(opts.url, rangeStart, bucketEnd,
          auth = opts.auth)
        rangeStart = bucketEnd
        bucket = b
      }
      bucketEnd = pageLastId
      cumb += count
    }
    parts += HttpFeedInputPartition(opts.url, rangeStart, bucketEnd,
      auth = opts.auth)
    parts.result()
  }
}

/** The (startId, endId] page range one task reads (row budget optional;
  * the auth header rides along to the executor — a production deployment
  * would resolve credentials from a provider instead of the plan).
  * `seqWidth` is the pad width of the feed's sequence prefix when the
  * planner validated that the server resolves made-up cursors
  * positionally ([[HttpFeedClient.resolveHead]]); it lets the reader read
  * ahead. */
case class HttpFeedInputPartition(url: String, startId: String, endId: String,
                                  limit: Option[Int] = None,
                                  auth: Option[String] = None,
                                  seqWidth: Option[Int] = None)
    extends InputPartition

class HttpFeedReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new HttpFeedPartitionReader(partition.asInstanceOf[HttpFeedInputPartition])
}

/** Executor-side reader: pages through (startId, endId] with the protocol's
  * cursor loop (`README.md:95-109`), stopping at the empty page or once the
  * bound is passed. Rows beyond endId (data that arrived after the batch
  * was planned) are excluded so the batch is exactly the planned range.
  *
  * Read-ahead: the cursor loop is serial, one round trip per page. But a
  * server must resolve cursors positionally even for absent ids
  * (`README.md:153-159`), so on a range that carries a validated
  * `seqWidth` the reader makes up cursors and pages sub-ranges at once.
  * It fetches its first page serially, cuts the rest of the range into
  * chunks of [[HttpFeedPartitionReader.ChunkPages]] times that page's
  * sequence span ([[HttpFeedPartitionReader.ChunkPlan]]), keeps up to
  * [[HttpFeedPartitionReader.ReadAhead]] chunks in flight on a shared
  * daemon pool, and emits them strictly in range order. The rows, their
  * order and the range are those of the serial loop, so a retried task
  * emits the same rows in the same order. A chunk buffers at most
  * [[HttpFeedPartitionReader.ChunkCap]] pages; the reader pages the rest
  * of a fuller chunk itself, so chunk reads never wait on it, and a
  * reader holds at most ReadAhead × ChunkCap pages. Ranges without a
  * width (opaque/UUIDv6 ids, seq-parsing servers), a pushed LIMIT and
  * ranges shorter than two chunks keep the serial loop.
  *
  * Compaction racing a planned range is safe: cursor POSITIONS survive
  * deletion (`README.md:153-154`), so if the server compacts between
  * planning and reading, the task still terminates, stays within
  * (startId, endId], and returns exactly the rows that survive in that
  * range — the batch legitimately shrinks, it never hangs, loses a
  * survivor, or spills past its bound (pinned by HttpSourceSuite's
  * compaction-between-planning-and-reading test).
  */
class HttpFeedPartitionReader(p: HttpFeedInputPartition)
    extends PartitionReader[InternalRow] {
  import HttpFeedPartitionReader._

  private val requests = new AtomicLong()
  private val cacheHits = new AtomicLong()
  private var stallNs = 0L

  // the stretch the reader pages itself: (cursor, stretchEnd]; None once
  // it is done or handed to the chunks
  private var cursor: Option[String] = Some(p.startId)
  private var stretchEnd = p.endId
  private var firstPage = true
  // the read-ahead chunks not yet started, and the started ones in range
  // order, each with the end of its range
  private var chunks: Option[ChunkPlan] = None
  private val inFlight = scala.collection.mutable.Queue.empty[(String, Future[Walk])]
  private var buffered: Iterator[IndexedSeq[InternalRow]] = Iterator.empty
  private var page: IndexedSeq[InternalRow] = IndexedSeq.empty
  private var idx = 0
  private var emitted = 0
  private var current: InternalRow = _

  private def str(n: JsonNode, field: String): UTF8String = {
    val v = n.get(field)
    if (v == null || v.isNull) null else UTF8String.fromString(v.asText())
  }

  private def toRow(n: JsonNode): InternalRow = {
    val timeUs = Option(n.get("time_us")).filterNot(_.isNull).map(_.asLong())
    // datacontenttype passes through from the wire verbatim (non-JSON
    // payloads ride as-is, e.g. base64 data with a binary media type);
    // only a MISSING field takes the spec default (README.md:315)
    val ct = Option[Any](str(n, "datacontenttype"))
      .getOrElse(UTF8String.fromString("application/json"))
    // extension attributes (README.md:318): every envelope key that is not
    // a core attribute survives the wire verbatim as a string entry, in
    // wire order — `traceparent`, `partitionkey`, … Non-textual extension
    // values ride as their compact-JSON rendering.
    val fields = n.fields()
    val extKeys = scala.collection.mutable.ArrayBuffer[Any]()
    val extVals = scala.collection.mutable.ArrayBuffer[Any]()
    while (fields.hasNext) {
      val e = fields.next()
      if (!HttpFeedPartitionReader.CoreAttributes.contains(e.getKey)) {
        extKeys += UTF8String.fromString(e.getKey)
        extVals += (if (e.getValue.isNull) null
          else UTF8String.fromString(
            if (e.getValue.isTextual) e.getValue.asText() else e.getValue.toString))
      }
    }
    val ext = new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(extKeys.toArray),
      new org.apache.spark.sql.catalyst.util.GenericArrayData(extVals.toArray))
    new GenericInternalRow(Array[Any](
      str(n, "specversion"), str(n, "id"), str(n, "type"), str(n, "source"),
      timeUs.map(Long.box).orNull, str(n, "subject"), str(n, "method"),
      ct, str(n, "data"), ext))
  }

  /** One page after `at`. The JVM-wide page cache serves replayed
    * immutable full pages (task retries, restart backfills) without a
    * network round-trip — only pages the server marked `Cache-Control:
    * public, max-age=…` are ever stored (reference README.md:330-332). */
  private def fetch(at: String): HttpFeedClient.Page =
    HttpFeedClient.sharedCache.get(p.url, at, p.auth) match {
      case Some(cached) => cacheHits.incrementAndGet(); cached
      case None =>
        requests.incrementAndGet()
        val fetched = HttpFeedClient.fetchPage(p.url, at, 0, p.auth)
        HttpFeedClient.sharedCache.put(p.url, at, p.auth, fetched)
        fetched
    }

  /** The cursor loop over (from, to], at most `maxPages` pages — the serial
    * read and every read-ahead chunk. Builds the rows of the ids ≤ `to`,
    * so a chunk builds them off the reader's thread. The range is done at
    * the empty page or the page that reaches `to`, else `resume` is the
    * cursor to go on from. */
  private def walk(from: String, to: String, maxPages: Int): Walk = {
    val pages = new ArrayBuffer[IndexedSeq[InternalRow]]()
    var at = from
    while (pages.length < maxPages) {
      if (Thread.currentThread().isInterrupted)
        throw new InterruptedException(s"read of ${p.url} after $at cancelled")
      val fetched = fetch(at)
      if (fetched.isEmpty) return Walk(pages.toIndexedSeq, None)
      val last = fetched.lastId.get
      val kept = if (last <= to) fetched.events
                 else fetched.events.takeWhile(_.get("id").asText() <= to)
      pages += kept.map(toRow)
      if (last >= to) return Walk(pages.toIndexedSeq, None)
      at = last
    }
    Walk(pages.toIndexedSeq, Some(at))
  }

  /** After the first page: hand the rest of the range to read-ahead chunks
    * when the range carries a validated seq width and spans at least two
    * chunks of ChunkPages times the first page's sequence span. */
  private def startReadAhead(first: Walk): Unit =
    for {
      width <- p.seqWidth if p.limit.isEmpty
      from <- first.resume
      page0 <- first.pages.headOption
      (firstSeq, w1) <- page0.headOption.flatMap(r =>
        HttpFeedClient.parseSeqId(r.getUTF8String(1).toString))
      (lastSeq, w2) <- HttpFeedClient.parseSeqId(from)
      endSeq <- HttpFeedBackfill.seqBoundOf(p.endId, width)
      if w1 == width && w2 == width
      span = ChunkPages * (lastSeq - firstSeq + 1) // ≤ 8·10^18: no wrap
      if (endSeq - lastSeq) / span >= 2
    } {
      cursor = None
      chunks = Some(new ChunkPlan(from, lastSeq, p.endId, endSeq, width, page0.length, span))
      topUp()
    }

  private def topUp(): Unit =
    chunks.foreach { plan =>
      while (inFlight.length < ReadAhead && plan.hasNext) {
        val (from, to) = plan.next()
        inFlight.enqueue(to -> pool.submit(new Callable[Walk] {
          override def call(): Walk = walk(from, to, ChunkCap)
        }))
      }
    }

  /** Buffer the next pages in range order — the reader's own stretch one
    * page at a time, else the next chunk. False once the range is done. */
  private def refill(): Boolean = cursor match {
    case Some(at) =>
      val w = walk(at, stretchEnd, 1)
      cursor = w.resume
      buffered = w.pages.iterator
      if (firstPage) { firstPage = false; startReadAhead(w) }
      true
    case None =>
      topUp()
      if (inFlight.isEmpty) false
      else {
        val (end, read) = inFlight.dequeue()
        val t0 = System.nanoTime()
        val w = try read.get() catch { case e: ExecutionException => throw e.getCause }
        stallNs += System.nanoTime() - t0
        chunks.foreach(_.observe(w))
        // a chunk past its page cap leaves the rest of its range to us
        cursor = w.resume
        stretchEnd = end
        buffered = w.pages.iterator
        true
      }
  }

  override def next(): Boolean = {
    if (p.limit.exists(emitted >= _)) return false // pushed-limit row budget
    while (idx >= page.length) {
      if (buffered.hasNext) { page = buffered.next(); idx = 0 }
      else if (!refill()) return false
    }
    current = page(idx); idx += 1; emitted += 1
    true
  }

  override def get(): InternalRow = current

  override def currentMetricsValues(): Array[CustomTaskMetric] = Array(
    HttpFeedMetrics.task(HttpFeedMetrics.Requests, requests.get()),
    HttpFeedMetrics.task(HttpFeedMetrics.CacheHits, cacheHits.get()),
    HttpFeedMetrics.task(HttpFeedMetrics.StallMs, stallNs / 1000000L))

  /** Cancels the chunks still in flight: an interrupted chunk makes no
    * further request. */
  override def close(): Unit = {
    chunks = None
    inFlight.foreach(_._2.cancel(true))
    inFlight.clear()
  }
}

object HttpFeedPartitionReader {
  /** Read-ahead chunks in flight per reader. */
  val ReadAhead = 4
  /** Pages' worth of sequence per chunk (8 × the first page's span). */
  val ChunkPages = 8
  /** Pages one chunk may buffer, so a reader holds at most
    * ReadAhead × ChunkCap pages. */
  val ChunkCap: Int = 2 * ChunkPages

  /** The rows of the pages a [[HttpFeedPartitionReader]] walk kept, and
    * the cursor to go on from when it stopped at its page cap. */
  private[connector] final case class Walk(pages: IndexedSeq[IndexedSeq[InternalRow]],
                                           resume: Option[String])

  /** The read-ahead chunks of (fromId, endId], made one at a time: `span`
    * sequences each after `fromSeq`, fromId's sequence, with the same
    * made-up `seqCursor(b + 1)` bounds as a seq partition plan
    * ([[HttpFeedBackfill.seqRangePartitions]]); the last chunk ends at
    * endId itself and takes the rest once less than two spans remain, so
    * the chunks telescope exactly to the range. Each finished chunk
    * adapts the span: halved after a chunk that ran past ChunkCap, and
    * doubled after one that found less than half ChunkPages full pages
    * of events — so a range that grows sparser after its first page does
    * not cost a request per nearly empty chunk. */
  private[connector] final class ChunkPlan(fromId: String, fromSeq: Long, endId: String,
                                           endSeq: Long, width: Int, pageEvents: Int,
                                           private var span: Long)
      extends Iterator[(String, String)] {
    private var from = fromId
    private var at = fromSeq
    override def hasNext: Boolean = at < endSeq
    override def next(): (String, String) = {
      val hi = if ((endSeq - at) / span < 2) endSeq else at + span
      val to = if (hi == endSeq) endId else HttpFeedClient.seqCursor(hi + 1, width)
      val chunk = from -> to
      from = to
      at = hi
      chunk
    }
    def observe(w: Walk): Unit =
      if (w.resume.isDefined) span = math.max(1L, span / 2)
      else if (w.pages.iterator.map(_.length).sum < pageEvents * ChunkPages / 2 &&
               span < endSeq) span *= 2 // endSeq < 10^18: no wrap
  }

  private lazy val pool = Executors.newCachedThreadPool(r => {
    val t = new Thread(r, "http-feed-read-ahead"); t.setDaemon(true); t
  })

  /** Core envelope attributes (README.md:306-316 plus the engine's
    * `time_us` metadata twin of `time`); everything else is an extension
    * attribute (README.md:318). */
  private[connector] val CoreAttributes: Set[String] = Set(
    "specversion", "id", "type", "source", "time", "time_us",
    "subject", "method", "datacontenttype", "data")
}
