package graft.connector

import java.util
import java.util.concurrent.{Callable, ExecutionException, Executors, Future}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.udf.CloudEventsParse

/** DSv2 HTTP feed source — the subscription half of the spec
  * (`README.md:84-146`) as a Structured Streaming `MicroBatchStream`:
  *
  *  - offset ≙ `lastEventId` (string; "" = feed start, `README.md:300`);
  *    the checkpoint WAL is the durable cursor the spec mandates
  *    (`README.md:111`).
  *  - `latestOffset` performs the polling loop: long-poll GET with the
  *    `timeout` param (`README.md:126`, :298-301), then find the head
  *    ([[HttpFeedClient.resolveHead]]): a page or two to the empty array
  *    (end of feed, `README.md:79-82`) in steady state, an O(log backlog)
  *    seq probe after downtime on a seq-prefixed feed.
  *  - each micro-batch binds the half-open id range (start, end]; the
  *    executor re-fetches those pages — deterministic for a fixed cursor
  *    (`README.md:332`), so ranges are replayable and the spec's
  *    at-least-once delivery (`README.md:113`) becomes exactly-once inside
  *    the pipeline.
  *  - a micro-batch is ONE ordered InputPartition unless a pinned
  *    Trigger.AvailableNow backlog is fanned out (`backfillPartitions`).
  *    Steady-state micro-batches are a page or two and read serially.
  *    A pinned AvailableNow range plans exactly as a bounded batch read of
  *    the same range ([[HttpFeedBackfill.partitions]]): the same split,
  *    density-probed boundaries on a gappy seq feed included, and on a
  *    validated seq-prefixed feed up to four chunks of each partition in
  *    flight ([[HttpFeedPartitionReader]]), still emitted in id order.
  *    Parallelism across keys comes after ingestion, by repartitioning on
  *    `subject` (SURVEY.md §3.2) — except under a session built with
  *    [[graft.catalyst.GraftExtensions]], where a bounded batch read
  *    planned as ONE partition reports `SinglePartition`
  *    ([[graft.catalyst.SinglePartitionFeedScan]]): a window, dedup, sort
  *    or aggregate over it plans no exchange and runs in the scan's one
  *    task. That saves a stage and a job per query, and gives up spreading
  *    the downstream per-key work over the shuffle partitions.
  *
  * Batch mode (`spark.read`) is bounded replay: find the head at plan time
  * ([[HttpFeedClient.resolveHead]] — O(log feed) seq probes on
  * sequence-prefixed ids, a serial walk only for opaque ids or a pushed
  * LIMIT's page budget), read (start, head] as one partition — or, with
  * `backfillPartitions=N`, as N cursor-range partitions
  * ([[HttpFeedBackfill.partitions]]; ranges are replayable by the
  * `lastEventId` contract, `README.md:150-159`), so the initial
  * full-history replay scales out instead of serializing through one
  * task.
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
    // a numeric option's value, or its default; a value that does not
    // parse or breaks its rule fails here, naming the option
    def number[T](key: String, default: T, parse: String => T)(ok: T => Boolean, rule: String): T =
      Option(opts.get(key)).fold(default) { v =>
        scala.util.Try(parse(v)).toOption.filter(ok).getOrElse(throw new IllegalArgumentException(
          s"http-feed option '$key' must be $rule, got '$v'"))
      }
    new HttpFeedTable(HttpFeedOptions(
      url = Option(opts.get("url"))
        .getOrElse(throw new IllegalArgumentException("http-feed requires option 'url'")),
      timeoutMs = number("timeoutMs", 5000L, _.toLong)(_ >= 0, "an integer ≥ 0"),
      startId = Option(opts.get("startId")).getOrElse(""),
      auth = auth,
      backfillPartitions = number("backfillPartitions", 1, _.toInt)(_ >= 1, "an integer ≥ 1")))
  }
}

case class HttpFeedOptions(url: String, timeoutMs: Long, startId: String,
                           auth: Option[String] = None,
                           /** Bounded-replay fan-out (a batch read or a
                             * pinned AvailableNow backlog): split the
                             * range into this many cursor-range
                             * InputPartitions. 1 = the ordered
                             * single-partition read, the faster choice
                             * on one machine: on 4 cores a traced
                             * 20k-envelope replay took 337 ms at 1 and
                             * 368 ms at 4. The one partition already
                             * reads ahead, and `Feeds.readModel` over
                             * it runs as one stage
                             * ([[graft.catalyst.SinglePartitionFeedScan]]);
                             * a fan-out pays a shuffle and, on a gappy
                             * seq feed, the density grid's max(16, 2N)
                             * requests ([[HttpFeedBackfill.densityQuantileBounds]]).
                             * N > 1 is for reads wider than one machine. */
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
  val Bytes = "feedBytes"
  val CacheHits = "pageCacheHits"
  val StallMs = "readAheadStallMs"
  val Retries5xx = "feedRetries5xx"
  val Retries429 = "feedRetries429"
  val RetriesIo = "feedRetriesIo"
  val FetchMs = "feedFetchMs"
  val ParseMs = "feedParseMs"
  def supported: Array[CustomMetric] = Array(new FeedRequestsMetric, new FeedBytesMetric,
    new PageCacheHitsMetric, new ReadAheadStallMetric, new FeedRetries5xxMetric,
    new FeedRetries429Metric, new FeedRetriesIoMetric, new FeedFetchMsMetric,
    new FeedParseMsMetric)
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
class FeedBytesMetric extends HttpFeedSumMetric(HttpFeedMetrics.Bytes,
  "response bytes of the feed pages fetched from the server")
class PageCacheHitsMetric extends HttpFeedSumMetric(HttpFeedMetrics.CacheHits,
  "feed pages served by the page cache")
class ReadAheadStallMetric extends HttpFeedSumMetric(HttpFeedMetrics.StallMs,
  "ms the readers waited for read-ahead chunks")
class FeedRetries5xxMetric extends HttpFeedSumMetric(HttpFeedMetrics.Retries5xx,
  "feed requests retried after an HTTP 5xx")
class FeedRetries429Metric extends HttpFeedSumMetric(HttpFeedMetrics.Retries429,
  "feed requests retried after an HTTP 429")
class FeedRetriesIoMetric extends HttpFeedSumMetric(HttpFeedMetrics.RetriesIo,
  "feed requests retried after a connection or read error")
class FeedFetchMsMetric extends HttpFeedSumMetric(HttpFeedMetrics.FetchMs,
  "ms from each feed request to its last body byte")
class FeedParseMsMetric extends HttpFeedSumMetric(HttpFeedMetrics.ParseMs,
  "ms parsing feed pages into rows, page-cache hits included")

/** Offset = the lastEventId cursor, JSON-serialized into the WAL. */
case class HttpFeedOffset(lastEventId: String) extends Offset {
  override def json(): String =
    HttpFeedOffset.mapper.writeValueAsString(
      HttpFeedOffset.mapper.createObjectNode().put("lastEventId", lastEventId))
}
object HttpFeedOffset {
  private val mapper = new ObjectMapper()
  def fromJson(json: String): HttpFeedOffset =
    HttpFeedOffset(mapper.readValue(json, classOf[java.util.Map[String, String]]).get("lastEventId"))
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
    * range). On validated seq-prefixed ids it costs O(log feed) requests;
    * otherwise the serial walk records the page histogram. Either way a
    * `backfillPartitions=N` replay fans the pinned backlog out with the
    * bounded batch read's own plan ([[HttpFeedBackfill.partitions]]). */
  override def prepareForTriggerAvailableNow(): Unit =
    availableNow = Some(HttpFeedClient.resolveHead(opts.url, opts.startId,
      opts.timeoutMs, opts.auth))

  /** The pin, else the head after `start` ([[HttpFeedClient.resolveHead]]):
    * steady state is one long-poll page + one empty-page confirm, and
    * catch-up after downtime finds the head of a seq-prefixed backlog in
    * O(log backlog) requests. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    HttpFeedOffset(availableNow.fold {
      val from = start.asInstanceOf[HttpFeedOffset].lastEventId
      HttpFeedClient.resolveHead(opts.url, from, opts.timeoutMs, opts.auth).id
    }(_.id))

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("use latestOffset(start, limit)")

  /** A pinned AvailableNow range plans as a bounded batch read of the same
    * range would ([[HttpFeedBackfill.partitions]]); a ProcessingTime
    * micro-batch has no pin and reads serially as one partition. */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    HttpFeedBackfill.partitions(opts, start.asInstanceOf[HttpFeedOffset].lastEventId,
      end.asInstanceOf[HttpFeedOffset].lastEventId, availableNow)

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
    * read finds the head with [[HttpFeedClient.resolveHead]] and splits
    * (startId, head] with [[HttpFeedBackfill.partitions]]. */
  private def plan(): Array[InputPartition] = limit match {
    case Some(l) =>
      val head = HttpFeedClient.drainHead(opts.url, opts.startId, 0,
        maxEvents = l, auth = opts.auth)
      if (head == opts.startId) Array.empty
      else Array(HttpFeedInputPartition(opts.url, opts.startId, head, limit, opts.auth))
    case None =>
      val head = HttpFeedClient.resolveHead(opts.url, opts.startId, 0, opts.auth)
      HttpFeedBackfill.partitions(opts, opts.startId, head.id, Some(head))
  }

  override def createReaderFactory(): PartitionReaderFactory = new HttpFeedReaderFactory
}

/** The partition planner of bounded ranges: a batch `spark.read` and a
  * pinned Trigger.AvailableNow backlog both plan through [[partitions]].
  * Ranges are replayable by the spec's own `lastEventId` contract
  * (`README.md:150-159`): each executor re-pages its range independently,
  * so the initial 100 TB replay — the longest job this source ever runs —
  * scales by N instead of serializing through one task. Rows arrive
  * partition-ordered, not globally ordered; a consumer needing the feed's
  * total order sorts by id, which at this scale it had to do anyway after
  * any shuffle. */
private[graft] object HttpFeedBackfill {

  /** The one plan of a bounded range (s, e] — a batch read's (startId,
    * head] and an AvailableNow batch alike, so both split a range the same
    * way and a replayed range plans the same partitions. `head` is the
    * [[HttpFeedClient.resolveHead]] result that pinned the range; None
    * (a ProcessingTime micro-batch) reads serially as one partition.
    * Fanning out trades arrival order within the range for parallelism,
    * which downstreams that repartition by key never observed anyway.
    *
    * Coverage guard: a range fans out ONLY when it ends exactly at the
    * head, `head.id == e`. A checkpointed (s, e] written by a DIFFERENT
    * run (a ProcessingTime run restarted as AvailableNow, a server
    * pageSize change between runs) can put `e` outside this run's pin — a
    * fan-out ending short of `e` would silently drop rows the WAL already
    * records as consumed. The single partition reads exactly (s, e]
    * regardless, and reads ahead when the head validated the seq scheme.
    *
    * With `backfillPartitions = N > 1` a guarded range splits by the
    * strategy that found the head (the spec blesses both id schemes,
    * `README.md:156-159`):
    *
    *  1. **Sequence-prefixed ids.** Seq prefixes are positionally
    *     interpretable (`README.md:159`) and the server must honor cursors
    *     for ABSENT ids (`README.md:153-154`), so (s, e] splits by sequence
    *     arithmetic ([[seqSplitBounds]]), with no walk on the driver. The
    *     split starts below the head's first sequence when `s` is the
    *     read's startId, else at `s`'s own sequence ([[seqBoundOf]]).
    *  2. **Opaque/UUIDv6 ids, a seq-parsing server, or a range of at most
    *     two pages.** The serial walk that found the head recorded the
    *     page histogram; its slice over (s, e] is page-aligned and ends at
    *     `e`, and [[equiDepthPartitions]] splits it. */
  def partitions(opts: HttpFeedOptions, s: String, e: String,
                 head: Option[HttpFeedClient.Head]): Array[InputPartition] = {
    val pin = head.filter(_.id == e)
    def single: Array[InputPartition] = Array(HttpFeedInputPartition(opts.url, s, e,
      auth = opts.auth, seqWidth = pin.flatMap(_.seq).map(_.width)))
    if (s == e) Array.empty
    else if (opts.backfillPartitions <= 1) single
    else pin.flatMap { h =>
      h.seq match {
        case Some(q) =>
          val lo = if (s == opts.startId) Some(q.firstSeq - 1) else seqBoundOf(s, q.width)
          lo.filter(_ < q.headSeq).map(l => seqRangePartitions(opts, s, e,
            seqSplitBounds(opts, l, q.headSeq, q.width, q.samples), q.width))
        case None =>
          Some(h.pages.filter(p => p._1 > s && p._1 <= e))
            .filter(_.lastOption.exists(_._1 == e))
            .map(equiDepthPartitions(opts, s, _))
      }
    }.getOrElse(single)
  }

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

  /** Equi-depth split of a page histogram: assigns page `j` with
    * cumulative-before count `cumb` to bucket `cumb·N div total` — the
    * `feed_backfill_partition_plan` operator's exact formula — and emits
    * one (startId, endId] partition per non-empty bucket. Ranges are
    * page-aligned: a page is never split. */
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
  * It emits the rows each [[HttpFeedClient.Page]] carries, built by the
  * one streaming pass over the response body that also checked it; the
  * page cache it reads through holds bodies, so a hit parses again.
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
  private val bytes = new AtomicLong()
  private val cacheHits = new AtomicLong()
  private val retries5xx = new AtomicLong()
  private val retries429 = new AtomicLong()
  private val retriesIo = new AtomicLong()
  private val fetchNs = new AtomicLong()
  private val parseNs = new AtomicLong()
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

  /** One page after `at`. The JVM-wide page cache serves replayed
    * immutable full pages (task retries, restart backfills) without a
    * network round-trip — only the bodies of pages the server marked
    * `Cache-Control: public, max-age=…` are ever stored (reference
    * README.md:330-332). Each retried request counts under its cause; a
    * hit's re-parse counts as parse time. */
  private def fetch(at: String): HttpFeedClient.Page = {
    val t0 = System.nanoTime()
    HttpFeedClient.sharedCache.get(p.url, at, p.auth) match {
      case Some(cached) =>
        parseNs.addAndGet(System.nanoTime() - t0)
        cacheHits.incrementAndGet(); cached
      case None =>
        requests.incrementAndGet()
        val fetched = HttpFeedClient.fetchPage(p.url, at, 0, p.auth, onRetry = {
          case t: HttpFeedClient.TransientHttpException if t.code == 429 => retries429.incrementAndGet()
          case _: HttpFeedClient.TransientHttpException => retries5xx.incrementAndGet()
          case _ => retriesIo.incrementAndGet()
        }, onTimes = (wire, parse) => { fetchNs.addAndGet(wire); parseNs.addAndGet(parse) })
        bytes.addAndGet(fetched.bytes)
        HttpFeedClient.sharedCache.put(p.url, at, p.auth, fetched)
        fetched
    }
  }

  /** The cursor loop over (from, to], at most `maxPages` pages — the serial
    * read and every read-ahead chunk. Keeps each page's rows (built by
    * [[HttpFeedClient.fetchPage]], so a chunk builds them off the reader's
    * thread) up to the last id ≤ `to`. The range is done at
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
      pages += (if (last <= to) fetched.rows
                else fetched.rows.take(fetched.rows.indices.indexWhere(fetched.id(_) > to)))
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
    HttpFeedMetrics.task(HttpFeedMetrics.Bytes, bytes.get()),
    HttpFeedMetrics.task(HttpFeedMetrics.CacheHits, cacheHits.get()),
    HttpFeedMetrics.task(HttpFeedMetrics.StallMs, stallNs / 1000000L),
    HttpFeedMetrics.task(HttpFeedMetrics.Retries5xx, retries5xx.get()),
    HttpFeedMetrics.task(HttpFeedMetrics.Retries429, retries429.get()),
    HttpFeedMetrics.task(HttpFeedMetrics.RetriesIo, retriesIo.get()),
    HttpFeedMetrics.task(HttpFeedMetrics.FetchMs, fetchNs.get() / 1000000L),
    HttpFeedMetrics.task(HttpFeedMetrics.ParseMs, parseNs.get() / 1000000L))

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
}
