package graft.connector

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.core.{JsonParser, JsonToken}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable.ArrayBuffer

import graft.udf.CloudEventsParse

/** Minimal HTTP Feeds protocol client (reference `README.md:84-146`): one
  * GET endpoint, `lastEventId` cursor + optional long-poll `timeout` query
  * params (`README.md:298-301`), `application/cloudevents-batch+json`
  * response pages. Used by both the driver-side offset probe and the
  * executor-side partition reader of the DSv2 source — pages are
  * deterministic for a given cursor (`README.md:332` makes them cacheable),
  * which is what makes offsets replayable and the source exactly-once.
  */
object HttpFeedClient {

  private val mapper = new ObjectMapper()

  /** One response page: the envelope rows the partition reader emits,
    * built by one streaming pass over the body ([[parsePage]]), with the
    * body itself. `cacheControl` records the server's caching verdict
    * (reference `README.md:330-332`): full immutable batches arrive as
    * `public, max-age=…` and may be served from any HTTP cache; growing
    * or principal-filtered pages are `no-store`. Ids, emptiness and
    * density samples read the rows' `id` column.
    *
    * `events` is a tree view of the body for callers that want the raw
    * envelopes. It is parsed on first use; no engine path uses it. */
  final case class Page(rows: IndexedSeq[InternalRow],
                        cacheControl: Option[String],
                        body: Array[Byte]) {
    lazy val events: IndexedSeq[JsonNode] = {
      val root = mapper.readTree(body) // a JSON array: parsePage checked it
      (0 until root.size()).map(root.get)
    }
    /** Size of the response body. */
    def bytes: Long = body.length.toLong
    def isEmpty: Boolean = rows.isEmpty
    /** The id of envelope `i` on the page. */
    def id(i: Int): String = rows(i).getUTF8String(IdCol).toString
    def firstId: Option[String] = if (isEmpty) None else Some(id(0))
    def lastId: Option[String] = if (isEmpty) None else Some(id(rows.length - 1))
    /** True iff the server marked this page publicly cacheable. */
    def cacheable: Boolean = cacheControl.exists(cc =>
      cc.contains("max-age") && !cc.contains("no-store") &&
        !cc.contains("private"))
  }

  /** In-memory HTTP cache for feed pages (what a CDN or forward proxy
    * does for this protocol): pages the SERVER marked cacheable are
    * stored by (url, cursor, principal) and served without a network
    * round-trip. Safe by construction — only full immutable batches
    * carry `max-age`, and a full batch for a given cursor can never
    * change (ids are append-only and totally ordered,
    * `README.md:148-159`).
    *
    * An entry is the response body and its `Cache-Control` value, not the
    * parsed page: a hit re-runs [[parsePage]] over the bytes. A JSON tree
    * of a 113 KB page of 100 envelopes held 202 KB of heap. The cache is
    * an LRU bounded both by entry count and by summed body bytes
    * ([[PageCache.MaxBytes]]), so a server with large pages cannot make
    * it pin more heap than one with small pages; a body larger than the
    * byte bound is never stored.
    *
    * The bound is sized to the replays the cache serves, all of them a
    * few pages re-read soon after the first read:
    *  - the plan-to-reader handoff: planning a range stores its first
    *    `SerialPages + 1` pages ([[resolveHead]]) and its seq-probe pages,
    *    and the readers re-read some of them at once. A plan over
    *    perfbench's 20k-envelope backfill feed stores 13 pages (1.5 MB)
    *    and each read gets 3 of them back;
    *  - `feed_cache_replay`'s warm pass: 10 pages, 214 KB at sf0.01 and
    *    215 KB at sf0.1 (the fixture keeps event ids below 1000 at both);
    *  - a retried micro-batch: the pages since the previous trigger, a
    *    page or two in steady state, 10 pages for `stream_http_source`'s
    *    one batch over that same fixture.
    * A sequential range larger than the cache gets no replay hits at any
    * bound: under LRU each page is evicted before the replay reaches it.
    * At 128 MiB the cache won nothing on a backfill and ended each one
    * holding 1024 of its 118 KB pages, 121 MB of perfbench's 3 GiB heap;
    * the same 128 MiB would take about 44 % of the user memory of a
    * default 1 GiB executor, which Spark does not account for.
    *
    * The PRINCIPAL is part of the key (a digest of the `Authorization`
    * value, never the raw credential): the spec says auth-protected
    * feeds must be `no-store` (`README.md:328`) and the client honors
    * that, but a misbehaving server that mislabels a per-principal-
    * filtered page `public` must still never leak one principal's rows
    * to another principal sharing the JVM — defense in depth, keyed at
    * the cache, not trusted from the wire. Opt-in via [[fetchPage]]'s
    * `cache` parameter; the DSv2 source reads through [[sharedCache]]. */
  final class PageCache(maxEntries: Int = 1024) {
    // access-ordered, so iteration starts at the least recently used
    private val m = new java.util.LinkedHashMap[(String, String, String),
      (Array[Byte], Option[String])](16, 0.75f, true)
    private var held = 0L // summed body bytes of the entries, under `m`'s lock
    private val hitCount = new java.util.concurrent.atomic.AtomicInteger(0)
    /** Digest of the Authorization value — cache keys must separate
      * principals without retaining the credential itself. */
    private def principalKey(auth: Option[String]): String =
      auth.fold("") { a =>
        java.security.MessageDigest.getInstance("SHA-256")
          .digest(a.getBytes(StandardCharsets.UTF_8))
          .map("%02x".format(_)).mkString
      }
    private[graft] def get(url: String, cursor: String,
                           auth: Option[String]): Option[Page] = {
      val key = (url, cursor, principalKey(auth))
      m.synchronized(Option(m.get(key))).map { case (body, cc) =>
        hitCount.incrementAndGet()
        parsePage(url, cursor, body, cc)
      }
    }
    private[graft] def put(url: String, cursor: String,
                           auth: Option[String], page: Page): Unit =
      if (page.cacheable && page.bytes <= PageCache.MaxBytes) m.synchronized {
        val old = m.put((url, cursor, principalKey(auth)), (page.body, page.cacheControl))
        if (old != null) held -= old._1.length
        held += page.bytes
        val lru = m.values().iterator()
        while (m.size() > maxEntries || held > PageCache.MaxBytes) {
          held -= lru.next()._1.length
          lru.remove()
        }
      }
    def size: Int = m.synchronized(m.size())
    /** Summed body bytes of the cached pages. */
    def bodyBytes: Long = m.synchronized(held)
    def hits: Int = hitCount.get()
    /** Test hook: empty the cache — simulates the distributed case where
      * plan-time fetches happened on the DRIVER and executors start with
      * cold caches (in local mode one JVM otherwise shares them). */
    private[graft] def clear(): Unit = m.synchronized { m.clear(); held = 0L }
  }

  object PageCache {
    /** Body bytes one cache holds: 1024 entries of a 16 KiB page, or
      * 142 of perfbench's 118 KB backfill pages. */
    val MaxBytes: Long = 16L << 20
  }

  /** JVM-wide cache used by the plan-time head walk and the DSv2
    * partition readers: the reader gets the plan's first pages back
    * without a round trip, and a small replayed range (a retried task or
    * micro-batch) comes from memory instead of the wire. A backfill
    * passes through it without pinning more than [[PageCache.MaxBytes]]:
    * a lost backfill is re-read from the server by the `lastEventId`
    * contract, not from this cache. */
  val sharedCache: PageCache = new PageCache()

  /** A page that breaks the protocol's total order (`README.md:148-159`):
    * not a JSON array, an element without a textual `id`, ids that do not
    * strictly increase, or a first id not after the cursor — what a server
    * or proxy that ignores `lastEventId` returns. Never retried: the same
    * cursor gets the same page, and trusting it would re-read the feed
    * from the top forever. */
  final class FeedProtocolException(msg: String) extends IllegalStateException(msg)

  /** Transient HTTP failure (5xx/429) with its status code, carrying the
    * server's `Retry-After` directive when present — the retry loop obeys
    * it. */
  private[connector] final class TransientHttpException(
      msg: String, val code: Int, val retryAfterMs: Option[Long]) extends java.io.IOException(msg)

  /** Parse a `Retry-After` header value: delta-seconds or HTTP-date
    * (RFC 9110 §10.2.3). None for absent/unparseable. */
  private[graft] def parseRetryAfterMs(v: String): Option[Long] =
    Option(v).map(_.trim).filter(_.nonEmpty).flatMap { s =>
      if (s.forall(c => c >= '0' && c <= '9'))
        try Some(s.toLong * 1000L) catch { case _: NumberFormatException => None }
      else
        try {
          val at = java.time.ZonedDateTime.parse(
            s, java.time.format.DateTimeFormatter.RFC_1123_DATE_TIME)
          Some(math.max(0L,
            java.time.Duration.between(java.time.ZonedDateTime.now(at.getZone), at).toMillis))
        } catch { case _: java.time.format.DateTimeParseException => None }
    }

  /** GET one page after `lastEventId` (empty string = feed start,
    * `README.md:300`); `timeoutMs > 0` requests a long poll. `auth` is
    * sent as the `Authorization` header (feeds may be Basic/Bearer
    * protected, `README.md:321-328`). The returned page's rows are built
    * and checked ([[parsePage]]) before it is cached or returned. A
    * successful response leaves its connection in the JDK's keep-alive
    * pool, so a serial walk reuses one connection.
    *
    * Transient failures (connection errors, HTTP 5xx, 429) are retried up
    * to `maxAttempts` — a 1000-executor job must survive a server blip
    * without failing tasks. The sleep is max(server-directed, jittered
    * exponential backoff): a `Retry-After` on 429/503 is honored (the
    * server knows its own recovery horizon) but CLAMPED to
    * `maxRetryAfterMs` — a misbehaving server directing `Retry-After:
    * 99999999` (or a far-future HTTP-date) must not park an executor
    * task for hours per attempt; past the ceiling the client retries on
    * its own schedule and ultimately fails the task, which is the
    * recoverable outcome. The backoff carries full jitter in
    * [backoff/2, backoff] so a fleet of executors that all hit the same
    * blip does not retry in lockstep and re-stampede the server.
    * Auth rejections and other 4xx fail fast (retrying them can't
    * succeed). `onRetry` sees each transient failure that is retried,
    * before the backoff sleep. */
  def fetchPage(url: String, lastEventId: String, timeoutMs: Long,
                auth: Option[String] = None, maxAttempts: Int = 3,
                retryBackoffMs: Long = 200L,
                cache: Option[PageCache] = None,
                maxRetryAfterMs: Long = 60000L,
                onRetry: java.io.IOException => Unit = _ => ()): Page = {
    val cached = cache.flatMap(_.get(url, lastEventId, auth))
    if (cached.isDefined) return cached.get
    var lastErr: Throwable = null
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      try {
        val page = fetchOnce(url, lastEventId, timeoutMs, auth)
        cache.foreach(_.put(url, lastEventId, auth, page))
        return page
      } catch {
        case e: java.io.IOException => // transient: connect/read/5xx/429
          lastErr = e
          if (attempt < maxAttempts) {
            onRetry(e)
            val backoff = retryBackoffMs * (1L << (attempt - 1))
            val jittered = backoff / 2 +
              java.util.concurrent.ThreadLocalRandom.current().nextLong(backoff / 2 + 1)
            val directed = e match {
              case t: TransientHttpException =>
                math.min(t.retryAfterMs.getOrElse(0L), maxRetryAfterMs)
              case _ => 0L
            }
            Thread.sleep(math.max(directed, jittered))
          }
      }
    }
    throw new java.io.IOException(
      s"feed request failed after $maxAttempts attempts: $url", lastErr)
  }

  private def fetchOnce(url: String, lastEventId: String, timeoutMs: Long,
                        auth: Option[String]): Page = {
    val sep = if (url.contains("?")) "&" else "?"
    val params = new StringBuilder
    if (lastEventId.nonEmpty)
      params ++= s"lastEventId=${URLEncoder.encode(lastEventId, "UTF-8")}"
    if (timeoutMs > 0) {
      if (params.nonEmpty) params ++= "&"
      params ++= s"timeout=$timeoutMs"
    }
    val full = if (params.isEmpty) url else url + sep + params
    val conn = new URI(full).toURL.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("GET")
    conn.setConnectTimeout(30000)
    conn.setReadTimeout((timeoutMs + 30000).toInt)
    auth.foreach(a => conn.setRequestProperty("Authorization", a))
    var read = false
    try {
      val code = conn.getResponseCode
      if (code == 401 || code == 403)
        throw new SecurityException(
          s"HTTP $code from $url — the feed requires credentials " +
            "(reference README.md:321-328); pass bearerToken or basicUser/basicPass")
      if (code >= 500 || code == 429)
        throw new TransientHttpException(s"HTTP $code from $url (transient)", code,
          Option(conn.getHeaderField("Retry-After")).flatMap(parseRetryAfterMs))
      if (code >= 400)
        throw new IllegalStateException(
          s"HTTP $code from $url — non-retryable client error")
      val cacheControl = Option(conn.getHeaderField("Cache-Control"))
      val in = conn.getInputStream
      // a body read to its end and closed returns the connection to the
      // keep-alive pool; every other outcome drops it
      val body = try in.readAllBytes() finally in.close()
      read = true
      parsePage(url, lastEventId, body, cacheControl)
    } finally if (!read) conn.disconnect()
  }

  /** Core envelope attributes (README.md:306-316 plus the engine's
    * `time_us` metadata twin of `time`); everything else is an extension
    * attribute (README.md:318). */
  private[connector] val CoreAttributes: Set[String] = Set(
    "specversion", "id", "type", "source", "time", "time_us",
    "subject", "method", "datacontenttype", "data")

  private val Schema = CloudEventsParse.envelopeSchema
  private val IdCol = Schema.fieldIndex("id")
  private val TimeUsCol = Schema.fieldIndex("time_us")
  private val ContentTypeCol = Schema.fieldIndex("datacontenttype")
  private val DataCol = Schema.fieldIndex("data")
  private val ExtensionsCol = Schema.fieldIndex("extensions")
  private val DefaultContentType = UTF8String.fromString("application/json")
  // the row column of each core attribute; Skip for `time`, which rides
  // as `time_us`
  private val Skip = -1
  private val CoreColumns: java.util.Map[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    CoreAttributes.foreach(a => m.put(a, if (Schema.fieldNames.contains(a)) Schema.fieldIndex(a) else Skip))
    m
  }

  /** The rows of a response body, built in one streaming pass that also
    * checks the page before anything caches or follows it: a JSON array
    * of objects whose ids are textual and strictly increase, the first
    * after a non-empty `cursor`. A body that breaks this throws
    * [[FeedProtocolException]]; a body that is not JSON throws Jackson's
    * parse error, an IOException the retry loop treats as transient.
    *
    * An envelope maps to a row of [[CloudEventsParse.envelopeSchema]]:
    *  - string attributes as text; a non-textual value as the text of its
    *    JSON node (a number's digits, `true`; an object or array reads
    *    as "") — except `data`, which is an Object in the spec and keeps
    *    non-textual values as compact JSON for `from_json` late binding,
    *    as the `from_json` path ([[CloudEventsParse.parsePage]]) does;
    *  - `time_us` as a long (a JSON node's `asLong` for non-integers);
    *  - `datacontenttype` takes the spec default `application/json` when
    *    missing or null (README.md:315); any other value passes through;
    *  - every other key is an extension attribute (README.md:318), kept in
    *    wire order with textual values verbatim and others as compact JSON.
    * A key given twice keeps its last value, at its first key's position,
    * as a parsed `ObjectNode` would. Values other than strings, integers
    * and null are read through a JsonNode of just that value. */
  private[connector] def parsePage(url: String, cursor: String, body: Array[Byte],
                                   cacheControl: Option[String]): Page = {
    def violation(what: String) =
      new FeedProtocolException(s"$url broke the feed protocol after cursor '$cursor': $what")
    val p = mapper.getFactory.createParser(body)
    try {
      if (p.nextToken() != JsonToken.START_ARRAY) {
        p.skipChildren() // a truncated object still fails as a parse error
        throw violation("the response body is not a JSON array")
      }
      val rows = new ArrayBuffer[InternalRow]()
      var prev = cursor
      // the first violation; the array is still read to its end, so a body
      // that is also malformed fails as a parse error
      var broken: FeedProtocolException = null
      var t = p.nextToken()
      while (t != JsonToken.END_ARRAY && t != null) {
        if (broken != null) p.skipChildren()
        else {
          val cols = new Array[Any](Schema.length)
          val id = if (t == JsonToken.START_OBJECT) envelope(p, cols) else { p.skipChildren(); null }
          if (id == null)
            broken = violation(s"event ${rows.length} has no textual id (after id '$prev')")
          else if ((rows.nonEmpty || cursor.nonEmpty) && id <= prev)
            broken = violation(
              if (rows.isEmpty) s"first id '$id' is not after the cursor"
              else s"id '$id' does not follow id '$prev' on the page")
          else {
            prev = id
            rows += new GenericInternalRow(cols)
          }
        }
        t = p.nextToken()
      }
      if (t == null) throw new java.io.EOFException(s"$url: page ends inside its array")
      if (broken != null) throw broken
      Page(rows.toIndexedSeq, cacheControl, body)
    } finally p.close()
  }

  /** Fill `cols` from the envelope object `p` is at; returns its id, or
    * null when the id is missing or not textual. */
  private def envelope(p: JsonParser, cols: Array[Any]): String = {
    var id: String = null
    var extKeys: ArrayBuffer[UTF8String] = null
    var extVals: ArrayBuffer[UTF8String] = null
    while (p.nextToken() == JsonToken.FIELD_NAME) {
      val name = p.currentName()
      val t = p.nextToken()
      val col: Integer = CoreColumns.get(name)
      if (col == null) { // an extension attribute
        if (extKeys == null) { extKeys = new ArrayBuffer(); extVals = new ArrayBuffer() }
        val v = t match {
          case JsonToken.VALUE_NULL => null
          case JsonToken.VALUE_STRING => UTF8String.fromString(p.getText)
          case _ => UTF8String.fromString(mapper.readTree[JsonNode](p).toString)
        }
        val key = UTF8String.fromString(name)
        val at = extKeys.indexOf(key)
        if (at < 0) { extKeys += key; extVals += v } else extVals(at) = v
      } else if (col == TimeUsCol) {
        cols(col) = t match {
          case JsonToken.VALUE_NULL => null
          case JsonToken.VALUE_NUMBER_INT if p.getNumberType != JsonParser.NumberType.BIG_INTEGER =>
            p.getLongValue
          case _ => mapper.readTree[JsonNode](p).asLong()
        }
      } else if (col == Skip) p.skipChildren()
      else {
        val text = if (t == JsonToken.VALUE_STRING) p.getText else null
        if (col == IdCol) id = text
        cols(col) =
          if (text != null) UTF8String.fromString(text)
          else if (t == JsonToken.VALUE_NULL) null
          else {
            val n = mapper.readTree[JsonNode](p)
            UTF8String.fromString(if (col == DataCol) n.toString else n.asText())
          }
      }
    }
    if (cols(ContentTypeCol) == null) cols(ContentTypeCol) = DefaultContentType
    cols(ExtensionsCol) =
      if (extKeys == null) EmptyExtensions
      else new ArrayBasedMapData(new GenericArrayData(extKeys.toArray[Any]),
        new GenericArrayData(extVals.toArray[Any]))
    id
  }

  private val EmptyExtensions = new ArrayBasedMapData(
    new GenericArrayData(Array.empty[Any]), new GenericArrayData(Array.empty[Any]))

  /** Drain from a cursor to the current head: page until the server answers
    * with the empty array (`README.md:79-82` end-of-feed). Returns the head
    * id (or the cursor unchanged if already at head). The first request
    * long-polls, so an idle feed blocks at most `timeoutMs`. */
  def drainHead(url: String, fromId: String, timeoutMs: Long,
                maxPages: Int = 100000, maxEvents: Int = Int.MaxValue,
                auth: Option[String] = None): String = {
    var cursor = fromId
    var pages = 0
    var events = 0
    var first = true
    while (pages < maxPages && events < maxEvents) {
      val page = fetchPage(url, cursor, if (first) timeoutMs else 0, auth)
      first = false
      if (page.isEmpty) return cursor
      cursor = page.lastId.getOrElse(return cursor)
      events += page.rows.length
      pages += 1
    }
    cursor
  }

  /** Synthesized cursor that positions strictly BEFORE every event whose
    * sequence prefix is `seq` (and strictly after every smaller sequence):
    * `lpad(seq, width, '0') ‖ "::"` is a proper prefix of any real id with
    * that sequence, so it sorts first. The server must honor cursor
    * POSITIONS even for ids absent from the feed (`README.md:153-154`),
    * which is what makes synthesized cursors legal wire values. */
  private[graft] def seqCursor(seq: Long, width: Int): String = {
    val s = seq.toString
    ("0" * math.max(0, width - s.length)) + s + graft.udf.SeqId.Sep
  }

  /** Parse a sequence-prefixed id (`README.md:159`,
    * e.g. `0000001000001::uuid`) into (sequence, pad width); None for
    * opaque/UUIDv6 ids. */
  private[graft] def parseSeqId(id: String): Option[(Long, Int)] = {
    val cut = id.indexOf(graft.udf.SeqId.Sep)
    if (cut <= 0 || cut > 18) None
    else {
      val prefix = id.substring(0, cut)
      if (prefix.forall(c => c >= '0' && c <= '9'))
        try Some((prefix.toLong, cut)) catch { case _: NumberFormatException => None }
      else None
    }
  }

  /** One (seqFirst, seqLast, eventCount) density sample — the sequence
    * span one fetched page covered. Probe pages yield these for free;
    * the gappy-feed balance refinement integrates them into a live-
    * density model instead of paying extra requests. */
  private[graft] final case class SeqSample(seqFirst: Long, seqLast: Long, count: Int)

  /** Plan-time validation that the server resolves synthesized seq-prefix
    * cursors POSITIONALLY (one request): fetch the page after
    * `cursor(knownSeq)` — `knownSeq` must be the sequence of an event
    * known to exist — and require the first returned event to carry
    * exactly that sequence. The spec's position-respect clause
    * (`README.md:153-154`) is stated for DELETED ids, and its seq-prefix
    * example only says the sequence is "interpreted when querying" — so a
    * compliant server may PARSE the sequence out of `lastEventId` and
    * return `seq > cursorSeq` instead of comparing ids as strings. Such a
    * server skips every event OF the cursor's own sequence, which would
    * silently lose the boundary sequence at every synthesized partition
    * bound. One request distinguishes the two server types: positional
    * resolution returns `knownSeq` itself first; seq-parsing resolution
    * returns a later sequence (or the empty page when `knownSeq` is the
    * head). On mismatch — or any error — every seq-arithmetic plan falls
    * back to the real-id histogram walk, which is correct on both server
    * types. */
  private[graft] def validateSeqCursor(url: String, knownSeq: Long, width: Int,
                                           auth: Option[String] = None): Boolean =
    try {
      val page = fetchPage(url, seqCursor(knownSeq, width), 0, auth,
        cache = Some(sharedCache))
      page.firstId.flatMap(parseSeqId)
        .exists { case (s, w) => s == knownSeq && w == width }
    } catch {
      case e: FeedProtocolException => throw e
      case scala.util.control.NonFatal(_) => false
    }

  /** The density sample a fetched page yields for free: its first and last
    * sequence and its event count. None for an empty page or ids that do
    * not parse as sequence-prefixed. */
  private[graft] def seqSample(page: Page): Option[SeqSample] =
    for {
      first <- page.firstId.flatMap(parseSeqId)
      last <- page.lastId.flatMap(parseSeqId)
    } yield SeqSample(first._1, last._1, page.rows.length)

  /** O(log feed) head-sequence probe for sequence-prefixed feeds: gallop
    * then binary-search over synthesized [[seqCursor]] probes, using the
    * predicate "the page after cursor(s) is non-empty ⟺ headSeq ≥ s".
    * `knownSeq` must be the sequence of an event known to exist (the
    * predicate is true there), and the caller must have validated the
    * server's positional cursor semantics ([[validateSeqCursor]]) — on a
    * seq-parsing server the predicate is off by one and the probe would
    * land one below the head. Finds the head WITHOUT paging the feed. A
    * concurrent append can land between probes; any pin the search
    * settles on is a consistent bounded-replay snapshot (a serial walk's
    * head is equally a moment in time).
    *
    * With `span` = s > 1 the gallop's first stride is s (the sequence
    * span of a page the caller already holds, so the search starts about
    * one page ahead instead of one sequence ahead) and the bisection stops
    * once the bracket is within s — the caller pages the last stretch to
    * the real head id anyway. Returns (lo, loId, samples): `lo` ≤ headSeq
    * < lo + s (exactly the head when s = 1), `loId` the last real id of
    * the last non-empty probe page (None if every probe was empty), and
    * one density sample per non-empty probe page. The gallop's geometric
    * stride samples the whole backlog and the bisection concentrates near
    * the head, so the samples double as a zero-extra-request gap detector
    * for the balance refinement ([[HttpFeedBackfill.densityQuantileBounds]]). */
  private[graft] def probeHeadSeq(url: String, knownSeq: Long, width: Int,
      auth: Option[String] = None,
      span: Long = 1L): (Long, Option[String], IndexedSeq[SeqSample]) = {
    val samples = new ArrayBuffer[SeqSample]()
    var loId: Option[String] = None
    // Some(l) iff P(seq); l is the last sequence on the page after
    // cursor(seq), which P(l) also holds for — the search jumps there
    def probe(seq: Long): Option[Long] = {
      val page = fetchPage(url, seqCursor(seq, width), 0, auth,
        cache = Some(sharedCache))
      val sample = seqSample(page)
      sample.foreach(samples += _)
      if (page.isEmpty) None
      else {
        loId = page.lastId
        Some(sample.fold(seq)(s => math.max(seq, s.seqLast)))
      }
    }
    // Probes are capped at the width's capacity, 10^width − 1: a wider
    // candidate does not zero-pad to `width`, so its cursor breaks the
    // lexicographic≡numeric ordering the whole search rests on (a 19-digit
    // cursor sorts BEFORE an 18-digit id sharing its first 18 digits and
    // the search silently overshoots). The cap is also semantically the
    // true head bound: a fixed-width feed cannot carry a wider sequence
    // without breaking its own id ordering (which is why the spec lpads).
    var maxSeq = 1L
    for (_ <- 0 until width) maxSeq *= 10 // width ≤ 18 ⇒ 10^width fits a Long
    maxSeq -= 1
    val stop = math.max(1L, span)
    var lo = knownSeq // invariant: P(lo) true (headSeq >= lo)
    var step = stop
    var hi = -1L
    while (hi < 0 && lo < maxSeq) {
      val cand = if (step > maxSeq - lo) maxSeq else lo + step
      probe(cand) match {
        case Some(l) => lo = l; step *= 2
        case None => hi = cand
      }
    }
    while (hi > 0 && hi - lo > stop) {
      val mid = lo + (hi - lo) / 2
      probe(mid) match {
        case Some(l) => lo = l
        case None => hi = mid
      }
    }
    (lo, loId, samples.toIndexedSeq)
  }

  /** The validated sequence scheme of a bounded range, as found by
    * [[resolveHead]]: pad width, the range's first and head sequence, and
    * the density samples its pages yielded for free. */
  private[graft] final case class SeqHead(width: Int, firstSeq: Long, headSeq: Long,
                                          samples: IndexedSeq[SeqSample])

  /** The end of a bounded range (fromId, id], as found by [[resolveHead]].
    * `id` is a real event id, or `fromId` itself when the range is empty.
    * `seq` is set when the seq probe found the head; otherwise the serial
    * walk did, and `pages` is the range's page histogram (lastId,
    * eventCount) — the input of [[HttpFeedBackfill.equiDepthPartitions]]. */
  private[graft] final case class Head(id: String, seq: Option[SeqHead],
                                       pages: IndexedSeq[(String, Int)])

  /** Pages read serially before [[resolveHead]] switches to the seq
    * probe. */
  private val SerialPages = 2

  /** Head resolution for every unlimited bounded read — the batch plan at
    * any `backfillPartitions`, the AvailableNow pin and `latestOffset`:
    *
    *  1. page serially from `fromId` (only the first request long-polls
    *     `timeoutMs`, so an idle feed blocks at most that long); a range
    *     of ≤ [[SerialPages]] pages ends here, at what [[drainHead]]
    *     costs, so steady-state micro-batches pay nothing more;
    *  2. on a longer range whose ids carry the sequence prefix with one pad
    *     width, check with one request that the server resolves made-up
    *     cursors positionally ([[validateSeqCursor]]), gallop+bisect to the
    *     head in O(log feed) requests ([[probeHeadSeq]], seeded with the
    *     sequence span of the page in hand), then page from the last real
    *     id the probe saw to the real head id. The driver never walks the
    *     range, so a single read partition fetches each page once, and a
    *     consumer resuming after downtime finds the head of its backlog in
    *     O(log backlog) requests;
    *  3. opaque/UUIDv6 ids or a seq-parsing server: keep walking serially
    *     to the empty page, recording the page histogram the fan-out
    *     splits on (free — finding the head takes those requests anyway,
    *     the protocol has no head endpoint, `README.md:79-82`).
    *
    * Returns a REAL event id, never a synthesized cursor, so checkpointed
    * offsets stay ordinary ids. The first SerialPages + 1 pages go through
    * [[sharedCache]]: a reader starting at `fromId` gets the cacheable
    * ones back without a round trip. */
  private[graft] def resolveHead(url: String, fromId: String, timeoutMs: Long,
                                 auth: Option[String] = None): Head = {
    val pages = new ArrayBuffer[(String, Int)]()
    val samples = new ArrayBuffer[SeqSample]()
    // the page after the last one recorded, recorded in turn
    def next(): Page = {
      val page = fetchPage(url, pages.lastOption.fold(fromId)(_._1),
        if (pages.isEmpty) timeoutMs else 0, auth,
        cache = Some(sharedCache).filter(_ => pages.length <= SerialPages))
      if (!page.isEmpty) {
        pages += page.lastId.get -> page.rows.length
        seqSample(page).foreach(samples += _)
      }
      page
    }
    var page = next()
    val firstId = page.firstId
    while (!page.isEmpty && pages.length <= SerialPages) page = next()
    if (page.isEmpty)
      return Head(pages.lastOption.fold(fromId)(_._1), None, pages.toIndexedSeq)
    // a feed is one totally ordered id stream (`README.md:9`), so one
    // scheme governs it: the range's first id and the page in hand must
    // parse with one pad width
    val scheme = for {
      (firstSeq, w) <- firstId.flatMap(parseSeqId)
      (_, w1) <- parseSeqId(page.id(0))
      (lastSeq, w2) <- parseSeqId(pages.last._1)
      if w1 == w2 && validateSeqCursor(url, lastSeq, w2, auth) && w2 == w
    } yield (w, firstSeq, lastSeq)
    scheme match {
      case Some((w, firstSeq, lastSeq)) =>
        val span = seqSample(page).fold(1L)(s => s.seqLast - s.seqFirst + 1)
        val (lo, loId, probeSamples) = probeHeadSeq(url, lastSeq, w, auth, span)
        // lo ≤ head < lo + span: page from the last real id seen to the
        // real head id (usually just the empty-page confirm). A compaction
        // racing the probe can only make this a lower bound of the head,
        // which is still a consistent pin.
        val headId = drainHead(url, loId.getOrElse(pages.last._1), 0, auth = auth)
        val headSeq = parseSeqId(headId).collect { case (s, `w`) => s }.getOrElse(lo)
        Head(headId, Some(SeqHead(w, firstSeq, headSeq, (samples ++ probeSamples).toIndexedSeq)),
          IndexedSeq.empty)
      case None =>
        while (!page.isEmpty && pages.length < 100000) page = next()
        Head(pages.last._1, None, pages.toIndexedSeq)
    }
  }
}
