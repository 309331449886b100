package graft.connector

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import scala.collection.mutable.ArrayBuffer

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

  /** One envelope as parsed JSON (kept as JsonNode; the reader projects).
    * `cacheControl` records the server's caching verdict
    * (reference `README.md:330-332`): full immutable batches arrive as
    * `public, max-age=…` and may be served from any HTTP cache; growing
    * or principal-filtered pages are `no-store`. */
  final case class Page(events: IndexedSeq[JsonNode],
                        cacheControl: Option[String] = None) {
    def isEmpty: Boolean = events.isEmpty
    def lastId: Option[String] =
      events.lastOption.map(_.get("id").asText())
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
    * The PRINCIPAL is part of the key (a digest of the `Authorization`
    * value, never the raw credential): the spec says auth-protected
    * feeds must be `no-store` (`README.md:328`) and the client honors
    * that, but a misbehaving server that mislabels a per-principal-
    * filtered page `public` must still never leak one principal's rows
    * to another principal sharing the JVM — defense in depth, keyed at
    * the cache, not trusted from the wire. Opt-in via [[fetchPage]]'s
    * `cache` parameter: the streaming source wires one per executor for
    * replay/backfill reads. */
  final class PageCache(maxEntries: Int = 1024) {
    private val m = java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, String, String), Page](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, String, String), Page]): Boolean =
          size() > maxEntries // LRU bound: replay working sets are windows
      })
    private val hitCount = new java.util.concurrent.atomic.AtomicInteger(0)
    /** Digest of the Authorization value — cache keys must separate
      * principals without retaining the credential itself. */
    private def principalKey(auth: Option[String]): String =
      auth.fold("") { a =>
        java.security.MessageDigest.getInstance("SHA-256")
          .digest(a.getBytes(StandardCharsets.UTF_8))
          .map("%02x".format(_)).mkString
      }
    private[connector] def get(url: String, cursor: String,
                               auth: Option[String]): Option[Page] = {
      val p = Option(m.get((url, cursor, principalKey(auth))))
      if (p.isDefined) hitCount.incrementAndGet()
      p
    }
    private[connector] def put(url: String, cursor: String,
                               auth: Option[String], page: Page): Unit =
      if (page.cacheable) m.put((url, cursor, principalKey(auth)), page)
    def size: Int = m.size()
    def hits: Int = hitCount.get()
    /** Test hook: empty the cache — simulates the distributed case where
      * plan-time fetches happened on the DRIVER and executors start with
      * cold caches (in local mode one JVM otherwise shares them). */
    private[graft] def clear(): Unit = m.clear()
  }

  /** JVM-wide cache used by the DSv2 partition readers: on a replayed
    * range (task retry, restart backfill) the immutable full pages come
    * from memory instead of the wire. */
  val sharedCache: PageCache = new PageCache()

  /** Transient HTTP failure (5xx/429) carrying the server's `Retry-After`
    * directive when present — the retry loop obeys it. */
  private[connector] final class TransientHttpException(
      msg: String, val retryAfterMs: Option[Long]) extends java.io.IOException(msg)

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
    * protected, `README.md:321-328`).
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
    * succeed). */
  def fetchPage(url: String, lastEventId: String, timeoutMs: Long,
                auth: Option[String] = None, maxAttempts: Int = 3,
                retryBackoffMs: Long = 200L,
                cache: Option[PageCache] = None,
                maxRetryAfterMs: Long = 60000L): Page = {
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
    try {
      val code = conn.getResponseCode
      if (code == 401 || code == 403)
        throw new SecurityException(
          s"HTTP $code from $url — the feed requires credentials " +
            "(reference README.md:321-328); pass bearerToken or basicUser/basicPass")
      if (code >= 500 || code == 429)
        throw new TransientHttpException(s"HTTP $code from $url (transient)",
          Option(conn.getHeaderField("Retry-After")).flatMap(parseRetryAfterMs))
      if (code >= 400)
        throw new IllegalStateException(
          s"HTTP $code from $url — non-retryable client error")
      // parse the bytes directly: Jackson detects the UTF-8 encoding
      // itself, so no intermediate String copy of the page
      val root = mapper.readTree(conn.getInputStream.readAllBytes())
      val buf = new ArrayBuffer[JsonNode](root.size())
      root.forEach(n => buf += n)
      Page(buf.toIndexedSeq, Option(conn.getHeaderField("Cache-Control")))
    } finally conn.disconnect()
  }

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
      events += page.events.length
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
      page.events.headOption.flatMap(e => parseSeqId(e.get("id").asText()))
        .exists { case (s, w) => s == knownSeq && w == width }
    } catch { case scala.util.control.NonFatal(_) => false }

  /** Detect AND validate a feed's sequence-prefix id scheme from one
    * already-fetched page (`README.md:159`): both the page's first and
    * last id must parse with the same pad width (a feed is one totally-
    * ordered id stream, `README.md:9`, so one scheme governs the whole
    * feed), and [[validateSeqCursor]] must confirm — with one extra
    * request — that the server resolves synthesized cursors positionally.
    * Returns (width, lastSeqOnPage); None sends the caller to the
    * histogram-walk plan. */
  private[graft] def detectSeqScheme(url: String, page: Page,
                                         auth: Option[String]): Option[(Int, Long)] =
    for {
      firstEvent <- page.events.headOption
      (_, w1) <- parseSeqId(firstEvent.get("id").asText())
      lastId <- page.lastId
      (s2, w2) <- parseSeqId(lastId)
      if w1 == w2 && validateSeqCursor(url, s2, w2, auth)
    } yield (w2, s2)

  /** The density sample a fetched page yields for free: its first and last
    * sequence and its event count. None for an empty page or ids that do
    * not parse as sequence-prefixed. */
  private[graft] def seqSample(page: Page): Option[SeqSample] =
    for {
      first <- page.events.headOption.flatMap(e => parseSeqId(e.get("id").asText()))
      last <- page.lastId.flatMap(parseSeqId)
    } yield SeqSample(first._1, last._1, page.events.length)

  /** O(log feed) head-sequence probe for sequence-prefixed feeds: gallop
    * then binary-search over synthesized [[seqCursor]] probes, using the
    * predicate "the page after cursor(s) is non-empty ⟺ headSeq ≥ s".
    * `knownSeq` must be the sequence of an event known to exist (the
    * predicate is true there), and the caller must have validated the
    * server's positional cursor semantics ([[validateSeqCursor]]) — on a
    * seq-parsing server the predicate is off by one and the probe would
    * land one below the head. Returns the head's sequence WITHOUT paging
    * the feed — the replacement for the O(feed) [[drainPageHistogram]]
    * walk when ids carry the spec's sequence prefix (`README.md:159`).
    * A concurrent append can land between probes; any pin the search
    * settles on is a consistent bounded-replay snapshot (the same
    * guarantee the serial walk gives — its head is equally a moment in
    * time). */
  def probeHeadSeq(url: String, knownSeq: Long, width: Int,
                   auth: Option[String] = None): Long =
    probeHeadSeqSampled(url, knownSeq, width, auth)._1

  /** [[probeHeadSeq]] with a coarser stop, plus what its probe pages yield
    * for free. With `span` = s > 1 the gallop's first stride is s (the
    * sequence span of a page the caller already holds, so the search
    * starts about one page ahead instead of one sequence ahead) and the
    * bisection stops once the bracket is within s — the caller pages the
    * last stretch to the real head id anyway. Returns (lo, loId,
    * samples): `lo` ≤ headSeq < lo + s (exactly the head when s = 1),
    * `loId` the last real id of the last non-empty probe page (None if
    * every probe was empty), and one density sample per non-empty probe
    * page. The gallop's geometric stride samples the whole backlog and the
    * bisection concentrates near the head, so the samples double as a
    * zero-extra-request gap detector for the balance refinement
    * ([[HttpFeedBackfill.densityQuantileBounds]]). */
  private[graft] def probeHeadSeqSampled(url: String, knownSeq: Long, width: Int,
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
    * probe: a range of up to this many pages ends at the empty page and
    * costs exactly what [[drainHead]] costs, so steady-state micro-batches
    * and small replays pay nothing for the probe. */
  private val SerialPages = 2

  /** Head resolution for every unlimited bounded read — the batch plan at
    * any `backfillPartitions`, the AvailableNow pin and `latestOffset`:
    *
    *  1. page serially from `fromId` (only the first request long-polls
    *     `timeoutMs`, so an idle feed blocks at most that long); a range
    *     of ≤ [[SerialPages]] pages ends here;
    *  2. on a longer range whose ids carry the validated sequence prefix
    *     ([[detectSeqScheme]]: scheme detect plus one positional-cursor
    *     probe), gallop+bisect to the head in O(log feed) requests
    *     ([[probeHeadSeqSampled]], seeded with the sequence span of the
    *     page in hand), then page from the last real id the probe saw to
    *     the real head id. The driver never walks the range, so a single
    *     read partition fetches each page once;
    *  3. opaque/UUIDv6 ids or a seq-parsing server: keep walking serially,
    *     recording the page histogram the fan-out splits on.
    *
    * Returns a REAL event id, never a synthesized cursor, so checkpointed
    * offsets stay ordinary ids. The serial pages go through
    * [[sharedCache]]: a reader starting at `fromId` gets the cacheable
    * ones back without a round trip. */
  private[graft] def resolveHead(url: String, fromId: String, timeoutMs: Long,
                                 auth: Option[String] = None): Head = {
    val pages = new ArrayBuffer[(String, Int)]()
    val samples = new ArrayBuffer[SeqSample]()
    def next(cursor: String, timeout: Long): Page =
      fetchPage(url, cursor, timeout, auth, cache = Some(sharedCache))
    def record(p: Page): Unit = {
      pages += p.lastId.get -> p.events.length
      seqSample(p).foreach(samples += _)
    }
    var page = next(fromId, timeoutMs)
    val firstId = page.events.headOption.map(_.get("id").asText())
    while (!page.isEmpty && pages.length < SerialPages) {
      record(page)
      page = next(pages.last._1, 0)
    }
    if (page.isEmpty)
      return Head(pages.lastOption.fold(fromId)(_._1), None, pages.toIndexedSeq)
    record(page)
    val scheme = for {
      (firstSeq, w) <- firstId.flatMap(parseSeqId)
      (pw, lastSeq) <- detectSeqScheme(url, page, auth)
      if pw == w
    } yield (w, firstSeq, lastSeq)
    scheme match {
      case Some((w, firstSeq, lastSeq)) =>
        val span = seqSample(page).fold(1L)(s => s.seqLast - s.seqFirst + 1)
        val (lo, loId, probeSamples) =
          probeHeadSeqSampled(url, lastSeq, w, auth, span)
        // lo ≤ head < lo + span: page from the last real id seen to the
        // real head id (usually just the empty-page confirm). A compaction
        // racing the probe can only make this a lower bound of the head,
        // which is still a consistent pin.
        val headId = drainHead(url, loId.getOrElse(pages.last._1), 0, auth = auth)
        val headSeq = parseSeqId(headId).collect { case (s, `w`) => s }.getOrElse(lo)
        Head(headId, Some(SeqHead(w, firstSeq, headSeq, (samples ++ probeSamples).toIndexedSeq)),
          IndexedSeq.empty)
      case None =>
        val all = pages ++ drainPageHistogram(url, pages.last._1, 0, auth = auth)
        Head(all.last._1, None, all.toIndexedSeq)
    }
  }

  /** The head id after `fromId` for a micro-batch's `latestOffset`
    * ([[resolveHead]]): steady state costs what [[drainHead]] costs (one
    * long-poll page + one empty-page confirm), and a consumer resuming
    * after downtime finds the head of its backlog in O(log backlog)
    * requests on a seq-prefixed feed instead of serially paging the whole
    * backlog through the driver. */
  def probeHead(url: String, fromId: String, timeoutMs: Long,
                auth: Option[String] = None): String =
    resolveHead(url, fromId, timeoutMs, auth).id

  /** Planning walk for a parallel backfill: the same drain-to-head loop as
    * [[drainHead]], but recording each page's (lastId, eventCount) — the
    * page histogram an equi-depth partition planner needs (the
    * `feed_backfill_partition_plan` operator's input, derived from the
    * live feed instead of a parquet mirror). Costs nothing extra: finding
    * the head ALREADY requires paging the whole range (the protocol has no
    * head endpoint, `README.md:79-82`), so the split points ride along on
    * the walk the planner was paying for anyway. Used as the FALLBACK for
    * opaque/UUIDv6 ids; sequence-prefixed feeds find the head in
    * O(log feed) requests via [[resolveHead]] instead. */
  def drainPageHistogram(url: String, fromId: String, timeoutMs: Long,
                         maxPages: Int = 100000,
                         auth: Option[String] = None): IndexedSeq[(String, Int)] = {
    val hist = new ArrayBuffer[(String, Int)]()
    var cursor = fromId
    var first = true
    while (hist.length < maxPages) {
      val page = fetchPage(url, cursor, if (first) timeoutMs else 0, auth)
      first = false
      if (page.isEmpty) return hist.toIndexedSeq
      cursor = page.lastId.getOrElse(return hist.toIndexedSeq)
      hist += cursor -> page.events.length
    }
    hist.toIndexedSeq
  }
}
