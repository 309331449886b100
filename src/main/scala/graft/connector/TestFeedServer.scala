package graft.connector

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Embedded HTTP feed server fixture (JDK built-in httpserver, no deps):
  * serves a feed of pre-serialized CloudEvents envelope JSONs per the spec —
  * single GET endpoint (`README.md:8`), `lastEventId` + `timeout` query
  * params (`README.md:298-301`), `application/cloudevents-batch+json` pages
  * (`README.md:11`), empty array at head (`README.md:79-82`), long-poll
  * blocking until data or timeout (`README.md:123-141`).
  *
  * Test-only harness: the engine is the CONSUMER; serving feeds is out of
  * Spark scope (SURVEY.md §0). `append` + long-poll notify lets tests drive
  * the empty-then-data subscription sequence.
  */
class TestFeedServer(initial: Seq[(String, String)], pageSize: Int = 100,
                     requiredAuth: Option[String] = None, port: Int = 0,
                     /** Per-principal feed view (README.md:325-328): when
                       * set, each request sees only the envelopes this
                       * predicate admits for its Authorization header. */
                     principalFilter: Option[(Option[String], String) => Boolean] = None,
                     /** Misbehavior injection: force this Cache-Control on
                       * every response regardless of the spec's rules (for
                       * cache-isolation defense-in-depth tests). */
                     forceCacheControl: Option[String] = None,
                     /** Alternative cursor semantics a spec-compliant server
                       * MAY implement for seq-prefixed ids: PARSE the
                       * sequence out of `lastEventId` and return events with
                       * `seq > cursorSeq` (the spec only mandates position-
                       * respect for DELETED ids and says the seq prefix is
                       * "interpreted when querying"). Identical to the
                       * lexicographic server for REAL ids, but a synthesized
                       * never-existed cursor `lpad(k)::` skips every seq-k
                       * event — the case the planner's validation probe must
                       * detect and route to the histogram plan. */
                     seqParsingCursors: Boolean = false,
                     /** Misbehavior injection: answer every request with
                       * the feed's first page, whatever its `lastEventId`
                       * — what a proxy that strips query strings does. */
                     ignoreCursor: Boolean = false) {

  // (id, envelopeJson), kept sorted by id (ids are the total order key)
  private var events: Vector[(String, String)] = initial.sortBy(_._1).toVector
  private val lock = new Object

  private val requests = new java.util.concurrent.atomic.AtomicInteger(0)
  // client ports seen, one per TCP connection the clients opened
  private val clientPorts = java.util.concurrent.ConcurrentHashMap.newKeySet[Integer]()

  // daemon threads + explicit shutdown: the fixture must never keep the
  // driver JVM alive after stop()
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(8, r => {
    val t = new Thread(r, "test-feed-server"); t.setDaemon(true); t
  })

  private val server: HttpServer = {
    // pinning a port (restart-between-batches chaos tests rebind the
    // SAME address) can race the old socket's close — retry the bind
    var s: HttpServer = null
    var attempt = 0
    while (s == null) {
      attempt += 1
      try s = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
      catch {
        case _: java.net.BindException if port != 0 && attempt < 50 =>
          Thread.sleep(20)
        case e: Throwable => throw e
      }
    }
    s.createContext("/feed", (exchange: HttpExchange) => handle(exchange))
    s.setExecutor(pool)
    s.start()
    s
  }

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/feed"
  def boundPort: Int = server.getAddress.getPort
  def requestCount: Int = requests.get()
  /** Distinct client connections that have sent a request. */
  def connectionCount: Int = clientPorts.size()

  /** Append new events (notifies long-poll waiters). */
  def append(more: Seq[(String, String)]): Unit = lock.synchronized {
    events = (events ++ more).sortBy(_._1)
    lock.notifyAll()
  }

  /** Compaction/deletion (README.md:148-155): remove events by id. The
    * cursor contract survives deletion by construction — pages key on id
    * ORDER (`> lastEventId`), not id membership, so a consumer whose
    * persisted `lastEventId` was compacted away still resumes at its
    * original position and receives only newer events. */
  def compact(removeIds: Set[String]): Unit = lock.synchronized {
    events = events.filterNot(e => removeIds(e._1))
    lock.notifyAll()
  }

  private val failCount = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile private var failCode = 503
  @volatile private var failRetryAfterSec: Option[Long] = None

  /** Failure injection: the next `n` requests answer `code` with no body
    * (for client retry tests); `retryAfterSec` adds a `Retry-After`
    * header (delta-seconds form) to those failures. */
  def failNext(n: Int, code: Int = 503,
               retryAfterSec: Option[Long] = None): Unit = {
    failCode = code
    failRetryAfterSec = retryAfterSec
    failCount.set(n)
  }

  private val abortCount = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Chaos injection: the next `n` requests declare the full page length
    * but drop the connection after HALF the body — the client sees a
    * mid-page truncated read (premature EOF), the transient failure mode
    * of a flaky proxy or a killed pod. */
  def abortNext(n: Int): Unit = abortCount.set(n)

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
  }

  private def query(ex: HttpExchange): Map[String, String] = {
    val raw = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    raw.split("&").filter(_.contains("=")).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      k -> java.net.URLDecoder.decode(v, "UTF-8")
    }.toMap
  }

  private def visible(auth: Option[String]): Vector[(String, String)] =
    principalFilter.fold(events)(f => events.filter(e => f(auth, e._2)))

  /** Events strictly after the cursor — lexicographic id order by default,
    * or parsed-sequence order when `seqParsingCursors` is set. */
  private def after(evs: Vector[(String, String)],
                    lastEventId: String): Vector[(String, String)] =
    if (!seqParsingCursors || lastEventId.isEmpty)
      evs.dropWhile(_._1 <= lastEventId)
    else graft.udf.SeqId.decodeFn(lastEventId) match {
      case Some(k) => evs.filter(e => graft.udf.SeqId.decodeFn(e._1).exists(_ > k))
      case None => evs.dropWhile(_._1 <= lastEventId)
    }

  private def pageAfter(lastEventId: String, auth: Option[String]): Vector[String] =
    lock.synchronized {
      after(visible(auth), lastEventId).take(pageSize).map(_._2)
    }

  private def handle(ex: HttpExchange): Unit = {
    requests.incrementAndGet()
    clientPorts.add(ex.getRemoteAddress.getPort)
    if (failCount.getAndUpdate(c => math.max(0, c - 1)) > 0) {
      failRetryAfterSec.foreach(s =>
        ex.getResponseHeaders.set("Retry-After", s.toString))
      ex.sendResponseHeaders(failCode, -1)
      ex.close()
      return
    }
    // protected feeds (reference README.md:321-328): reject requests
    // whose Authorization header does not match
    requiredAuth.foreach { expected =>
      val got = Option(ex.getRequestHeaders.getFirst("Authorization"))
      if (!got.contains(expected)) {
        ex.sendResponseHeaders(401, -1)
        ex.close()
        return
      }
    }
    val params = query(ex)
    val authHdr = Option(ex.getRequestHeaders.getFirst("Authorization"))
    val lastId = if (ignoreCursor) "" else params.getOrElse("lastEventId", "")
    val timeoutMs = params.get("timeout").map(_.toLong).getOrElse(0L)
    var page = pageAfter(lastId, authHdr)
    if (page.isEmpty && timeoutMs > 0) {
      // long poll: hold the connection until data arrives or timeout
      val deadline = System.currentTimeMillis() + timeoutMs
      lock.synchronized {
        while (page.isEmpty && System.currentTimeMillis() < deadline) {
          lock.wait(math.max(1, deadline - System.currentTimeMillis()))
          page = after(visible(authHdr), lastId).take(pageSize).map(_._2)
        }
      }
    }
    val body = page.mkString("[", ",", "]").getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/cloudevents-batch+json")
    // Caching (reference README.md:330-332): a FULL batch is immutable —
    // events are append-only in id order, so the page for this cursor can
    // never change — and gets `Cache-Control: public, max-age=…` so CDNs
    // and shared caches absorb cold-history replays (a 1000-executor
    // backfill re-reads the same immutable pages). Partial/empty pages
    // grow as events arrive, and principal-filtered feeds
    // (README.md:328) vary per credential: both are `no-store`.
    val cacheControl = forceCacheControl.getOrElse(
      if (requiredAuth.isEmpty && principalFilter.isEmpty && page.length == pageSize)
        "public, max-age=31536000"
      else "no-store")
    ex.getResponseHeaders.set("Cache-Control", cacheControl)
    if (abortCount.getAndUpdate(c => math.max(0, c - 1)) > 0) {
      // declared-length response cut short mid-body: premature EOF at
      // the client (an IOException the retry loop must absorb)
      ex.sendResponseHeaders(200, math.max(body.length, 2))
      val os = ex.getResponseBody
      try { os.write(body, 0, math.max(body.length / 2, 1)); os.flush() }
      catch { case _: Throwable => () }
      try ex.close() catch { case _: Throwable => () }
      return
    }
    ex.sendResponseHeaders(200, body.length)
    val os = ex.getResponseBody
    os.write(body); os.close()
  }
}
