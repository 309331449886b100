package perfbench

import java.net.{InetSocketAddress, URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.SplittableRandom
import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** One envelope as the generator serves it: the id (the feed's order key),
  * the fields the independent read-model check needs, and the serialized
  * JSON bytes that go on the wire. */
final case class Envelope(id: String, subject: String, delete: Boolean,
                          data: String, json: Array[Byte])

/** Seeded envelope shapes shared by the generator process and its parity
  * test. Ids are sequence-prefixed (`lpad(seq, 13) :: suffix`) with gaps;
  * subjects are Zipf-distributed; about 5 % are DELETE tombstones; `data`
  * is an ASCII payload of log-uniform length; about 20 % of envelopes
  * carry extension attributes. */
object Shapes {
  val Width = 13
  private val Alphabet =
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/"
  private val Types = Array("order.created", "order.updated", "item.viewed",
    "cart.changed", "user.signup")

  def seqId(seq: Long, suffix: String): String = {
    val s = seq.toString
    ("0" * math.max(0, Width - s.length)) + s + "::" + suffix
  }

  /** Zipf(s) sampler over `n` subjects by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      var lo = 0; var hi = n - 1
      while (lo < hi) { val mid = (lo + hi) >>> 1; if (cdf(mid) < u) lo = mid + 1 else hi = mid }
      lo
    }
  }

  /** Envelope stream for one feed. */
  final class Stream(seed: Long, maxPayload: Int, subjects: Int = 2000) {
    private val r = new SplittableRandom(seed)
    private val zipf = new Zipf(subjects, 1.1)
    private var seq = 1000L
    private val lnMin = math.log(64); private val lnMax = math.log(maxPayload)

    def next(timeUs: Long): Envelope = {
      seq += 1 + (if (r.nextDouble() < 0.1) r.nextInt(1, 6) else 0)
      val id = seqId(seq, f"${r.nextInt() & 0xffffff}%06x")
      val subject = "s" + zipf.sample(r)
      val delete = r.nextDouble() < 0.05
      val len = math.exp(lnMin + r.nextDouble() * (lnMax - lnMin)).toInt
      val sb = new java.lang.StringBuilder(len)
      var i = 0
      while (i < len) { sb.append(Alphabet.charAt(r.nextInt(64))); i += 1 }
      val data = sb.toString
      val ext =
        if (r.nextDouble() < 0.2)
          Seq("traceparent" -> f"00-${r.nextLong()}%016x${r.nextLong()}%016x-${r.nextLong()}%016x-01",
            "partitionkey" -> subject)
        else Nil
      val json = new java.lang.StringBuilder(len + 256)
      json.append("{\"specversion\":\"1.0\",\"id\":\"").append(id)
        .append("\",\"type\":\"").append(Types(r.nextInt(Types.length)))
        .append("\",\"source\":\"perfbench\",\"time_us\":").append(timeUs)
        .append(",\"subject\":\"").append(subject)
        .append("\",\"method\":\"").append(if (delete) "DELETE" else "PUT")
        .append("\",\"datacontenttype\":\"text/plain\",\"data\":\"").append(data).append('"')
      ext.foreach { case (k, v) => json.append(",\"").append(k).append("\":\"").append(v).append('"') }
      json.append('}')
      Envelope(id, subject, delete, data, json.toString.getBytes(StandardCharsets.UTF_8))
    }
  }

  def backfill(seed: Long, n: Int, maxPayload: Int): IndexedSeq[Envelope] = {
    val s = new Stream(seed, maxPayload)
    (0 until n).map(i => s.next(1700000000000000L + i * 1000L))
  }

  def hex(bytes: Array[Byte]): String = bytes.map("%02x".format(_)).mkString

  /** Read model computed without Spark: the newest envelope (greatest id)
    * per subject, dropped when it is a tombstone. Returns (rows, digest),
    * the digest being SHA-256 over sorted `subject \t id \t md5(data)`
    * lines. */
  def readModel(evs: Seq[Envelope]): (Int, String) = {
    val latest = scala.collection.mutable.HashMap.empty[String, Envelope]
    evs.foreach(e => latest.get(e.subject) match {
      case Some(o) if o.id >= e.id => ()
      case _ => latest(e.subject) = e
    })
    val lines = latest.values.filterNot(_.delete).map { e =>
      val md5 = hex(MessageDigest.getInstance("MD5").digest(e.data.getBytes(StandardCharsets.UTF_8)))
      s"${e.subject}\t${e.id}\t$md5"
    }.toSeq.sorted
    (lines.size, digestLines(lines))
  }

  def digestLines(lines: Iterable[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes(StandardCharsets.UTF_8)))
    hex(md.digest())
  }
}

/** Append-only feed store. Ids arrive in increasing order, so a cursor is
  * resolved by binary search and a page is a slice: no per-request scan
  * or re-sort. Readers see a consistent prefix through the volatile
  * `size`, written after the arrays. */
final class FeedStore(pageSize: Int) {
  @volatile private var ids = new Array[String](1024)
  @volatile private var bodies = new Array[Array[Byte]](1024)
  @volatile private var n = 0

  def size: Int = n

  def append(evs: Seq[Envelope]): Unit = synchronized {
    evs.foreach { e =>
      require(n == 0 || e.id > ids(n - 1), s"ids must increase: ${e.id}")
      if (n == ids.length) {
        ids = java.util.Arrays.copyOf(ids, n * 2)
        bodies = java.util.Arrays.copyOf(bodies, n * 2)
      }
      ids(n) = e.id; bodies(n) = e.json
      n += 1
    }
    notifyAll()
  }

  /** Index of the first id strictly greater than `cursor` among the first `m`. */
  private def firstAfter(a: Array[String], m: Int, cursor: String): Int = {
    var lo = 0; var hi = m
    while (lo < hi) { val mid = (lo + hi) >>> 1; if (a(mid) <= cursor) lo = mid + 1 else hi = mid }
    lo
  }

  /** The page after `cursor` as (body, eventCount). */
  def page(cursor: String): (Array[Byte], Int) = {
    val m = n
    val a = ids; val b = bodies
    val from = firstAfter(a, m, cursor)
    val to = math.min(m, from + pageSize)
    var len = 2 + math.max(0, to - from - 1)
    var i = from
    while (i < to) { len += b(i).length; i += 1 }
    val out = new Array[Byte](len)
    out(0) = '['
    var pos = 1
    i = from
    while (i < to) {
      if (i > from) { out(pos) = ','; pos += 1 }
      System.arraycopy(b(i), 0, out, pos, b(i).length); pos += b(i).length
      i += 1
    }
    out(pos) = ']'
    (out, to - from)
  }

  /** Block until the store holds more than `seen` envelopes or the deadline passes. */
  def awaitGrowth(seen: Int, deadlineMs: Long): Unit = synchronized {
    while (n <= seen && System.currentTimeMillis() < deadlineMs)
      wait(math.max(1L, deadlineMs - System.currentTimeMillis()))
  }

  def hasAfter(cursor: String): Boolean = { val m = n; firstAfter(ids, m, cursor) < m }
}

/** The feed server: the HTTP Feeds wire protocol over [[FeedStore]]s plus
  * a small control API. Serves `GET /feed/<name>[/<anything>]` — the tail
  * lets a client open a fresh URL onto the same feed, which keeps URL-keyed
  * client caches cold. Counters cover feed requests only. */
final class FeedGenServer(threads: Int = 4, pageSize: Int = 100) {
  private val feeds = new ConcurrentHashMap[String, FeedStore]()
  val requests = new AtomicLong(); val bytes = new AtomicLong(); val busyNs = new AtomicLong()
  /** Open while the process warms itself up: control calls wait for it,
    * so the counters cover only the benchmark's own requests. */
  val warming = new java.util.concurrent.CountDownLatch(1)

  private val pool = Executors.newFixedThreadPool(threads, r => {
    val t = new Thread(r, "feedgen-http"); t.setDaemon(true); t
  })
  private val server = {
    val s = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
    s.createContext("/feed/", (ex: HttpExchange) => serveFeed(ex))
    s.createContext("/ctl/", (ex: HttpExchange) => control(ex))
    s.setExecutor(pool)
    s.start()
    s
  }

  def port: Int = server.getAddress.getPort
  def url(name: String): String = s"http://127.0.0.1:$port/feed/$name"
  def stop(): Unit = { server.stop(0); pool.shutdownNow() }

  def create(name: String, evs: Seq[Envelope]): FeedStore = {
    val st = new FeedStore(pageSize)
    st.append(evs)
    feeds.put(name, st)
    st
  }

  private def params(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&").filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> URLDecoder.decode(v, "UTF-8") }.toMap

  private def respond(ex: HttpExchange, code: Int, body: Array[Byte],
                      headers: (String, String)*): Unit = {
    headers.foreach { case (k, v) => ex.getResponseHeaders.set(k, v) }
    ex.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length)
    val os = ex.getResponseBody
    try os.write(body) finally os.close()
  }

  private def serveFeed(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    var waitedNs = 0L
    requests.incrementAndGet()
    val name = ex.getRequestURI.getPath.stripPrefix("/feed/").takeWhile(_ != '/')
    val store = feeds.get(name)
    if (store == null) { respond(ex, 404, Array.emptyByteArray); return }
    val p = params(ex)
    val cursor = p.getOrElse("lastEventId", "")
    val timeoutMs = p.get("timeout").map(_.toLong).getOrElse(0L)
    if (timeoutMs > 0 && !store.hasAfter(cursor)) {
      val w0 = System.nanoTime()
      val deadline = System.currentTimeMillis() + timeoutMs
      var seen = store.size
      while (!store.hasAfter(cursor) && System.currentTimeMillis() < deadline) {
        store.awaitGrowth(seen, deadline)
        seen = store.size
      }
      waitedNs = System.nanoTime() - w0
    }
    val (body, count) = store.page(cursor)
    bytes.addAndGet(body.length)
    respond(ex, 200, body,
      "Content-Type" -> "application/cloudevents-batch+json",
      "Cache-Control" -> (if (count == pageSize) "public, max-age=31536000" else "no-store"))
    busyNs.addAndGet(System.nanoTime() - t0 - waitedNs)
  }

  private def json(fields: (String, Any)*): Array[Byte] =
    fields.map { case (k, v) =>
      val s = v match {
        case s: String => "\"" + s + "\""
        case o => o.toString
      }
      "\"" + k + "\":" + s
    }.mkString("{", ",", "}").getBytes(StandardCharsets.UTF_8)

  private def control(ex: HttpExchange): Unit = {
    val p = params(ex)
    warming.await()
    val out: Array[Byte] = try ex.getRequestURI.getPath.stripPrefix("/ctl/") match {
      case "create" =>
        val t0 = System.nanoTime()
        val evs = Shapes.backfill(p("seed").toLong, p("n").toInt, p("maxPayload").toInt)
        create(p("name"), evs)
        val (rows, digest) = Shapes.readModel(evs)
        json("events" -> evs.size, "expect_rows" -> rows, "expect_digest" -> digest,
          "gen_ms" -> (System.nanoTime() - t0) / 1e6)
      case "stats" =>
        json("requests" -> requests.get(), "bytes" -> bytes.get(), "busy_ms" -> busyNs.get() / 1e6)
      case other => throw new IllegalArgumentException(s"unknown control call $other")
    } catch {
      case e: Exception =>
        respond(ex, 400, String.valueOf(e).getBytes(StandardCharsets.UTF_8)); return
    }
    respond(ex, 200, out, "Content-Type" -> "application/json")
  }
}

/** The load generator as its own process. Prints `PORT <n>` once it
  * listens, then serves until its standard input closes, so it never
  * outlives the process that started it. Run with
  * `-Dsun.net.httpserver.nodelay=true` so Nagle's algorithm plus delayed
  * ACKs cannot stall keep-alive clients. */
object FeedGen {
  /** Serve pages to itself before serving the benchmark: the JDK HTTP
    * server's request path takes thousands of requests to be compiled,
    * and until then every page costs more, which would show up as a
    * drifting consumer. */
  def selfWarm(server: FeedGenServer, requests: Int): Unit = {
    val evs = Shapes.backfill(seed = 1, n = 2000, maxPayload = 512)
    server.create("_warm", evs)
    val pool = Executors.newFixedThreadPool(4)
    try (0 until 4).map { t =>
      pool.submit(new Runnable { def run(): Unit = (0 until requests / 4).foreach { i =>
        val c = evs((i * 37 + t) % evs.size).id
        val conn = new java.net.URI(server.url("_warm") + "?lastEventId=" + URLEncoder.encode(c, "UTF-8"))
          .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
        try conn.getInputStream.readAllBytes() finally conn.disconnect()
      } })
    }.foreach(_.get())
    finally pool.shutdown()
    server.requests.set(0); server.bytes.set(0); server.busyNs.set(0)
    server.warming.countDown()
  }

  def main(args: Array[String]): Unit = {
    val server = new FeedGenServer()
    // the port goes out first: the benchmark JVM starts its Spark session
    // while this process warms up
    println(s"PORT ${server.port}")
    System.out.flush()
    selfWarm(server, 5000)
    while (System.in.read() >= 0) ()
    server.stop()
  }
}
