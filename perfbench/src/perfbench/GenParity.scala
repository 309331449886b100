package perfbench

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.SparkSession
import graft.connector.{HttpFeedClient, TestFeedServer}

/** The generator's own test: for the same envelopes, the connector must
  * read identical rows from the generator and from `TestFeedServer`, and
  * the two must agree page by page on the wire rules (strictly-greater
  * cursor, synthesized `lpad(seq)::` cursors, empty array at head,
  * full pages `public, max-age`, partial pages `no-store`, long-poll wake
  * on append). Prints `PARITY OK` or throws. */
object GenParity {
  def run(spark: SparkSession): Unit = {
    val evs = Shapes.backfill(seed = 7, n = 2345, maxPayload = 4096)
    val gen = new FeedGenServer(pageSize = 100)
    gen.create("p", evs)
    val ref = new TestFeedServer(evs.map(e => e.id -> new String(e.json, StandardCharsets.UTF_8)), pageSize = 100)
    try {
      val urls = Seq(gen.url("p"), ref.url)
      for (parts <- Seq(1, 4)) {
        val Seq(a, b) = urls.map(u => spark.read.format("http-feed").option("url", u)
          .option("backfillPartitions", parts.toString).load().orderBy("id").collect().toSeq)
        require(a.size == evs.size, s"generator served ${a.size} of ${evs.size} rows (partitions=$parts)")
        require(a == b, s"rows differ between generator and TestFeedServer (partitions=$parts)")
      }
      val mid = evs(1234).id
      val synth = mid.takeWhile(_ != ':') + "::"
      for (c <- Seq("", evs.head.id, mid, synth, evs(2299).id, evs.last.id)) {
        val Seq(a, b) = urls.map(u => HttpFeedClient.fetchPage(u, c, 0))
        require(a.events.map(_.get("id").asText()) == b.events.map(_.get("id").asText()), s"page after '$c' differs")
        require(a.cacheControl == b.cacheControl, s"Cache-Control after '$c': ${a.cacheControl} vs ${b.cacheControl}")
      }
      require(HttpFeedClient.fetchPage(gen.url("p"), synth, 0).events.head.get("id").asText() == mid,
        "synthesized cursor must position before its sequence")
      require(HttpFeedClient.fetchPage(gen.url("p"), evs.last.id, 0).isEmpty, "head must answer the empty array")

      // long poll: a request parked at the head wakes when an event is appended
      val more = new Shapes.Stream(seed = 99, maxPayload = 256)
      var next = more.next(0L)
      while (next.id <= evs.last.id) next = more.next(0L)
      val store = gen.create("q", evs)
      val t0 = System.nanoTime()
      val waiter = new Thread(() => { Thread.sleep(300); store.append(Seq(next)) })
      waiter.start()
      val woke = HttpFeedClient.fetchPage(gen.url("q"), evs.last.id, 5000)
      waiter.join()
      val ms = (System.nanoTime() - t0) / 1e6
      require(woke.events.size == 1 && ms < 4000, s"long poll returned ${woke.events.size} events after $ms ms")
      println("PARITY OK")
    } finally { gen.stop(); ref.stop() }
  }
}
