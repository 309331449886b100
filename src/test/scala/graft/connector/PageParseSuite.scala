package graft.connector

import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

import HttpFeedClient.FeedProtocolException

/** The one-pass page parser ([[HttpFeedClient.parsePage]]) against the
  * tree rules it replaced: generated envelopes must give the rows that a
  * Jackson tree of the same body gives under those rules, and malformed
  * bodies the same [[FeedProtocolException]] messages. */
class PageParseSuite extends AnyFunSuite {
  private val mapper = new ObjectMapper()
  private val Url = "http://feed.test/feed"

  // ---- the tree rules: a JsonNode per envelope, then a row ----------------

  private def str(n: JsonNode, field: String): String = {
    val v = n.get(field)
    if (v == null || v.isNull) null else v.asText()
  }

  /** An envelope's row as plain values, read from its tree. Every value
    * follows the old `toRow`, except a non-textual `data`, which renders
    * as compact JSON (the old `asText` read an object or array as ""). */
  private def treeRow(n: JsonNode): Seq[Any] = {
    val timeUs = Option(n.get("time_us")).filterNot(_.isNull).map(_.asLong())
    val data = Option(n.get("data")).filterNot(_.isNull)
      .map(d => if (d.isTextual) d.asText() else d.toString).orNull
    val ext = Seq.newBuilder[(String, String)]
    n.fields().forEachRemaining { e =>
      if (!HttpFeedClient.CoreAttributes.contains(e.getKey))
        ext += e.getKey -> (if (e.getValue.isNull) null
          else if (e.getValue.isTextual) e.getValue.asText() else e.getValue.toString)
    }
    Seq(str(n, "specversion"), str(n, "id"), str(n, "type"), str(n, "source"),
      timeUs.orNull, str(n, "subject"), str(n, "method"),
      Option(str(n, "datacontenttype")).getOrElse("application/json"), data, ext.result())
  }

  /** The old page check's verdict: the protocol violation message, if any. */
  private def treeViolation(cursor: String, root: JsonNode): Option[String] = {
    def violation(what: String) = Some(s"$Url broke the feed protocol after cursor '$cursor': $what")
    if (!root.isArray) return violation("the response body is not a JSON array")
    var prev = cursor
    var i = 0
    while (i < root.size()) {
      val id = root.get(i).get("id")
      if (id == null || !id.isTextual)
        return violation(s"event $i has no textual id (after id '$prev')")
      val cur = id.asText()
      if ((i > 0 || cursor.nonEmpty) && cur <= prev)
        return violation(
          if (i == 0) s"first id '$cur' is not after the cursor"
          else s"id '$cur' does not follow id '$prev' on the page")
      prev = cur
      i += 1
    }
    None
  }

  private def plain(r: InternalRow): Seq[Any] = (0 until 10).map {
    case 4 => if (r.isNullAt(4)) null else r.getLong(4)
    case 9 =>
      val m = r.getMap(9)
      val ks = m.keyArray(); val vs = m.valueArray()
      (0 until m.numElements()).map(i =>
        ks.getUTF8String(i).toString -> Option(vs.getUTF8String(i)).map(_.toString).orNull)
    case i => Option(r.getUTF8String(i)).map(_.toString).orNull
  }

  // ---- generated envelopes ------------------------------------------------

  private def quote(s: String): String = mapper.writeValueAsString(s)

  private val genText: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr.map(_.take(12)),
    Gen.const(""),
    Gen.const("a\"b\\c\né中😀"),
    Gen.const("{\"v\":1}"))

  private val genScalar: Gen[String] = Gen.oneOf(
    genText.map(quote),
    Gen.chooseNum(Int.MinValue, Int.MaxValue).map(_.toString),
    Gen.chooseNum(Long.MinValue, Long.MaxValue).map(_.toString),
    Gen.const("123456789012345678901234567890"),
    Gen.oneOf("1.5", "-0.25", "2.50", "1e3", "6.02E23", "0.0"),
    Gen.oneOf("true", "false", "null"))

  private def genValue(depth: Int): Gen[String] =
    if (depth == 0) genScalar
    else Gen.frequency(
      4 -> genScalar,
      1 -> Gen.listOfN(3, genValue(depth - 1)).flatMap(vs => Gen.choose(0, 3).map(n =>
        vs.take(n).mkString("[", ",", "]"))),
      1 -> Gen.listOfN(3, Gen.zip(genText, genValue(depth - 1))).flatMap(kvs =>
        Gen.choose(0, 3).map(n => kvs.take(n).map { case (k, v) => s"${quote(k)}:$v" }
          .mkString("{", ",", "}"))))

  private val Keys = Seq("specversion", "type", "source", "time", "time_us", "subject",
    "method", "datacontenttype", "data", "traceparent", "partitionkey", "x-ext")

  /** An envelope object with the given textual id: a random subset of the
    * other keys (some given twice) in random order, each with any value —
    * mostly strings, so string fields see the common case too. */
  private def genEnvelope(id: String): Gen[String] =
    for {
      keys <- Gen.someOf(Keys)
      dups <- Gen.someOf(keys).map(_.take(2))
      ranks <- Gen.listOfN(keys.length + dups.length, Gen.posNum[Int])
      order = (keys ++ dups).zip(ranks).sortBy(_._2).map(_._1)
      vals <- Gen.listOfN(order.length, Gen.frequency(3 -> genText.map(quote), 2 -> genValue(2)))
      idAt <- Gen.choose(0, order.length)
    } yield {
      val fields = order.zip(vals).map { case (k, v) => s"${quote(k)}:$v" }
      val (a, b) = fields.splitAt(idAt)
      (a ++ Seq(s""""id":${quote(id)}""") ++ b).mkString("{", ",", "}")
    }

  private val genIds: Gen[IndexedSeq[String]] =
    Gen.choose(0, 6).flatMap(n => Gen.listOfN(n, Gen.choose(1, 99999)))
      .map(_.distinct.sorted.map(s => f"$s%013d::u$s").toIndexedSeq)

  private val genPage: Gen[(String, IndexedSeq[String])] =
    genIds.flatMap(ids => Gen.sequence[Seq[String], String](ids.map(genEnvelope))
      .flatMap(envs => Gen.oneOf("", "0000000000000::").map(c => (c, envs.toIndexedSeq))))

  private def body(envs: Seq[String]): Array[Byte] =
    envs.mkString("[", ",", "]").getBytes(StandardCharsets.UTF_8)

  private def check(prop: Prop): Unit = {
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, res.status.toString)
  }

  test("one-pass rows ≡ tree rows on generated envelopes (any value type, duplicate keys)") {
    check(Prop.forAll(genPage) { case (cursor, envs) =>
      val b = body(envs)
      val got = HttpFeedClient.parsePage(Url, cursor, b, None).rows.map(plain)
      val root = mapper.readTree(b)
      val want = (0 until root.size()).map(i => treeRow(root.get(i)))
      Prop(got == want) :| s"body ${new String(b, StandardCharsets.UTF_8)}\ngot  $got\nwant $want"
    })
  }

  test("the rule choices the generator covers, spelled out") {
    val env =
      """{"id":0,"data":null,"id":"0001::a","data":{"sku":"123","qty":2},"type":7,"source":{"s":1},
        |"time_us":"12","traceparent":[1,"x"],"subject":null,"x":"first","method":true,
        |"x":"second","time":"2024-01-01T00:00:00Z"}""".stripMargin.replace("\n", "")
    val row = plain(HttpFeedClient.parsePage(Url, "", body(Seq(env)), None).rows.head)
    assert(row === Seq(null, "0001::a", "7", "", 12L, null, "true", "application/json",
      """{"sku":"123","qty":2}""", Seq("traceparent" -> """[1,"x"]""", "x" -> "second")))
  }

  test("malformed bodies raise the tree check's FeedProtocolException message") {
    // a valid page with one defect: a non-object element, an id that is
    // missing, null or numeric, or ids out of order; or a cursor at or
    // past the first id
    val genBroken: Gen[(String, Seq[String])] = for {
      ids <- genIds.suchThat(_.length >= 2)
      envs <- Gen.sequence[Seq[String], String](ids.map(genEnvelope))
      at <- Gen.choose(0, ids.length - 1)
      kind <- Gen.choose(0, 6)
    } yield kind match {
      case 0 => ("", envs.updated(at, "[1,2]"))
      case 1 => ("", envs.updated(at, "42"))
      case 2 => ("", envs.updated(at, """{"type":"t"}"""))
      case 3 => ("", envs.updated(at, """{"id":null}"""))
      case 4 => ("", envs.updated(at, s"""{"id":${at + 1}}"""))
      case 5 => ("", envs.reverse)
      case _ => (ids(at), envs)
    }
    check(Prop.forAll(genBroken) { case (cursor, envs) =>
      val b = body(envs)
      val want = treeViolation(cursor, mapper.readTree(b))
      val got =
        try { HttpFeedClient.parsePage(Url, cursor, b, None); None }
        catch { case e: FeedProtocolException => Some(e.getMessage) }
      Prop(want.isDefined && got == want) :| s"got $got, want $want"
    })
    for (b <- Seq("{}", "{\"id\":\"1\"}", "\"page\"", "7", "")) {
      val e = intercept[FeedProtocolException](HttpFeedClient.parsePage(Url, "c", b.getBytes, None))
      assert(e.getMessage === s"$Url broke the feed protocol after cursor 'c': " +
        "the response body is not a JSON array", b)
    }
  }

  test("a body that is not JSON fails as a parse error, not as a protocol violation") {
    for (b <- Seq("[{\"id\":\"1\"}", "[{\"id\":\"2\"},{\"id\":\"1\"", "{\"id\":", "[1,]x"))
      intercept[java.io.IOException](HttpFeedClient.parsePage(Url, "", b.getBytes, None))
  }

  test("Page.events is the tree of the body and agrees with the rows") {
    val envs = Seq("""{"id":"1::a","data":"x"}""", """{"id":"2::b","data":{"k":[1]}}""")
    val page = HttpFeedClient.parsePage(Url, "", body(envs), Some("no-store"))
    assert(page.events.map(_.get("id").asText()) === Seq("1::a", "2::b"))
    assert(page.events.indices.map(page.id) === Seq("1::a", "2::b"))
    assert(page.firstId.contains("1::a") && page.lastId.contains("2::b"))
    assert(page.rows(1).getUTF8String(8) === UTF8String.fromString("""{"k":[1]}"""))
    assert(page.bytes === body(envs).length && !page.cacheable)
  }
}
