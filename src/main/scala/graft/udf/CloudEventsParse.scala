package graft.udf

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Parser for one `application/cloudevents-batch+json` page — the wire
  * format of every feed response (reference `README.md:11`, data model
  * `README.md:304-318`): a JSON array of envelope objects. Explodes a page
  * string into envelope rows; used by the HTTP source's batch ingestion and
  * the §2.9 UDTF surface.
  *
  * v1 ships as `from_json` + `explode` (Catalyst-native, codegen-adjacent)
  * per SURVEY.md §2.9 — a custom Generator would only pay off if JSON
  * parsing dominated the connector profile. In the DSv2 connector it did:
  * a JFR profile of warm 20k-envelope `Feeds.readModel` replays (4 cores)
  * put 17–20 % of all samples in building Jackson trees and 3–6 % in
  * turning them into rows, so the connector builds its rows in one
  * streaming pass instead (`HttpFeedClient.parsePage`, which maps a
  * non-textual `data` to compact JSON as `from_json` does here). This
  * path parses pages a query already holds as strings and was not
  * profiled as a hot spot. `time` travels as the extra
  * `time_us` BIGINT metadata field (the spec allows additional metadata,
  * `README.md:318`) to keep the timestamp round-trip exact at µs precision.
  */
object CloudEventsParse {

  /** Envelope schema per README.md:306-316 (+ time_us metadata field). */
  val envelopeSchema: StructType = StructType(Seq(
    StructField("specversion", StringType),
    StructField("id", StringType),
    StructField("type", StringType),
    StructField("source", StringType),
    StructField("time_us", LongType),
    StructField("subject", StringType),
    StructField("method", StringType),
    StructField("datacontenttype", StringType),
    StructField("data", StringType),
    // extension attributes (README.md:318) — unmatched envelope keys as
    // strings; `from_json` cannot fold unknown keys into a map, so the
    // batch parse path only sees an explicit `extensions` JSON object and
    // the DSv2 connector (which walks the raw JSON) folds loose keys in
    StructField("extensions", MapType(StringType, StringType))))

  val pageSchema: ArrayType = ArrayType(envelopeSchema)

  /** Parse a batch page string into an array of envelope structs.
    *
    * `extensions` is canonicalized to an EMPTY map when the envelope
    * carries none, matching the DSv2 wire reader (HttpFeedSource), so "no
    * extensions" has one representation regardless of ingestion path and
    * downstream equality/fingerprint ops cannot diverge by path. */
  def parsePage(page: Column): Column =
    transform(from_json(page, pageSchema), e =>
      e.withField("extensions", coalesce(e.getField("extensions"),
        map().cast(MapType(StringType, StringType)))))

  /** Explode a batch page string into one envelope struct per row. */
  def explodePage(page: Column): Column = explode(parsePage(page))

  /** Serialize envelope structs (sorted by id — field one of the struct,
    * so array_sort's field-order comparison is an id sort) into a page. */
  def toPage(envelopes: Column): Column = to_json(array_sort(envelopes))
}
