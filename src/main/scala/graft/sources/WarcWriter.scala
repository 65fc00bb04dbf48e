package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}
import graft.text.Html

/** WARC (ISO 28500) record WRITER — the other half of the crawl
  * story: [[Warc]] reads CommonCrawl-layout shards, this serializes
  * them, so a Graft pipeline can re-emit spec-valid `.warc` /
  * `.warc.gz` output (filtered sub-corpora, WET/WAT derived datasets,
  * re-sharded archives). The writer computes its own framing —
  * `Content-Length` counts payload BYTES — and stamps a
  * `WARC-Payload-Digest: sha256:<hex>` labelled digest (WARC 1.1
  * §5.9 allows any hash algorithm label; sha-256 hex is chosen over
  * CommonCrawl's sha-1 base32 because BOTH engines of the correctness
  * gate compute it natively, so the digest itself is cross-checked,
  * not just restated). Every piece is a codegen'd builtin
  * (`concat`/`octet_length`/`sha2`) — the record assembles inside
  * whole-stage codegen with no custom expression and no shuffle.
  *
  * Gates:
  *  - `q_warc_write` — write → per-record gzip member → multi-member
  *    gunzip → [[graft.plans.WarcRecords]] parse (proves the writer's
  *    framing is byte-compatible with the reader, null-URI records
  *    included); the digest the writer stamped is re-extracted from
  *    the raw record and the ORACLE recomputes it with DuckDB's own
  *    `sha256` — a true cross-engine digest check.
  *  - `q_wet_records` — the CommonCrawl WET job: 200-responses out of
  *    the `.warc.gz` → HTTP decode (chunked + gzip content coding) →
  *    HTML text extraction → serialized `conversion` records, parsed
  *    back for the gate.
  *  - `q_wat_records` — the CommonCrawl WAT job: per-response
  *    metadata (status, content type, header count, outlinks
  *    extracted from the body and RFC 3986-resolved against the
  *    target URI) plus the JSON envelope, all per-row.
  *
  * Scale shape: all three are map-only passes over the shard scan —
  * zero hash exchanges (plan-pinned in `WarcWriterSpec`); at 100 TB
  * each is a single read-transform-write with no wide stage at all.
  */
object WarcWriter {

  private val Crlf = "\r\n"

  /** Digest header value as the writer emits it (hex sha-256). */
  val DigestRe = "WARC-Payload-Digest: sha256:([0-9a-f]{64})"

  private def shim(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.GraftColumnShim.column(e)
  private def ex(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.GraftColumnShim.expression(c)
  private def gz(c: Column): Column = shim(graft.plans.GzipBytes(ex(c)))
  private def gunzip(c: Column): Column = shim(graft.plans.GunzipText(ex(c)))
  private def parsed(c: Column): Column = shim(graft.plans.WarcRecords(ex(c)))

  /** Serialize ONE WARC/1.0 record. `uri` may be null (conversion
    * records without a target); `payload` must be non-null — a null
    * payload nulls the whole record, matching concat semantics.
    * Header order is fixed (version, type, optional target, digest,
    * length) so serialization is byte-deterministic and
    * [[recordSql]] can restate it.
    */
  def record(recType: Column, uri: Column, payload: Column): Column = concat(
    lit("WARC/1.0" + Crlf),
    lit("WARC-Type: "), recType, lit(Crlf),
    when(uri.isNotNull, concat(lit("WARC-Target-URI: "), uri, lit(Crlf)))
      .otherwise(lit("")),
    lit("WARC-Payload-Digest: sha256:"), sha2(payload.cast("binary"), 256), lit(Crlf),
    lit("Content-Length: "), octet_length(payload).cast("string"), lit(Crlf),
    lit(Crlf),
    payload, lit(Crlf + Crlf))

  /** One record as its own gzip member — concat members for the
    * CommonCrawl `.warc.gz` shard layout ([[Warc.warcGzipRecords]]
    * reads it back).
    */
  def gzMember(recType: Column, uri: Column, payload: Column): Column =
    gz(record(recType, uri, payload))

  /** [[record]]'s DuckDB restatement over SQL fragments (non-null uri
    * form) — composed oracles (CDX) recompute record byte lengths
    * with it.
    */
  def recordSql(recTypeSql: String, uriSql: String, payloadSql: String): String = {
    val crlf = "chr(13) || chr(10)"
    s"""'WARC/1.0' || $crlf ||
       |    'WARC-Type: ' || $recTypeSql || $crlf ||
       |    'WARC-Target-URI: ' || $uriSql || $crlf ||
       |    'WARC-Payload-Digest: sha256:' || sha256($payloadSql) || $crlf ||
       |    'Content-Length: ' || strlen($payloadSql) || $crlf || $crlf ||
       |    $payloadSql || $crlf || $crlf""".stripMargin
  }

  private def plantUri: Column = concat(
    lit("http://host"), (col("doc_id") % 23).cast("string"),
    lit(".example.com/p/"), col("doc_id").cast("string"))

  /** q_warc_write: serialize the three [[Warc.plantRecords]]-shaped
    * records per document with the WRITER (digest stamped, conversion
    * record URI-less), gzip each as its own member, read the shard
    * back through the multi-member gunzip + parser, and report the
    * parsed fields next to the digest re-extracted from the raw
    * record text. (doc_id, rec_idx, rec_type, uri, content_length,
    * payload, digest).
    */
  def writtenRecords(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val text = coalesce(col("text"), lit(""))
    val r0 = record(lit("response"), plantUri, text)
    val r1 = record(lit("metadata"), concat(plantUri, lit("/meta")),
      concat(lit("fetched "), id.cast("string")))
    val r2 = record(lit("conversion"), lit(null).cast("string"),
      upper(substring(text, 1, 40)))
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(id, array(r0, r1, r2).as("raws"),
        concat(gz(r0), gz(r1), gz(r2)).as("gzshard"))
      .select(col("doc_id"), col("raws"),
        parsed(gunzip(col("gzshard"))).as("recs"))
      // posexplode_OUTER + null guard: the widen-barrier discipline
      // (see Warc.warcRecords) — a plain explode infers a pushable
      // size() predicate that sinks below the widen exchange
      .select(col("doc_id"), col("raws"),
        posexplode_outer(col("recs")).as(Seq("rec_idx", "r")))
      .filter(col("r").isNotNull)
      .select(col("doc_id"),
        col("rec_idx").cast("int").as("rec_idx"),
        col("r").getField("rec_type").as("rec_type"),
        col("r").getField("uri").as("uri"),
        col("r").getField("content_length").as("content_length"),
        col("r").getField("payload").as("payload"),
        regexp_extract(element_at(col("raws"), col("rec_idx") + 1),
          DigestRe, 1).as("digest"))
  }

  def writtenOracle: String =
    s"""WITH e AS (
       |  SELECT doc_id, coalesce(text, '') AS t,
       |    'http://host' || CAST(doc_id % 23 AS VARCHAR) || '.example.com/p/' ||
       |      CAST(doc_id AS VARCHAR) AS uri,
       |    unnest(range(3)) AS k
       |  FROM documents),
       |p AS (
       |  SELECT doc_id, k, uri,
       |    CASE k WHEN 0 THEN t
       |         WHEN 1 THEN 'fetched ' || CAST(doc_id AS VARCHAR)
       |         ELSE upper(substr(t, 1, 40)) END AS payload
       |  FROM e)
       |SELECT doc_id,
       |  CAST(k AS INTEGER) AS rec_idx,
       |  CASE k WHEN 0 THEN 'response' WHEN 1 THEN 'metadata'
       |       ELSE 'conversion' END AS rec_type,
       |  CASE k WHEN 0 THEN uri WHEN 1 THEN uri || '/meta' ELSE NULL END AS uri,
       |  -- Content-Length counts BYTES (strlen)
       |  CAST(strlen(payload) AS BIGINT) AS content_length,
       |  payload,
       |  -- the cross-engine digest check: DuckDB's own sha256 against
       |  -- the digest the Spark writer stamped into the record
       |  sha256(payload) AS digest
       |FROM p""".stripMargin

  /** q_wet_records — the WET derivation: `.warc.gz` responses whose
    * HTTP status is 200 (at the fixture, the chunked + gzip-coded +
    * charset-routed branch), HTML-extracted, re-serialized as WET
    * `conversion` records and parsed back. (doc_id, rec_type, uri,
    * content_length, payload, digest).
    */
  def wetRecords(spark: SparkSession, dir: String): DataFrame = {
    val blob = gz(Warc.plantHttpWarc(Html.plantHtml, plantUri))
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"), parsed(gunzip(blob)).as("recs"))
      .select(col("doc_id"), explode_outer(col("recs")).as("r"))
      .filter(col("r").getField("rec_type") === "response")
      .withColumn("h", shim(graft.plans.HttpMessage(ex(col("r").getField("payload")))))
      // WET keeps successful fetches: the 200 branch is the one whose
      // body rode Content-Encoding gzip INSIDE Transfer-Encoding
      // chunked — the decode stack is on the hot path of this gate
      .filter(col("h").getField("status") === 200)
      .withColumn("wet", record(lit("conversion"),
        col("r").getField("uri"),
        Html.extractText(col("h").getField("body"))))
      .withColumn("p", element_at(parsed(col("wet")), 1))
      .select(col("doc_id"),
        col("p").getField("rec_type").as("rec_type"),
        col("p").getField("uri").as("uri"),
        col("p").getField("content_length").as("content_length"),
        col("p").getField("payload").as("payload"),
        regexp_extract(col("wet"), DigestRe, 1).as("digest"))
  }

  def wetOracle: String =
    s"""WITH ph AS (${Html.plantHtmlSql}),
       |cleaned AS (
       |  SELECT doc_id, ${Html.extractTextSql("html")} AS clean
       |  FROM ph)
       |SELECT doc_id,
       |  'conversion' AS rec_type,
       |  'http://host' || CAST(doc_id % 23 AS VARCHAR) || '.example.com/p/' ||
       |    CAST(doc_id AS VARCHAR) AS uri,
       |  CAST(strlen(clean) AS BIGINT) AS content_length,
       |  clean AS payload,
       |  sha256(clean) AS digest
       |FROM cleaned
       |WHERE doc_id % 3 = 0""".stripMargin

  /** The WAT plant: the q_html_extract markup plus two anchors — a
    * root-relative href the resolver must splice onto the target
    * URI's authority, and an absolute external one it must pass
    * through.
    */
  def plantLinkedHtml: Column = concat(
    Html.plantHtml,
    lit("<a href=\"/p2/"), (col("doc_id") % 13).cast("string"), lit("\">n</a>"),
    lit("<a href=\"http://ext"), (col("doc_id") % 5).cast("string"),
    lit(".org/y\">e</a>"))

  /** q_wat_records — the WAT derivation: per-response fetch metadata
    * (status, content type, header count) plus outlinks pulled from
    * the body and resolved against the target URI
    * ([[graft.plans.ResolveUrl]]), and the JSON envelope a WAT
    * record carries. All fields per-row; links ride U+0001-joined
    * and inside the envelope (gate outputs stay scalar).
    */
  def watRecords(spark: SparkSession, dir: String): DataFrame = {
    val blob = gz(Warc.plantHttpWarc(plantLinkedHtml, plantUri))
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"), plantUri.as("u0"), parsed(gunzip(blob)).as("recs"))
      .select(col("doc_id"), col("u0"), explode_outer(col("recs")).as("r"))
      .filter(col("r").getField("rec_type") === "response")
      .withColumn("h", shim(graft.plans.HttpMessage(ex(col("r").getField("payload")))))
      .withColumn("hrefs",
        regexp_extract_all(col("h").getField("body"), lit("href=\"([^\"]+)\""), lit(1)))
      .withColumn("lnk", transform(col("hrefs"), h =>
        shim(graft.plans.ResolveUrl(ex(col("u0")), ex(h)))))
      .select(col("doc_id"),
        col("r").getField("uri").as("uri"),
        col("h").getField("status").as("status"),
        col("h").getField("content_type").as("content_type"),
        col("h").getField("n_headers").as("n_headers"),
        size(col("lnk")).as("n_links"),
        array_join(col("lnk"), "\u0001").as("links"),
        to_json(struct(
          col("r").getField("uri").as("uri"),
          col("h").getField("status").as("status"),
          col("h").getField("content_type").as("content_type"),
          col("lnk").as("links"))).as("wat_json"))
  }

  def watOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    'http://host' || CAST(doc_id % 23 AS VARCHAR) || '.example.com' AS au,
       |    CAST(CASE doc_id % 3 WHEN 0 THEN 200 WHEN 1 THEN 404 ELSE 301 END
       |         AS INTEGER) AS status,
       |    CASE WHEN doc_id % 3 = 1 THEN 'text/plain' ELSE 'text/html' END AS ct,
       |    CAST(CASE doc_id % 3 WHEN 1 THEN 2 ELSE 3 END AS INTEGER) AS n_headers
       |  FROM documents),
       |l AS (
       |  SELECT doc_id, status, ct, n_headers,
       |    au || '/p/' || CAST(doc_id AS VARCHAR) AS uri,
       |    -- root-relative href resolves onto the target's authority
       |    au || '/p2/' || CAST(doc_id % 13 AS VARCHAR) AS l1,
       |    'http://ext' || CAST(doc_id % 5 AS VARCHAR) || '.org/y' AS l2
       |  FROM d)
       |SELECT doc_id, uri, status, ct AS content_type, n_headers,
       |  CAST(2 AS INTEGER) AS n_links,
       |  l1 || chr(1) || l2 AS links,
       |  '{"uri":"' || uri || '","status":' || status ||
       |    ',"content_type":"' || ct || '","links":["' || l1 || '","' || l2 ||
       |    '"]}' AS wat_json
       |FROM l""".stripMargin

  // ---- WARC `revisit` records (X159, ISO 28500 §6.7.2 as practiced
  // by CommonCrawl): when a refetch returns a payload whose digest
  // equals the stored copy's, the archive writes a payload-FREE
  // revisit record (profile `identical-payload-digest`) referencing
  // the digest instead of duplicating megabytes — the archive layer's
  // own dedup, upstream of any corpus dedup.

  /** Serialize one revisit record — no payload block, Content-Length
    * 0, the referenced payload's digest carried in the header.
    */
  def revisitRecord(uri: Column, digest: Column): Column = concat(
    lit("WARC/1.0" + Crlf),
    lit("WARC-Type: revisit" + Crlf),
    lit("WARC-Target-URI: "), uri, lit(Crlf),
    lit("WARC-Profile: identical-payload-digest" + Crlf),
    lit("WARC-Payload-Digest: sha256:"), digest, lit(Crlf),
    lit("Content-Length: 0" + Crlf),
    lit(Crlf), lit(Crlf + Crlf))

  /** Two-snapshot refetch: url g = doc_id div 2 pairs an old (even)
    * and a new (odd) fetch; every 7th url actually changed (`v2`
    * payload), the rest refetch identical bytes and MUST derive
    * revisit records. One url-keyed self-join (AQE-sized), digests via
    * the same sha256 the writer emits.
    */
  def revisitDerived(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"), expr("doc_id div 2").as("g"))
    val url = concat(lit("http://h"), (col("g") % 23).cast("string"),
      lit(".example.com/p/"), col("g").cast("string"))
    val oldSide = docs.filter(col("doc_id") % 2 === 0)
      .select(col("g"),
        sha2(concat(lit("body "), col("g").cast("string"), lit(" v1"))
          .cast("binary"), 256).as("old_digest"))
    val newSide = docs.filter(col("doc_id") % 2 === 1)
      .select(col("g"), url.as("url"),
        concat(lit("body "), col("g").cast("string"),
          when(col("g") % 7 === 0, lit(" v2")).otherwise(lit(" v1"))).as("payload"))
    newSide.join(oldSide, Seq("g"))
      .select(col("url"),
        when(sha2(col("payload").cast("binary"), 256) === col("old_digest"),
          lit("revisit")).otherwise(lit("response")).as("rec_type"),
        when(sha2(col("payload").cast("binary"), 256) === col("old_digest"),
          revisitRecord(col("url"), col("old_digest")))
          .otherwise(record(lit("response"), col("url"), col("payload"))).as("rec"))
      .select(col("url"), col("rec_type"),
        octet_length(col("rec")).cast("long").as("rec_len"),
        regexp_extract(col("rec"), DigestRe, 1).as("digest"))
  }

  def revisitOracle: String = {
    val crlf = "chr(13) || chr(10)"
    s"""WITH g AS (
       |  SELECT doc_id // 2 AS g,
       |    'http://h' || CAST(doc_id // 2 % 23 AS VARCHAR) || '.example.com/p/' ||
       |      CAST(doc_id // 2 AS VARCHAR) AS url,
       |    'body ' || CAST(doc_id // 2 AS VARCHAR) ||
       |      CASE WHEN doc_id // 2 % 7 = 0 THEN ' v2' ELSE ' v1' END AS payload,
       |    'body ' || CAST(doc_id // 2 AS VARCHAR) || ' v1' AS old_payload
       |  FROM documents WHERE doc_id % 2 = 1),
       |r AS (
       |  SELECT url,
       |    CASE WHEN g % 7 = 0 THEN 'response' ELSE 'revisit' END AS rec_type,
       |    CASE WHEN g % 7 = 0 THEN
       |      ${recordSql("'response'", "url", "payload")}
       |    ELSE
       |      'WARC/1.0' || $crlf || 'WARC-Type: revisit' || $crlf ||
       |      'WARC-Target-URI: ' || url || $crlf ||
       |      'WARC-Profile: identical-payload-digest' || $crlf ||
       |      'WARC-Payload-Digest: sha256:' || sha256(old_payload) || $crlf ||
       |      'Content-Length: 0' || $crlf || $crlf || $crlf || $crlf
       |    END AS rec,
       |    CASE WHEN g % 7 = 0 THEN sha256(payload) ELSE sha256(old_payload) END AS digest
       |  FROM g)
       |SELECT url, rec_type, CAST(strlen(rec) AS BIGINT) AS rec_len, digest
       |FROM r""".stripMargin
  }

  def queries: Seq[(String, Query)] = Seq(
    "q_warc_write" -> Query((s, dir) => writtenRecords(s, dir), writtenOracle),
    "q_wet_records" -> Query((s, dir) => wetRecords(s, dir), wetOracle),
    "q_wat_records" -> Query((s, dir) => watRecords(s, dir), watOracle),
    "q_warc_revisit" -> Query((s, dir) => revisitDerived(s, dir), revisitOracle)
  )
}
