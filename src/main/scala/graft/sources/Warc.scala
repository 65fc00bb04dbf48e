package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** WARC shard ingestion (see [[graft.plans.WarcRecords]]) — plant
  * multi-record WARC blobs from the fixture text, walk them back by
  * Content-Length framing, explode to one row per record. The plant
  * covers the variations a real CommonCrawl shard has: multiple
  * records per blob, a header the parser must skip (WARC-Date), a
  * record with NO target URI (conversion records), payloads whose
  * content could be mistaken for headers if framing were done by
  * pattern matching instead of declared length.
  *
  * Scale shape: map + explode, no shuffle; a 100 TB crawl ingests as
  * one pass with per-record rows feeding the hygiene funnel directly.
  */
object Warc {

  private val Crlf = "\r\n"

  /** The three per-document records, separately (the gzip gate wraps
    * each in its OWN member, the CommonCrawl layout).
    */
  def plantRecords: Seq[Column] = {
    val id = col("doc_id")
    val text = coalesce(col("text"), lit(""))
    val uri = concat(lit("http://host"), (id % 23).cast("string"),
      lit(".example.com/p/"), id.cast("string"))
    def rec(headers: Column, payload: Column): Column = concat(
      lit("WARC/1.0" + Crlf),
      headers,
      lit("Content-Length: "), octet_length(payload).cast("string"), lit(Crlf),
      lit(Crlf),
      payload, lit(Crlf + Crlf))
    val r0 = rec(
      concat(lit("WARC-Type: response" + Crlf),
        lit("WARC-Target-URI: "), uri, lit(Crlf)),
      text)
    val r1 = rec(
      concat(lit("WARC-Type: metadata" + Crlf),
        lit("WARC-Date: 2026-08-14T00:00:00Z" + Crlf), // parser must skip
        lit("WARC-Target-URI: "), uri, lit("/meta"), lit(Crlf)),
      concat(lit("fetched "), id.cast("string")))
    val r2 = rec(
      lit("WARC-Type: conversion" + Crlf), // no URI header → null uri
      upper(substring(text, 1, 40)))
    Seq(r0, r1, r2)
  }

  /** Three concatenated records per document. */
  def plantWarc: Column = concat(plantRecords: _*)

  private def gzipped(c: Column): Column =
    org.apache.spark.sql.GraftColumnShim.column(
      graft.plans.GzipBytes(
        org.apache.spark.sql.GraftColumnShim.expression(c)))

  private def gunzipped(c: Column): Column =
    org.apache.spark.sql.GraftColumnShim.column(
      graft.plans.GunzipText(
        org.apache.spark.sql.GraftColumnShim.expression(c)))

  /** The `.warc.gz` path: each record its OWN gzip member, members
    * concatenated (the CommonCrawl shard layout — a single-member
    * reader drops the tail), decoded multi-member, then the SAME walk
    * and the SAME oracle as [[warcRecords]]: compression must be
    * content-transparent end to end.
    */
  def warcGzipRecords(spark: SparkSession, dir: String): DataFrame =
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"),
        concat(plantRecords.map(gzipped): _*).as("gz"))
      .select(col("doc_id"),
        org.apache.spark.sql.GraftColumnShim.column(
          graft.plans.WarcRecords(
            org.apache.spark.sql.GraftColumnShim.expression(
              gunzipped(col("gz"))))).as("recs"))
      // posexplode_OUTER + null guard: a plain explode makes Catalyst
      // infer a pushable size(recs)>0 that lands BELOW the widen
      // exchange and runs the whole plant+gzip+parse on the narrow
      // pre-widen partitions (see CrawlPipeline.statelessStages)
      .select(col("doc_id"), posexplode_outer(col("recs")).as(Seq("rec_idx", "r")))
      .filter(col("r").isNotNull)
      .select(col("doc_id"),
        col("rec_idx").cast("int").as("rec_idx"),
        col("r").getField("rec_type").as("rec_type"),
        col("r").getField("uri").as("uri"),
        col("r").getField("content_length").as("content_length"),
        col("r").getField("payload").as("payload"))

  /** The `.warc.zst` path (X236): each record its OWN zstd frame,
    * frames concatenated (the newer Common Crawl drop layout — same
    * multi-member discipline as the gzip path), decoded through the
    * full pure-JVM [[graft.plans.Zstd]] decoder, then the SAME walk and
    * the SAME oracle as [[warcRecords]]: the codec must be
    * content-transparent end to end. Plants write stored-mode frames
    * (legal zstd, reference-CLI-verified); the COMPRESSED-block decode
    * surface is golden-pinned in ZstdSpec against reference-CLI
    * streams at levels 1/3/19.
    */
  def warcZstdRecords(spark: SparkSession, dir: String): DataFrame =
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"),
        concat(plantRecords.map(c =>
          org.apache.spark.sql.GraftColumnShim.column(
            graft.plans.ZstdStoreBytes(
              org.apache.spark.sql.GraftColumnShim.expression(c)))): _*).as("zst"))
      .select(col("doc_id"),
        org.apache.spark.sql.GraftColumnShim.column(
          graft.plans.WarcRecords(
            org.apache.spark.sql.GraftColumnShim.expression(
              org.apache.spark.sql.GraftColumnShim.column(
                graft.plans.ZstdText(
                  org.apache.spark.sql.GraftColumnShim.expression(col("zst")))))))
          .as("recs"))
      .select(col("doc_id"), posexplode_outer(col("recs")).as(Seq("rec_idx", "r")))
      .filter(col("r").isNotNull)
      .select(col("doc_id"),
        col("rec_idx").cast("int").as("rec_idx"),
        col("r").getField("rec_type").as("rec_type"),
        col("r").getField("uri").as("uri"),
        col("r").getField("content_length").as("content_length"),
        col("r").getField("payload").as("payload"))

  /** (doc_id, rec_idx, rec_type, uri, content_length, payload). */
  def warcRecords(spark: SparkSession, dir: String): DataFrame =
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"),
        org.apache.spark.sql.GraftColumnShim.column(
          graft.plans.WarcRecords(
            org.apache.spark.sql.GraftColumnShim.expression(plantWarc))).as("recs"))
      // posexplode_OUTER + null guard: a plain explode makes Catalyst
      // infer a pushable size(recs)>0 that lands BELOW the widen
      // exchange and runs the whole plant+gzip+parse on the narrow
      // pre-widen partitions (see CrawlPipeline.statelessStages)
      .select(col("doc_id"), posexplode_outer(col("recs")).as(Seq("rec_idx", "r")))
      .filter(col("r").isNotNull)
      .select(col("doc_id"),
        col("rec_idx").cast("int").as("rec_idx"),
        col("r").getField("rec_type").as("rec_type"),
        col("r").getField("uri").as("uri"),
        col("r").getField("content_length").as("content_length"),
        col("r").getField("payload").as("payload"))

  private def chunkedPlant(c: Column, size: Int): Column =
    org.apache.spark.sql.GraftColumnShim.column(
      graft.plans.HttpChunkedPlant(
        org.apache.spark.sql.GraftColumnShim.expression(c), size))

  /** WARC response records whose payload is a full HTTP/1.1 message —
    * the real CommonCrawl layout ([[graft.plans.HttpMessage]] docs).
    * Three response shapes, rotating by doc_id:
    *   %3==0 → 200, `Transfer-Encoding: chunked` (7-byte chunks, so
    *            boundaries straddle multibyte characters), charset param
    *   %3==1 → 404, `Content-Length` framing, text/plain
    *   %3==2 → 301, no framing headers (body = rest of payload)
    */
  def plantHttpWarc: Column =
    plantHttpWarc(coalesce(col("text"), lit("")),
      concat(lit("http://host"), (col("doc_id") % 23).cast("string"),
        lit(".example.com/p/"), col("doc_id").cast("string")))

  /** Same plant with caller-chosen body and target URI (the crawl
    * composition plants HTML bodies and messy URIs).
    */
  def plantHttpWarc(body: Column, uri: Column): Column =
    warcWrap(uri, httpMsg3(body))

  /** The %3 message-framing rotation over a caller-chosen body. */
  private def httpMsg3(body: Column): Column = {
    val id = col("doc_id")
    // the real stack: Content-Encoding INSIDE Transfer-Encoding
    // chunked — the decoder must undo the transfer coding first, then
    // the content coding, then route the charset. The content coding
    // itself rotates gzip/zstd by doc parity: modern crawls serve both,
    // and the zstd arm drives the X236 decoder through the full
    // HTTP-under-WARC chain in-gate.
    val ceName = when(id % 2 === 0, lit("gzip")).otherwise(lit("zstd"))
    val ceBody = when(id % 2 === 0, gzipped(body).cast("string"))
      .otherwise(org.apache.spark.sql.GraftColumnShim.column(
        graft.plans.ZstdStoreBytes(org.apache.spark.sql.GraftColumnShim
          .expression(body))).cast("string"))
    val chunkedMsg = concat(
      lit("HTTP/1.1 200 OK" + Crlf),
      lit("Content-Type: text/html; charset=utf-8" + Crlf),
      lit("Content-Encoding: "), ceName, lit(Crlf),
      lit("Transfer-Encoding: chunked" + Crlf),
      lit(Crlf),
      chunkedPlant(ceBody, 7))
    val lengthMsg = concat(
      lit("HTTP/1.1 404 Not Found" + Crlf),
      lit("Content-Type: text/plain" + Crlf),
      lit("Content-Length: "), octet_length(body).cast("string"), lit(Crlf),
      lit(Crlf),
      body)
    val bareMsg = concat(
      lit("HTTP/1.1 301 Moved Permanently" + Crlf),
      lit("Location: http://example.org/moved" + Crlf),
      lit("X-Crawl-Note: folded" + Crlf),
      lit("  continuation" + Crlf), // obs-fold the parser must merge
      lit("Content-Type: text/html" + Crlf),
      lit(Crlf),
      body)
    when(id % 3 === 0, chunkedMsg)
      .when(id % 3 === 1, lengthMsg)
      .otherwise(bareMsg)
  }

  private def warcWrap(uri: Column, msg: Column): Column = concat(
    lit("WARC/1.0" + Crlf),
    lit("WARC-Type: response" + Crlf),
    lit("WARC-Target-URI: "), uri, lit(Crlf),
    lit("Content-Length: "), octet_length(msg).cast("string"), lit(Crlf),
    lit(Crlf),
    msg, lit(Crlf + Crlf))

  // Non-Latin body plants: a fixed prefix in the DECLARED charset's
  // bytes (invalid as UTF-8 — a byte-naive UTF-8 read mangles it)
  // followed by the doc_id's ASCII digits. The raw bytes ride a string
  // column untouched (UTF8String is byte-transparent under concat /
  // octet_length); only HttpMessage's charset routing turns them into
  // the text the oracle restates.
  // "privet" in Cyrillic + space: 7 bytes in cp1251 (one per char)
  private val Win1251Text = "\u043f\u0440\u0438\u0432\u0435\u0442 "
  // "konnichiwa" in kana + space: 11 bytes in shift_jis (two per kana)
  private val SjisText = "\u3053\u3093\u306b\u3061\u306f "
  private def charsetMsg(declared: String, prefix: String, cs: String): Column = {
    val body = concat(lit(prefix.getBytes(cs)).cast("string"),
      col("doc_id").cast("string"))
    concat(
      lit("HTTP/1.1 200 OK" + Crlf),
      lit(s"Content-Type: text/html; charset=$declared" + Crlf),
      lit("Content-Length: "), octet_length(body).cast("string"), lit(Crlf),
      lit(Crlf),
      body)
  }

  /** The q_warc_http plant: the %3 framing rotation, with doc_id%7==3
    * overridden to a windows-1251 body and %7==5 to shift_jis — the
    * charsets a real crawl meets constantly. Routing must go through
    * the JVM's full codec table (`Charset.forName`), not an
    * ISO-8859-1/UTF-8 shortlist.
    */
  def plantHttpCharsetWarc: Column = {
    val id = col("doc_id")
    val uri = concat(lit("http://host"), (id % 23).cast("string"),
      lit(".example.com/p/"), id.cast("string"))
    val msg = when(id % 7 === 3, charsetMsg("windows-1251", Win1251Text, "windows-1251"))
      .when(id % 7 === 5, charsetMsg("shift_jis", SjisText, "shift_jis"))
      .otherwise(httpMsg3(coalesce(col("text"), lit(""))))
    warcWrap(uri, msg)
  }

  private def httpMessage(c: Column): Column =
    org.apache.spark.sql.GraftColumnShim.column(
      graft.plans.HttpMessage(
        org.apache.spark.sql.GraftColumnShim.expression(c)))

  /** warc.gz → WARC walk → HTTP split: the chain a CommonCrawl shard
    * actually needs. (doc_id, uri, status, content_type, charset,
    * n_headers, headers, body). One map-only pass, no shuffle beyond
    * the deliberate widen.
    */
  def warcHttp(spark: SparkSession, dir: String): DataFrame =
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"),
        org.apache.spark.sql.GraftColumnShim.column(
          graft.plans.WarcRecords(
            org.apache.spark.sql.GraftColumnShim.expression(
              gunzipped(gzipped(plantHttpCharsetWarc))))).as("recs"))
      .select(col("doc_id"), explode_outer(col("recs")).as("r"))
      .filter(col("r").getField("rec_type") === "response")
      .select(col("doc_id"),
        col("r").getField("uri").as("uri"),
        httpMessage(col("r").getField("payload")).as("h"))
      .select(col("doc_id"), col("uri"),
        col("h").getField("status").as("status"),
        col("h").getField("content_type").as("content_type"),
        col("h").getField("charset").as("charset"),
        col("h").getField("content_encoding").as("content_encoding"),
        col("h").getField("n_headers").as("n_headers"),
        // gate contract: top-level columns must be SCALAR — the driver
        // harness sorts rows via pandas over every column and dies on
        // array cells (round-9 q_warc_http). U+0001-join, never raw.
        array_join(col("h").getField("headers"), "\u0001").as("headers"),
        col("h").getField("body").as("body"))

  // "\u043f\u0440\u0438\u0432\u0435\u0442 " / "\u3053\u3093\u306b\u3061\u306f " as the oracle restates them (the DECODED
  // text the charset routing must produce from the cp1251/shift_jis
  // byte plants)
  private val Win1251Sql = "\u043f\u0440\u0438\u0432\u0435\u0442 "
  private val SjisSql = "\u3053\u3093\u306b\u3061\u306f "

  def warcHttpOracle: String =
    // cs: 0 = the %3 rotation, 1 = windows-1251 plant, 2 = shift_jis
    // plant (doc_id%7 overrides, mirroring plantHttpCharsetWarc).
    // headers joined with chr(1) — top-level gate columns must be
    // scalar (driver sort contract); lists never reach the output.
    s"""WITH d AS (
       |  SELECT doc_id, coalesce(text, '') AS t,
       |    CASE WHEN doc_id % 7 = 3 THEN 1
       |         WHEN doc_id % 7 = 5 THEN 2 ELSE 0 END AS cs
       |  FROM documents)
       |SELECT doc_id,
       |  'http://host' || CAST(doc_id % 23 AS VARCHAR) || '.example.com/p/' ||
       |    CAST(doc_id AS VARCHAR) AS uri,
       |  CAST(CASE WHEN cs > 0 THEN 200
       |       ELSE CASE doc_id % 3 WHEN 0 THEN 200 WHEN 1 THEN 404 ELSE 301 END
       |       END AS INTEGER) AS status,
       |  CASE WHEN cs = 0 AND doc_id % 3 = 1 THEN 'text/plain'
       |       ELSE 'text/html' END AS content_type,
       |  CASE WHEN cs = 1 THEN 'windows-1251'
       |       WHEN cs = 2 THEN 'shift_jis'
       |       WHEN doc_id % 3 = 0 THEN 'utf-8' ELSE NULL END AS charset,
       |  CASE WHEN cs = 0 AND doc_id % 3 = 0 THEN
       |    CASE WHEN doc_id % 2 = 0 THEN 'gzip' ELSE 'zstd' END
       |    ELSE NULL END AS content_encoding,
       |  CAST(CASE WHEN cs > 0 THEN 2
       |       WHEN doc_id % 3 = 1 THEN 2 ELSE 3 END AS INTEGER) AS n_headers,
       |  CASE
       |    WHEN cs = 1 THEN array_to_string(
       |      ['content-type: text/html; charset=windows-1251',
       |       'content-length: ' ||
       |         CAST(7 + length(CAST(doc_id AS VARCHAR)) AS VARCHAR)], chr(1))
       |    WHEN cs = 2 THEN array_to_string(
       |      ['content-type: text/html; charset=shift_jis',
       |       'content-length: ' ||
       |         CAST(11 + length(CAST(doc_id AS VARCHAR)) AS VARCHAR)], chr(1))
       |    WHEN doc_id % 3 = 0 THEN array_to_string(
       |      ['content-type: text/html; charset=utf-8',
       |       'content-encoding: ' ||
       |         CASE WHEN doc_id % 2 = 0 THEN 'gzip' ELSE 'zstd' END,
       |       'transfer-encoding: chunked'], chr(1))
       |    WHEN doc_id % 3 = 1 THEN array_to_string(
       |      ['content-type: text/plain',
       |       'content-length: ' || CAST(strlen(t) AS VARCHAR)], chr(1))
       |    ELSE array_to_string(
       |      ['location: http://example.org/moved',
       |       'x-crawl-note: folded continuation',
       |       'content-type: text/html'], chr(1))
       |  END AS headers,
       |  CASE WHEN cs = 1 THEN '$Win1251Sql' || CAST(doc_id AS VARCHAR)
       |       WHEN cs = 2 THEN '$SjisSql' || CAST(doc_id AS VARCHAR)
       |       ELSE t END AS body
       |FROM d""".stripMargin

  def warcOracle: String =
    s"""WITH e AS (
       |  SELECT doc_id, coalesce(text, '') AS t,
       |    'http://host' || CAST(doc_id % 23 AS VARCHAR) || '.example.com/p/' ||
       |      CAST(doc_id AS VARCHAR) AS uri,
       |    unnest(range(3)) AS k
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(k AS INTEGER) AS rec_idx,
       |  CASE k WHEN 0 THEN 'response' WHEN 1 THEN 'metadata' ELSE 'conversion' END AS rec_type,
       |  CASE k WHEN 0 THEN uri WHEN 1 THEN uri || '/meta' ELSE NULL END AS uri,
       |  -- Content-Length counts BYTES (strlen), not code points: the
       |  -- ASCII fixture hides the difference, the contract does not
       |  CAST(CASE k WHEN 0 THEN strlen(t)
       |       WHEN 1 THEN strlen('fetched ' || CAST(doc_id AS VARCHAR))
       |       ELSE strlen(upper(substr(t, 1, 40))) END AS BIGINT) AS content_length,
       |  CASE k WHEN 0 THEN t
       |       WHEN 1 THEN 'fetched ' || CAST(doc_id AS VARCHAR)
       |       ELSE upper(substr(t, 1, 40)) END AS payload
       |FROM e""".stripMargin

  // Meta-prescan plants: the transport header stays charset-SILENT and
  // the document announces its own encoding (HTML5 §13.2.3.2) — the
  // attribute form, the http-equiv form, single-quoted and unquoted
  // values, and a latin-1 body whose 0xE9 byte is invalid UTF-8 (a
  // fallback decode would mangle it, so the gate proves the sniffed
  // charset actually routed).
  private val Latin1Cafe = "café "
  private val Utf8Hello = "héllo "
  // BOM plants: é forces real UTF-16 code units (0xE9 0x00 / 0x00
  // 0xE9 — invalid UTF-8 either way round); the BOM'd-UTF-8 body
  // carries a decoy meta the prescan must never reach
  private val Utf16Text = "uni café "
  private val BomUtf8Text = "<html><head><meta charset=koi8-r></head><body>bömé "

  /** HTTP 200 `text/html`; body rotation doc_id % 8: meta
    * windows-1251 / http-equiv shift_jis / single-quoted iso-8859-1 /
    * unquoted utf-8 / no meta at all (the header-silent meta-prescan
    * classes, NO charset param) — then the WHATWG §13.2.3.1 BOM
    * classes: UTF-16LE and UTF-16BE bodies under a silent header
    * (bytes invalid as UTF-8 — any fallback decode is mojibake, so
    * the gate proves the BOM actually routed), and a BOM'd UTF-8 body
    * CONTRADICTING an explicit `charset=iso-8859-1` header param with
    * a decoy `<meta charset=koi8-r>` inside — bom must beat both.
    * The per-row doc_id digits are interleaved with NULs to form
    * valid UTF-16 code units for ASCII (LE: `d 00`, BE: `00 d`).
    */
  def plantMetaCharsetMsg: Column = {
    val id = col("doc_id")
    def wrapCt(ct: String, body: Column): Column = concat(
      lit(s"HTTP/1.1 200 OK$Crlf"),
      lit(s"Content-Type: $ct$Crlf"),
      lit("Content-Length: "), octet_length(body).cast("string"), lit(Crlf),
      lit(Crlf), body)
    def wrap(body: Column): Column = wrapCt("text/html", body)
    def doc(meta: String, textBytes: Array[Byte]): Column = concat(
      lit(s"<html><head>$meta</head><body>"),
      lit(textBytes).cast("string"), id.cast("string"), lit("</body>"))
    val ids = id.cast("string")
    val utf16le = concat(
      lit(Array(0xFF.toByte, 0xFE.toByte) ++ Utf16Text.getBytes("UTF-16LE"))
        .cast("string"),
      regexp_replace(ids, "(.)", "$1\u0000"),
      lit("</body>".getBytes("UTF-16LE")).cast("string"))
    val utf16be = concat(
      lit(Array(0xFE.toByte, 0xFF.toByte) ++ Utf16Text.getBytes("UTF-16BE"))
        .cast("string"),
      regexp_replace(ids, "(.)", "\u0000$1"),
      lit("</body>".getBytes("UTF-16BE")).cast("string"))
    val bomUtf8 = concat(
      lit(Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++
        BomUtf8Text.getBytes("UTF-8")).cast("string"),
      ids, lit("</body>"))
    val k = id % 8
    when(k === 7, wrapCt("text/html; charset=iso-8859-1", bomUtf8))
      .otherwise(wrap(
        when(k === 0, doc("<meta charset=\"windows-1251\">",
          Win1251Text.getBytes("windows-1251")))
          .when(k === 1, doc(
            "<meta http-equiv=\"Content-Type\" content=\"text/html; charset=shift_jis\">",
            SjisText.getBytes("shift_jis")))
          .when(k === 2, doc("<meta charset='iso-8859-1'>",
            Latin1Cafe.getBytes("iso-8859-1")))
          .when(k === 3, doc("<meta charset=utf-8>", Utf8Hello.getBytes("UTF-8")))
          .when(k === 5, utf16le)
          .when(k === 6, utf16be)
          .otherwise(concat(lit("<html><body>plain "), id.cast("string"),
            lit("</body>")))))
  }

  /** (doc_id, charset, charset_source, body) — charset routing across
    * all three WHATWG layers: BOM (§13.2.3.1, beats a contradicting
    * header) > header param > HTML5 meta prescan; per-row,
    * shuffle-free.
    */
  def metaCharset(spark: SparkSession, dir: String): DataFrame =
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"), httpMessage(plantMetaCharsetMsg).as("h"))
      .select(col("doc_id"),
        col("h").getField("charset").as("charset"),
        col("h").getField("charset_source").as("charset_source"),
        col("h").getField("body").as("body"))

  def metaCharsetOracle: String =
    s"""SELECT doc_id,
       |  CASE doc_id % 8 WHEN 0 THEN 'windows-1251' WHEN 1 THEN 'shift_jis'
       |       WHEN 2 THEN 'iso-8859-1' WHEN 3 THEN 'utf-8'
       |       WHEN 5 THEN 'utf-16le' WHEN 6 THEN 'utf-16be'
       |       WHEN 7 THEN 'utf-8' END AS charset,
       |  CASE WHEN doc_id % 8 <= 3 THEN 'meta'
       |       WHEN doc_id % 8 >= 5 THEN 'bom' END AS charset_source,
       |  CASE doc_id % 8
       |    WHEN 0 THEN '<html><head><meta charset="windows-1251"></head><body>' ||
       |      '$Win1251Sql' || CAST(doc_id AS VARCHAR) || '</body>'
       |    WHEN 1 THEN '<html><head><meta http-equiv="Content-Type" ' ||
       |      'content="text/html; charset=shift_jis"></head><body>' ||
       |      '$SjisSql' || CAST(doc_id AS VARCHAR) || '</body>'
       |    WHEN 2 THEN '<html><head><meta charset=''iso-8859-1''></head><body>' ||
       |      'café ' || CAST(doc_id AS VARCHAR) || '</body>'
       |    WHEN 3 THEN '<html><head><meta charset=utf-8></head><body>' ||
       |      'héllo ' || CAST(doc_id AS VARCHAR) || '</body>'
       |    WHEN 5 THEN '$Utf16Text' || CAST(doc_id AS VARCHAR) || '</body>'
       |    WHEN 6 THEN '$Utf16Text' || CAST(doc_id AS VARCHAR) || '</body>'
       |    WHEN 7 THEN '$BomUtf8Text' || CAST(doc_id AS VARCHAR) || '</body>'
       |    ELSE '<html><body>plain ' || CAST(doc_id AS VARCHAR) || '</body>'
       |  END AS body
       |FROM documents""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_warc_records" -> Query((s, dir) => warcRecords(s, dir), warcOracle),
    // compression is content-transparent: the gz path answers to the
    // identical oracle
    "q_warc_gzip" -> Query((s, dir) => warcGzipRecords(s, dir), warcOracle),
    "q_warc_zstd" -> Query((s, dir) => warcZstdRecords(s, dir), warcOracle),
    "q_warc_http" -> Query((s, dir) => warcHttp(s, dir), warcHttpOracle),
    "q_meta_charset" -> Query((s, dir) => metaCharset(s, dir), metaCharsetOracle)
  )
}
