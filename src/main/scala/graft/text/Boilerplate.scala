package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Line-level (segment-level) boilerplate removal — the CCNet/RefinedWeb
  * dedup granularity between whole-document fingerprints
  * ([[graft.dedup.Dedup.Exact]]) and content-defined chunks
  * ([[graft.dedup.Dedup.Cdc]]): a "line" that recurs verbatim across many
  * documents (nav bars, cookie banners, license headers) is boilerplate
  * and is stripped from every document that carries it, while the
  * documents themselves survive.
  *
  * The fixture corpus has no newlines, so the segmentation rule is
  * deterministic fixed-width token windows ([[SegTokens]] tokens per
  * segment, last segment ragged) — on real corpora the split would be
  * `split(text, '\n')`; every stage downstream of segmentation is
  * identical either way.
  *
  * Scale shape (the CCNet discipline, re-expressed Spark-first):
  *   1. explode docs into (doc_id, pos, segment) — linear in the scan;
  *   2. per-segment DISTINCT-document counts: dedup (md5(seg), doc_id)
  *      pairs, then count per hash — two hash aggregates keyed by the
  *      128-bit md5 (cross-engine identical, collision-free at corpus
  *      scale where a 64-bit key would birthday near 4·10⁹ distinct
  *      segments); the shuffle carries 32-char hex + a long, never the
  *      segment text twice;
  *   3. mark: left-join the exploded segments against the (small,
  *      frequency-filtered) boilerplate hash set — AQE picks broadcast
  *      when the set is small, shuffle-hash when a pathological corpus
  *      makes it large;
  *   4. rebuild: group by doc_id, order kept segments by position
  *      (`sort_array` over collected (pos, seg) structs — bounded by
  *      document size, never corpus size).
  *
  * No stage holds per-corpus state on one task: every aggregate is keyed
  * by segment hash or doc_id, both high-cardinality.
  */
object Boilerplate {

  /** Tokens per pseudo-line. */
  val SegTokens = 5

  /** A segment is boilerplate when it appears in at least this many
    * DISTINCT document CONTENTS (not raw doc ids: a document with many
    * byte-identical copies would otherwise make its every segment look
    * recurring and be stripped to nothing — the same copy-inflation
    * hazard the winnow pair report guards against; boilerplate is
    * boilerplate because many DIFFERENT documents carry it).
    */
  val MinDocs = 3

  /** Consecutive [[SegTokens]]-token windows of a token array, joined by
    * single spaces; the tail segment keeps `len % SegTokens` tokens.
    * Empty input ⇒ empty array (guard matters: Spark's integral `/`
    * truncates toward zero while DuckDB's `//` floors, so `(0-1)/5`
    * would disagree across engines without it).
    */
  def segmentsOf(tk: Column): Column =
    when(size(tk) > 0,
      transform(sequence(lit(0), floor((size(tk) - 1) / SegTokens).cast("int")),
        i => array_join(slice(tk, i * SegTokens + 1, lit(SegTokens)), " ")))
      .otherwise(array().cast("array<string>"))

  /** doc_id → (n_segments, n_boiler, clean_text) with boilerplate
    * segments removed. See object doc for the stage-by-stage scale notes.
    */
  def lineDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
    val segs = docs
      .select(col("doc_id"), md5(col("text")).as("content_fp"),
        TextOps.tokenize(col("text")).as("tk"))
      .select(col("doc_id"), col("content_fp"),
        posexplode(segmentsOf(col("tk"))).as(Seq("pos", "seg")))
      .withColumn("h", md5(col("seg")))

    val boiler = segs.select(col("h"), col("content_fp")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") >= MinDocs)
      .select(col("h"), lit(true).as("is_boiler"))

    val marked = segs.join(boiler, Seq("h"), "left")
    marked.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_segments"),
      sum(when(col("is_boiler"), 1L).otherwise(0L)).as("n_boiler"),
      array_join(
        transform(
          sort_array(collect_list(
            when(col("is_boiler").isNull, struct(col("pos"), col("seg"))))),
          s => s.getField("seg")),
        " ").as("clean_text"))
  }

  /** DuckDB twin: same segmentation (1-based inclusive list slices), same
    * distinct-doc counts keyed by md5, same ordered reassembly. Positions
    * ride inside structs (DuckDB has no `WITH ORDINALITY`).
    */
  def lineDedupOracle: String = {
    val tk = TextOps.tokenizeSql("text")
    s"""WITH toks AS (
       |  SELECT doc_id, text, $tk AS tk FROM documents
       |), segx AS (
       |  SELECT doc_id, md5(text) AS content_fp, unnest(
       |    CASE WHEN len(tk) > 0 THEN
       |      list_transform(range(0, (len(tk) - 1) // $SegTokens + 1),
       |        i -> {'pos': i, 'seg': array_to_string(tk[i*$SegTokens+1 : i*$SegTokens+$SegTokens], ' ')})
       |    ELSE [] END) AS u
       |  FROM toks
       |), segs AS (
       |  SELECT doc_id, content_fp, u.pos AS pos, u.seg AS seg, md5(u.seg) AS h FROM segx
       |), boiler AS (
       |  SELECT h FROM (SELECT DISTINCT h, content_fp FROM segs)
       |  GROUP BY h HAVING count(*) >= $MinDocs
       |)
       |SELECT s.doc_id,
       |  count(*) AS n_segments,
       |  CAST(sum(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
       |  coalesce(string_agg(CASE WHEN b.h IS NULL THEN s.seg END, ' ' ORDER BY s.pos), '')
       |    AS clean_text
       |FROM segs s LEFT JOIN boiler b ON s.h = b.h
       |GROUP BY s.doc_id""".stripMargin
  }

  /** In-DOCUMENT consecutive-duplicate collapse (CCNet's "drop repeated
    * consecutive lines" normalization) — the per-row complement of
    * [[lineDedup]]'s cross-document pass: runs of identical adjacent
    * lines collapse to their first occurrence. Pure per-row list work,
    * shuffle-free. The keep predicate is ONE null-safe comparison
    * against the predecessor (`NOT (x <=> lines[i-1])`, 0-based `get`
    * returns null at -1, so element 0 always survives) — no i=0 special
    * case to drift between engines.
    *
    * The fixture has no repeated lines, so the gate PLANTS runs: every
    * segment whose (doc_id + pos) ≡ 0 (mod 4) is doubled before the
    * collapse; the collapse must remove exactly the planted copies.
    */
  def collapseRuns(lines: Column): Column =
    filter(lines, (x, i) => !(x <=> get(lines, i - 1)))

  def runCollapse(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
    val planted = docs
      .select(col("doc_id"), segmentsOf(TextOps.tokenize(col("text"))).as("segs"))
      .select(col("doc_id"), flatten(transform(col("segs"), (s, i) =>
        when((col("doc_id") + i) % 4 === 0, array(s, s)).otherwise(array(s)))).as("lines"))
    planted.select(col("doc_id"),
        size(col("lines")).cast("long").as("n_lines_in"),
        collapseRuns(col("lines")).as("kept"))
      .select(col("doc_id"), col("n_lines_in"),
        size(col("kept")).cast("long").as("n_lines_out"),
        array_join(col("kept"), " ").as("clean_text"))
  }

  def runCollapseOracle: String = {
    val tk = TextOps.tokenizeSql("text")
    s"""WITH toks AS (
       |  SELECT doc_id, $tk AS tk FROM documents
       |), segd AS (
       |  SELECT doc_id,
       |    CASE WHEN len(tk) > 0 THEN
       |      list_transform(range(0, (len(tk) - 1) // $SegTokens + 1),
       |        i -> array_to_string(tk[i*$SegTokens+1 : i*$SegTokens+$SegTokens], ' '))
       |    ELSE [] END AS segs
       |  FROM toks
       |), planted AS (
       |  SELECT doc_id, flatten(list_transform(segs,
       |    (s, i) -> CASE WHEN (doc_id + i - 1) % 4 = 0 THEN [s, s] ELSE [s] END)) AS lines
       |  FROM segd
       |), collapsed AS (
       |  SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines_in,
       |    list_filter(lines, (x, i) -> i = 1 OR x IS DISTINCT FROM lines[i - 1]) AS kept
       |  FROM planted
       |)
       |SELECT doc_id, n_lines_in,
       |  CAST(len(kept) AS BIGINT) AS n_lines_out,
       |  array_to_string(kept, ' ') AS clean_text
       |FROM collapsed""".stripMargin
  }

  // ---- per-HOST template removal (X201) ------------------------------

  /** A host's template needs this many pages before the ratio rule
    * fires (tiny hosts give no statistical evidence), and must appear
    * on ≥ half of them.
    */
  val MinHostPages = 5

  /** Per-host template plant: 3 of every 4 pages of a host open with
    * the host's own 5-token banner — host-frequent but globally unique
    * (each contains the host name), exactly the shape the GLOBAL
    * [[MinDocs]] rule of [[lineDedup]] cannot see when hosts are small
    * relative to the corpus.
    */
  def plantHostTemplate(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      when(col("doc_id") % 4 =!= 3,
        concat(lit("promo "), col("source"), lit(" banner offer today "), col("text")))
        .otherwise(col("text")).as("text"))

  /** Per-HOST template removal — the web-curation pass GLOBAL line-df
    * misses: a segment appearing on ≥ 50% of a HOST's pages (host ≥
    * [[MinHostPages]] pages) is that host's chrome (nav, banner,
    * footer) and is stripped from every page of the host — but the
    * same text on another host survives, because template-ness is
    * host-relative. (doc_id, n_segments, n_template, clean_text).
    *
    * Scale shape: segments carry md5s keyed by (source, h) — the
    * candidate aggregate is host-local, so hosts partition across the
    * cluster and no host's decision reads another host's pages; page
    * counts are a host-sized dim join.
    */
  def hostTemplates(spark: SparkSession, dir: String): DataFrame = {
    val docs = plantHostTemplate(
      graft.ops.ScaleOps.widen(Tables.documents(spark, dir)))
    val segs = docs
      .select(col("doc_id"), col("source"), TextOps.tokenize(col("text")).as("tk"))
      .select(col("doc_id"), col("source"),
        posexplode(segmentsOf(col("tk"))).as(Seq("pos", "seg")))
      .withColumn("h", md5(col("seg")))
    val pages = segs.select(col("source"), col("doc_id")).distinct()
      .groupBy(col("source")).agg(count(lit(1)).as("pages"))
    val tmpl = segs.select(col("source"), col("h"), col("doc_id")).distinct()
      .groupBy(col("source"), col("h")).agg(count(lit(1)).as("nd"))
      .join(pages, Seq("source"))
      .filter(col("pages") >= MinHostPages && col("nd") * 2 >= col("pages"))
      .select(col("source"), col("h"), lit(true).as("is_tmpl"))
    segs.join(tmpl, Seq("source", "h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("is_tmpl"), 1L).otherwise(0L)).as("n_template"),
        array_join(
          transform(
            sort_array(collect_list(
              when(col("is_tmpl").isNull, struct(col("pos"), col("seg"))))),
            s => s.getField("seg")),
          " ").as("clean_text"))
  }

  def hostTemplatesOracle: String = {
    val tk = TextOps.tokenizeSql("text")
    s"""WITH planted AS (
       |  SELECT doc_id, source,
       |    CASE WHEN doc_id % 4 <> 3
       |         THEN 'promo ' || source || ' banner offer today ' || text
       |         ELSE text END AS text
       |  FROM documents
       |), toks AS (
       |  SELECT doc_id, source, $tk AS tk FROM planted
       |), segx AS (
       |  SELECT doc_id, source, unnest(
       |    CASE WHEN len(tk) > 0 THEN
       |      list_transform(range(0, (len(tk) - 1) // $SegTokens + 1),
       |        i -> {'pos': i, 'seg': array_to_string(tk[i*$SegTokens+1 : i*$SegTokens+$SegTokens], ' ')})
       |    ELSE [] END) AS u
       |  FROM toks
       |), segs AS (
       |  SELECT doc_id, source, u.pos AS pos, u.seg AS seg, md5(u.seg) AS h FROM segx
       |), pages AS (
       |  SELECT source, count(DISTINCT doc_id) AS pages FROM segs GROUP BY source
       |), tmpl AS (
       |  SELECT source, h FROM (SELECT DISTINCT source, h, doc_id FROM segs)
       |  JOIN pages USING (source)
       |  GROUP BY source, h, pages
       |  HAVING pages >= $MinHostPages AND count(*) * 2 >= pages
       |)
       |SELECT s.doc_id,
       |  count(*) AS n_segments,
       |  CAST(sum(CASE WHEN t.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_template,
       |  coalesce(string_agg(CASE WHEN t.h IS NULL THEN s.seg END, ' ' ORDER BY s.pos), '')
       |    AS clean_text
       |FROM segs s LEFT JOIN tmpl t ON t.source = s.source AND t.h = s.h
       |GROUP BY s.doc_id""".stripMargin
  }

  def queries: Seq[(String, Query)] = Seq(
    "q_line_dedup" -> Query((s, dir) => lineDedup(s, dir), lineDedupOracle),
    "q_host_templates" -> Query((s, dir) => hostTemplates(s, dir), hostTemplatesOracle),
    "q_run_collapse" -> Query((s, dir) => runCollapse(s, dir), runCollapseOracle)
  )
}
