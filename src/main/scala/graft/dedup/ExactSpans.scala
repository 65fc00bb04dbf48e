package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** EXACT duplicated-substring removal at token granularity — the real
  * Lee et al. 2022 "Deduplicating Training Data" ExactSubstr operation
  * the X102 CDC scrub approximates (and whose measured recall gap the
  * X164 gate exposed: avg ~72%, min ~19% on content-defined-boundary-
  * unlucky spans). The suffix-array construction of the paper is
  * replaced by k-token SHINGLE anchoring, which is exactly equivalent
  * at the operator's declared granularity and fully relational:
  *
  *   - a duplicated token span of length L ≥ k contains only
  *     duplicated k-shingles, so all L tokens are covered;
  *   - a shingle straddling the span boundary carries unique context
  *     tokens, so coverage stops EXACTLY at the span edge;
  *   - spans shorter than k contain no duplicated shingle and are
  *     never touched.
  *
  * Hence recall = 1 and precision = 1 for duplicated spans ≥ k tokens
  * — by construction, not measurement (`ExactSpansSpec` pins the edge
  * cases: exact-k span removed, k−1 span untouched, within-document
  * repeats, identity on a unique corpus; the `q_exact_span_scrub` gate
  * answers with the planted fixture's closed-form survivors).
  *
  * Duplication is counted over ALL occurrences (cross- and
  * within-document): every occurrence of a duplicated span is removed,
  * the paper's ExactSubstr discipline and X102's. Declared scope:
  * single-space word tokenization — documents reassemble from
  * surviving tokens space-joined (the CDC scrub remains the byte-exact
  * path for arbitrary whitespace).
  *
  * Scale shape: one corpus-linear shingle explosion carrying only md5
  * hashes (the 50-token window text is hashed INSIDE the per-document
  * array transform and never shuffled), one partial-agg count exchange
  * over shingle hashes, one semi join back, then per-document interval
  * merge (window keyed by doc) and an array rebuild — no all-pairs
  * anything, memory bounded by one document.
  */
object ExactSpans {

  /** Lee et al.'s span threshold, in tokens. */
  val KTokens = 50

  /** (doc_id, pos, h): the md5 of each k-token window, one row per
    * window start. Documents shorter than k contribute nothing.
    * Windowing is the codegen'd [[graft.plans.ShingleMd5]] byte-range
    * scan — the equivalent builtin HOF composition evaluates
    * interpreted and measured 20× slower (see the expression's
    * Scaladoc); `ExactSpansSpec` pins hash equality between the two.
    */
  def shingleStarts(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"),
        org.apache.spark.sql.GraftColumnShim.column(graft.plans.ShingleMd5(
          org.apache.spark.sql.GraftColumnShim.expression(col("text")),
          org.apache.spark.sql.GraftColumnShim.expression(lit(k)))).as("hs"))
      .select(col("doc_id"), posexplode(col("hs")).as(Seq("pos", "h")))

  /** The builtin-only HOF twin of [[shingleStarts]]'s windowing —
    * kept as the property-test mirror for [[graft.plans.ShingleMd5]].
    */
  def shingleStartsBuiltin(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n", size(col("toks")))
      .withColumn("hs", when(col("n") >= k,
        expr(s"transform(sequence(0, n - $k), i -> md5(array_join(slice(toks, i + 1, $k), ' ')))"))
        .otherwise(expr("cast(array() as array<string>)")))
      .select(col("doc_id"), posexplode(col("hs")).as(Seq("pos", "h")))

  /** Duplicated-span detection shared by both scrub paths: from the
    * (doc_id, pos, h) window table to per-document sorted token-index
    * spans (doc_id, spans: array<struct<s,e>>), inclusive both ends.
    */
  private def dupSpansPerDoc(starts: DataFrame, k: Int): DataFrame = {
    val dup = starts.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select(col("h"))
    val dupStarts = starts.join(dup, Seq("h"), "left_semi")
    // interval union: windows all have length k, so coverage breaks
    // exactly when a start exceeds the previous start by more than k
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    dupStarts
      .withColumn("brk",
        when(col("pos") > lag(col("pos"), 1).over(w) + k, lit(1)).otherwise(lit(0)))
      .withColumn("island",
        sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + lit(k - 1)).as("e"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("spans"))
  }

  /** Scrub every duplicated ≥k-token span from a (doc_id, text)
    * corpus: (doc_id, clean, removed_tokens, n_spans).
    */
  def scrub(docsIn: DataFrame, k: Int = KTokens): DataFrame = {
    // the input feeds the shingle pass AND the reassembly select; the
    // gates feed PLANTED frames here (expensive generator expressions),
    // so persist the projection (Caches registry) rather than evaluate
    // the plant once per consumer (optimization r15, C1 discipline)
    val docs = graft.ops.Caches.persist(docsIn.select(col("doc_id"), col("text")))
    val spansPerDoc = dupSpansPerDoc(shingleStarts(docs, k), k)
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .join(spansPerDoc, Seq("doc_id"), "left")
      .withColumn("spans",
        coalesce(col("spans"), expr("cast(array() as array<struct<s:int,e:int>>)")))
      .select(col("doc_id"),
        expr("""array_join(transform(filter(
          zip_with(toks, sequence(0, size(toks) - 1), (t, i) -> struct(t as t, i as i)),
          x -> NOT exists(spans, sp -> x.i >= sp.s AND x.i <= sp.e)), x -> x.t), ' ')""")
          .as("clean"),
        expr("aggregate(spans, 0, (a, sp) -> a + sp.e - sp.s + 1)")
          .cast("long").as("removed_tokens"),
        size(col("spans")).cast("long").as("n_spans"))
  }

  /** WHITESPACE-EXACT scrub — lifts [[scrub]]'s single-space declared
    * scope to arbitrary whitespace, making the recall-1 path the
    * default for real text (previously such corpora fell back to the
    * X102 CDC proxy with its measured ~72% avg / ~19% min recall,
    * X164). Three moves:
    *
    *   1. HASH over the whitespace-normalized form
    *      (`regexp_replace(text, "\\s+", " ")` + trim): token indices
    *      in that form align 1:1 with whitespace-delimited tokens of
    *      the original, and two occurrences of a span MATCH even when
    *      their internal whitespace differs (tab vs space vs newline —
    *      the Lee et al. duplicated-content notion, not byte identity);
    *   2. detect spans by token index exactly as [[scrub]];
    *   3. REASSEMBLE by splicing the ORIGINAL byte ranges
    *      ([[graft.plans.SpliceTokenSpans]]): a span (s, e) removes
    *      bytes `[start-of-token-s, end-of-token-e)` — tokens plus the
    *      whitespace strictly inside the span — so surviving text
    *      round-trips byte-for-byte, whitespace included, and a
    *      span-free document is returned identical
    *      (`ExactSpansSpec` pins the identity round-trip).
    *
    * Same scale shape as [[scrub]]: the normalize+hash is per-document
    * map work, only hashes shuffle, and the splice is a single
    * byte-scan per document.
    */
  def scrubWs(docs: DataFrame, k: Int = KTokens): DataFrame = {
    // normalized view feeds the shingle pass and the splice join —
    // persisted for the same reason as [[scrub]]'s input
    val norm = graft.ops.Caches.persist(docs.select(col("doc_id"), col("text"),
      trim(regexp_replace(col("text"), "\\s+", " ")).as("ntext")))
    val spansPerDoc = dupSpansPerDoc(
      shingleStarts(norm.select(col("doc_id"), col("ntext").as("text")), k), k)
    norm.join(spansPerDoc, Seq("doc_id"), "left")
      .withColumn("spans",
        coalesce(col("spans"), expr("cast(array() as array<struct<s:int,e:int>>)")))
      .select(col("doc_id"),
        org.apache.spark.sql.GraftColumnShim.column(graft.plans.SpliceTokenSpans(
          org.apache.spark.sql.GraftColumnShim.expression(col("text")),
          org.apache.spark.sql.GraftColumnShim.expression(col("spans")))).as("clean"),
        expr("aggregate(spans, 0, (a, sp) -> a + sp.e - sp.s + 1)")
          .cast("long").as("removed_tokens"),
        size(col("spans")).cast("long").as("n_spans"))
  }

  /** q_exact_span_scrub over the X164 planted fixture (20 doc-unique
    * prefix tokens + a 75-token span shared by each group of 4 + 20
    * doc-unique suffix tokens): the exact scrub must remove the span
    * tokens and NOTHING else, so the oracle states the survivors in
    * closed form — where the CDC proxy measured ~72% avg recall, this
    * gate pins 75/75 tokens removed on every document.
    */
  def planted(spark: SparkSession, dir: String): DataFrame =
    scrub(Dedup.Cdc.recallPlanted(
      graft.ops.ScaleOps.widen(Tables.documents(spark, dir)))
      .select(col("doc_id"), col("text")))

  def plantedOracle: String =
    s"""WITH ids AS (
       |  SELECT doc_id, chr(65 + CAST(doc_id % 4 AS INTEGER)) AS lch
       |  FROM documents)
       |SELECT doc_id,
       |  array_to_string(list_transform(range(0, 20),
       |    j -> 'p' || doc_id || 'x' || j || lch), ' ') || ' ' ||
       |  array_to_string(list_transform(range(0, 20),
       |    j -> lch || 'y' || j || 'q' || doc_id), ' ') AS clean,
       |  CAST(75 AS BIGINT) AS removed_tokens,
       |  CAST(1 AS BIGINT) AS n_spans
       |FROM ids""".stripMargin

  /** The X164 planted shape rebuilt with MESSY whitespace, for the
    * whitespace-exact gate: 20 doc-unique prefix tokens separated by a
    * cycling tab / double-space / newline, a newline, the 75-token span
    * shared by each group of 4 — separated INSIDE by a per-document
    * alternation of space and tab, so the four occurrences differ
    * byte-wise but match token-wise — then space+newline, then 20
    * doc-unique suffix tokens separated by alternating space/newline.
    */
  def plantedWs(docs: DataFrame): DataFrame = {
    val id = col("doc_id").cast("string")
    val g = expr("doc_id div 4").cast("string")
    val lch = expr("chr(65 + doc_id % 4)")
    def sepPre(j: Column): Column =
      when(j === 19, lit("")).when(j % 3 === 0, lit("\t"))
        .when(j % 3 === 1, lit("  ")).otherwise(lit("\n"))
    def sepSpan(j: Column): Column =
      when(j === 74, lit(""))
        .when((j + col("doc_id")) % 2 === 0, lit(" ")).otherwise(lit("\t"))
    def sepSuf(j: Column): Column =
      when(j === 19, lit("")).when(j % 2 === 0, lit(" ")).otherwise(lit("\n"))
    val pre = array_join(transform(sequence(lit(0), lit(19)),
      j => concat(lit("p"), id, lit("x"), j.cast("string"), lch, sepPre(j))), "")
    val span = array_join(transform(sequence(lit(0), lit(74)),
      j => concat(lit("s"), g, lit("w"), j.cast("string"), sepSpan(j))), "")
    val suf = array_join(transform(sequence(lit(0), lit(19)),
      j => concat(lch, lit("y"), j.cast("string"), lit("q"), id, sepSuf(j))), "")
    docs.select(col("doc_id"),
      concat(pre, lit("\n"), span, lit(" \n"), suf).as("text"))
  }

  /** q_exact_span_scrub_ws: the whitespace-exact scrub over
    * [[plantedWs]] — the span's 75 tokens vanish as one byte splice
    * `[start-of-token, end-of-token)`, so the whitespace that framed
    * the span (the '\n' before it, the ' \n' after) SURVIVES and the
    * oracle states the clean text byte-exactly in closed form.
    */
  def plantedWsScrub(spark: SparkSession, dir: String): DataFrame =
    scrubWs(plantedWs(graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"))))

  def plantedWsOracle: String =
    s"""WITH ids AS (
       |  SELECT doc_id, chr(65 + CAST(doc_id % 4 AS INTEGER)) AS lch
       |  FROM documents)
       |SELECT doc_id,
       |  array_to_string(list_transform(range(0, 20),
       |    j -> 'p' || doc_id || 'x' || j || lch ||
       |      CASE WHEN j = 19 THEN '' WHEN j % 3 = 0 THEN chr(9)
       |           WHEN j % 3 = 1 THEN '  ' ELSE chr(10) END), '')
       |  || chr(10) || ' ' || chr(10) ||
       |  array_to_string(list_transform(range(0, 20),
       |    j -> lch || 'y' || j || 'q' || doc_id ||
       |      CASE WHEN j = 19 THEN '' WHEN j % 2 = 0 THEN ' '
       |           ELSE chr(10) END), '') AS clean,
       |  CAST(75 AS BIGINT) AS removed_tokens,
       |  CAST(1 AS BIGINT) AS n_spans
       |FROM ids""".stripMargin

  /** Small-k fixture (X218): the granularity knob made a GATE, not a
    * hidden constant — Lee et al.'s 50-token floor is the conservative
    * production default, but boilerplate scrubbing (license headers,
    * navigation chrome) wants k ≈ 8-16, and the operator must keep its
    * recall-1/precision-1 contract there too. Per doc: 10 unique
    * prefix tokens, a 12-token span shared by each group of 4 (≥ k=8:
    * removed exactly), 5 unique mid tokens (the BUFFER — without it
    * the two shared spans would abut and their straddling shingles,
    * being all group-shared, would correctly mark the concatenation as
    * one long duplicated span), a 7-token shared span (< k: untouched
    * — sub-threshold duplication is below the declared granularity),
    * 10 unique suffix tokens.
    */
  def plantedShort(docs: DataFrame): DataFrame = {
    val id = col("doc_id").cast("string")
    val g = expr("doc_id div 4").cast("string")
    def toks(n: Int, f: Column => Column): Column =
      transform(sequence(lit(0), lit(n - 1)), j => f(j.cast("string")))
    val pre = toks(10, j => concat(lit("a"), id, lit("b"), j))
    val span = toks(12, j => concat(lit("m"), g, lit("w"), j))
    val mid = toks(5, j => concat(lit("u"), id, lit("m"), j))
    val short = toks(7, j => concat(lit("n"), g, lit("v"), j))
    val suf = toks(10, j => concat(lit("c"), id, lit("d"), j))
    docs.select(col("doc_id"),
      array_join(concat(pre, span, mid, short, suf), " ").as("text"))
  }

  /** The small-k gate's granularity. */
  val KShort = 8

  def plantedShortScrub(spark: SparkSession, dir: String): DataFrame =
    scrub(plantedShort(graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"))), KShort)

  /** Scale-factor independent: a doc whose group-of-4 has a single
    * member carries its "shared" spans exactly once corpus-wide, so
    * the scrub correctly leaves them — the oracle conditions on the
    * group's actual membership count instead of assuming every group
    * is populated (a doc count with remainder 1 mod 4 would otherwise
    * hash-mismatch on the last group).
    */
  def plantedShortOracle: String =
    s"""WITH gsz AS (
       |  SELECT doc_id,
       |    count(*) OVER (PARTITION BY doc_id // 4) AS gc
       |  FROM documents)
       |SELECT doc_id,
       |  array_to_string(list_transform(range(0, 10),
       |    j -> 'a' || doc_id || 'b' || j), ' ') || ' ' ||
       |  CASE WHEN gc >= 2 THEN '' ELSE
       |    array_to_string(list_transform(range(0, 12),
       |      j -> 'm' || (doc_id // 4) || 'w' || j), ' ') || ' ' END ||
       |  array_to_string(list_transform(range(0, 5),
       |    j -> 'u' || doc_id || 'm' || j), ' ') || ' ' ||
       |  array_to_string(list_transform(range(0, 7),
       |    j -> 'n' || (doc_id // 4) || 'v' || j), ' ') || ' ' ||
       |  array_to_string(list_transform(range(0, 10),
       |    j -> 'c' || doc_id || 'd' || j), ' ') AS clean,
       |  CAST(CASE WHEN gc >= 2 THEN 12 ELSE 0 END AS BIGINT) AS removed_tokens,
       |  CAST(CASE WHEN gc >= 2 THEN 1 ELSE 0 END AS BIGINT) AS n_spans
       |FROM gsz""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_exact_span_scrub" -> Query((s, dir) => planted(s, dir), plantedOracle),
    "q_exact_span_scrub_ws" -> Query((s, dir) => plantedWsScrub(s, dir), plantedWsOracle),
    "q_exact_span_scrub_k8" -> Query((s, dir) => plantedShortScrub(s, dir), plantedShortOracle)
  )
}
