package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Rule-based sentence segmentation — the step between raw text and
  * every sentence-granular operator (Gale–Church alignment, sentence
  * dedup, seq-len stats). Candidate boundaries are terminator runs
  * `[.!?]+` followed by whitespace; a candidate is then REJECTED (the
  * two sides merge back) when the left side ends in a known
  * abbreviation (`Mr. / Dr. / vs. / e.g. / …`), ends in a single
  * capital initial (`J. R. Tolkien`), or the right side starts
  * lowercase (a continuation, not a sentence). Segments rejoin with a
  * single space (canonical whitespace — the declared scope; byte-exact
  * offset recovery would keep the original separators).
  *
  * All boundary decisions are per-document window operations over the
  * candidate list (keyed by doc — never a global window); the plants
  * cover each rule class and the oracle states the expected segments
  * in CLOSED FORM, so the gate pins behavior, not regex transcription.
  *
  * Reference scope: no sentence surface in the reference; north-star
  * LLM-pipeline machinery (and the input producer for
  * [[ParallelText]]'s alignment — see [[variantAligned]]).
  */
object Sentences {

  /** Candidate boundary: after a terminator run, at whitespace. */
  val BoundaryRe = "(?<=[.!?])\\s+"

  /** Left sides that reject the boundary (abbreviation dot). */
  val AbbrevRe = "(?i)(^|\\s)(mr|mrs|ms|dr|prof|st|vs|etc|e\\.g|i\\.e)\\.$"

  /** Single capital initial (`J.`) — also rejects. */
  val InitialRe = "(^|\\s)[A-Z]\\.$"

  /** (doc_id, seg_idx, segment) over a (doc_id, text) frame. */
  def segments(df: DataFrame): DataFrame = {
    val cand = df
      .select(col("doc_id"),
        posexplode(split(col("text"), BoundaryRe)).as(Seq("cidx", "seg")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("cidx"))
    val prev = lag(col("seg"), 1).over(w)
    val joinsPrev = prev.isNotNull && (
      prev.rlike(AbbrevRe) || prev.rlike(InitialRe) || col("seg").rlike("^[a-z]"))
    cand
      .withColumn("brk", when(joinsPrev, lit(0)).otherwise(lit(1)))
      .withColumn("island",
        sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("island"))
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("cidx"), col("seg")))),
        x => x.getField("seg")), " ").as("segment"))
      .select(col("doc_id"), (col("island") - 1).cast("long").as("seg_idx"),
        col("segment"))
  }

  /** The six rule-class plants, one per doc_id % 6: plain sentences,
    * abbreviation trap, ellipsis run, capital initials, lowercase
    * continuation after an abbreviation, and a terminator-less tail.
    */
  def plantText: Column = {
    val d = concat(lit("d"), col("doc_id").cast("string"))
    val k = col("doc_id") % 6
    when(k === 0, concat(d, lit(" alpha bravo. Delta echo. Foxtrot golf!")))
      .when(k === 1, concat(d, lit(" saw Dr. Smith arrive. He sat.")))
      .when(k === 2, concat(d, lit(" waits... Then done. Yes!")))
      .when(k === 3, concat(d, lit(" cites J. R. Tolkien today. Approved!")))
      .when(k === 4, concat(d, lit(" works vs. the baseline. Done.")))
      .otherwise(concat(d, lit(" tail fragment without end")))
  }

  def planted(spark: SparkSession, dir: String): DataFrame =
    segments(graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"), plantText.as("text")))

  def plantedOracle: String =
    s"""WITH segs AS (
       |  SELECT doc_id, CASE CAST(doc_id % 6 AS INTEGER)
       |    WHEN 0 THEN ['d' || doc_id || ' alpha bravo.', 'Delta echo.', 'Foxtrot golf!']
       |    WHEN 1 THEN ['d' || doc_id || ' saw Dr. Smith arrive.', 'He sat.']
       |    WHEN 2 THEN ['d' || doc_id || ' waits...', 'Then done.', 'Yes!']
       |    WHEN 3 THEN ['d' || doc_id || ' cites J. R. Tolkien today.', 'Approved!']
       |    WHEN 4 THEN ['d' || doc_id || ' works vs. the baseline.', 'Done.']
       |    ELSE ['d' || doc_id || ' tail fragment without end']
       |  END AS arr
       |  FROM documents)
       |SELECT doc_id, CAST(i - 1 AS BIGINT) AS seg_idx, arr[i] AS segment
       |FROM segs, unnest(range(1, len(arr) + 1)) AS t(i)""".stripMargin

  // ---- segmentation → Gale–Church composition --------------------

  /** Sentence word counts for the alignment plant: sentence j of a
    * document has `3 + j + doc_id % 3` words (all 4-char, first
    * capitalized so segmentation never merges a sentence start).
    */
  private def sentence(j: Int): Column = {
    val n = (lit(3 + j) + col("doc_id") % 3).cast("int")
    // n words of 4 chars + (n-1) separators + terminator = 5·n chars
    concat(lit("Aaaa "),
      array_join(transform(sequence(lit(2), n), _ => lit("aaaa")), " "),
      lit("."))
  }

  /** en = four sentences; de = the SAME document with the middle two
    * sentences merged into one (one terminator) — real parallel text's
    * dominant non-1-1 shape. Segmentation must find 4 vs 3 segments
    * and the DP must produce beads 1-1, 2-1, 1-1.
    */
  def variantDocs: Seq[(String, Column)] = Seq(
    "en" -> concat(sentence(0), lit(" "), sentence(1), lit(" "),
      sentence(2), lit(" "), sentence(3)),
    // the merge drops sentence 1's terminator: its words run straight
    // into sentence 2, one segment of exactly 5·n1 + 5·n2 chars
    "de" -> concat(sentence(0), lit(" "),
      regexp_replace(sentence(1), "\\.$", ""), lit(" "), sentence(2),
      lit(" "), sentence(3)))

  /** q_sentence_align: segment BOTH variants of each planted document,
    * collect per-side character-length arrays in segment order, and
    * align them with [[graft.plans.GaleChurchAlign]] — raw text in,
    * beads out. (doc_id, bead, a_start, a_count, b_start, b_count,
    * len_a, len_b).
    */
  def variantAligned(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"))
    val sides = variantDocs.map { case (side, text) =>
      docs.select(col("doc_id"), lit(side).as("side"), text.as("text"))
    }.reduce(_ unionByName _)
    // segments() keys on doc_id alone; make (doc, side) the key
    val lens = segments(sides.select(
        concat(col("doc_id").cast("string"), lit("#"), col("side")).as("doc_id"),
        col("text")))
      .select(split(col("doc_id"), "#").as("ks"), col("seg_idx"),
        length(col("segment")).cast("int").as("seg_len"))
      .select(element_at(col("ks"), 1).cast("long").as("doc_id"),
        element_at(col("ks"), 2).as("side"), col("seg_idx"), col("seg_len"))
      .groupBy(col("doc_id"), col("side"))
      .agg(transform(sort_array(collect_list(struct(col("seg_idx"), col("seg_len")))),
        x => x.getField("seg_len")).as("lens"))
    val paired = lens.groupBy(col("doc_id"))
      .agg(max(when(col("side") === "en", col("lens"))).as("a_lens"),
        max(when(col("side") === "de", col("lens"))).as("b_lens"))
    paired
      .select(col("doc_id"), col("a_lens"), col("b_lens"),
        posexplode(ParallelText.galeChurch(col("a_lens"), col("b_lens")))
          .as(Seq("bead", "bd")))
      .select(col("doc_id"), col("bead").cast("int").as("bead"),
        col("bd").getField("a_start").as("a_start"),
        col("bd").getField("a_count").as("a_count"),
        col("bd").getField("b_start").as("b_start"),
        col("bd").getField("b_count").as("b_count"),
        expr("aggregate(slice(a_lens, bd.a_start + 1, bd.a_count), 0, (a, x) -> a + x)")
          .as("len_a"),
        expr("aggregate(slice(b_lens, bd.b_start + 1, bd.b_count), 0, (a, x) -> a + x)")
          .as("len_b"))
  }

  /** Closed form: sentence j has n_j = 3 + j + doc_id%3 words at 5
    * chars each all-in (4 letters + separator-or-terminator), so its
    * segment length is 5·n_j and the de merge's single segment is
    * exactly 5·n_1 + 5·n_2 — the 2-1 bead costs only the merge
    * penalty, every alternative path ≥ 5·n_2 more. Beads per doc:
    * 1-1, 2-1, 1-1.
    */
  def variantAlignedOracle: String =
    s"""WITH ids AS (
       |  SELECT doc_id, 3 + doc_id % 3 AS n0, 4 + doc_id % 3 AS n1,
       |    5 + doc_id % 3 AS n2, 6 + doc_id % 3 AS n3
       |  FROM documents),
       |beads AS (
       |  SELECT doc_id, 0 AS bead, 0 AS a_start, 1 AS a_count,
       |    0 AS b_start, 1 AS b_count, 5 * n0 AS len_a, 5 * n0 AS len_b
       |  FROM ids
       |  UNION ALL
       |  SELECT doc_id, 1, 1, 2, 1, 1,
       |    5 * n1 + 5 * n2, 5 * n1 + 5 * n2
       |  FROM ids
       |  UNION ALL
       |  SELECT doc_id, 2, 3, 1, 2, 1, 5 * n3, 5 * n3 FROM ids)
       |SELECT doc_id, CAST(bead AS INTEGER) AS bead,
       |  CAST(a_start AS INTEGER) AS a_start, CAST(a_count AS INTEGER) AS a_count,
       |  CAST(b_start AS INTEGER) AS b_start, CAST(b_count AS INTEGER) AS b_count,
       |  CAST(len_a AS INTEGER) AS len_a, CAST(len_b AS INTEGER) AS len_b
       |FROM beads""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_sentence_segments" -> Query((s, dir) => planted(s, dir), plantedOracle),
    "q_sentence_align" -> Query((s, dir) => variantAligned(s, dir), variantAlignedOracle)
  )
}
