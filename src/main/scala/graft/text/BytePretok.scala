package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** GPT-2 byte-level pretokenization gate (X226) — the front end of
  * every byte-level BPE tokenizer, completing the subword family
  * (merge stats X45, merge walk X77, unigram X104, fertility X183,
  * coverage X185, WordPiece X215 — all of which operate on words this
  * seam produces). The Spark side runs the PUBLISHED pattern verbatim
  * ([[graft.plans.BytePretokenize]], lookahead included); DuckDB's
  * RE2 has no lookahead, so the oracle proves the equivalence
  *
  *   `\s+(?!\S)` ≡ "an interior whitespace run yields its prefix,
  *   the last whitespace char attaches to the next token"
  *
  * constructively: a sentinel (\x01 — declared absent from the
  * corpus) is inserted between the penultimate and final whitespace
  * of every run that precedes a non-space (`(\s)(\s\S)` → `\1␁\2`),
  * after which a LOOKAHEAD-FREE pattern tokenizes identically and the
  * sentinel tokens drop. The byte→unicode map is restated as CASE
  * arithmetic per character (ASCII corpus: printables identity,
  * controls/space +256).
  */
object BytePretok {

  def pretokensOf(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftColumnShim.column(
      graft.plans.BytePretokenize(
        org.apache.spark.sql.GraftColumnShim.expression(c)))

  /** (doc_id, i, pretoken) over the corpus. */
  def pretokens(spark: SparkSession, dir: String): DataFrame =
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"),
        posexplode(pretokensOf(col("text"))).as(Seq("i", "pretoken")))

  def oracle: String = {
    // lookahead-free pattern over the sentinel-marked text; the
    // contraction apostrophes double up for the SQL string literal
    val pat =
      """''s|''t|''re|''ve|''m|''ll|''d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}\x01]+|\s+|\x01"""
    s"""WITH marked AS (
       |  -- FIXTURE GUARD: the byte→unicode CASE below covers only the
       |  -- ASCII ranks (≤32 shifted, 127 shifted) and the chr(1)
       |  -- sentinel assumes its absence, so oracle equivalence DEPENDS
       |  -- on the documents fixture staying pure ASCII; if it ever
       |  -- gains non-ASCII or control-1 text this WHERE empties the
       |  -- oracle and the gate fails LOUDLY as a row-count mismatch
       |  -- instead of a confusing hash mismatch (the Spark side stays
       |  -- byte-correct for any UTF-8 input)
       |  SELECT doc_id,
       |    regexp_replace(text, '(\\s)(\\s\\S)', '\\1' || chr(1) || '\\2', 'g') AS t
       |  FROM documents
       |  WHERE 0 = (SELECT count(*) FROM documents
       |             WHERE octet_length(encode(text)) <> length(text)
       |                OR contains(text, chr(1)))),
       |arrs AS (
       |  SELECT doc_id, regexp_extract_all(t, '$pat') AS arr FROM marked),
       |toks AS (
       |  SELECT doc_id, arr[CAST(k + 1 AS INTEGER)] AS tok, k AS ord
       |  FROM arrs, unnest(range(len(arr))) AS u(k)),
       |kept AS (
       |  SELECT doc_id, tok,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1 AS i
       |  FROM toks WHERE tok <> chr(1))
       |SELECT doc_id, CAST(i AS INTEGER) AS i,
       |  array_to_string(list_transform(range(length(tok)), j ->
       |    CASE WHEN unicode(substring(tok, CAST(j + 1 AS INTEGER), 1)) <= 32
       |         THEN chr(256 + unicode(substring(tok, CAST(j + 1 AS INTEGER), 1)))
       |         WHEN unicode(substring(tok, CAST(j + 1 AS INTEGER), 1)) = 127
       |         THEN chr(289)
       |         ELSE substring(tok, CAST(j + 1 AS INTEGER), 1) END), '')
       |    AS pretoken
       |FROM kept""".stripMargin
  }

  def queries: Seq[(String, Query)] = Seq(
    "q_byte_pretokenize" -> Query((s, dir) => pretokens(s, dir), oracle)
  )
}
