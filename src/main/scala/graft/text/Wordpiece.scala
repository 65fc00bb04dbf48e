package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Query, Tables}
import graft.plans.WordpieceEncode

/** WordPiece tokenization (X215) — the BERT tokenizer, completing the
  * subword family: BPE's merge walk (X45/X77), unigram's Viterbi DP
  * (X104), and now greedy longest-match-first. The model is built
  * relationally from the corpus and collected like every other model
  * artifact; encoding is one codegen'd per-row expression
  * ([[graft.plans.WordpieceEncode]]).
  *
  * Model (stated once, mirrored in SQL):
  *   - corpus words = whitespace tokens of 1..16 chars with counts;
  *   - every character of every word enters the vocab in BOTH roles
  *     (raw and `##`-prefixed) — totality, so [UNK] only fires on
  *     out-of-contract words;
  *   - longer pieces (2..[[WordpieceEncode.MaxPieceLen]] chars): word
  *     PREFIXES in the start role, inner substrings in the
  *     continuation role, kept iff their occurrence-weighted count
  *     reaches [[MinCount]];
  *   - pieces containing `#` are excluded (the `##` marker namespace —
  *     a raw-text `#` word encodes as [UNK], both engines agree).
  *
  * Scale: the model is vocab-sized (grams of DISTINCT words) and
  * collects to the driver (the Phrases/Unigram/QualityModel
  * discipline); the corpus never shuffles to be encoded. The DuckDB
  * oracle replays the greedy matcher as 16 unrolled CTE steps
  * generated by the same Scala code, each step picking the longest
  * matching piece via a correlated `max_by`.
  */
object Wordpiece {

  /** Weighted-count floor for pieces of length ≥ 2. */
  val MinCount = 3L

  /** (word, cnt) over in-contract corpus words. */
  def wordTable(docs: DataFrame): DataFrame =
    docs.select(explode(TextOps.tokenize(col("text"))).as("word"))
      .filter(length(col("word")).between(1, WordpieceEncode.MaxWordLen))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))

  /** The vocabulary as a (piece) relation — `##`-prefixed continuation
    * entries ride in the same column.
    */
  def vocabOf(docs: DataFrame): DataFrame = {
    val words = wordTable(docs)
    val chars = words
      .select(explode(split(col("word"), "")).as("ch"))
      .filter(length(col("ch")) === 1 && col("ch") =!= "#")
      .distinct()
    val singles = chars.select(col("ch").as("piece"))
      .unionByName(chars.select(concat(lit("##"), col("ch")).as("piece")))
    val maxN = WordpieceEncode.MaxPieceLen
    val startG = (2 to maxN).map { n =>
      words.filter(length(col("word")) >= n)
        .select(substring(col("word"), 1, n).as("g"), col("cnt"))
    }.reduce(_ unionByName _)
      .filter(!col("g").contains("#"))
      .groupBy(col("g")).agg(sum(col("cnt")).as("w"))
      .filter(col("w") >= MinCount)
      .select(col("g").as("piece"))
    val contG = words
      .select(col("word"), col("cnt"),
        explode(expr(
          s"""flatten(transform(sequence(1, length(word) - 1), s ->
             |  filter(transform(sequence(2, $maxN), nn ->
             |    CASE WHEN s + nn <= length(word)
             |         THEN substring(word, s + 1, nn) END),
             |    x -> x IS NOT NULL)))""".stripMargin)).as("g"))
      .filter(!col("g").contains("#"))
      .groupBy(col("g")).agg(sum(col("cnt")).as("w"))
      .filter(col("w") >= MinCount)
      .select(concat(lit("##"), col("g")).as("piece"))
    singles.unionByName(startG).unionByName(contG).distinct()
  }

  /** Driver model array, sorted for a deterministic literal. */
  def collectVocab(docs: DataFrame): Array[String] =
    vocabOf(docs).collect().map(_.getString(0)).sorted

  /** The gate: every in-contract corpus word encoded under the
    * corpus-derived vocabulary — (word, cnt, n_pieces, encoded).
    */
  def encodeWords(docs: DataFrame): DataFrame = {
    val vocab = collectVocab(docs)
    wordTable(docs)
      .select(col("word"), col("cnt"),
        org.apache.spark.sql.GraftColumnShim.column(WordpieceEncode(
          org.apache.spark.sql.GraftColumnShim.expression(col("word")),
          org.apache.spark.sql.GraftColumnShim.expression(lit(vocab))))
          .as("s"))
      .select(col("word"), col("cnt"),
        col("s").getField("n_pieces").as("n_pieces"),
        col("s").getField("encoded").as("encoded"))
  }

  // ---- oracle: model CTEs + the greedy matcher unrolled --------------

  private def vocabCtes: String = {
    val tk = TextOps.tokenizeSql("text")
    val maxN = WordpieceEncode.MaxPieceLen
    val ns = (2 to maxN).mkString(", ")
    s"""words AS (
       |  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
       |    SELECT unnest($tk) AS word FROM documents)
       |  WHERE length(word) BETWEEN 1 AND ${WordpieceEncode.MaxWordLen}
       |  GROUP BY word),
       |chars AS (
       |  SELECT DISTINCT ch FROM (
       |    SELECT unnest(string_split(word, '')) AS ch FROM words)
       |  WHERE length(ch) = 1 AND ch <> '#'),
       |sg AS (
       |  SELECT g FROM (
       |    SELECT substr(word, 1, n) AS g, sum(cnt) AS w
       |    FROM words, unnest([$ns]) AS t(n)
       |    WHERE length(word) >= n AND substr(word, 1, n) NOT LIKE '%#%'
       |    GROUP BY 1)
       |  WHERE w >= $MinCount),
       |cg AS (
       |  SELECT g FROM (
       |    SELECT substr(word, s + 1, n) AS g, sum(cnt) AS w
       |    FROM words, unnest(range(1, length(word))) AS ts(s),
       |      unnest([$ns]) AS tn(n)
       |    WHERE s + n <= length(word)
       |      AND substr(word, s + 1, n) NOT LIKE '%#%'
       |    GROUP BY 1)
       |  WHERE w >= $MinCount),
       |vocab AS (
       |  SELECT DISTINCT piece FROM (
       |    SELECT ch AS piece FROM chars
       |    UNION ALL SELECT '##' || ch FROM chars
       |    UNION ALL SELECT g FROM sg
       |    UNION ALL SELECT '##' || g FROM cg)),
       |v AS (
       |  SELECT piece, piece LIKE '##%' AS cont,
       |    CASE WHEN piece LIKE '##%' THEN length(piece) - 2
       |         ELSE length(piece) END AS plen
       |  FROM vocab)""".stripMargin
  }

  private def stepSql(k: Int): String =
    s"""s$k AS (
       |  SELECT word, cnt, wlen,
       |    CASE WHEN unk OR p >= wlen OR bp IS NULL THEN p
       |         WHEN p = 0 THEN p + length(bp)
       |         ELSE p + length(bp) - 2 END AS p,
       |    CASE WHEN unk OR p >= wlen OR bp IS NULL THEN n ELSE n + 1 END AS n,
       |    CASE WHEN unk OR p >= wlen OR bp IS NULL THEN enc
       |         ELSE enc || CASE WHEN enc = '' THEN '' ELSE ' ' END || bp END AS enc,
       |    unk OR (p < wlen AND bp IS NULL) AS unk
       |  FROM (
       |    SELECT word, cnt, wlen, p, n, enc, unk,
       |      (SELECT max_by(v.piece, v.plen) FROM v
       |        WHERE v.cont = (p > 0) AND v.plen <= wlen - p
       |          AND v.piece = CASE WHEN p > 0
       |            THEN '##' || substr(word, p + 1, v.plen)
       |            ELSE substr(word, p + 1, v.plen) END) AS bp
       |    FROM s${k - 1}))""".stripMargin

  def encodeOracle: String = {
    val steps = (1 to WordpieceEncode.MaxWordLen).map(stepSql).mkString(",\n")
    s"""WITH ${vocabCtes},
       |s0 AS (
       |  SELECT word, cnt, length(word) AS wlen, 0 AS p, 0 AS n, '' AS enc,
       |    length(word) > ${WordpieceEncode.MaxWordLen} AS unk
       |  FROM words),
       |$steps
       |SELECT word, cnt,
       |  CAST(CASE WHEN unk THEN 1 ELSE n END AS INTEGER) AS n_pieces,
       |  CASE WHEN unk THEN '${WordpieceEncode.Unk}' ELSE enc END AS encoded
       |FROM s${WordpieceEncode.MaxWordLen}""".stripMargin
  }

  def queries: Seq[(String, Query)] = Seq(
    "q_wordpiece" -> Query((s, dir) => encodeWords(
      graft.ops.ScaleOps.widen(Tables.documents(s, dir))),
      encodeOracle)
  )
}
