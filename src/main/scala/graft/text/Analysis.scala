package graft.text

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Text-analysis operators a large-scale training-data pipeline needs:
  * language-ID (function-word heuristic), quality scoring, token counting
  * (whitespace + BPE-ish regex), and document fingerprinting. All pure
  * per-row Catalyst expressions — no shuffle, no UDF, fully codegen'd, so
  * they scale linearly with the scan.
  *
  * Justified by the reference's NLP-preprocess pipeline
  * (`preprocess_and_store_parquets.py:111-160`) and built over the
  * `documents` fixture table.
  */
object Analysis {

  /** Function-word markers per language. Hit-counting these over the token
    * stream is the classic cheap language-ID heuristic (an n-gram model's
    * degenerate, SQL-expressible form). Tie-break: fixed language order.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "to", "and", "in", "is", "it", "not"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "nicht", "mit"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "pas", "dans"),
    "es" -> Seq("el", "los", "las", "y", "es", "una", "no", "con"),
    "zh" -> Seq("的", "是", "不", "了", "在")
  )

  private def tokens(c: Column): Column = TextOps.tokenize(c)

  private def hits(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => t.isin(markers: _*)))

  /** Predicted language code of text `c` over its pre-materialized token
    * array `toks`; 'und' for NULL text or when no marker hits at all (a
    * NULL guard keeps missing text from falling through every
    * unknown-valued comparison into the last branch).
    *
    * The argmax when-chain references each language's score ~|langs| times;
    * callers materialize the token array first so those references
    * re-filter a bound array instead of re-running the tokenization
    * (Catalyst inlines the full sub-tree per reference — the
    * lambda-substitution trap).
    */
  def langIdFromTokens(c: Column, toks: Column): Column = {
    val scores = LangMarkers.map { case (lang, m) => lang -> hits(toks, m) }
    val total = scores.map(_._2).reduce(_ + _)
    // greatest-score argmax with fixed-order tie-break: lang i wins if its
    // score is >= every later score and > every earlier score (earlier
    // langs already had their chance), expressed as a when-chain.
    val chain = scores.zipWithIndex.foldLeft(
      when(c.isNull, "und").when(total === 0, "und")) {
      case (acc, ((lang, s), i)) =>
        val beatsLater = scores.drop(i + 1).map { case (_, s2) => s >= s2 }
          .foldLeft(lit(true))(_ && _)
        acc.when(beatsLater, lang)
    }
    chain.otherwise(LangMarkers.last._1)
  }

  def langIdSql(c: String): String = {
    val toks = TextOps.tokenizeSql(c)
    def hitsSql(m: Seq[String]) =
      s"len(list_filter($toks, t -> t IN (${m.map(w => s"'$w'").mkString(", ")})))"
    val scores = LangMarkers.map { case (lang, m) => lang -> hitsSql(m) }
    val total = scores.map(_._2).mkString(" + ")
    val whens = scores.zipWithIndex.map { case ((lang, s), i) =>
      val beatsLater = scores.drop(i + 1).map { case (_, s2) => s"$s >= $s2" }
      val cond = if (beatsLater.isEmpty) "TRUE" else beatsLater.mkString(" AND ")
      s"WHEN $cond THEN '$lang'"
    }
    s"CASE WHEN $c IS NULL THEN 'und' WHEN ($total) = 0 THEN 'und' " +
      s"${whens.mkString(" ")} ELSE '${LangMarkers.last._1}' END"
  }

  /** Quality components + composite score.
    *
    * Cross-engine exactness discipline: `round(double, 4)` ties at the
    * 5th decimal render differently in Spark (BigDecimal HALF_UP on the
    * exact double) vs DuckDB (scaled std::round) — that made round-1's
    * composite hash-FAIL. The composite is therefore computed from
    * *integer-valued* doubles (each ratio floored at 1e4 scale; integers
    * ≤ 1e5 are exact in IEEE754) with one final division — both engines
    * then perform the identical correctly-rounded IEEE ops and agree
    * bit-for-bit. Ratios are guarded with `n > 0` so empty/null docs emit
    * NULL on both engines (DuckDB's list_sum([]) is NULL and 0/0.0 is NaN,
    * Spark's would be NULL and NULL — unguarded they diverge).
    *
    * Takes a pre-materialized token column — six output columns each
    * reference the tokens, so queries bind them once (see
    * [[langIdFromTokens]]).
    */
  def qualityColumnsFromTokens(c: Column, toks: Column): Seq[(String, Column)] = {
    val n = size(toks)
    val nD = n.cast("double")
    val types = size(array_distinct(toks))
    val stopHits = hits(toks, TextOps.Stopwords)
    val charLen = aggregate(toks, lit(0), (acc, t) => acc + length(t))
    // scaled-integer components (exact doubles): ratio * 1e4, floored
    val t4 = floor(types.cast("double") * 10000 / nD)
    val s4 = floor(stopHits.cast("double") * 10000 / nD)
    val l4 = least(lit(10000.0), nD * 100) // min(1, n/100) * 1e4, exact
    // 0.4*ttr + 0.3*(1-stop) + 0.3*len_bonus == (4*t4 + 3*(1e4-s4) + 3*l4) / 1e5
    val score = (t4 * 4 + (lit(10000.0) - s4) * 3 + l4 * 3) / lit(100000.0)
    def guarded(col: Column): Column = when(n > 0, col)
    // punctuation ratio over characters (brief: length/punct/stopword):
    // both engines count the same regex matches and divide identical ints
    val punct = size(regexp_extract_all(c, lit("[^A-Za-z0-9\\s]"), lit(0)))
    val textLen = length(c)
    Seq(
      "n_tokens" -> n.cast("long"),
      "type_token_ratio" -> guarded(round(types / nD, 4)),
      "stopword_ratio" -> guarded(round(stopHits / nD, 4)),
      "mean_token_len" -> guarded(round(charLen / nD, 4)),
      "punct_ratio" -> when(textLen > 0, round(punct.cast("double") / textLen, 4)),
      "quality_score" -> guarded(score)
    )
  }

  /** The quality heuristic as ONE scaled BIGINT in [0, 100000] — the
    * exact-integer core `quality_score` divides by 1e5: t4·4 +
    * (10000−s4)·3 + l4·3, every term an exact-integer-valued double
    * (floors of ratios ×1e4), so the cast is exact and a threshold on
    * it is an integer comparison in both engines. NULL for token-less
    * docs (no evidence, no verdict) — the seed-labeling contract
    * [[QualityTrain]] rests on.
    */
  def qualityQFromTokens(toks: Column): Column = {
    val n = size(toks)
    val nD = n.cast("double")
    val t4 = floor(size(array_distinct(toks)).cast("double") * 10000 / nD)
    val s4 = floor(hits(toks, TextOps.Stopwords).cast("double") * 10000 / nD)
    val l4 = least(lit(10000.0), nD * 100)
    when(n > 0, (t4 * 4 + (lit(10000.0) - s4) * 3 + l4 * 3).cast("long"))
  }

  /** [[qualityQFromTokens]]' DuckDB twin over a token-list expression. */
  def qualityQSql(toks: String): String = {
    val n = s"len($toks)"
    val nD = s"CAST($n AS DOUBLE)"
    val t4 = s"floor(CAST(len(list_distinct($toks)) AS DOUBLE) * 10000 / $nD)"
    val s4 = s"floor(CAST(len(list_filter($toks, t -> t IN (${TextOps.stopwordListSql}))) AS DOUBLE) * 10000 / $nD)"
    val l4 = s"least(10000.0, $nD * 100)"
    s"CASE WHEN $n > 0 THEN CAST($t4 * 4 + (10000.0 - $s4) * 3 + $l4 * 3 AS BIGINT) END"
  }

  def qualitySqlColumns(c: String): Seq[(String, String)] = {
    val toks = TextOps.tokenizeSql(c)
    val n = s"len($toks)"
    val nD = s"CAST($n AS DOUBLE)"
    val types = s"len(list_distinct($toks))"
    val stopHits = s"len(list_filter($toks, t -> t IN (${TextOps.stopwordListSql})))"
    val charLen = s"list_sum(list_transform($toks, t -> length(t)))"
    val t4 = s"floor(CAST($types AS DOUBLE) * 10000 / $nD)"
    val s4 = s"floor(CAST($stopHits AS DOUBLE) * 10000 / $nD)"
    val l4 = s"least(10000.0, $nD * 100)"
    val score = s"($t4 * 4 + (10000.0 - $s4) * 3 + $l4 * 3) / 100000.0"
    def guarded(e: String): String = s"CASE WHEN $n > 0 THEN $e END"
    val punct = s"len(regexp_extract_all($c, '[^A-Za-z0-9\\s]'))"
    Seq(
      "n_tokens" -> s"CAST($n AS BIGINT)",
      "type_token_ratio" -> guarded(s"round($types / $nD, 4)"),
      "stopword_ratio" -> guarded(s"round($stopHits / $nD, 4)"),
      "mean_token_len" -> guarded(s"round($charLen / $nD, 4)"),
      "punct_ratio" -> s"CASE WHEN length($c) > 0 THEN round(CAST($punct AS DOUBLE) / length($c), 4) END",
      "quality_score" -> guarded(score)
    )
  }

  /** BPE-ish pre-tokenizer regex: letter runs | single digits | single
    * non-alnum marks — the unit shape GPT-style tokenizers split on first.
    */
  val BpeIshPattern = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"

  def wsTokenCount(c: Column): Column = size(tokens(c)).cast("long")

  def bpeIshTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit(BpeIshPattern), lit(0))).cast("long")

  /** Content fingerprint = md5 of the normalized text — the exact-dedup /
    * idempotent-sink key. (SimHash/MinHash live in graft.dedup.)
    */
  def fingerprint(c: Column): Column = md5(Normalize.normalizeText(c))

  /** Rolling (Rabin-Karp polynomial) fingerprint: fold
    * `h ← (h·31 + codepoint) mod 1e9+7` over the text's characters — the
    * incremental-hash shape sliding-window chunkers (CDC, winnowing) are
    * built on. Explicit modulus keeps every intermediate ≤ ~3.1e16, exact
    * in long arithmetic on both engines (natural 2^64 wraparound would trip
    * ANSI overflow and differ from DuckDB's checked BIGINT). Per-row,
    * shuffle-free: runs as the codegen'd
    * [[graft.plans.RollingPolyHash]] — a primitive loop over code points
    * in the scan stage; [[rollingHashHof]] is the builtin-only twin
    * (per-char array + lambda outside codegen — length-proportional
    * per-row garbage), kept for the equivalence spec and as the porting
    * reference, the [[graft.sim.Similarity.dotqHof]] pattern.
    */
  def rollingHash(c: Column): Column =
    org.apache.spark.sql.GraftColumnShim.column(
      graft.plans.RollingPolyHash(
        org.apache.spark.sql.GraftColumnShim.expression(c)))

  /** Builtin-only twin of [[rollingHash]]. */
  def rollingHashHof(c: Column): Column = {
    val chars = split(c, "")
    aggregate(chars, lit(0L), (h, ch) => (h * 31 + ascii(ch).cast("long")) % 1000000007L)
  }

  def rollingHashSql(c: String): String =
    s"""list_reduce(
       |  list_prepend(CAST(0 AS BIGINT),
       |    list_transform(string_split($c, ''), ch -> CAST(ascii(ch) AS BIGINT))),
       |  (h, ch) -> (h * 31 + ch) % 1000000007)""".stripMargin.replace("\n", " ")

  // ---- query registry ----

  /** All analysis queries are per-row expression pipelines over the scan —
    * widen under-split files so they parallelize (identity on real tables).
    */
  private def docs(s: SparkSession, dir: String) =
    graft.ops.ScaleOps.widen(Tables.documents(s, dir))

  def queries: Seq[(String, Query)] = Seq(
    "q_normalize_text" -> Query((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        Normalize.normalizeText(col("text")).as("norm_text")),
      s"""SELECT doc_id, ${Normalize.normalizeSql("text")} AS norm_text FROM documents"""),
    "q_tokenize_stopword_lemma" -> Query((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), TextOps.preprocess(col("text")).as("p"))
        .select(col("doc_id"),
          concat_ws(" ", col("p")).as("processed"),
          size(col("p")).cast("long").as("n_out_tokens")),
      s"""SELECT doc_id,
         |  array_to_string(${TextOps.preprocessSql("text")}, ' ') AS processed,
         |  CAST(len(${TextOps.preprocessSql("text")}) AS BIGINT) AS n_out_tokens
         |FROM documents""".stripMargin),
    "q_lang_id" -> Query((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), col("lang"), col("text"), tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("lang"),
          langIdFromTokens(col("text"), col("toks")).as("lang_pred")),
      s"""SELECT doc_id, lang, ${langIdSql("text")} AS lang_pred FROM documents"""),
    "q_text_quality" -> Query((s, dir) => {
      val cols = qualityColumnsFromTokens(col("text"), col("toks"))
        .map { case (n, c) => c.as(n) }
      docs(s, dir)
        .select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
        .select(col("doc_id") +: cols: _*)
    }, {
      val cols = qualitySqlColumns("text").map { case (n, c) => s"$c AS $n" }
      s"""SELECT doc_id, ${cols.mkString(", ")} FROM documents"""
    }),
    "q_token_count" -> Query((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        wsTokenCount(col("text")).as("ws_tokens"),
        bpeIshTokenCount(col("text")).as("bpeish_tokens")),
      s"""SELECT doc_id,
         |  CAST(len(${TextOps.tokenizeSql("text")}) AS BIGINT) AS ws_tokens,
         |  CAST(len(regexp_extract_all(text, '${BpeIshPattern}')) AS BIGINT) AS bpeish_tokens
         |FROM documents""".stripMargin),
    "q_fingerprint" -> Query((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        fingerprint(col("text")).as("fp_md5")),
      s"""SELECT doc_id, md5(${Normalize.normalizeSql("text")}) AS fp_md5 FROM documents"""),
    "q_rolling_fingerprint" -> Query((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        rollingHash(col("text")).as("fp_roll")),
      s"""SELECT doc_id, ${rollingHashSql("text")} AS fp_roll FROM documents""")
  )
}
