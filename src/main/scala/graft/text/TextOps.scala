package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** UD2 `docpreprocess` (`preprocess_and_store_parquets.py:151-160`)
  * re-expressed natively: tokenize → stopword removal → deterministic
  * rule-based lemmatizer.
  *
  * The reference wraps spaCy (`DocPreProcess(nlp, stop_words, ...,
  * lemmatization=True)`) — external C code we deliberately do NOT
  * reproduce bit-for-bit (SURVEY.md §7 "UD2 fidelity"). Instead the
  * operator SHAPE (tokenize/stop/lemma over string → array<string>) runs
  * as Catalyst higher-order functions (`filter`/`transform` lambdas):
  * shuffle-free, a per-row map over the scan at any scale. They are NOT
  * compiled into the stage's generated code: in Spark 4.1 `ArrayFilter`
  * and `ArrayTransform` mix in `CodegenFallback`, so each call is
  * interpreted row by row. Keep their argument a column or a cheap
  * expression: an interpreted lambda re-evaluates whatever its argument
  * computes, out of reach of subexpression elimination (why
  * `Preprocess.normed` wraps the normalize chain in `nullif`, which Spark
  * evaluates once, below the lambdas).
  *
  * Stopword-set fidelity: the reference customizes spaCy's set with
  * `by`→stop, `hi`→stop, `not`→NOT a stopword
  * (`preprocess_and_store_parquets.py:69-71`) — mirrored here.
  */
object TextOps {

  /** Deterministic stopword set (reference overrides included: "by" and
    * "hi" present, "not" deliberately absent).
    */
  val Stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "on", "for", "with",
    "is", "are", "was", "were", "be", "been", "this", "that", "these",
    "it", "its", "as", "at", "from", "but", "if", "then", "than", "so",
    "by", "hi")

  /** Whitespace tokenizer; empty/blank input → empty array (split of ""
    * yields [""] in both engines — filtered out).
    */
  def tokenize(c: Column): Column =
    filter(split(trim(c), "\\s+"), t => length(t) > 0)

  /** Keep-order, keep-duplicates stopword removal. NOT `array_except`
    * (set semantics — would dedup); a `filter` HOF preserves multiplicity
    * like the reference's token loop.
    */
  def removeStopwords(tokens: Column): Column =
    filter(tokens, t => !t.isin(Stopwords: _*))

  /** One token through the rule lemmatizer. Deterministic suffix rules
    * (our published spec, tested as such — not a spaCy clone):
    *   ...ies→...y (len>4) | ...sses→...ss | ...ss kept | ...s dropped
    *   (len>3) | ...ing dropped (len>5) | ...ed dropped (len>4)
    */
  def lemmaRule(t: Column): Column =
    when(t.endsWith("ies") && length(t) > 4, concat(expr_substr(t, 3), lit("y")))
      .when(t.endsWith("sses"), expr_substr(t, 2))
      .when(t.endsWith("ss"), t)
      .when(t.endsWith("s") && length(t) > 3, expr_substr(t, 1))
      .when(t.endsWith("ing") && length(t) > 5, expr_substr(t, 3))
      .when(t.endsWith("ed") && length(t) > 4, expr_substr(t, 2))
      .otherwise(t)

  /** `t` minus its last `n` chars. */
  private def expr_substr(t: Column, n: Int): Column =
    t.substr(lit(1), length(t) - n)

  def lemmatize(tokens: Column): Column = transform(tokens, lemmaRule(_))

  /** Full UD2 pipeline: string column → array<string> of lemmatized,
    * stopword-free tokens.
    */
  def preprocess(c: Column): Column = lemmatize(removeStopwords(tokenize(c)))

  // ---- DuckDB oracle fragments (generated from the same constants) ----

  def stopwordListSql: String = Stopwords.map(s => s"'$s'").mkString(", ")

  /** Fold the first 12 hex chars of a bound md5-hex variable `v` into the
    * 48-bit integer Spark's `conv(substring(md5(x),1,12),16,10)` yields —
    * the ONE copy of the ascii-decode idiom every oracle that buckets or
    * hashes by md5 shares (MinHash base hashes, corpus split buckets).
    */
  def md5HexFold12Sql(v: String): String = {
    val hexTerms = (1 to 12).map { i =>
      s"(CAST(ascii(substring($v, $i, 1)) AS BIGINT) - 48 - CASE WHEN ascii(substring($v, $i, 1)) >= 97 THEN 39 ELSE 0 END)"
    }
    hexTerms.zipWithIndex
      .map { case (t, idx) => s"$t * ${math.pow(16, 11 - idx).toLong}" }
      .mkString(" + ")
  }

  /** First md5 hex pair of `arg` as an integer byte (0–255) — the
    * [[md5HexFold12Sql]] ascii-decode idiom at width 2; the DuckDB
    * spelling of "first byte of md5(arg)" that the media cell plants
    * (PngPlantCell, the audio cell WAV/FLAC plants) restate.
    */
  def md5ByteSql(arg: String): String = {
    def digit(i: Int) =
      s"(CAST(ascii(substring(md5($arg), $i, 1)) AS BIGINT) - 48" +
        s" - CASE WHEN ascii(substring(md5($arg), $i, 1)) >= 97 THEN 39 ELSE 0 END)"
    s"(${digit(1)} * 16 + ${digit(2)})"
  }

  def tokenizeSql(c: String): String =
    s"list_filter(string_split_regex(trim($c), '\\s+'), t -> length(t) > 0)"

  def removeStopwordsSql(tokens: String): String =
    s"list_filter($tokens, t -> t NOT IN ($stopwordListSql))"

  /** Same suffix rules as [[lemmaRule]], as a DuckDB lambda CASE. */
  def lemmaRuleSql(t: String): String =
    s"""CASE
       | WHEN $t LIKE '%ies' AND length($t) > 4 THEN substr($t, 1, length($t) - 3) || 'y'
       | WHEN $t LIKE '%sses' THEN substr($t, 1, length($t) - 2)
       | WHEN $t LIKE '%ss' THEN $t
       | WHEN $t LIKE '%s' AND length($t) > 3 THEN substr($t, 1, length($t) - 1)
       | WHEN $t LIKE '%ing' AND length($t) > 5 THEN substr($t, 1, length($t) - 3)
       | WHEN $t LIKE '%ed' AND length($t) > 4 THEN substr($t, 1, length($t) - 2)
       | ELSE $t END""".stripMargin.replace("\n", " ")

  def preprocessSql(c: String): String =
    s"list_transform(${removeStopwordsSql(tokenizeSql(c))}, t -> ${lemmaRuleSql("t")})"
}
