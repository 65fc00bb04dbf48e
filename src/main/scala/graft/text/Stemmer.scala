package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** The ES `Text(analyzer='english')` twin (`sql_to_es_etl.py:104-105,110`)
  * — the analyzed-text sibling of [[Keyword]] (E14 covers the `Keyword`
  * fields' normalizer; this covers the `english` analyzer's token chain):
  * tokenize → lowercase → possessive strip → stopword removal → Porter-
  * style stemming.
  *
  * Like the lemmatizer (SURVEY §7 "UD2 fidelity"), the stemmer is a
  * deterministic published spec, not a Lucene clone: a Porter-lite rule
  * set — plural step 1a, ed/ing step 1b with double-consonant cleanup,
  * y→i step 1c, and a first-match-wins derivational table — each rule
  * stated ONCE as data below and rendered into BOTH engines, so the gate
  * checks the rules themselves, not two hand-written copies.
  *
  * Every step is a per-row codegen'd expression over the exploded token
  * stream; the operator is shuffle-free at any scale. The SQL twin
  * applies the steps as a CTE chain (one column rewrite per step) —
  * composing them as nested CASEs would blow up exponentially in text
  * size.
  */
object Stemmer {

  /** Derivational suffix map, first match wins: (suffix, replacement,
    * min length EXCLUSIVE). Longest-suffix rules listed first.
    */
  val Derivational: Seq[(String, String, Int)] = Seq(
    ("ational", "ate", 9), ("ization", "ize", 9), ("iveness", "ive", 9),
    ("fulness", "ful", 9), ("ousness", "ous", 9), ("tional", "tion", 8),
    ("ation", "ate", 7), ("ator", "ate", 6), ("alism", "al", 7),
    ("ness", "", 7))

  /** Double consonants undoubled after ed/ing removal (Porter 1b cleanup;
    * ll/ss/zz deliberately excluded, as in Porter).
    */
  val Doubles: Seq[String] = Seq("bb", "dd", "ff", "gg", "mm", "nn", "pp", "rr", "tt")

  private val Vowels = Seq("a", "e", "i", "o", "u")

  // ---- per-step expressions: Spark Column and DuckDB SQL from the same rules ----

  private def dropN(t: Column, n: Int): Column = t.substr(lit(1), length(t) - n)

  /** Possessive strip: john's → john. */
  def possessive(t: Column): Column =
    when(t.endsWith("'s") && length(t) > 3, dropN(t, 2)).otherwise(t)

  def possessiveSql(t: String): String =
    s"CASE WHEN $t LIKE '%''s' AND length($t) > 3 THEN substr($t, 1, length($t) - 2) ELSE $t END"

  /** Porter 1a: sses→ss, ies→i, ss kept, s dropped. */
  def plural(t: Column): Column =
    when(t.endsWith("sses"), dropN(t, 2))
      .when(t.endsWith("ies") && length(t) > 3, dropN(t, 2))
      .when(t.endsWith("ss"), t)
      .when(t.endsWith("s") && length(t) > 3, dropN(t, 1))
      .otherwise(t)

  def pluralSql(t: String): String =
    s"""CASE WHEN $t LIKE '%sses' THEN substr($t, 1, length($t) - 2)
       | WHEN $t LIKE '%ies' AND length($t) > 3 THEN substr($t, 1, length($t) - 2)
       | WHEN $t LIKE '%ss' THEN $t
       | WHEN $t LIKE '%s' AND length($t) > 3 THEN substr($t, 1, length($t) - 1)
       | ELSE $t END""".stripMargin.replace("\n", " ")

  /** Porter 1b: eed→ee; ed/ing dropped with the double-consonant cleanup
    * (running → runn → run) applied only when a suffix was removed.
    */
  def edIng(t: Column): Column = {
    def doubleAfter(drop: Int): Column =
      t.substr(length(t) - (drop + 1), lit(2)).isin(Doubles: _*)
    when(t.endsWith("eed") && length(t) > 5, dropN(t, 1))
      .when(t.endsWith("ed") && length(t) > 4,
        when(doubleAfter(2), dropN(t, 3)).otherwise(dropN(t, 2)))
      .when(t.endsWith("ing") && length(t) > 5,
        when(doubleAfter(3), dropN(t, 4)).otherwise(dropN(t, 3)))
      .otherwise(t)
  }

  def edIngSql(t: String): String = {
    val dbl = Doubles.map(d => s"'$d'").mkString(", ")
    s"""CASE WHEN $t LIKE '%eed' AND length($t) > 5 THEN substr($t, 1, length($t) - 1)
       | WHEN $t LIKE '%ed' AND length($t) > 4 THEN
       |   CASE WHEN substr($t, length($t) - 3, 2) IN ($dbl)
       |        THEN substr($t, 1, length($t) - 3) ELSE substr($t, 1, length($t) - 2) END
       | WHEN $t LIKE '%ing' AND length($t) > 5 THEN
       |   CASE WHEN substr($t, length($t) - 4, 2) IN ($dbl)
       |        THEN substr($t, 1, length($t) - 4) ELSE substr($t, 1, length($t) - 3) END
       | ELSE $t END""".stripMargin.replace("\n", " ")
  }

  /** Porter 1c: trailing y → i after a consonant (happy → happi). */
  def yToI(t: Column): Column =
    when(t.endsWith("y") && length(t) > 2 &&
        !t.substr(length(t) - 1, lit(1)).isin(Vowels: _*),
      concat(dropN(t, 1), lit("i"))).otherwise(t)

  def yToISql(t: String): String = {
    val v = Vowels.map(x => s"'$x'").mkString(", ")
    s"""CASE WHEN $t LIKE '%y' AND length($t) > 2
       |  AND substr($t, length($t) - 1, 1) NOT IN ($v)
       |  THEN substr($t, 1, length($t) - 1) || 'i' ELSE $t END""".stripMargin.replace("\n", " ")
  }

  /** Derivational table, first match wins — generated from [[Derivational]]. */
  def derivational(t: Column): Column =
    Derivational.foldRight(t) { case ((sfx, rep, ml), elseC) =>
      when(t.endsWith(sfx) && length(t) > ml,
        concat(dropN(t, sfx.length), lit(rep))).otherwise(elseC)
    }

  def derivationalSql(t: String): String = {
    val branches = Derivational.map { case (sfx, rep, ml) =>
      s"WHEN $t LIKE '%$sfx' AND length($t) > $ml THEN substr($t, 1, length($t) - ${sfx.length}) || '$rep'"
    }.mkString(" ")
    s"CASE $branches ELSE $t END"
  }

  /** Words planted onto the fixture corpus so every rule above is
    * exercised by the gate (the X38 planted-probe pattern): one word per
    * doc_id residue, each word chosen to fire exactly one rule.
    */
  val ProbeWords: Seq[String] = Seq(
    "relational",    // ational → relate
    "realization",   // ization → realize
    "effectiveness", // iveness → effective
    "hopefulness",   // fulness → hopeful
    "nervousness",   // ousness → nervous
    "conditional",   // tional  → condition
    "agreed",        // eed     → agree
    "hoped",         // ed      → hop
    "running",       // ing + undouble → run
    "ponies",        // ies     → poni
    "caresses",      // sses    → caress
    "cats",          // s       → cat
    "happy",         // y       → happi
    "john's",        // possessive → john
    "donation",      // ation   → donate
    "operator",      // ator    → operate
    "formalism")     // alism   → formal

  /** text + one planted probe word, cycled by doc_id. */
  def plantProbe: Column =
    concat(col("text"), lit(" "),
      element_at(array(ProbeWords.map(lit): _*), (col("doc_id") % ProbeWords.length).cast("int") + 1))

  def plantProbeSql: String = {
    val words = ProbeWords.map(w => s"'${w.replace("'", "''")}'").mkString(", ")
    s"text || ' ' || ([$words])[CAST(doc_id % ${ProbeWords.length} AS INTEGER) + 1]"
  }

  /** The analyzed token stream: (doc_id, pos, term) — position preserved
    * (analyzers are order-sensitive; phrase queries need positions).
    * Steps run as a withColumn chain over the exploded stream; every one
    * is per-row codegen, the plan has no exchange at all.
    */
  def englishTerms(spark: SparkSession, dir: String): DataFrame = {
    val toks = graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"), plantProbe.as("t"))
      .select(col("doc_id"),
        posexplode(TextOps.removeStopwords(TextOps.tokenize(lower(col("t"))))).as(Seq("pos", "tok")))
    toks
      .withColumn("s1", possessive(col("tok")))
      .withColumn("s2", plural(col("s1")))
      .withColumn("s3", edIng(col("s2")))
      .withColumn("s4", yToI(col("s3")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        derivational(col("s4")).as("term"))
  }

  def englishTermsOracle: String =
    s"""WITH planted AS (
       |  SELECT doc_id, $plantProbeSql AS t FROM documents
       |), arrs AS (
       |  SELECT doc_id, ${TextOps.removeStopwordsSql(TextOps.tokenizeSql("lower(t)"))} AS toks
       |  FROM planted
       |), toks AS (
       |  SELECT doc_id, i - 1 AS pos, toks[i] AS tok
       |  FROM arrs, unnest(range(1, len(toks) + 1)) AS u(i)
       |), s1 AS (SELECT doc_id, pos, ${possessiveSql("tok")} AS t FROM toks),
       |s2 AS (SELECT doc_id, pos, ${pluralSql("t")} AS t FROM s1),
       |s3 AS (SELECT doc_id, pos, ${edIngSql("t")} AS t FROM s2),
       |s4 AS (SELECT doc_id, pos, ${yToISql("t")} AS t FROM s3)
       |SELECT doc_id, CAST(pos AS BIGINT) AS pos, ${derivationalSql("t")} AS term FROM s4""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_english_analyze" -> Query((s, dir) => englishTerms(s, dir), englishTermsOracle)
  )
}
