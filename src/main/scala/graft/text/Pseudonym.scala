package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Linkage-preserving PII PSEUDONYMIZATION (X194) — the upgrade over
  * X38's flat redaction that analytics teams actually need: every
  * e-mail is replaced by a KEYED surrogate `<EMAIL_xxxxxx>` (first 6
  * md5 hex of pepper + lowercased address), so the same entity maps to
  * the same token corpus-wide — cohort and linkage analyses survive
  * the scrub — while the raw value is recoverable only through the
  * separately-stored VAULT table (surrogate → value → document reach),
  * the access-controlled artifact a GDPR workflow audits. The pepper
  * is a fixed literal here; a deployment injects a secret so
  * surrogates can't be dictionary-reversed.
  *
  * Scrubbing folds over the document's DISTINCT matches with a literal
  * `replace` per match (surrogates never re-match the e-mail pattern,
  * so the fold is order-independent — spec-pinned with a two-email
  * document). Scale shape: scrub is per-row HOF work inside codegen;
  * the vault is one hash-keyed aggregate over (match, doc) pairs —
  * e-mail-cardinality-sized, orders below the corpus.
  */
object Pseudonym {

  val Pepper = "graft-pepper-v1"

  def surrogateOf(m: Column): Column =
    concat(lit("<EMAIL_"),
      substring(md5(concat(lit(Pepper + ":"), lower(m))), 1, 6), lit(">"))

  def surrogateSql(m: String): String =
    s"'<EMAIL_' || substr(md5('$Pepper:' || lower($m)), 1, 6) || '>'"

  /** Replace every e-mail with its keyed surrogate. */
  def pseudonymize(c: Column): Column =
    aggregate(
      array_distinct(regexp_extract_all(c, lit(Redact.EmailRe), lit(0))),
      c,
      (acc, m) => replace(acc, m, surrogateOf(m)))

  /** Deterministic plant with REPEATING identities: doc_id % 3 == 0
    * docs carry `user{doc_id % 50}@example.com`, so ~each address
    * recurs across documents and the vault proves linkage.
    */
  def plant(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" reach user"), (col("doc_id") % 50).cast("string"),
            lit("@example.com soon"))).otherwise(lit(""))).as("text"))

  private def plantSqlBody: String =
    s"""SELECT doc_id, text ||
       |  CASE WHEN doc_id % 3 = 0
       |       THEN ' reach user' || CAST(doc_id % 50 AS VARCHAR) ||
       |            '@example.com soon' ELSE '' END AS text,
       |  CASE WHEN doc_id % 3 = 0
       |       THEN 'user' || CAST(doc_id % 50 AS VARCHAR) || '@example.com'
       |  END AS email
       |FROM documents""".stripMargin

  def scrubbed(spark: SparkSession, dir: String): DataFrame =
    plant(graft.ops.ScaleOps.widen(Tables.documents(spark, dir)))
      .select(col("doc_id"), pseudonymize(col("text")).as("scrubbed"))

  /** (surrogate, email, n_docs): the access-controlled linkage table. */
  def vault(spark: SparkSession, dir: String): DataFrame =
    plant(graft.ops.ScaleOps.widen(Tables.documents(spark, dir)))
      .select(col("doc_id"),
        explode(array_distinct(
          regexp_extract_all(col("text"), lit(Redact.EmailRe), lit(0))))
          .as("email"))
      .groupBy(col("email"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .select(surrogateOf(col("email")).as("surrogate"), col("email"),
        col("n_docs"))

  /** The plant carries at most ONE e-mail per doc, so the oracle can
    * state the scrub as a single closed-form replace; the Spark side
    * still runs the general fold (multi-e-mail docs spec-pinned).
    */
  def scrubbedOracle: String =
    s"""WITH p AS ($plantSqlBody)
       |SELECT doc_id,
       |  CASE WHEN email IS NULL THEN text
       |       ELSE replace(text, email, ${surrogateSql("email")}) END AS scrubbed
       |FROM p""".stripMargin

  def vaultOracle: String =
    s"""WITH p AS ($plantSqlBody)
       |SELECT ${surrogateSql("email")} AS surrogate, email,
       |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
       |FROM p WHERE email IS NOT NULL
       |GROUP BY email""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_pseudonym_scrub" -> Query((s, dir) => scrubbed(s, dir), scrubbedOracle),
    "q_pseudonym_vault" -> Query((s, dir) => vault(s, dir), vaultOracle)
  )
}
