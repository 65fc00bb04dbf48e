package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Unicode NFC normalization over the corpus — see
  * [[graft.plans.NfcNormalize]]. The gate plants the canonical NFC
  * test cases (combining marks, Hangul jamo, singleton mappings, marks
  * with no precomposed form) onto the fixture text keyed by doc_id and
  * compares the JVM's normalizer against DuckDB's utf8proc-backed
  * `nfc_normalize` — two independent Unicode implementations agreeing
  * character-for-character, plus the codepoint counts that prove
  * composition actually happened.
  */
object Unicode {

  def nfc(c: Column): Column =
    org.apache.spark.sql.GraftColumnShim.column(
      graft.plans.NfcNormalize(
        org.apache.spark.sql.GraftColumnShim.expression(c)))

  /** Decomposed/edge sequences appended per doc_id residue:
    * always   " cafe" + U+0301        → "café" (combining acute composes)
    * %2 == 0  " ma" + "n"+U+0303 + "ana" → "mañana"
    * %3 == 0  U+1100 U+1161           → 가 (Hangul LV composition)
    * %4 == 0  U+212B                  → Å U+00C5 (singleton mapping)
    * %7 == 0  "x" + U+0308 + U+0301   → U+1E8D + U+0301 (partial: the first
    *                                    mark composes, the acute survives —
    *                                    the one-of-several-marks case)
    */
  def plantDecomposed: Column = {
    val id = col("doc_id")
    // explicit escapes: these MUST be the decomposed sequences — a
    // precomposed source literal would silently skip the composition path
    concat(
      col("text"), lit(" cafe\u0301"),
      when(id % 2 === 0, lit(" man\u0303ana")).otherwise(lit("")),
      when(id % 3 === 0, lit(" \u1100\u1161")).otherwise(lit("")),
      when(id % 4 === 0, lit(" \u212B")).otherwise(lit("")),
      when(id % 7 === 0, lit(" x\u0308\u0301")).otherwise(lit("")))
  }

  def plantDecomposedSql: String =
    s"""SELECT doc_id,
       |  text || ' cafe' || chr(769) ||
       |  (CASE WHEN doc_id % 2 = 0 THEN ' man' || chr(771) || 'ana' ELSE '' END) ||
       |  (CASE WHEN doc_id % 3 = 0 THEN ' ' || chr(4352) || chr(4449) ELSE '' END) ||
       |  (CASE WHEN doc_id % 4 = 0 THEN ' ' || chr(8491) ELSE '' END) ||
       |  (CASE WHEN doc_id % 7 = 0 THEN ' x' || chr(776) || chr(769) ELSE '' END) AS raw
       |FROM documents""".stripMargin

  /** (doc_id, norm, n_raw, n_nfc) — codepoint counts shrink exactly by
    * the number of compositions, which the oracle recomputes on its own
    * normalizer.
    */
  def nfcNormalized(spark: SparkSession, dir: String): DataFrame =
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"), plantDecomposed.as("raw"))
      .select(col("doc_id"), col("raw"), nfc(col("raw")).as("norm"))
      .select(col("doc_id"), col("norm"),
        length(col("raw")).cast("int").as("n_raw"),
        length(col("norm")).cast("int").as("n_nfc"))

  def nfcOracle: String =
    s"""WITH planted AS (${plantDecomposedSql})
       |SELECT doc_id, nfc_normalize(raw) AS norm,
       |  CAST(length(raw) AS INTEGER) AS n_raw,
       |  CAST(length(nfc_normalize(raw)) AS INTEGER) AS n_nfc
       |FROM planted""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_nfc_normalize" -> Query((s, dir) => nfcNormalized(s, dir), nfcOracle)
  )
}
