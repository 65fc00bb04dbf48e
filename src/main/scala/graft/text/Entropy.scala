package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Character-entropy garbage triage (X222) — the word-free quality
  * signal that catches exactly the inputs word-level filters (X9/X35)
  * can't see: repetitive padding sits near 1 bit/char, natural
  * language near 4, base64/encrypted blobs that leaked into a text
  * column near 6. One [[graft.plans.CharEntropy]] pass per row, no
  * tokenizer, no model.
  *
  * The fixture plants all three regimes — real corpus text, a
  * two-symbol repetition, and a 64-symbol rotating blob (each symbol
  * exactly n/64 times: the stride is coprime with the alphabet, so
  * the blob's entropy is exactly 6 bits/char) — and the oracle
  * recomputes every sixteenth-bit from the SAME plant through a
  * generic char-unnest chain, so the gate pins the quantizer, not a
  * restated constant. Verdict thresholds (repetitive ≤ 1.5 bits,
  * random ≥ 5.5) are data, not semantics: both engines apply the same
  * constants to the same integer, so agreement never depends on where
  * real text happens to land.
  */
object Entropy {

  /** milli-bits per char: ≤ → repetitive, ≥ → random blob. */
  val RepetitiveMax = 1500L
  val RandomMin = 5500L

  private val B64 =
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/"

  def entropyOf(c: Column): Column =
    org.apache.spark.sql.GraftColumnShim.column(
      graft.plans.CharEntropy(org.apache.spark.sql.GraftColumnShim.expression(c)))

  /** doc_id % 3 = 0 → real corpus text; 1 → "ab" repetition (length
    * varies by doc so the count arithmetic is exercised off the
    * power-of-two fast path); 2 → rotating base64 blob, stride 17
    * coprime with 64.
    */
  def plantText: Column = {
    val id = col("doc_id")
    when(id % 3 === 0, col("text"))
      .when(id % 3 === 1,
        expr("repeat('ab', CAST(40 + doc_id % 23 AS INT))"))
      .otherwise(expr(
        s"array_join(transform(sequence(0, 127), j -> " +
          s"substring('$B64', CAST((doc_id * 31 + j * 17) % 64 AS INT) + 1, 1)), '')"))
  }

  /** (doc_id, n_chars, distinct_chars, entropy_q, entropy_milli,
    * verdict) — empty docs are ABSENT (no chars, no evidence).
    */
  def report(spark: SparkSession, dir: String): DataFrame =
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"), plantText.as("t"))
      .select(col("doc_id"), entropyOf(col("t")).as("s"))
      .select(col("doc_id"),
        col("s").getField("n_chars").as("n_chars"),
        col("s").getField("distinct_chars").as("distinct_chars"),
        col("s").getField("entropy_q").as("entropy_q"))
      .filter(col("n_chars") > 0)
      .withColumn("entropy_milli",
        expr("(1000 * entropy_q) DIV (16 * n_chars)"))
      .withColumn("verdict",
        when(col("entropy_milli") <= RepetitiveMax, lit("repetitive"))
          .when(col("entropy_milli") >= RandomMin, lit("random"))
          .otherwise(lit("natural")))

  def oracle: String = {
    val lg = QualityTrain.log2fpDuckSql _
    s"""WITH planted AS (
       |  SELECT doc_id,
       |    CASE CAST(doc_id % 3 AS INTEGER)
       |      WHEN 0 THEN text
       |      WHEN 1 THEN repeat('ab', CAST(40 + doc_id % 23 AS INTEGER))
       |      ELSE list_aggregate(list_transform(range(0, 128), j ->
       |        substring('$B64',
       |          CAST((doc_id * 31 + j * 17) % 64 AS INTEGER) + 1, 1)),
       |        'string_agg', '')
       |    END AS t
       |  FROM documents),
       |chars AS (
       |  SELECT doc_id, substring(t, CAST(i + 1 AS INTEGER), 1) AS ch
       |  FROM planted, unnest(range(0, length(t))) AS u(i)),
       |hist AS (
       |  SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c
       |  FROM chars GROUP BY doc_id, ch),
       |tot AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
       |    CAST(count(*) AS BIGINT) AS d
       |  FROM hist GROUP BY doc_id),
       |ent AS (
       |  SELECT h.doc_id, t.n, t.d,
       |    CAST(sum(h.c * (${lg("t.n")} - ${lg("h.c")})) AS BIGINT) AS entropy_q
       |  FROM hist h JOIN tot t USING (doc_id)
       |  GROUP BY h.doc_id, t.n, t.d)
       |SELECT doc_id, n AS n_chars, d AS distinct_chars, entropy_q,
       |  CAST((1000 * entropy_q) // (16 * n) AS BIGINT) AS entropy_milli,
       |  CASE WHEN (1000 * entropy_q) // (16 * n) <= $RepetitiveMax THEN 'repetitive'
       |       WHEN (1000 * entropy_q) // (16 * n) >= $RandomMin THEN 'random'
       |       ELSE 'natural' END AS verdict
       |FROM ent WHERE n > 0""".stripMargin
  }

  def queries: Seq[(String, Query)] = Seq(
    "q_char_entropy" -> Query((s, dir) => report(s, dir), oracle)
  )
}
