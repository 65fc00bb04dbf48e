package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Parallel-corpus (bitext) pair filtering (X224) — the hygiene pass
  * every translation-data pipeline runs before a (src, tgt) pair may
  * train an MT-capable model. Word-level monolingual filters (X44)
  * judge one side at a time; the signals that matter for a PAIR are
  * relational between the sides:
  *
  *   - too_short: either side under [[MinToks]] tokens — no alignment
  *     evidence at all;
  *   - bad_ratio: character length ratio outside
  *     [[RatioMinBp]]‥[[RatioMaxBp]] basis points (a 4× blowup is a
  *     crawler artifact, not a translation);
  *   - copy: word-set Jaccard ≥ [[CopyMinBp]] bp — the "translation"
  *     is the source pasted back (untranslated segments dominate
  *     mined bitext);
  *   - kept otherwise.
  *
  * First-rejecting-rule-wins, the X44 funnel discipline; all integer
  * basis points so both engines agree bit-for-bit. Per-pair, map-only
  * — the pair table is the input, no join is added here.
  *
  * The fixture derives pairs from the documents table: src is real
  * corpus text; tgt per class is a word-wise "translation" (each token
  * replaced by its 6-char md5 prefix — distinct vocabulary, natural
  * length ratio), a truncated stub, a 4× repetition, or the source
  * verbatim — each class exercising exactly one rule. The oracle
  * rebuilds the same pairs and re-derives every signal in SQL.
  */
object Bitext {

  val MinToks = 3L
  val RatioMinBp = 4000L
  val RatioMaxBp = 25000L
  val CopyMinBp = 8000L

  /** Word-wise pseudo-translation: token → first 6 md5 hex chars. */
  private def xlate(c: Column): Column =
    array_join(transform(TextOps.tokenize(c), t => substring(md5(t), 1, 6)), " ")

  /** (pair_id, src, tgt): class 0 plausible pair, 1 truncated tgt,
    * 2 repetition blowup, 3 verbatim copy.
    */
  def plantPairs(spark: SparkSession, dir: String): DataFrame =
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id").as("pair_id"), col("text").as("src"),
        when(col("doc_id") % 4 === 0, xlate(col("text")))
          .when(col("doc_id") % 4 === 1,
            array_join(slice(transform(TextOps.tokenize(col("text")),
              t => substring(md5(t), 1, 6)), 1, 2), " "))
          .when(col("doc_id") % 4 === 2, repeat(col("text"), 4))
          .otherwise(col("text")).as("tgt"))

  /** The verdict columns over ANY (pair_id, src, tgt) frame. Token
    * arrays materialize as named columns once (the lambda-substitution
    * discipline — HOFs get no common-subexpression elimination).
    */
  def screen(pairs: DataFrame): DataFrame =
    pairs
      .withColumn("sd", array_distinct(TextOps.tokenize(col("src"))))
      .withColumn("td", array_distinct(TextOps.tokenize(col("tgt"))))
      .withColumn("n_src", size(TextOps.tokenize(col("src"))).cast("long"))
      .withColumn("n_tgt", size(TextOps.tokenize(col("tgt"))).cast("long"))
      .withColumn("ratio_bp",
        expr("(10000 * length(tgt)) DIV greatest(length(src), 1)"))
      .withColumn("jaccard_bp",
        expr("(10000 * size(array_intersect(sd, td))) DIV " +
          "greatest(size(array_union(sd, td)), 1)"))
      .withColumn("verdict",
        when(col("n_src") < MinToks || col("n_tgt") < MinToks, lit("too_short"))
          .when(col("ratio_bp") < RatioMinBp || col("ratio_bp") > RatioMaxBp,
            lit("bad_ratio"))
          .when(col("jaccard_bp") >= CopyMinBp, lit("copy"))
          .otherwise(lit("kept")))
      .select(col("pair_id"), col("n_src"), col("n_tgt"), col("ratio_bp"),
        col("jaccard_bp"), col("verdict"))

  def screened(spark: SparkSession, dir: String): DataFrame =
    screen(plantPairs(spark, dir))

  def oracle: String = {
    val tok = TextOps.tokenizeSql("text")
    s"""WITH pairs AS (
       |  SELECT doc_id AS pair_id, text AS src,
       |    CASE CAST(doc_id % 4 AS INTEGER)
       |      WHEN 0 THEN array_to_string(list_transform($tok,
       |        t -> substring(md5(t), 1, 6)), ' ')
       |      WHEN 1 THEN array_to_string(list_transform($tok,
       |        t -> substring(md5(t), 1, 6))[1:2], ' ')
       |      WHEN 2 THEN repeat(text, 4)
       |      ELSE text
       |    END AS tgt
       |  FROM documents),
       |toks AS (
       |  SELECT pair_id, src, tgt,
       |    ${TextOps.tokenizeSql("src")} AS st,
       |    ${TextOps.tokenizeSql("tgt")} AS tt
       |  FROM pairs),
       |sig AS (
       |  SELECT pair_id,
       |    CAST(len(st) AS BIGINT) AS n_src, CAST(len(tt) AS BIGINT) AS n_tgt,
       |    CAST((10000 * length(tgt)) // greatest(length(src), 1) AS BIGINT)
       |      AS ratio_bp,
       |    CAST((10000 * len(list_intersect(list_distinct(st), list_distinct(tt))))
       |      // greatest(len(list_distinct(list_concat(st, tt))), 1) AS BIGINT)
       |      AS jaccard_bp
       |  FROM toks)
       |SELECT pair_id, n_src, n_tgt, ratio_bp, jaccard_bp,
       |  CASE WHEN n_src < $MinToks OR n_tgt < $MinToks THEN 'too_short'
       |       WHEN ratio_bp < $RatioMinBp OR ratio_bp > $RatioMaxBp THEN 'bad_ratio'
       |       WHEN jaccard_bp >= $CopyMinBp THEN 'copy'
       |       ELSE 'kept' END AS verdict
       |FROM sig""".stripMargin
  }

  def queries: Seq[(String, Query)] = Seq(
    "q_bitext_screen" -> Query((s, dir) => screened(s, dir), oracle)
  )
}
