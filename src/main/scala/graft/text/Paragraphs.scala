package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Corpus-wide paragraph-level exact dedup — the Dolma/RefinedWeb step
  * between document dedup and line-level boilerplate (X39): navigation
  * blurbs, license footers and syndicated intros repeat across
  * documents that are NOT near-dups as wholes, and dropping the
  * repeated paragraph (keeping its FIRST occurrence in corpus order)
  * removes them without killing the host documents.
  *
  * Semantics: split on blank lines, key each paragraph by md5, keep a
  * paragraph iff its (doc_id, idx) is the minimum over all occurrences
  * of that key (global keep-first — a total order, so both engines
  * agree exactly), reassemble survivors in document order.
  *
  * Scale shape: explode is per-row; the keep-first decision is ONE
  * window exchange partitioned by the paragraph digest (the md5 both
  * distributes the skew of popular paragraphs and is what you'd ship
  * to the shuffle instead of paragraph text at 100 TB); reassembly is
  * ONE doc-keyed aggregate. No joins.
  *
  * Reference scope: no corpus hygiene in the reference; north-star
  * LLM-pipeline machinery (slots between X1 exact dedup and X39).
  */
object Paragraphs {

  /** 3-paragraph plant: paragraph j of a doc is SHARED (one of 7
    * corpus-wide sections, repeated on ~1/4 of docs) when
    * (doc_id + j) % 4 == 0, otherwise unique to the doc. Both kinds
    * occur at every position.
    */
  def plantParagraphs: Column = {
    val id = col("doc_id")
    def para(j: Int): Column =
      when((id + j) % 4 === 0,
        concat(lit("common section "), ((id + j) % 7).cast("string"),
          lit(" applies to all mirrors.")))
        .otherwise(concat(lit("doc "), id.cast("string"),
          lit(s" body $j: "), substring(coalesce(col("text"), lit("")), j * 7, 20)))
    concat_ws("\n\n", para(1), para(2), para(3))
  }

  /** (doc_id, kept_paras, dropped_paras, clean_text) over a
    * (doc_id, text) frame with blank-line-separated paragraphs.
    */
  def dedupParagraphs(df: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("digest"))
    val paras = df
      .select(col("doc_id"),
        posexplode(split(col("text"), "\n\n")).as(Seq("idx", "para")))
      .withColumn("digest", md5(col("para")))
      .withColumn("first", min(struct(col("doc_id"), col("idx"))).over(w))
      .withColumn("keep",
        (col("first.doc_id") === col("doc_id") && col("first.idx") === col("idx"))
          .cast("int"))
    paras.groupBy(col("doc_id"))
      .agg(sum(col("keep")).as("kept_paras"),
        (count(lit(1)) - sum(col("keep"))).as("dropped_paras"),
        array_join(transform(
          array_sort(collect_list(when(col("keep") === 1,
            struct(col("idx"), col("para"))))),
          x => x.getField("para")), "\n\n").as("clean_text"))
  }

  def deduped(spark: SparkSession, dir: String): DataFrame =
    dedupParagraphs(graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"), plantParagraphs.as("text")))

  def dedupedOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CASE WHEN (doc_id + 1) % 4 = 0
       |         THEN 'common section ' || CAST((doc_id + 1) % 7 AS VARCHAR) || ' applies to all mirrors.'
       |         ELSE 'doc ' || CAST(doc_id AS VARCHAR) || ' body 1: ' || substring(coalesce(text, ''), 7, 20) END AS p1,
       |    CASE WHEN (doc_id + 2) % 4 = 0
       |         THEN 'common section ' || CAST((doc_id + 2) % 7 AS VARCHAR) || ' applies to all mirrors.'
       |         ELSE 'doc ' || CAST(doc_id AS VARCHAR) || ' body 2: ' || substring(coalesce(text, ''), 14, 20) END AS p2,
       |    CASE WHEN (doc_id + 3) % 4 = 0
       |         THEN 'common section ' || CAST((doc_id + 3) % 7 AS VARCHAR) || ' applies to all mirrors.'
       |         ELSE 'doc ' || CAST(doc_id AS VARCHAR) || ' body 3: ' || substring(coalesce(text, ''), 21, 20) END AS p3
       |  FROM documents),
       |paras AS (
       |  SELECT doc_id, 0 AS idx, p1 AS para FROM d
       |  UNION ALL SELECT doc_id, 1, p2 FROM d
       |  UNION ALL SELECT doc_id, 2, p3 FROM d),
       |ranked AS (
       |  SELECT doc_id, idx, para,
       |    CASE WHEN row_number() OVER (PARTITION BY para ORDER BY doc_id, idx) = 1
       |         THEN 1 ELSE 0 END AS keep
       |  FROM paras)
       |SELECT doc_id,
       |  CAST(sum(keep) AS BIGINT) AS kept_paras,
       |  CAST(count(*) - sum(keep) AS BIGINT) AS dropped_paras,
       |  coalesce(string_agg(CASE WHEN keep = 1 THEN para END,
       |    chr(10) || chr(10) ORDER BY idx), '') AS clean_text
       |FROM ranked GROUP BY doc_id""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_para_dedup" -> Query((s, dir) => deduped(s, dir), dedupedOracle)
  )
}
