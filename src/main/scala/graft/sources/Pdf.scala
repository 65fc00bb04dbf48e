package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** PDF text extraction over the corpus (X241) — the ingestion surface
  * a modern training pipeline cannot skip: a large share of
  * high-quality crawl text ships as PDF, and every serious corpus
  * recipe runs an extractor in front of the text stack. The gate
  * plants a complete well-formed PDF per document ([[graft.plans.PdfPlant]]:
  * header / catalog / page tree / font / content streams / byte-accurate
  * xref / trailer) in five rotating variants — uncompressed content,
  * /FlateDecode, a two-page tree with a TJ-array page, a PDF 1.5
  * /Type /ObjStm layout (every dict compressed inside an object
  * stream, the shape most modern PDFs actually ship), and an
  * [/ASCII85Decode /LZWDecode] filter chain — and
  * [[graft.plans.PdfText]] must walk objects, expand the ObjStm,
  * follow the page tree, undo the filter chains, and fold the text
  * operators back into exactly the planted text, restated closed-form
  * by the DuckDB oracle.
  *
  * Scale: per-row, shuffle-free, whole-stage codegen; one page's
  * decompressed content in memory at a time, bomb-capped. Declared
  * boundaries live in the expression's doc: image/binary filters
  * (DCT/JBIG2/CCITT), predictor DecodeParms, CID/ToUnicode
  * composite-font text.
  */
object Pdf {

  private def shim(e: org.apache.spark.sql.catalyst.expressions.Expression) =
    org.apache.spark.sql.GraftColumnShim.column(e)
  private def ex(c: org.apache.spark.sql.Column) =
    org.apache.spark.sql.GraftColumnShim.expression(c)

  /** (doc_id, n_pages, extracted) through plant → extract. */
  def pdfTexts(spark: SparkSession, dir: String): DataFrame =
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"),
        shim(graft.plans.PdfText(ex(
          shim(graft.plans.PdfPlant(
            ex(coalesce(col("text"), lit(""))), ex(col("doc_id"))))))).as("s"))
      .select(col("doc_id"),
        col("s").getField("n_pages").as("n_pages"),
        col("s").getField("text").as("extracted"))

  def pdfTextsOracle: String =
    s"""SELECT doc_id,
       |  CAST(CASE WHEN doc_id % 5 = 2 THEN 2 ELSE 1 END AS INTEGER) AS n_pages,
       |  CASE WHEN doc_id % 5 = 2
       |    THEN coalesce(text, '') || chr(10) || 'page two of ' ||
       |      CAST(doc_id AS VARCHAR)
       |    ELSE coalesce(text, '') END AS extracted
       |FROM documents""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_pdf_text" -> Query((s, dir) => pdfTexts(s, dir), pdfTextsOracle)
  )
}
