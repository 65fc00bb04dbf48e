package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** HTML table extraction — tables are their own training-data modality
  * (table-QA, structured pretraining corpora like those behind
  * table-to-text models are built by exactly this pass over web HTML):
  * `<table>` → `<tr>` → `<td>/<th>` exploded into a cell RELATION
  * (doc, table, row, col, is_header, text) with inline markup stripped
  * from cell text. Grammar is the [[Html]] discipline — anchored
  * non-greedy regex, three chained posexplodes, all codegen'd builtins,
  * map-only.
  *
  * Declared scope (lifted one level in r11): INNERMOST tables. A
  * layout table wrapping a data table — the dominant nested shape on
  * older web pages — yields the INNER data table with correct rows
  * instead of the r10 behavior (outer match truncated at the inner
  * close tag, garbage cells). What is deliberately dropped: the OUTER
  * layout table's own chrome cells (`nav`/`footer` — not table data)
  * and, at nesting depth >= 3, mid-level tables (the innermost is
  * still extracted). Recovering outer-cell text needs a real HTML
  * parser and remains the marked swap point.
  *
  * Reference scope: no crawl surface in the reference; north-star
  * LLM-pipeline machinery.
  */
object HtmlTables {

  /** Innermost-table grammar: tempered dot — a match's body may not
    * open another table, so the regex engine skips a wrapping layout
    * table's start position and anchors on the innermost `<table>`
    * instead (flat tables match exactly as before).
    */
  val TableRe = "(?s)<table[^>]*>((?:(?!<table).)*?)</table>"
  val RowRe = "(?s)<tr[^>]*>(.*?)</tr>"

  /** 2 + doc_id%2 extracted tables per page: a 2×2 table with a `<th>`
    * header row and a styled (`<b>`) cell, odd docs add a 3-row table
    * with an EMPTY cell — empty cells must survive as '' rows, not
    * vanish — whose last row opens with `colspan="2"` (the next cell
    * must land at colidx 2, not 1), and EVERY page ends with the
    * nested shape: a layout table (`nav`/`footer` chrome cells)
    * wrapping a 2-row data table. The extractor must yield the inner
    * data table's rows and skip the wrapper, with flat-table indices
    * unchanged.
    */
  def plantTableHtml: Column = {
    val id = col("doc_id")
    val t0 = concat(
      lit("<table class=\"data\">\n  <tr><th> Name </th><th>Value</th></tr>\n" +
        "  <tr><td>item "), id.cast("string"),
      lit("</td><td><b>"), (id * 7 % 100).cast("string"),
      lit("</b></td></tr>\n</table>\n"))
    val t1 = concat(
      lit("<table>\n  <tr><th>A</th><th>B</th><th>C</th></tr>\n  <tr><td>x"),
      (id % 9).cast("string"),
      lit("</td><td></td><td>y"), (id % 4).cast("string"),
      // the colspan row: 'wide' spans columns 0-1, so 'z' sits at
      // colidx 2 — a span-blind extractor would mis-place it at 1
      lit("</td></tr>\n  <tr><td colspan=\"2\">wide"), (id % 5).cast("string"),
      lit("</td><td>z</td></tr>\n</table>\n"))
    val nested = concat(
      lit("<table class=\"layout\"><tr><td>nav</td><td>\n" +
        "<table class=\"inner\"><tr><th>K</th></tr><tr><td>v"),
      (id % 6).cast("string"),
      lit("</td></tr></table>\n</td><td>footer</td></tr></table>\n"))
    concat(lit("<html><body>\n<p>pre</p>\n"), t0,
      when(id % 2 === 1, t1).otherwise(lit("")), nested, lit("</body></html>"))
  }

  /** Whole-cell grammar (attributes kept — `colspan` lives there). */
  val CellFullRe = "(?s)<t[dh][^>]*>.*?</t[dh]>"

  /** (doc_id, tbl, row, colidx, header, cell) over a (doc_id, html)
    * frame — inline tags stripped from cell text, whitespace trimmed.
    * `colidx` is COLSPAN-AWARE (r11): a cell's index is the running
    * sum of the spans before it, so `<td colspan=2>` shifts every
    * later cell right — without it any real-world table with a
    * spanning header mis-aligns every column. The prefix sums are
    * computed inside the per-row ARRAY world (an `aggregate` fold)
    * before the cell explode, so the plan stays map-only — a window
    * would have bought the same indices for an exchange.
    */
  def cells(df: DataFrame): DataFrame = {
    val spanOf = (c: Column) => {
      val sp = regexp_extract(c, "(?i)colspan\\s*=\\s*[\"']?(\\d+)", 1)
      when(sp === "", lit(1)).otherwise(greatest(lit(1), sp.cast("int")))
    }
    df.select(col("doc_id"),
        posexplode(regexp_extract_all(col("html"), lit(TableRe), lit(1)))
          .as(Seq("tbl", "tbody")))
      .select(col("doc_id"), col("tbl").cast("int").as("tbl"),
        posexplode(regexp_extract_all(col("tbody"), lit(RowRe), lit(1)))
          .as(Seq("row", "rbody")))
      .select(col("doc_id"), col("tbl"), col("row").cast("int").as("row"),
        (instr(col("rbody"), "<th") > 0).cast("int").as("header"),
        regexp_extract_all(col("rbody"), lit(CellFullRe), lit(0)).as("cs"))
      .withColumn("offsets", slice(
        aggregate(col("cs"), array(lit(0)),
          (acc, c) => concat(acc, array(element_at(acc, -1) + spanOf(c)))),
        lit(1), size(col("cs"))))
      .select(col("doc_id"), col("tbl"), col("row"), col("header"),
        explode(arrays_zip(col("cs"), col("offsets"))).as("z"))
      .select(col("doc_id"), col("tbl"), col("row"),
        col("z").getField("offsets").cast("int").as("colidx"), col("header"),
        trim(regexp_replace(col("z").getField("cs"), "<[^>]*>", "")).as("cell"))
  }

  def extracted(spark: SparkSession, dir: String): DataFrame =
    cells(graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"), plantTableHtml.as("html")))

  /** NESTING-AWARE extraction (round 12 — the declared parser swap
    * point, filled): every table at every depth via the codegen'd
    * [[graft.plans.HtmlTableTree]] stack scan, outer-cell text
    * recovered (a wrapper cell sees its own text; the nested table's
    * content belongs to the nested table's rows). Columns add `depth`
    * and `parent` — the table-tree edges. [[cells]] stays the
    * innermost-only map-only fast path; on flat pages the two agree
    * (spec-pinned).
    */
  def cellsNested(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
        explode(org.apache.spark.sql.GraftColumnShim.column(
          graft.plans.HtmlTableTree(
            org.apache.spark.sql.GraftColumnShim.expression(col("html"))))).as("c"))
      .select(col("doc_id"),
        col("c").getField("tbl").as("tbl"),
        col("c").getField("depth").as("depth"),
        col("c").getField("parent").as("parent"),
        col("c").getField("row").as("row"),
        col("c").getField("colidx").as("colidx"),
        col("c").getField("header").as("header"),
        col("c").getField("cell").as("cell"))

  def extractedNested(spark: SparkSession, dir: String): DataFrame =
    cellsNested(graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"), plantTableHtml.as("html")))

  /** The same plant through the tree parser: the flat tables repeat
    * the [[extractedOracle]] rows (now with depth 0, parent −1), and
    * the nested plant contributes BOTH layers — the layout wrapper's
    * own nav/'' /footer cells (the round-11 extractor dropped these by
    * design) and the inner data table at depth 1 with its parent edge.
    */
  def extractedNestedOracle: String = {
    def cell(tblSql: String, depth: Int, parentSql: String, row: Int, colidx: Int,
             header: Int, cellSql: String, cond: String = "TRUE"): String =
      s"""SELECT doc_id, CAST($tblSql AS INTEGER) AS tbl,
         |  $depth AS depth, CAST($parentSql AS INTEGER) AS parent,
         |  $row AS row, $colidx AS colidx, $header AS header, $cellSql AS cell
         |FROM documents WHERE $cond""".stripMargin
    val L = "1 + doc_id % 2" // layout wrapper's table index
    Seq(
      cell("0", 0, "-1", 0, 0, 1, "'Name'"),
      cell("0", 0, "-1", 0, 1, 1, "'Value'"),
      cell("0", 0, "-1", 1, 0, 0, "'item ' || CAST(doc_id AS VARCHAR)"),
      cell("0", 0, "-1", 1, 1, 0, "CAST(doc_id * 7 % 100 AS VARCHAR)"),
      cell("1", 0, "-1", 0, 0, 1, "'A'", "doc_id % 2 = 1"),
      cell("1", 0, "-1", 0, 1, 1, "'B'", "doc_id % 2 = 1"),
      cell("1", 0, "-1", 0, 2, 1, "'C'", "doc_id % 2 = 1"),
      cell("1", 0, "-1", 1, 0, 0, "'x' || CAST(doc_id % 9 AS VARCHAR)", "doc_id % 2 = 1"),
      cell("1", 0, "-1", 1, 1, 0, "''", "doc_id % 2 = 1"),
      cell("1", 0, "-1", 1, 2, 0, "'y' || CAST(doc_id % 4 AS VARCHAR)", "doc_id % 2 = 1"),
      cell("1", 0, "-1", 2, 0, 0, "'wide' || CAST(doc_id % 5 AS VARCHAR)", "doc_id % 2 = 1"),
      cell("1", 0, "-1", 2, 2, 0, "'z'", "doc_id % 2 = 1"),
      // the layout WRAPPER's own cells — recovered since round 12;
      // the cell that hosts the inner table keeps only its own text ('')
      cell(L, 0, "-1", 0, 0, 0, "'nav'"),
      cell(L, 0, "-1", 0, 1, 0, "''"),
      cell(L, 0, "-1", 0, 2, 0, "'footer'"),
      // the inner data table, one level down, parent = the wrapper
      cell(s"2 + doc_id % 2", 1, L, 0, 0, 1, "'K'"),
      cell(s"2 + doc_id % 2", 1, L, 1, 0, 0, "'v' || CAST(doc_id % 6 AS VARCHAR)")
    ).mkString("\nUNION ALL\n")
  }

  def extractedOracle: String = {
    def cell(tblSql: String, row: Int, colidx: Int, header: Int, cellSql: String,
             cond: String = "TRUE"): String =
      s"""SELECT doc_id, CAST($tblSql AS INTEGER) AS tbl, $row AS row,
         |  $colidx AS colidx, $header AS header, $cellSql AS cell
         |FROM documents WHERE $cond""".stripMargin
    Seq(
      cell("0", 0, 0, 1, "'Name'"),
      cell("0", 0, 1, 1, "'Value'"),
      cell("0", 1, 0, 0, "'item ' || CAST(doc_id AS VARCHAR)"),
      cell("0", 1, 1, 0, "CAST(doc_id * 7 % 100 AS VARCHAR)"),
      cell("1", 0, 0, 1, "'A'", "doc_id % 2 = 1"),
      cell("1", 0, 1, 1, "'B'", "doc_id % 2 = 1"),
      cell("1", 0, 2, 1, "'C'", "doc_id % 2 = 1"),
      cell("1", 1, 0, 0, "'x' || CAST(doc_id % 9 AS VARCHAR)", "doc_id % 2 = 1"),
      cell("1", 1, 1, 0, "''", "doc_id % 2 = 1"),
      cell("1", 1, 2, 0, "'y' || CAST(doc_id % 4 AS VARCHAR)", "doc_id % 2 = 1"),
      // colspan row: 'wide' spans columns 0-1 so 'z' lands at colidx 2
      cell("1", 2, 0, 0, "'wide' || CAST(doc_id % 5 AS VARCHAR)", "doc_id % 2 = 1"),
      cell("1", 2, 2, 0, "'z'", "doc_id % 2 = 1"),
      // the nested plant: only the INNER data table is extracted (the
      // wrapping layout table's nav/footer chrome never appears), at
      // the table index AFTER the flat tables on the page
      cell("1 + doc_id % 2", 0, 0, 1, "'K'"),
      cell("1 + doc_id % 2", 1, 0, 0, "'v' || CAST(doc_id % 6 AS VARCHAR)")
    ).mkString("\nUNION ALL\n")
  }

  /** Markdown LINEARIZATION of the cell relation — the serialization
    * table-to-text pretraining corpora feed the model (a table is only
    * trainable once it is a token stream): one `| a | b |` line per
    * row in colidx order, a `| --- |` separator after a row-0 header,
    * pipes escaped and newlines flattened inside cells so the table
    * structure survives tokenization. (doc_id, tbl, md).
    *
    * Two exchanges: per-(doc, tbl, row) cell fold (map-side combinable)
    * then the table-sized row fold; line assembly and the separator
    * splice run in the array world — no window.
    */
  def markdown(cellsDf: DataFrame): DataFrame = {
    val esc = regexp_replace(
      regexp_replace(col("cell"), "\n", " "), "\\|", "\\\\|")
    val lines = cellsDf
      .groupBy(col("doc_id"), col("tbl"), col("row"), col("header"))
      .agg(sort_array(collect_list(struct(col("colidx"), esc.as("c")))).as("cs"))
      .select(col("doc_id"), col("tbl"), col("row"), col("header"),
        concat(lit("| "),
          array_join(expr("transform(cs, x -> x.c)"), " | "), lit(" |")).as("line"),
        size(col("cs")).as("nc"))
    lines.groupBy(col("doc_id"), col("tbl"))
      .agg(sort_array(collect_list(
        struct(col("row"), col("header"), col("line"), col("nc")))).as("rs"))
      .select(col("doc_id"), col("tbl"),
        expr("""array_join(flatten(transform(rs, r ->
          IF(r.row = 0 AND r.header = 1,
             array(r.line, '|' || repeat(' --- |', r.nc)),
             array(r.line)))), '\n')""").as("md"))
  }

  /** q_table_markdown: the planted pages' innermost cells linearized. */
  def extractedMarkdown(spark: SparkSession, dir: String): DataFrame =
    markdown(extracted(spark, dir))

  def markdownOracle: String =
    s"""WITH cells AS (
       |${extractedOracle.linesIterator.map("  " + _).mkString("\n")}
       |),
       |lines AS (
       |  SELECT doc_id, tbl, row, header,
       |    '| ' || string_agg(replace(replace(cell, chr(10), ' '), '|', '\\|'),
       |      ' | ' ORDER BY colidx) || ' |' AS line,
       |    COUNT(*) AS nc
       |  FROM cells GROUP BY doc_id, tbl, row, header),
       |parts AS (
       |  SELECT doc_id, tbl, row, 0 AS pidx, line AS part FROM lines
       |  UNION ALL
       |  SELECT doc_id, tbl, row, 1 AS pidx,
       |    '|' || repeat(' --- |', CAST(nc AS INTEGER)) AS part
       |  FROM lines WHERE row = 0 AND header = 1)
       |SELECT doc_id, tbl,
       |  string_agg(part, chr(10) ORDER BY row, pidx) AS md
       |FROM parts GROUP BY doc_id, tbl""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_html_tables" -> Query((s, dir) => extracted(s, dir), extractedOracle),
    "q_html_tables_nested" -> Query((s, dir) => extractedNested(s, dir), extractedNestedOracle),
    "q_table_markdown" -> Query((s, dir) => extractedMarkdown(s, dir), markdownOracle)
  )
}
