package graft

import org.apache.spark.sql.functions._
import graft.text.HtmlTables

class HtmlTablesSpec extends SparkSuite {

  test("cells: header detection, inline markup stripped, empty cells kept, positions exact") {
    import spark.implicits._
    val html = """<body><table>
      |<tr><th>H1</th><th> H2 </th></tr>
      |<tr><td><b>bold</b> text</td><td></td></tr>
      |</table></body>""".stripMargin
    val got = HtmlTables.cells(Seq((1L, html)).toDF("doc_id", "html"))
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getString(5)))
    assert(got.toSet == Set(
      (0, 0, 0, 1, "H1"), (0, 0, 1, 1, "H2"),
      (0, 1, 0, 0, "bold text"), (0, 1, 1, 0, "")))
  }

  test("multiple tables index independently; rows and cols are 0-based in document order") {
    import spark.implicits._
    val html = "<table><tr><td>a</td></tr></table><table><tr><td>b</td><td>c</td></tr></table>"
    val got = HtmlTables.cells(Seq((1L, html)).toDF("doc_id", "html"))
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getInt(3), r.getString(5))).toSet
    assert(got == Set((0, 0, 0, "a"), (1, 0, 0, "b"), (1, 0, 1, "c")))
  }

  test("nested: a layout table wrapping a data table yields the INNER table's rows") {
    import spark.implicits._
    val html = "<table class=\"layout\"><tr><td>nav</td><td>" +
      "<table><tr><th>K</th></tr><tr><td>v3</td></tr></table>" +
      "</td><td>footer</td></tr></table>"
    val got = HtmlTables.cells(Seq((1L, html)).toDF("doc_id", "html"))
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getString(5))).toSet
    // the inner data table, complete and correctly indexed as table 0;
    // the wrapper's chrome cells (nav/footer) are dropped by design
    assert(got == Set((0, 0, 0, 1, "K"), (0, 1, 0, 0, "v3")))
  }

  test("nested: flat tables around a nested one keep their indices; depth-3 yields the innermost") {
    import spark.implicits._
    val html = "<table><tr><td>flat</td></tr></table>" + // tbl 0
      "<table class=\"outer\"><tr><td><table class=\"mid\"><tr><td>" +
      "<table><tr><td>deep</td></tr></table>" + // tbl 1: innermost only
      "</td></tr></table></td></tr></table>" +
      "<table><tr><td>tail</td></tr></table>" // tbl 2
    val got = HtmlTables.cells(Seq((1L, html)).toDF("doc_id", "html"))
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getInt(3), r.getString(5))).toSet
    assert(got == Set((0, 0, 0, "flat"), (1, 0, 0, "deep"), (2, 0, 0, "tail")))
  }

  test("colspan shifts later cells: wide cell at 0, the next at colidx 2") {
    import spark.implicits._
    val html = "<table><tr><td colspan=\"2\">w</td><td>z</td></tr>" +
      "<tr><td>a</td><td>b</td><td>c</td></tr></table>"
    val got = HtmlTables.cells(Seq((1L, html)).toDF("doc_id", "html"))
      .collect().map(r => (r.getInt(2), r.getInt(3), r.getString(5))).toSet
    assert(got == Set((0, 0, "w"), (0, 2, "z"),
      (1, 0, "a"), (1, 1, "b"), (1, 2, "c")))
  }

  test("colspan quoting styles: single-quoted and unquoted both honored") {
    import spark.implicits._
    val html = "<table><tr><td colspan='2'>w</td><td>z</td></tr>" +
      "<tr><td colspan=3>all</td></tr></table>"
    val got = HtmlTables.cells(Seq((1L, html)).toDF("doc_id", "html"))
      .collect().map(r => (r.getInt(2), r.getInt(3), r.getString(5))).toSet
    assert(got == Set((0, 0, "w"), (0, 2, "z"), (1, 0, "all")))
  }

  test("tree parser: depth-3 nesting recovers ALL layers with parent edges") {
    import spark.implicits._
    val html = "<table><tr><td>L0a</td><td>" +
      "<table><tr><td>L1</td><td>" +
      "<table><tr><th>L2</th></tr></table>" +
      "</td></tr></table>" +
      "</td><td>L0b</td></tr></table>"
    val got = HtmlTables.cellsNested(Seq((1L, html)).toDF("doc_id", "html"))
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4),
        r.getInt(5), r.getInt(6), r.getString(7))).toSet
    assert(got == Set(
      (0, 0, -1, 0, 0, 0, "L0a"), (0, 0, -1, 0, 1, 0, ""), (0, 0, -1, 0, 2, 0, "L0b"),
      (1, 1, 0, 0, 0, 0, "L1"), (1, 1, 0, 0, 1, 0, ""),
      (2, 2, 1, 0, 0, 1, "L2")))
    val twoLevel = HtmlTables.cellsNested(Seq((2L,
      "<table><tr><td><table><tr><td>x</td></tr></table></td></tr></table>"))
      .toDF("doc_id", "html"))
    assert(twoLevel.columns.toSeq == Seq("doc_id", "tbl", "depth", "parent", "row",
      "colidx", "header", "cell"))
    assert(twoLevel.count() == 2, "one wrapper cell, one inner cell")
  }

  test("tree parser: outer-cell text AROUND a nested table is recovered") {
    import spark.implicits._
    val html = "<table><tr><td>before <table><tr><td>in</td></tr></table> after</td></tr></table>"
    val got = HtmlTables.cellsNested(Seq((1L, html)).toDF("doc_id", "html"))
      .collect().map(r => (r.getInt(1), r.getString(7))).toSet
    assert(got == Set((0, "before  after"), (1, "in")))
  }

  test("tree parser agrees with the innermost fast path on FLAT pages") {
    import spark.implicits._
    val html = "<table><tr><th>H</th></tr><tr><td colspan='2'>a</td><td><i>b</i></td></tr></table>" +
      "<table><tr><td></td><td>x</td></tr></table>"
    val df = Seq((1L, html)).toDF("doc_id", "html")
    val flat = HtmlTables.cells(df)
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getString(5))).toSet
    val tree = HtmlTables.cellsNested(df)
      .collect().map(r => (r.getInt(1), r.getInt(4), r.getInt(5), r.getInt(6), r.getString(7))).toSet
    assert(flat == tree)
    assert(flat.nonEmpty)
  }

  test("tree parser tolerance: comments, stray closes, unclosed EOF, self-closing inline") {
    import spark.implicits._
    val html = "</td></table><table><!-- <tr><td>ghost</td></tr> -->" +
      "<tr><td>a<br/>b</td><td>tail" // unclosed cell, row, table
    val got = HtmlTables.cellsNested(Seq((1L, html)).toDF("doc_id", "html"))
      .collect().map(r => (r.getInt(1), r.getInt(4), r.getInt(5), r.getString(7))).toSet
    assert(got == Set((0, 0, 0, "ab"), (0, 0, 1, "tail")))
  }

  test("markdown linearization: header separator, pipe escaping, newline flattening") {
    import spark.implicits._
    val html = "<table><tr><th>K</th><th>V</th></tr>" +
      "<tr><td>a|b</td><td>l1\nl2</td></tr></table>"
    val md = HtmlTables.markdown(HtmlTables.cells(Seq((1L, html)).toDF("doc_id", "html")))
      .collect()(0).getString(2)
    assert(md ==
      "| K | V |\n| --- | --- |\n| a\\|b | l1 l2 |")
  }

  test("markdown: headerless tables get no separator; composes with the tree parser") {
    import spark.implicits._
    val html = "<table><tr><td>plain</td></tr></table>" +
      "<table><tr><td><table><tr><th>deep</th></tr></table></td></tr></table>"
    val mds = HtmlTables.markdown(
      HtmlTables.cellsNested(Seq((1L, html)).toDF("doc_id", "html"))
        .select(col("doc_id"), col("tbl"), col("row"), col("colidx"),
          col("header"), col("cell")))
      .collect().map(r => r.getInt(1) -> r.getString(2)).toMap
    assert(mds(0) == "| plain |")
    assert(mds(1) == "|  |") // the wrapper's own (empty) cell
    assert(mds(2) == "| deep |\n| --- |")
  }

  test("fixture: even docs yield 6 cells, odd docs 14; plan is map-only") {
    val counts = HtmlTables.extracted(spark, Sf).groupBy("doc_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    counts.foreach { case (id, n) =>
      assert(n == (if (id % 2 == 0) 6L else 14L), s"doc $id")
    }
    val plan = HtmlTables.extracted(spark, Sf).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(!plan.contains("Join"), plan)
  }
}
