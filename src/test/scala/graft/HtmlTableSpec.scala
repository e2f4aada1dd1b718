package graft

import graft.extract.HtmlTableExtractor
import graft.extract.HtmlTableExtractor.Cell
import graft.synth.TableDocs
import org.scalatest.funsuite.AnyFunSuite

/** Local truths for the streaming HTML table extractor: the contract's
  * named behaviors each pinned in isolation, then full golden equality
  * against the generator's by-construction cells — and the corpus is
  * asserted to actually contain every planted shape, so green means the
  * unclosed/nested/entity paths ran, not that they were absent.
  */
class HtmlTableSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionFixture.spark

  test("simple table: header + data rows, whitespace collapsed") {
    val cells = HtmlTableExtractor.extract(
      "<table><tr><th> a  b </th><th>c</th></tr><tr><td>d</td><td> e\n f </td></tr></table>")
    assert(cells == Seq(
      Cell(0, 0, 0, header = true, "a b"),
      Cell(0, 0, 1, header = true, "c"),
      Cell(0, 1, 0, header = false, "d"),
      Cell(0, 1, 1, header = false, "e f")))
  }

  test("entities decode and inline markup strips inside cells") {
    val cells = HtmlTableExtractor.extract(
      "<table><tr><td>x&amp;y</td><td><b>u</b> <i>v</i></td><td>&#65;&#x42;</td></tr></table>")
    assert(cells.map(_.text) == Seq("x&y", "u v", "AB"))
    // declarations strip like any markup
    assert(HtmlTableExtractor.extract("<table><tr><td>A<!x>B</td></tr></table>").map(_.text) ==
      Seq("AB"))
  }

  test("unclosed <td> flushes at the next cell, row, and table boundary") {
    val cells = HtmlTableExtractor.extract(
      "<table><tr><td>a<td>b</tr><tr><td>c</table>")
    assert(cells == Seq(
      Cell(0, 0, 0, header = false, "a"),
      Cell(0, 0, 1, header = false, "b"),
      Cell(0, 1, 0, header = false, "c")))
  }

  test("<td> before any <tr> opens row 0; stray close tags are ignored") {
    val cells = HtmlTableExtractor.extract("</td></tr><table><td>a</td></table></table>")
    assert(cells == Seq(Cell(0, 0, 0, header = false, "a")))
  }

  test("nested table takes the next doc-order index; outer cell text resumes") {
    val cells = HtmlTableExtractor.extract(
      "<table><tr><td>pre <table><tr><td>n1</td><td>n2</td></tr></table> post</td>" +
        "<td>sib</td></tr></table><table><tr><td>t2</td></tr></table>")
    assert(cells.toSet == Set(
      Cell(1, 0, 0, header = false, "n1"),
      Cell(1, 0, 1, header = false, "n2"),
      Cell(0, 0, 0, header = false, "pre post"),
      Cell(0, 0, 1, header = false, "sib"),
      Cell(2, 0, 0, header = false, "t2")))
  }

  test("script/style bodies and non-cell text are never table content") {
    val cells = HtmlTableExtractor.extract(
      "<script>var t = \"<table><tr><td>fake</td></tr></table>\";</script>" +
        "<p>outside</p><table><caption>cap</caption><tr><td>real</td></tr></table>")
    assert(cells == Seq(Cell(0, 0, 0, header = false, "real")))
  }

  test("malformed input never throws: truncation mid-tag, mid-cell, mid-entity") {
    val doc = TableDocs.build(7L)._1
    for (cut <- 0 to doc.length by 3) {
      HtmlTableExtractor.extract(doc.take(cut)) // must not throw
    }
    assert(HtmlTableExtractor.extract("<table><tr><td>tail").map(_.text) == Seq("tail"))
    assert(HtmlTableExtractor.extract("<table><tr><td>a&am") == Seq(Cell(0, 0, 0, header = false, "a&am")))
  }

  test("extractor equals the generator's by-construction cells on the full local corpus") {
    val n = 200L
    var sawUnclosed = false; var sawNested = false; var sawEntity = false
    var sawInline = false; var sawThird = false
    (0L until n).foreach { id =>
      val (html, golden, _) = TableDocs.build(id)
      val got = HtmlTableExtractor.extract(html).map(c =>
        TableDocs.GoldenCell(id, c.tableIdx, c.rowIdx, c.colIdx, c.header, c.text))
      assert(got.sortBy(c => (c.table_idx, c.row_idx, c.col_idx)) ==
        golden.sortBy(c => (c.table_idx, c.row_idx, c.col_idx)), s"doc $id")
      if (id % 3 == 0) sawUnclosed = true
      if (id % 4 == 1) { sawNested = true; sawThird = sawThird || golden.exists(_.table_idx == 2) }
      sawEntity = sawEntity || golden.exists(_.cell_text.contains("&"))
      sawInline = sawInline || (html.contains("<b>") && golden.nonEmpty)
    }
    assert(sawUnclosed && sawNested && sawEntity && sawInline && sawThird,
      "planted corpus must exercise unclosed/nested/entity/inline/post-nested-index shapes")
  }

  test("tableRecords equals a driver pivot of the golden cells; headerless tables drop out") {
    import spark.implicits._
    val n = SparkEntry.VerifyTableDocs
    val golden = (0L until n).flatMap(id => TableDocs.build(id)._2)
    val headers = golden.filter(c => c.is_header && c.row_idx == 0)
      .map(c => (c.doc_id, c.table_idx, c.col_idx) -> c.cell_text).toMap
    val want = golden.filter(!_.is_header).flatMap { c =>
      headers.get((c.doc_id, c.table_idx, c.col_idx)).map(name =>
        (c.doc_id, c.table_idx.toLong, c.row_idx.toLong, name, c.cell_text))
    }.sorted
    val got = graft.ops.TableOps.tableRecords(
      graft.ops.TableOps.cells(spark, n))
      .as[(Long, Long, Long, String, String)].collect().sorted.toSeq
    assert(got == want)
    // only table 0 carries a header row, so records never reference the
    // nested or trailing tables — and every data cell of table 0 pivots
    assert(got.forall(_._2 == 0L), "headerless tables must drop out")
    val table0Data = golden.count(c => !c.is_header && c.table_idx == 0)
    assert(got.size == table0Data, "every headered data cell must pivot")
    assert(got.exists(_._5 == "pre post"), "nested-outer cell must survive the pivot")
  }

  test("q133 Spark path equals the distributed golden cells") {
    import spark.implicits._
    val got = SparkEntry.queries("q133_html_tables")(spark, "/unused")
      .as[(Long, Long, Long, Long, Boolean, String)].collect().sorted
    val want = TableDocs.goldenCells(spark, SparkEntry.VerifyTableDocs)
      .as[TableDocs.GoldenCell].collect()
      .map(c => (c.doc_id, c.table_idx.toLong, c.row_idx.toLong, c.col_idx.toLong,
        c.is_header, c.cell_text)).sorted
    assert(got.length == want.length && got.sameElements(want))
  }
}
