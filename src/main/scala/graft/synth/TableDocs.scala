package graft.synth

import DocDraw.{draw, word}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic synthetic HTML-table corpus for the structured-table
  * extraction operator (q133). The transcript corpus's html payloads are
  * paragraph/nav shaped (tables would disturb every existing extraction
  * golden), so tables get their own planted corpus — same pattern as
  * `WebDocs`. The builder constructs each document's HTML AND its expected
  * cells in one pass from the same draws (the q28/q121 trust model: the
  * expectation is by-construction, never derived by running the
  * extractor), so the DuckDB compare of extractor output vs materialized
  * goldens is an independent per-cell equality check.
  *
  * Planted surface (all shapes a real crawl carries):
  *  - a header (`<th>`) row on the first table, plain rows after
  *  - cells with entities (`&amp;`) and inline markup (`<b>`) to strip
  *  - every 3rd doc: the last cell of each data row is UNCLOSED (no
  *    `</td>`) — flushed by the next row/table boundary
  *  - every 4th doc (id % 4 == 1): a 1×2 table NESTED inside a cell —
  *    doc-order table indexing, outer cell text resumes around it
  *  - every 2nd doc, and every nested doc: a second top-level table (no
  *    header row) — after a nested table it lands at doc-order index 2
  *  - boilerplate around the tables: nav links, a paragraph, and a
  *    <script> containing a FAKE table literal that must not be parsed
  */
object TableDocs {

  final case class GoldenCell(
      doc_id: Long, table_idx: Int, row_idx: Int, col_idx: Int,
      is_header: Boolean, cell_text: String)

  final case class GoldenLink(
      doc_id: Long, link_idx: Int, href: String, anchor: String)

  private val vocab = Array(
    "alpha", "beta", "gamma", "delta", "epsilon", "zeta",
    "eta", "theta", "iota", "kappa", "lambda", "sigma")

  /** Pure builder: (html, expected cells, expected links) from the same
    * draws. The link surface (q136) is planted in the boilerplate AROUND
    * the tables, so the cell goldens are untouched by it: varied hosts,
    * an entity-bearing query string, an unquoted href every 3rd doc, an
    * href-less `<a name=…>` every 4th (not a link), and an unterminated
    * `<a>` at document end every 5th (flushes at EOF).
    */
  def build(id: Long): (String, Seq[GoldenCell], Seq[GoldenLink]) = {
    val cells = scala.collection.mutable.ArrayBuffer.empty[GoldenCell]
    val links = scala.collection.mutable.ArrayBuffer.empty[GoldenLink]
    def link(href: String, anchor: String): Unit =
      links += GoldenLink(id, links.length, href, anchor)
    val sb = new StringBuilder
    sb ++= "<html><head><script>var t = \"<table><tr><td>fake</td></tr></table>\";</script>"
    sb ++= "<style>td { color: red; }</style></head><body>"
    sb ++= "<nav><ul><li><a href=\"/home\">home</a></li><li><a href=\"/x\">x</a></li></ul></nav>"
    link("/home", "home")
    link("/x", "x")
    sb ++= s"<p>intro ${word(vocab, id, 0x01)} ${word(vocab, id, 0x02)} paragraph</p>"
    val lw1 = word(vocab, id, 0x05); val lw2 = word(vocab, id, 0x06)
    sb ++= s"""<a href="https://Site${id % 7}.example/p/$id?a=1&amp;b=2">$lw1 <b>$lw2</b></a>"""
    link(s"https://Site${id % 7}.example/p/$id?a=1&b=2", s"$lw1 $lw2")
    if (id % 3 == 0) {
      sb ++= s"<a href=/rel/$id>rel $lw1</a>"
      link(s"/rel/$id", s"rel $lw1")
    }
    if (id % 4 == 0) sb ++= "<a name=\"top\">not a link</a>"
    // URL-shape plants for the canonicalization operator (q159): tracking
    // params out of order, a default port, a fragment, a trailing slash
    if (id % 7 == 2) {
      sb ++= s"""<a href="https://track${id % 3}.example/p?utm_source=feed&amp;b=2&amp;a=1">$lw1</a>"""
      link(s"https://track${id % 3}.example/p?utm_source=feed&b=2&a=1", lw1)
    }
    if (id % 7 == 4) {
      sb ++= s"""<a href="https://Port${id % 3}.example:443/x/$id">$lw2</a>"""
      link(s"https://Port${id % 3}.example:443/x/$id", lw2)
    }
    if (id % 7 == 5) {
      sb ++= s"""<a href="https://frag${id % 3}.example/y#sec-$id">$lw1 $lw2</a>"""
      link(s"https://frag${id % 3}.example/y#sec-$id", s"$lw1 $lw2")
    }
    if (id % 7 == 6) {
      sb ++= s"""<a href="https://slash${id % 3}.example/z/$id/">$lw2 $lw1</a>"""
      link(s"https://slash${id % 3}.example/z/$id/", s"$lw2 $lw1")
    }
    if (id % 7 == 3) {
      // two syntactic VARIANTS of one resource — must share a canonical
      // key (q160's merge evidence); the target repeats across docs of
      // the same id % 3 class, so cross-doc refs accumulate too
      sb ++= s"""<a href="https://var${id % 3}.example/v/7?b=2&amp;a=1">$lw1</a>"""
      link(s"https://var${id % 3}.example/v/7?b=2&a=1", lw1)
      sb ++= s"""<a href="https://Var${id % 3}.example:443/v/7/?a=1&amp;b=2&amp;utm_x=9">$lw2</a>"""
      link(s"https://Var${id % 3}.example:443/v/7/?a=1&b=2&utm_x=9", lw2)
    }

    val nested = id % 4 == 1
    val unclosed = id % 3 == 0
    val dataRows = 2 + draw(id, 0x10, 3) // 2..4
    val cols = 2 + draw(id, 0x11, 2) // 2..3

    // table 0: header row + data rows
    sb ++= "<table>"
    sb ++= "<tr>"
    for (c <- 0 until cols) {
      val w = word(vocab, id, 0x1000 + c)
      sb ++= s"<th> $w </th>"
      cells += GoldenCell(id, 0, 0, c, is_header = true, w)
    }
    sb ++= "</tr>"
    for (r <- 1 to dataRows) {
      sb ++= "<tr>"
      for (c <- 0 until cols) {
        val tag = 0x2000 + 31L * r + c
        if (nested && r == 2 && c == 0) {
          val w1 = word(vocab, id, 0x3001)
          val w2 = word(vocab, id, 0x3002)
          sb ++= s"<td>pre <table><tr><td>$w1</td><td>$w2</td></tr></table> post</td>"
          cells += GoldenCell(id, 1, 0, 0, is_header = false, w1)
          cells += GoldenCell(id, 1, 0, 1, is_header = false, w2)
          cells += GoldenCell(id, 0, r, c, is_header = false, "pre post")
        } else {
          val w = word(vocab, id, tag)
          val w2 = word(vocab, id, tag + 7)
          val (markup, expected) = (r + c) % 5 match {
            case 0 => (s"$w&amp;$w2", s"$w&$w2")
            case 1 => (s"<b>$w</b> $w2", s"$w $w2")
            case _ => (w, w)
          }
          val close = if (unclosed && c == cols - 1) "" else "</td>"
          sb ++= s"<td>$markup$close"
          cells += GoldenCell(id, 0, r, c, is_header = false, expected)
        }
      }
      sb ++= "</tr>"
    }
    sb ++= "</table>"

    // nested docs also get the trailing table, so a top-level table that
    // FOLLOWS a nested one (doc-order index 2) is always exercised
    if (id % 2 == 0 || nested) {
      val tIdx = if (nested) 2 else 1
      sb ++= "<table>"
      for (r <- 0 until 2) {
        sb ++= "<tr>"
        for (c <- 0 until 2) {
          val w = word(vocab, id, 0x4000 + 13L * r + c)
          sb ++= s"<td>$w</td>"
          cells += GoldenCell(id, tIdx, r, c, is_header = false, w)
        }
        sb ++= "</tr>"
      }
      sb ++= "</table>"
    }
    if (id % 5 == 0) {
      sb ++= "<a href=\"/dangling\">fin"
      link("/dangling", "fin")
    }
    sb ++= "</body></html>"
    (sb.toString, cells.toSeq, links.toSeq)
  }

  /** Distributed raw table: (doc_id, html). */
  def docs(spark: SparkSession, nDocs: Long): DataFrame = {
    import spark.implicits._
    spark.range(nDocs).map(id => (id, build(id)._1)).toDF("doc_id", "html")
  }

  /** Distributed golden cells (for the Verify materialization). */
  def goldenCells(spark: SparkSession, nDocs: Long): DataFrame = {
    import spark.implicits._
    spark.range(nDocs).flatMap(id => build(id)._2).toDF()
  }

  /** Distributed golden links (for the Verify materialization). */
  def goldenLinks(spark: SparkSession, nDocs: Long): DataFrame = {
    import spark.implicits._
    spark.range(nDocs).flatMap(id => build(id)._3).toDF()
  }
}
