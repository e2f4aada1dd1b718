package graft.extract

import scala.collection.mutable

/** Streaming HTML *table* extractor — the structured-data sibling of
  * `HtmlExtractor` (the reference's whole purpose is pulling structured
  * records out of documents; tables are the HTML-native carrier, ref:
  * src/processing.py:55-148 extracts per-field records the same way).
  *
  * Single forward pass over `HtmlTokenizer` tokens, O(tag-depth) state,
  * no DOM tree (north-star requirement for multi-MB turns). Emits one
  * row per cell:
  * (table_idx, row_idx, col_idx, header, text).
  *
  * Contract (each point pinned by HtmlTableSpec):
  *  - `table_idx` is the document order of `<table>` OPEN tags — a table
  *    nested inside a cell gets the next index, and its text belongs to
  *    the nested table only (the outer cell's text resumes after it).
  *  - `row_idx` counts `<tr>` opens within a table (header rows
  *    included); `col_idx` counts cells within a row. A cell is `header`
  *    iff it was opened by `<th>`.
  *  - Text outside cells (captions, stray text between rows) is ignored;
  *    inline markup inside cells is stripped; entities are decoded;
  *    whitespace runs collapse to one space (same discipline as
  *    `HtmlExtractor`).
  *  - Malformed input never throws: an unclosed `<td>` is flushed at the
  *    next cell/row/table boundary or EOF; a `<td>` before any `<tr>`
  *    opens row 0 implicitly; stray close tags are ignored.
  *  - The tokenizer's rules: comments, declarations, processing
  *    instructions and `<script>`/`<style>` bodies are never cell text,
  *    so a table literal inside JavaScript is NOT a table.
  */
object HtmlTableExtractor {

  final case class Cell(
      tableIdx: Int, rowIdx: Int, colIdx: Int, header: Boolean, text: String)

  /** Per-open-table parse state (stack entry — nesting depth deep). */
  private final class TableCtx(val tableIdx: Int) {
    var rowIdx = -1 // -1 until the first <tr> (or implicit row open)
    var colIdx = -1
    var inCell = false
    var header = false
    val text = new CollapsedText
  }

  def extract(html: String): Seq[Cell] = {
    import HtmlTokenizer._
    val tok = new HtmlTokenizer(html)
    val out = mutable.ArrayBuffer.empty[Cell]
    val tables = mutable.ArrayBuffer.empty[TableCtx] // open-table stack
    var nextTableIdx = 0

    def cur: TableCtx = tables.last

    def flushCell(): Unit = if (tables.nonEmpty && cur.inCell) {
      val c = cur
      out += Cell(c.tableIdx, math.max(c.rowIdx, 0), c.colIdx, c.header, c.text.result())
      c.inCell = false
      c.text.clear()
    }

    def openRow(): Unit = if (tables.nonEmpty) {
      flushCell()
      val c = cur
      c.rowIdx += 1
      c.colIdx = -1
    }

    def openCell(header: Boolean): Unit = if (tables.nonEmpty) {
      flushCell()
      val c = cur
      if (c.rowIdx < 0) c.rowIdx = 0 // <td> before any <tr>
      c.colIdx += 1
      c.inCell = true
      c.header = header
    }

    var kind = tok.next()
    while (kind != End) {
      if (kind == Text) { if (tables.nonEmpty && cur.inCell) cur.text.append(tok) }
      else if (kind == EndTag) tok.name match {
        case "table" => if (tables.nonEmpty) { flushCell(); tables.remove(tables.length - 1) }
        case "tr" | "td" | "th" => flushCell()
        case _ => // inline/other markup: stripped
      }
      else if (!tok.selfClosed) tok.name match {
        case "table" => tables += new TableCtx(nextTableIdx); nextTableIdx += 1
        case "tr" => openRow()
        case "td" | "th" => openCell(tok.name == "th")
        case _ =>
      }
      kind = tok.next()
    }
    // EOF: flush any open cell in every still-open table (outermost last)
    while (tables.nonEmpty) { flushCell(); tables.remove(tables.length - 1) }
    out.toSeq
  }
}
