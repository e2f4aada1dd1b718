package graft.synth

import DocDraw.{draw, word}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic synthetic markdown pipe-table corpus (q135) — the
  * markdown twin of `TableDocs`, same by-construction trust model: the
  * builder emits each document's markdown AND its expected cells from the
  * same draws, so the oracle never runs the extractor.
  *
  * Planted surface:
  *  - a fenced code block containing a FAKE pipe table (must be skipped)
  *  - a `|`-leading prose line with no separator after it (not a table)
  *  - header + separator + data rows; alignment colons in the separator
  *  - escaped pipes (`\|` → literal `|`), bold and inline-code markers
  *  - every 3rd doc: a ragged final data row (one cell short)
  *  - every 2nd doc: a second table later in the document
  */
object MdTableDocs {

  import TableDocs.GoldenCell

  private val vocab = Array(
    "amber", "basalt", "cedar", "dune", "ember", "fjord",
    "garnet", "heath", "inlet", "jasper", "krill", "lagoon")

  /** Pure builder: (markdown, expected cells) from the same draws. */
  def build(id: Long): (String, Seq[GoldenCell]) = {
    val cells = scala.collection.mutable.ArrayBuffer.empty[GoldenCell]
    val sb = new StringBuilder
    sb ++= s"intro ${word(vocab, id, 0x01)} prose line\n\n"
    sb ++= "```\n| fake | table |\n|---|---|\n| in | fence |\n```\n"
    sb ++= s"| looks like a row but has no separator\nplain ${word(vocab, id, 0x02)} text\n\n"

    val ragged = id % 3 == 0
    val dataRows = 2 + draw(id, 0x10, 3) // 2..4
    val cols = 2 + draw(id, 0x11, 2) // 2..3

    def emitTable(tIdx: Int, rows: Int, nCols: Int, base: Long, raggedLast: Boolean): Unit = {
      val heads = (0 until nCols).map(c => word(vocab, id, base + c))
      sb ++= heads.mkString("| ", " | ", " |\n")
      heads.zipWithIndex.foreach { case (h, c) =>
        cells += GoldenCell(id, tIdx, 0, c, is_header = true, h)
      }
      // separator with a deterministic alignment-colon variant
      sb ++= (0 until nCols).map(c =>
        if ((id + c) % 3 == 0) ":---:" else "---").mkString("|", "|", "|\n")
      for (r <- 1 to rows) {
        val short = raggedLast && r == rows
        val n = if (short) nCols - 1 else nCols
        val row = (0 until n).map { c =>
          val tag = base + 0x100 + 31L * r + c
          val w = word(vocab, id, tag)
          val w2 = word(vocab, id, tag + 7)
          val (markup, expected) = (r + c) % 5 match {
            case 0 => (s"$w\\|$w2", s"$w|$w2")
            case 1 => (s"**$w** $w2", s"$w $w2")
            case 2 => (s"`$w`", w)
            case _ => (w, w)
          }
          cells += GoldenCell(id, tIdx, r, c, is_header = false, expected)
          markup
        }
        sb ++= row.mkString("| ", " | ", " |\n")
      }
      sb ++= "\n"
    }

    emitTable(0, dataRows, cols, 0x1000, ragged)
    if (id % 2 == 0) {
      sb ++= s"more ${word(vocab, id, 0x03)} prose\n\n"
      emitTable(1, 2, 2, 0x4000, raggedLast = false)
    }
    (sb.toString, cells.toSeq)
  }

  /** Distributed raw table: (doc_id, md). */
  def docs(spark: SparkSession, nDocs: Long): DataFrame = {
    import spark.implicits._
    spark.range(nDocs).map(id => (id, build(id)._1)).toDF("doc_id", "md")
  }

  /** Distributed golden cells (for the Verify materialization). */
  def goldenCells(spark: SparkSession, nDocs: Long): DataFrame = {
    import spark.implicits._
    spark.range(nDocs).flatMap(id => build(id)._2).toDF()
  }
}
