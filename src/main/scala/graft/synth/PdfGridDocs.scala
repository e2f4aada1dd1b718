package graft.synth

import DocDraw.{draw, word}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic synthetic positioned-run (PDF-IR) corpus with PLANTED
  * grids for the layout table-detection operator (q145). The builder
  * writes each document's run stream AND its expected grid cells in one
  * pass (the q133 trust model).
  *
  * Planted surface:
  *  - scattered single-run prose lines (signature size 1 — never a table)
  *  - table A on page 0: 2-4 rows × 2-3 shared x-columns; every cell with
  *    (r+c) % 4 == 0 carries a ` (Confidence: 0.9d)` annotation the
  *    extractor must strip
  *  - every 3rd doc: a 5-row grid on page 1 INTERRUPTED by a prose line
  *    mid-block — must split into a 3-row and a 2-row table
  *  - every 4th doc: a 2-run prose line whose signature occurs ONCE (one
  *    row is not a table)
  *  - every 5th doc: two ADJACENT grids on page 2 with different
  *    x-signatures — two tables, not one
  *  - every 6th doc: a malformed run line (skipped, never throws)
  */
object PdfGridDocs {

  final case class GoldenGridCell(
      doc_id: Long, page: Int, table_idx: Int, row_idx: Int, col_idx: Int,
      cell_text: String)

  private val vocab = Array(
    "alpha", "beta", "gamma", "delta", "epsilon", "zeta",
    "eta", "theta", "iota", "kappa", "lambda", "sigma")

  /** Pure builder: (run stream, expected cells). */
  def build(id: Long): (String, Seq[GoldenGridCell]) = {
    val cells = mutable()
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    var tableIdx = 0

    def proseLine(page: Int, x: Int, y: Int, tag: Long): Unit =
      lines += s"""p$page $x $y "prose ${word(vocab, id, tag)} text""""

    // page 0: prose + table A
    proseLine(0, 100, 10, 0x01)
    proseLine(0, 120, 110, 0x02)
    val aRows = 2 + draw(id, 0x10, 3) // 2..4
    val aCols = 2 + draw(id, 0x11, 2) // 2..3
    val aXs = Seq(300, 520, 740).take(aCols)
    for (r <- 0 until aRows; c <- 0 until aCols) {
      val w = word(vocab, id, 0x100 + 31L * r + c)
      val conf = if ((r + c) % 4 == 0) s" (Confidence: 0.9${(r + c) % 10})" else ""
      lines += s"""p0 ${aXs(c)} ${400 + 60 * r} "$w$conf""""
      cells += GoldenGridCell(id, 0, tableIdx, r, c, w)
    }
    tableIdx += 1
    proseLine(0, 90, 900, 0x03)

    if (id % 3 == 0) {
      // page 1: 5-row grid interrupted after row 2 → 3-row + 2-row tables
      val xs = Seq(150, 400)
      for (r <- 0 until 5) {
        for (c <- 0 until 2) {
          val w = word(vocab, id, 0x200 + 17L * r + c)
          lines += s"""p1 ${xs(c)} ${100 + 60 * r} "$w""""
        }
      }
      proseLine(1, 250, 100 + 60 * 2 + 30, 0x04) // y=250: between rows 2 and 3
      for (r <- 0 until 3; c <- 0 until 2)
        cells += GoldenGridCell(id, 1, tableIdx, r, c, word(vocab, id, 0x200 + 17L * r + c))
      tableIdx += 1
      for (r <- 3 until 5; c <- 0 until 2)
        cells += GoldenGridCell(id, 1, tableIdx, r - 3, c, word(vocab, id, 0x200 + 17L * r + c))
      tableIdx += 1
    }
    if (id % 4 == 0) {
      // a single 2-run line: signature occurs once — not a table
      lines += s"""p0 150 950 "${word(vocab, id, 0x05)}""""
      lines += s"""p0 450 950 "${word(vocab, id, 0x06)}""""
    }
    if (id % 5 == 0) {
      // page 2: two ADJACENT 2x2 grids with different x-signatures
      for ((xs, t) <- Seq(Seq(100, 300) -> 0, Seq(120, 320) -> 1)) {
        for (r <- 0 until 2; c <- 0 until 2) {
          val w = word(vocab, id, 0x300 + 13L * (t * 2 + r) + c)
          lines += s"""p2 ${xs(c)} ${100 + 200 * t + 60 * r} "$w""""
          cells += GoldenGridCell(id, 2, tableIdx + t, r, c, w)
        }
      }
      tableIdx += 2
    }
    if (id % 6 == 0) lines += "p2 oops malformed"
    (lines.mkString("\n"), cells.toSeq)
  }

  /** Pure builder for the JITTERED corpus (q155): same grid shapes with
    * every table x perturbed ±1 px per row (deterministic draws), so
    * exact-x matching would see every row as a distinct signature and
    * find NO tables — the tolerance path must band them back together.
    * Also plants two columns 5 px apart (> tol=3) that must NOT merge,
    * and prose far from the bands (banding is page-global).
    */
  def buildJitter(id: Long): (String, Seq[GoldenGridCell]) = {
    val cells = mutable()
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    var tableIdx = 0
    def jit(tag: Long): Int = draw(id, tag, 3) - 1 // -1, 0, +1

    lines += s"""p0 100 10 "prose ${word(vocab, id, 0x01)} text""""
    val rows = 3 + draw(id, 0x10, 3) // 3..5
    val xs = Seq(300, 520, 740)
    for (r <- 0 until rows; c <- 0 until 3) {
      val w = word(vocab, id, 0x100 + 31L * r + c)
      lines += s"""p0 ${xs(c) + jit(0x500 + 31L * r + c)} ${400 + 60 * r} "$w""""
      cells += GoldenGridCell(id, 0, tableIdx, r, c, w)
    }
    tableIdx += 1
    if (id % 2 == 0) {
      // page 1: two NARROW columns 5 px apart (gap > tol) + a third —
      // jittered within each band, never across
      val nxs = Seq(200, 205, 400)
      for (r <- 0 until 2; c <- 0 until 3) {
        val w = word(vocab, id, 0x200 + 17L * r + c)
        // jitter only the wide column; the 5-px pair stays exact so the
        // band gap (5 - 0 = 5 > 3) is unambiguous by construction
        val j = if (c == 2) jit(0x600 + 17L * r + c) else 0
        lines += s"""p1 ${nxs(c) + j} ${100 + 60 * r} "$w""""
        cells += GoldenGridCell(id, 1, tableIdx, r, c, w)
      }
      tableIdx += 1
    }
    lines += s"""p0 90 900 "tail ${word(vocab, id, 0x02)} prose""""
    (lines.mkString("\n"), cells.toSeq)
  }

  /** Distributed raw JITTERED table: (doc_id, pdfir). */
  def jitterDocs(spark: SparkSession, nDocs: Long): DataFrame = {
    import spark.implicits._
    spark.range(nDocs).map(id => (id, buildJitter(id)._1)).toDF("doc_id", "pdfir")
  }

  /** Distributed golden jittered cells (for the Verify materialization). */
  def goldenJitterCells(spark: SparkSession, nDocs: Long): DataFrame = {
    import spark.implicits._
    spark.range(nDocs).flatMap(id => buildJitter(id)._2).toDF()
  }

  private def mutable() =
    scala.collection.mutable.ArrayBuffer.empty[GoldenGridCell]

  /** Distributed raw table: (doc_id, pdfir). */
  def docs(spark: SparkSession, nDocs: Long): DataFrame = {
    import spark.implicits._
    spark.range(nDocs).map(id => (id, build(id)._1)).toDF("doc_id", "pdfir")
  }

  /** Distributed golden cells (for the Verify materialization). */
  def goldenCells(spark: SparkSession, nDocs: Long): DataFrame = {
    import spark.implicits._
    spark.range(nDocs).flatMap(id => build(id)._2).toDF()
  }
}
