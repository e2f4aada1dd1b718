package graft.synth

import DocDraw.{draw, word}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** Deterministic synthetic REAL-PDF corpus: each doc is a complete
  * uncompressed PDF container (header, catalog/page-tree objects,
  * content streams of text operators, xref table, trailer) whose byte
  * layout — positions, operator choice per run, emission scramble,
  * string escapes — is a pure function of `doc_id`.
  *
  * Trust model (the q28/q121 golden pattern): the generator KNOWS each
  * page's layout — columns, line order, run text — so it emits the
  * expected reading-ordered text by construction, WITHOUT running any
  * extractor. `graft.Verify` materializes that golden table for DuckDB;
  * the engine must reproduce it from the container BYTES alone, through
  * the from-scratch parser (`extract.PdfContentParser`) and the shared
  * reading-order core (`extract.PdfIrExtractor.orderRuns`).
  *
  * Planted surface per doc:
  *  - 1-3 pages, each single- or two-column (column x-gap >= the
  *    extractor's ColumnGap so the split genuinely fires);
  *  - runs emitted in a SCRAMBLED stream order (rotation by a hash
  *    draw), so reading order must come from positions, not stream
  *    order;
  *  - four positioning-operator modes per run (Tm+Tj, relative Td+Tj,
  *    Tm+TJ with kern splits, TL/Tm/' next-line showing);
  *  - escape-needing text: parens, backslash, an octal-escaped
  *    character, and fully HEX-encoded strings on hash-chosen subsets;
  *  - container-shape variants: two-stream pages (`/Contents [a b]`,
  *    split even mid-text-object) and an intermediate /Pages tree node.
  */
object PdfDocs {

  val PageW = 612
  val PageH = 792
  val Col0X = 72
  val Col1X = 420 // gap from col 0 >= extractor ColumnGap (200)

  private val vocab = Array(
    "ledger", "invoice", "clause", "figure", "margin", "column",
    "stream", "object", "layout", "render", "glyph", "serif",
    "kern", "recto", "verso", "folio", "octavo", "quire")

  /** One planned run: page (0-based), column, PDF-space position, text. */
  final case class Planned(page: Int, col: Int, x: Int, yPdf: Int, text: String)

  /** Layout plan in GOLDEN READING ORDER: pages ascending; within a page
    * column 0 top-down then column 1 top-down; a hash-chosen line is
    * split into two same-y runs (x ascending) to exercise the final
    * tie-break.
    */
  def plan(id: Long): Seq[Planned] = {
    val nPages = 1 + draw(id, 0x01, 3)
    val out = mutable.ArrayBuffer.empty[Planned]
    for (p <- 0 until nPages) {
      val twoCol = draw(id, 0x10 + p, 2) == 1
      val cols = if (twoCol) 2 else 1
      for (c <- 0 until cols) {
        val nLines = 3 + draw(id, 0x20 + 7 * p + c, 4)
        val baseX = if (c == 0) Col0X else Col1X
        for (l <- 0 until nLines) {
          val y = 720 - 24 * l // PDF y grows up: top line has the largest y
          val t = lineText(id, p, c, l)
          if (l == draw(id, 0x30 + p, nLines) && t.length > 4) {
            // split one line into two same-y runs; x tie-break must order them
            val cut = t.length / 2
            out += Planned(p, c, baseX, y, t.substring(0, cut))
            out += Planned(p, c, baseX + 8 * (1 + draw(id, 0x41 + l, 12)), y, t.substring(cut))
          } else out += Planned(p, c, baseX + draw(id, 0x51 + 13 * l + p, 3) * 6, y, t)
        }
      }
    }
    out.toSeq
  }

  private def lineText(id: Long, p: Int, c: Int, l: Int): String = {
    val n = 2 + draw(id, 0x60 + 31 * l + 7 * p + c, 4)
    val words = (0 until n)
      .map(w => word(vocab, id, 0x70 + 131 * l + 17 * p + 5 * c + w))
    val base = words.mkString(" ")
    draw(id, 0x80 + l + p, 5) match {
      case 0 => base + " (nb: " + draw(id, 0x90, 100) + ")" // parens need escaping
      case 1 => base + " a\\b path"                         // backslash needs escaping
      case _ => base
    }
  }

  /** Expected reading-ordered extraction (lines joined with \n) — by
    * construction from the plan, never from a parser.
    */
  def goldenText(id: Long): String = plan(id).map(_.text).mkString("\n")

  /** PDF string literal for `t`: a hash-chosen quarter emit as HEX
    * strings (`<48..>`); the rest as literals with escaped delimiters
    * and one hash-chosen octal-escaped character — every decoder path
    * is genuinely exercised and decodes back to the identical text.
    */
  private def literal(styleId: Long, seq: Int, t: String): String = {
    if (t.nonEmpty && draw(styleId, 0xA8 + seq, 4) == 0)
      return "<" + t.map(c => "%02x".format(c.toInt)).mkString + ">"
    val esc = new StringBuilder
    val octAt =
      if (t.nonEmpty && draw(styleId, 0xA0 + seq, 3) == 0) draw(styleId, 0xA1 + seq, t.length)
      else -1
    t.zipWithIndex.foreach { case (ch, i) =>
      if (i == octAt && ch < 128) esc ++= "\\%03o".format(ch.toInt)
      else ch match {
        case '('  => esc ++= "\\("
        case ')'  => esc ++= "\\)"
        case '\\' => esc ++= "\\\\"
        case c    => esc += c
      }
    }
    "(" + esc + ")"
  }

  /** Content-stream operator CHUNKS for one page (token-complete units:
    * the BT prefix, one chunk per run, the ET suffix): runs emitted in a
    * scrambled order (rotation by a hash draw), each via one of the four
    * positioning modes. Tracks the text line matrix exactly as the
    * interpreter does, so relative modes land on the planned positions.
    * Chunk boundaries are where a page may split into TWO content
    * streams — PDF concatenates a page's streams before parsing, so a
    * split mid-text-object (BT in stream 1, ET in stream 2) is legal
    * and exercises exactly that rule.
    */
  private def pageContentChunks(id: Long, styleId: Long, page: Int, runs: Seq[Planned]): Seq[String] = {
    val rot = draw(styleId, 0xB0 + page, runs.length)
    val order = runs.drop(rot) ++ runs.take(rot)
    val chunks = mutable.ArrayBuffer.empty[String]
    chunks += "BT /F1 12 Tf"
    var lx = 0; var ly = 0
    order.zipWithIndex.foreach { case (r, i) =>
      val seq = page * 100 + i
      chunks += (draw(styleId, 0xC0 + seq, 4) match {
        case 0 => // absolute matrix + Tj
          s"1 0 0 1 ${r.x} ${r.yPdf} Tm ${literal(styleId, seq, r.text)} Tj"
        case 1 => // relative Td + Tj
          s"${r.x - lx} ${r.yPdf - ly} Td ${literal(styleId, seq, r.text)} Tj"
        case 2 => // absolute matrix + TJ with kern splits (concatenates)
          val cut = math.max(1, r.text.length / 3)
          val parts =
            if (r.text.length > 2)
              Seq(r.text.substring(0, cut), r.text.substring(cut))
            else Seq(r.text)
          val arr = parts.map(p => literal(styleId, seq, p))
            .mkString(" ", s" -${20 + draw(styleId, 0xD0 + seq, 60)} ", " ")
          s"1 0 0 1 ${r.x} ${r.yPdf} Tm [$arr] TJ"
        case _ => // TL + Tm one line above + ' (T* then show)
          val lead = 24
          s"$lead TL 1 0 0 1 ${r.x} ${r.yPdf + lead} Tm ${literal(styleId, seq, r.text)} '"
      })
      lx = r.x; ly = r.yPdf
    }
    chunks += "ET"
    chunks.toSeq
  }

  /** The complete container bytes (Latin-1; all generated chars ASCII),
    * with correct /Length values and a real xref table. A hash-chosen
    * subset of pages splits its content across TWO streams (`/Contents
    * [a 0 R b 0 R]` — legal even mid-text-object, since a page's
    * streams concatenate before parsing), and a subset of 3-page docs
    * routes the tail pages through an intermediate /Pages node — both
    * real container shapes the parser must walk.
    */
  def pdf(id: Long): String = pdfStyled(id, id)

  /** Twin-producer offset for [[docsWithTwins]]: twin doc ids are
    * `base + TwinOffset` and must stay disjoint from base ids. */
  val TwinOffset = 100000L

  /** The SAME document (identical plan, identical golden text) emitted
    * by a "different PDF producer": every presentation draw — operator
    * modes, emission scramble, literal encodings, stream splits, tree
    * shape — re-rolls under a shifted style seed, so the container
    * BYTES differ while the content is byte-identical. The
    * cross-producer dedup plant (q193).
    */
  def twinPdf(id: Long): String = pdfStyled(id, id + 0x5bd1e995L)

  private def pdfStyled(id: Long, styleId: Long): String = {
    val planned = plan(id)
    val nPages = planned.map(_.page).max + 1
    val objs = mutable.ArrayBuffer.empty[(Int, String)]
    var nextObj = 3 // 1 = catalog, 2 = root pages node
    def alloc(): Int = { val n = nextObj; nextObj += 1; n }
    val pageObjNums = (0 until nPages).map(_ => alloc())
    val fontObj = alloc()
    for (p <- 0 until nPages) {
      val chunks = pageContentChunks(id, styleId, p, planned.filter(_.page == p))
      val parts: Seq[String] =
        if (chunks.length > 3 && draw(styleId, 0xE0 + p, 3) == 0) {
          val cut = 1 + draw(styleId, 0xE8 + p, chunks.length - 2)
          Seq(chunks.take(cut).mkString(" "), chunks.drop(cut).mkString(" "))
        } else Seq(chunks.mkString(" "))
      val contNums = parts.map { content =>
        val n = alloc()
        objs += n -> s"<< /Length ${content.length} >>\nstream\n$content\nendstream"
        n
      }
      val contents =
        if (contNums.length == 1) s"${contNums.head} 0 R"
        else "[" + contNums.map(n => s"$n 0 R").mkString(" ") + "]"
      objs += pageObjNums(p) ->
        (s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 $PageW $PageH] " +
          s"/Contents $contents /Resources << /Font << /F1 $fontObj 0 R >> >> >>")
    }
    val kids =
      if (nPages >= 3 && draw(styleId, 0xF0, 2) == 0) {
        val inner = alloc()
        objs += inner -> ("<< /Type /Pages /Parent 2 0 R /Kids [" +
          pageObjNums.tail.map(n => s"$n 0 R").mkString(" ") +
          s"] /Count ${nPages - 1} >>")
        s"${pageObjNums.head} 0 R $inner 0 R"
      } else pageObjNums.map(n => s"$n 0 R").mkString(" ")
    objs += 1 -> "<< /Type /Catalog /Pages 2 0 R >>"
    objs += 2 -> s"<< /Type /Pages /Kids [$kids] /Count $nPages >>"
    objs += fontObj -> "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"

    val sb = new StringBuilder
    sb ++= "%PDF-1.4\n"
    val offsets = mutable.ArrayBuffer.empty[(Int, Int)]
    objs.sortBy(_._1).foreach { case (n, body) =>
      offsets += n -> sb.length
      sb ++= s"$n 0 obj\n$body\nendobj\n"
    }
    val xrefAt = sb.length
    sb ++= s"xref\n0 ${objs.length + 1}\n0000000000 65535 f \n"
    offsets.sortBy(_._1).foreach { case (_, off) =>
      sb ++= "%010d 00000 n \n".format(off)
    }
    sb ++= s"trailer\n<< /Size ${objs.length + 1} /Root 1 0 R >>\nstartxref\n$xrefAt\n%%EOF\n"
    sb.toString
  }

  /** Distributed raw table: (doc_id, pdf BINARY) — the container bytes
    * as an opaque binary column, the multimodal-column discipline.
    */
  def docs(spark: SparkSession, nDocs: Long): DataFrame = {
    import spark.implicits._
    spark.range(nDocs)
      .map(id => (id, pdf(id).getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)))
      .toDF("doc_id", "pdf")
  }

  /** Base corpus plus cross-producer TWINS: every fifth base doc also
    * appears as `doc_id + TwinOffset` with byte-DIFFERENT container
    * bytes (re-rolled presentation) and byte-IDENTICAL content — the
    * q193 dedup plant.
    */
  def docsWithTwins(spark: SparkSession, nDocs: Long): DataFrame = {
    import spark.implicits._
    spark.range(nDocs)
      .flatMap { boxed =>
        val id: Long = boxed
        val base = (id, pdf(id).getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
        if (id % 5 == 0)
          Seq(base, (id + TwinOffset,
            twinPdf(id).getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)))
        else Seq(base)
      }
      .toDF("doc_id", "pdf")
  }

  /** Golden RUN table: (doc_id, page, x, y_pdf, text) straight from the
    * layout plan — the q195 rasterization oracle re-derives every ink
    * pixel from these plus the shared glyph constants.
    */
  def goldenRuns(spark: SparkSession, nDocs: Long): DataFrame = {
    import spark.implicits._
    spark.range(nDocs)
      .flatMap { boxed =>
        val id: Long = boxed
        plan(id).map(r => (id, r.page, r.x, r.yPdf, r.text))
      }
      .toDF("doc_id", "page", "x", "y_pdf", "text")
  }

  /** Golden expectations: (doc_id, n_pages, n_runs, expected_text) — by
    * construction from the plan (materialized by Verify for the oracle).
    */
  def golden(spark: SparkSession, nDocs: Long): DataFrame = {
    import spark.implicits._
    spark.range(nDocs)
      .map { id =>
        val p = plan(id)
        (id, p.map(_.page).max + 1, p.length, goldenText(id))
      }
      .toDF("doc_id", "n_pages", "n_runs", "expected_text")
  }
}
