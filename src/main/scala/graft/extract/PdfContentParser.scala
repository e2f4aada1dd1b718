package graft.extract

import scala.collection.mutable

/** From-scratch parser for UNCOMPRESSED PDF containers: object scan,
  * page-tree walk, and a content-stream text-operator interpreter
  * (BT/ET, Tf, Td, TD, TL, Tm, T*, Tj, TJ, '; literal AND hex strings)
  * producing positioned text runs — the real-container upgrade of the pdfir stand-in (the
  * reference extracts per-word text+position from PDFs via its OCR
  * service, ref: src/processing.py:55-84; this path derives the same
  * run stream from the PDF text operators directly, the PDFBox-style
  * extraction the environment's missing jars would otherwise provide).
  *
  * Scope (documented, asserted by the fuzz spec rather than hidden):
  *  - uncompressed streams only (no /Filter support — planted corpora
  *    are generated uncompressed; a /Filter'd stream fails the doc with
  *    `pdf_filter`, never a wrong answer);
  *  - translation-only text matrices (Tm rotation/shear components are
  *    accepted syntactically, positions take the e/f translation);
  *  - glyph widths are not modeled: each Tj/'/TJ is one run at its
  *    start position, and a TJ array concatenates its strings (kern
  *    adjustments move glyphs, not characters) — matching how the
  *    generator lays out golden runs;
  *  - xref tables are written by the generator but not required: the
  *    object scan is sequential, so a damaged xref cannot corrupt text.
  *
  * NEVER throws: every malformation maps to `Left(<failure class>)`
  * (swallow-and-continue, the pipeline's failure contract).
  */
object PdfContentParser {

  /** One positioned text run in PDF user space (y grows UP). */
  final case class PdfRun(page: Int, x: Int, yPdf: Int, text: String)

  /** Parsed document: per-run stream plus per-page media heights
    * (index = page order in the /Kids tree), for the y flip downstream.
    */
  final case class PdfDoc(runs: Seq[PdfRun], pageHeights: Seq[Int])

  def parse(latin1: String): Either[String, PdfDoc] =
    try parseInner(latin1)
    catch { case _: Throwable => Left("pdf_parse") }

  private def parseInner(s: String): Either[String, PdfDoc] = {
    if (!s.startsWith("%PDF-")) return Left("pdf_header")

    // --- object scan (sequential; stream bodies skipped atomically) ---
    val objs = mutable.Map.empty[Int, (String, Option[String])] // num -> (dict/body, stream)
    val objRe = java.util.regex.Pattern.compile("(\\d+)\\s+\\d+\\s+obj\\b")
    val m = objRe.matcher(s)
    var searchFrom = 0
    // first "stream" at or after bodyStart (-1: none left), advanced
    // lazily so stream-less objects never rescan the rest of the file
    var streamAt = s.indexOf("stream")
    while (m.find(searchFrom)) {
      val num = m.group(1).toInt
      val bodyStart = m.end()
      if (streamAt >= 0 && streamAt < bodyStart) streamAt = s.indexOf("stream", bodyStart)
      val endobjAt = s.indexOf("endobj", bodyStart)
      if (endobjAt < 0) return Left("pdf_object")
      if (streamAt >= 0 && streamAt < endobjAt) {
        // dict, then raw stream bytes up to the endstream delimiter
        val dict = s.substring(bodyStart, streamAt)
        var dataStart = streamAt + "stream".length
        if (dataStart < s.length && s.charAt(dataStart) == '\r') dataStart += 1
        if (dataStart < s.length && s.charAt(dataStart) == '\n') dataStart += 1
        val endAt = s.indexOf("endstream", dataStart)
        if (endAt < 0) return Left("pdf_stream")
        objs(num) = (dict, Some(s.substring(dataStart, endAt)))
        val realEndobj = s.indexOf("endobj", endAt)
        if (realEndobj < 0) return Left("pdf_object")
        searchFrom = realEndobj + "endobj".length
      } else {
        objs(num) = (s.substring(bodyStart, endobjAt), None)
        searchFrom = endobjAt + "endobj".length
      }
    }
    if (objs.isEmpty) return Left("pdf_object")

    // --- page tree ---
    def ref(body: String, key: String): Option[Int] = {
      val p = java.util.regex.Pattern.compile(
        java.util.regex.Pattern.quote(key) + "\\s+(\\d+)\\s+\\d+\\s+R")
      val mm = p.matcher(body); if (mm.find()) Some(mm.group(1).toInt) else None
    }
    val trailerAt = s.lastIndexOf("trailer")
    val trailerBody = if (trailerAt >= 0) s.substring(trailerAt) else s
    val rootNum = ref(trailerBody, "/Root").getOrElse(return Left("pdf_trailer"))
    val catalog = objs.get(rootNum).map(_._1).getOrElse(return Left("pdf_trailer"))
    val pagesNum = ref(catalog, "/Pages").getOrElse(return Left("pdf_pages"))

    // /Kids in preorder through intermediate /Pages nodes — an explicit
    // stack, so a deep page tree never depends on the thread's stack size
    val pageNums = mutable.ArrayBuffer.empty[Int]
    val visited = mutable.Set.empty[Int]
    val kidRe = java.util.regex.Pattern.compile("(\\d+)\\s+\\d+\\s+R")
    val pending = mutable.Stack(pagesNum)
    while (pending.nonEmpty) {
      val num = pending.pop()
      if (!visited.add(num)) return Left("pdf_pages") // cycle guard
      val body = objs.get(num).map(_._1).getOrElse(return Left("pdf_pages"))
      if (body.contains("/Type /Pages") || body.contains("/Type/Pages")) {
        val kidsAt = body.indexOf("/Kids")
        if (kidsAt < 0) return Left("pdf_pages")
        val open = body.indexOf('[', kidsAt); val close = body.indexOf(']', kidsAt)
        if (open < 0 || close < 0 || close < open) return Left("pdf_pages")
        val km = kidRe.matcher(body.substring(open + 1, close))
        val kids = mutable.ArrayBuffer.empty[Int]
        while (km.find()) kids += km.group(1).toInt
        if (kids.isEmpty) return Left("pdf_pages")
        kids.reverseIterator.foreach(pending.push) // first kid pops first
      } else pageNums += num
    }
    if (pageNums.isEmpty) return Left("pdf_pages")

    // --- per page: MediaBox height + content streams -> runs ---
    val runs = mutable.ArrayBuffer.empty[PdfRun]
    val heights = mutable.ArrayBuffer.empty[Int]
    val boxRe = java.util.regex.Pattern.compile(
      "/MediaBox\\s*\\[\\s*(-?\\d+)\\s+(-?\\d+)\\s+(-?\\d+)\\s+(-?\\d+)\\s*\\]")
    pageNums.zipWithIndex.foreach { case (num, pageIdx) =>
      val body = objs(num)._1
      val bm = boxRe.matcher(body)
      val height = if (bm.find()) bm.group(4).toInt - bm.group(2).toInt else 792
      heights += height
      val contentsAt = body.indexOf("/Contents")
      if (contentsAt < 0) return Left("pdf_pages")
      val after = body.substring(contentsAt + "/Contents".length)
      val streamNums: Seq[Int] = {
        val trimmed = after.dropWhile(_.isWhitespace)
        val refRe = java.util.regex.Pattern.compile("^(\\d+)\\s+\\d+\\s+R")
        if (trimmed.startsWith("[")) {
          val close = trimmed.indexOf(']')
          if (close < 0) return Left("pdf_pages")
          val rm = java.util.regex.Pattern.compile("(\\d+)\\s+\\d+\\s+R")
            .matcher(trimmed.substring(1, close))
          val out = mutable.ArrayBuffer.empty[Int]
          while (rm.find()) out += rm.group(1).toInt
          out.toSeq
        } else {
          val rm = refRe.matcher(trimmed)
          if (rm.find()) Seq(rm.group(1).toInt) else return Left("pdf_pages")
        }
      }
      // a page's streams CONCATENATE into one content stream (PDF 7.8.2)
      // — state persists across stream boundaries, so they are parsed
      // as one unit, not stream-by-stream
      val content = streamNums.map { sn =>
        val (dict, data) = objs.getOrElse(sn, return Left("pdf_stream"))
        if (dict.contains("/Filter")) return Left("pdf_filter")
        data.getOrElse(return Left("pdf_stream"))
      }.mkString("\n")
      interpret(content, pageIdx) match {
        case Left(e)   => return Left(e)
        case Right(rs) => runs ++= rs
      }
    }
    Right(PdfDoc(runs.toSeq, heights.toSeq))
  }

  // --- content-stream text-operator interpreter ---

  private sealed trait Tok
  private final case class TNum(v: Double) extends Tok
  private final case class TStr(v: String) extends Tok
  private final case class TName(v: String) extends Tok
  private final case class TArr(items: Seq[Tok]) extends Tok

  /** PDF string literal body starting after '(' — returns (text, index
    * after the closing ')'), honoring nesting, the standard escapes and
    * 1-3 digit octal codes. None on an unterminated literal.
    */
  private[graft] def parseString(s: String, start: Int): Option[(String, Int)] = {
    val out = new java.lang.StringBuilder
    var i = start; var depth = 1
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\') {
        if (i + 1 >= s.length) return None
        val e = s.charAt(i + 1)
        e match {
          case 'n' => out.append('\n'); i += 2
          case 'r' => out.append('\r'); i += 2
          case 't' => out.append('\t'); i += 2
          case 'b' => out.append('\b'); i += 2
          case 'f' => out.append('\f'); i += 2
          case '(' => out.append('('); i += 2
          case ')' => out.append(')'); i += 2
          case '\\' => out.append('\\'); i += 2
          case '\n' => i += 2 // line continuation
          case '\r' => i += (if (i + 2 < s.length && s.charAt(i + 2) == '\n') 3 else 2)
          case d if d >= '0' && d <= '7' =>
            var j = i + 1; var v = 0
            while (j < s.length && j < i + 4 && s.charAt(j) >= '0' && s.charAt(j) <= '7') {
              v = v * 8 + (s.charAt(j) - '0'); j += 1
            }
            out.append((v & 0xff).toChar); i = j
          case other => out.append(other); i += 2 // lone backslash: drop it
        }
      } else if (c == '(') { depth += 1; out.append(c); i += 1 }
      else if (c == ')') {
        depth -= 1
        if (depth == 0) return Some((out.toString, i + 1))
        out.append(c); i += 1
      } else { out.append(c); i += 1 }
    }
    None
  }

  private def isOpChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || c == '*' || c == '\'' || c == '"'

  private def interpret(content: String, page: Int): Either[String, Seq[PdfRun]] = {
    val runs = mutable.ArrayBuffer.empty[PdfRun]
    // operand stack; arrays collect into TArr
    var stack = List.empty[Tok]
    var arrDepth = 0
    val arrBuf = mutable.ArrayBuffer.empty[Tok]
    var lineX = 0.0; var lineY = 0.0 // text line matrix translation
    var leading = 0.0
    var inText = false

    def emit(text: String): Unit =
      if (text.nonEmpty && inText)
        runs += PdfRun(page, math.round(lineX).toInt, math.round(lineY).toInt, text)

    def num(t: Tok): Option[Double] = t match { case TNum(v) => Some(v); case _ => None }

    def apply(op: String): Either[String, Unit] = {
      val operands = stack.reverse
      op match {
        case "BT" => inText = true; lineX = 0; lineY = 0
        case "ET" => inText = false
        case "Td" | "TD" =>
          (operands.lastOption.flatMap(num), operands.dropRight(1).lastOption.flatMap(num)) match {
            case (Some(ty), Some(tx)) =>
              if (op == "TD") leading = -ty
              lineX += tx; lineY += ty
            case _ => return Left("pdf_textop")
          }
        case "TL" =>
          operands.lastOption.flatMap(num) match {
            case Some(l) => leading = l
            case None    => return Left("pdf_textop")
          }
        case "Tm" =>
          val ns = operands.flatMap(num)
          if (ns.length < 6) return Left("pdf_textop")
          lineX = ns(ns.length - 2); lineY = ns(ns.length - 1)
        case "T*" => lineY -= leading
        case "Tj" =>
          operands.lastOption match {
            case Some(TStr(t)) => emit(t)
            case _             => return Left("pdf_textop")
          }
        case "'" =>
          operands.lastOption match {
            case Some(TStr(t)) => lineY -= leading; emit(t)
            case _             => return Left("pdf_textop")
          }
        case "\"" =>
          operands.lastOption match {
            case Some(TStr(t)) => lineY -= leading; emit(t)
            case _             => return Left("pdf_textop")
          }
        case "TJ" =>
          operands.lastOption match {
            case Some(TArr(items)) =>
              val sb = new java.lang.StringBuilder
              items.foreach { case TStr(t) => sb.append(t); case _ => () }
              emit(sb.toString)
            case _ => return Left("pdf_textop")
          }
        case _ => () // Tf, graphics state, paths: positions unaffected
      }
      stack = Nil
      Right(())
    }

    var i = 0
    while (i < content.length) {
      val c = content.charAt(i)
      if (c == ' ' || c == '\n' || c == '\r' || c == '\t') i += 1
      else if (c == '(') {
        parseString(content, i + 1) match {
          case Some((txt, next)) =>
            if (arrDepth > 0) arrBuf += TStr(txt) else stack ::= TStr(txt)
            i = next
          case None => return Left("pdf_string")
        }
      } else if (c == '<') {
        // hex string <48656c6c6f>; whitespace allowed inside, an odd
        // final digit reads as high nibble. '<<' would be a dict — no
        // dict belongs in a text stream we accept.
        if (i + 1 < content.length && content.charAt(i + 1) == '<') return Left("pdf_textop")
        val out = new java.lang.StringBuilder
        var j = i + 1; var hi = -1; var closed = false
        while (j < content.length && !closed) {
          val h = content.charAt(j)
          if (h == '>') closed = true
          else if (!h.isWhitespace) {
            val v = Character.digit(h, 16)
            if (v < 0) return Left("pdf_string")
            if (hi < 0) hi = v else { out.append(((hi << 4) | v).toChar); hi = -1 }
          }
          j += 1
        }
        if (!closed) return Left("pdf_string")
        if (hi >= 0) out.append((hi << 4).toChar)
        if (arrDepth > 0) arrBuf += TStr(out.toString) else stack ::= TStr(out.toString)
        i = j
      } else if (c == '[') { arrDepth += 1; arrBuf.clear(); i += 1 }
      else if (c == ']') {
        if (arrDepth == 0) return Left("pdf_textop")
        arrDepth -= 1; stack ::= TArr(arrBuf.toSeq); arrBuf.clear(); i += 1
      } else if (c == '/') {
        var j = i + 1
        while (j < content.length && !content.charAt(j).isWhitespace
          && content.charAt(j) != '(' && content.charAt(j) != '['
          && content.charAt(j) != ']' && content.charAt(j) != '/') j += 1
        if (arrDepth == 0) stack ::= TName(content.substring(i + 1, j))
        i = j
      } else if (c == '-' || c == '+' || c == '.' || (c >= '0' && c <= '9')) {
        var j = i + 1
        while (j < content.length && (content.charAt(j) == '.'
          || (content.charAt(j) >= '0' && content.charAt(j) <= '9'))) j += 1
        val v = try content.substring(i, j).toDouble
        catch { case _: NumberFormatException => return Left("pdf_textop") }
        if (arrDepth > 0) arrBuf += TNum(v) else stack ::= TNum(v)
        i = j
      } else if (isOpChar(c)) {
        var j = i + 1
        while (j < content.length && isOpChar(content.charAt(j))) j += 1
        val op = content.substring(i, j)
        if (arrDepth > 0) return Left("pdf_textop")
        apply(op) match { case Left(e) => return Left(e); case _ => }
        i = j
      } else return Left("pdf_textop")
    }
    Right(runs.toSeq)
  }
}
