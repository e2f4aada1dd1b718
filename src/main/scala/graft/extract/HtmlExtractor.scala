package graft.extract

import graft.model.{Extracted, Span}
import scala.collection.mutable

/** Streaming HTML main-content extractor.
  *
  * Single forward pass over `HtmlTokenizer` tokens, O(tag-depth) state
  * only — no DOM tree is materialized (north-star requirement for
  * multi-MB turns). Comments, declarations, processing instructions and
  * `<script>`/`<style>` bodies never reach the text (the tokenizer's
  * rules); entities decode and whitespace collapses (`CollapsedText`). Text
  * is segmented into blocks at block-level tag boundaries; each block
  * carries (textLen, linkTextLen, tagDepth). Blocks are classified
  * Boilerpipe/Readability-style by text length and link density
  * (re-creating the *behavior* of main-content extraction the reference
  * delegates to an OCR+LLM chain, ref: src/processing.py:55-148).
  *
  * Resilient to malformed input (unclosed tags, truncation mid-tag):
  * never throws; best-effort text is emitted, mirroring the
  * reference's swallow-and-continue (agents/sql_agent/utils.py:113-118).
  */
object HtmlExtractor {

  /** Subtrees whose text is never main content. */
  private val dropTags = Set(
    "head", "nav", "aside", "footer", "header",
    "noscript", "svg", "form", "button", "iframe", "select", "option")

  /** Tags that terminate the current text block. */
  private val blockTags = Set(
    "p", "div", "li", "ul", "ol", "h1", "h2", "h3", "h4", "h5", "h6",
    "td", "th", "tr", "table", "blockquote", "pre", "article", "section",
    "main", "body", "html", "br", "hr", "figure", "figcaption", "dl",
    "dt", "dd")

  /** Void elements — never pushed on the open stack. */
  private val voidTags = Set(
    "br", "hr", "img", "input", "meta", "link", "area", "base", "col",
    "embed", "source", "track", "wbr")

  /** Minimum trimmed block length to be kept as content. */
  val MinBlockLen = 25

  /** Maximum link density (link chars / text chars) for a content block. */
  val MaxLinkDensity = 0.33

  def extract(html: String): Extracted = {
    import HtmlTokenizer._
    val tok = new HtmlTokenizer(html)
    val blocks = mutable.ArrayBuffer.empty[(String, Int)] // (text, linkChars)
    val buf = new CollapsedText
    var linkChars = 0
    // O(depth) state
    val openStack = mutable.ArrayBuffer.empty[String]
    var dropDepth = 0 // >0 while inside a dropped subtree
    var anchorDepth = 0

    def flush(): Unit = {
      val t = buf.result()
      if (t.nonEmpty) blocks += ((t, linkChars))
      buf.clear(); linkChars = 0
    }
    // restore anchor/drop state for every entry popped off the open
    // stack — this is what makes mis-nested closes (</div> closing an
    // unclosed <a> or <nav>) recover instead of poisoning the rest of
    // the document
    def popRange(from: Int): Unit = {
      var p = openStack.length - 1
      while (p >= from) {
        val popped = openStack(p)
        if (popped == "a" && anchorDepth > 0) anchorDepth -= 1
        if (dropTags.contains(popped) && dropDepth > 0) dropDepth -= 1
        p -= 1
      }
      openStack.remove(from, openStack.length - from)
    }

    var kind = tok.next()
    while (kind != End) {
      if (kind == Text) {
        if (dropDepth == 0) {
          val before = buf.length
          buf.append(tok)
          if (anchorDepth > 0) linkChars += buf.length - before
        }
      } else {
        val name = tok.name
        if (blockTags.contains(name)) flush()
        if (kind == StartTag) {
          if (!voidTags.contains(name) && !tok.selfClosed) {
            if (name == "a") anchorDepth += 1
            if (dropTags.contains(name)) dropDepth += 1
            openStack += name
          }
        } else {
          // pop to the matching open tag if present (tolerates misnesting)
          val idx = openStack.lastIndexOf(name)
          if (idx >= 0) popRange(idx)
        }
      }
      kind = tok.next()
    }
    flush()

    // classify: keep long, low-link-density blocks
    val kept = blocks.filter { case (t, link) =>
      t.length >= MinBlockLen && link.toDouble / t.length <= MaxLinkDensity
    }
    val out = new StringBuilder
    val spans = mutable.ArrayBuffer.empty[Span]
    kept.foreach { case (t, _) =>
      if (out.nonEmpty) out.append("\n\n")
      val s = out.length
      out.append(t)
      spans += Span("content", s, out.length)
    }
    Extracted(out.toString, spans.toSeq, None)
  }
}
