package graft.extract

import scala.collection.mutable

/** Document-outline (heading hierarchy) extractor over both markup
  * families — HTML `<h1>`-`<h6>` and markdown ATX headings — emitting
  * sections in document order with their breadcrumb path (nearest
  * ancestor chain by LEVEL, " > "-joined). The outline is the provenance
  * spine RAG chunking and section-scoped retrieval key on (the reference
  * keys extracted spans by page/section identity the same way, ref:
  * src/schema_helper.py:134-155 ordered page identity).
  *
  * Single forward pass, O(heading-depth) state (the breadcrumb stack).
  * Contract (each clause pinned by OutlineSpec):
  *  - HTML (over `HtmlTokenizer` tokens): a section is an `<h1>`-`<h6>`
  *    open tag; its title runs to the matching close tag. Inline markup
  *    strips, entities decode, whitespace collapses (the `HtmlExtractor`
  *    discipline). A new heading open OR any block-level tag (p/div/table/
  *    ul/ol/li/section/article/nav/blockquote/pre/tr/td/th/hr) flushes an
  *    unclosed heading (browser auto-close); EOF flushes too. The
  *    tokenizer's rules: comments, declarations, processing instructions
  *    and `<script>`/`<style>` bodies never produce headings or title
  *    text, and a self-closed `<script/>` hides nothing after it. Never
  *    throws.
  *  - Markdown: a section is an ATX line — 1-6 leading `#` followed by
  *    whitespace or end-of-line (`#x` is prose, 7+ hashes are prose). A
  *    trailing run of `#` preceded by whitespace strips (GFM closing
  *    hashes); emphasis/code markers (`*`, backtick) strip; fenced code
  *    blocks (``` / ~~~) are skipped verbatim.
  *  - Empty titles (after stripping) emit nothing.
  *  - Breadcrumb: a stack keyed by level — emitting level L pops every
  *    entry with level >= L (so h2 → h4 → h2 nests by LEVEL, not depth);
  *    path = stack titles + own title joined with " > ".
  */
object OutlineExtractor {

  final case class Section(sectionIdx: Int, level: Int, title: String, path: String)

  /** Dispatch on the payload kind column. Unknown kinds yield nothing. */
  def extract(kind: String, text: String): Seq[Section] = kind match {
    case "html"     => extractHtml(text)
    case "markdown" => extractMd(text)
    case _          => Seq.empty
  }

  private val blockFlushTags = Set(
    "p", "div", "table", "ul", "ol", "li", "section", "article", "nav",
    "blockquote", "pre", "tr", "td", "th", "hr")

  private final class PathStack {
    private val stack = mutable.ArrayBuffer.empty[(Int, String)]
    private val out = mutable.ArrayBuffer.empty[Section]
    def emit(level: Int, title: String): Unit = if (title.nonEmpty) {
      while (stack.nonEmpty && stack.last._1 >= level) stack.remove(stack.length - 1)
      val path = (stack.map(_._2) :+ title).mkString(" > ")
      out += Section(out.length, level, title, path)
      stack += ((level, title))
    }
    def sections: Seq[Section] = out.toSeq
  }

  def extractHtml(html: String): Seq[Section] = {
    import HtmlTokenizer._
    val tok = new HtmlTokenizer(html)
    val ps = new PathStack
    var level = 0 // 0 = idle, 1-6 = capturing that heading level
    val title = new CollapsedText

    def flush(): Unit = if (level > 0) {
      ps.emit(level, title.result())
      level = 0; title.clear()
    }

    def headingLevel(name: String): Int =
      if (name.length == 2 && name.charAt(0) == 'h' &&
        name.charAt(1) >= '1' && name.charAt(1) <= '6') name.charAt(1) - '0'
      else 0

    var kind = tok.next()
    while (kind != End) {
      if (kind == Text) { if (level > 0) title.append(tok) }
      else {
        val hl = headingLevel(tok.name)
        if (hl > 0) {
          flush() // a close, or an open auto-closing a dangling heading
          if (kind == StartTag) level = hl
        } else if (blockFlushTags.contains(tok.name)) flush()
      }
      kind = tok.next()
    }
    flush() // unterminated heading at EOF
    ps.sections
  }

  final case class SectionBody(
      sectionIdx: Int, level: Int, title: String, path: String, body: String)

  /** Markdown sections WITH their bodies (q150): every line that does not
    * emit a section — prose, fence delimiters and their contents,
    * rejected ATX shapes (no space, 7+ hashes, empty title) — is a body
    * line of the OPEN section, joined with \n verbatim. Lines before the
    * first heading belong to no section and drop. Single pass, O(depth)
    * state; `extractMd` is this scan with the bodies discarded.
    */
  def extractMdBodies(md: String): Seq[SectionBody] = {
    val ps = new PathStack
    val bodies = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[String]]
    var inFence = false
    var fenceMark = ""
    md.linesIterator.foreach { line =>
      val t = line.trim
      var emitted = false
      if (inFence) {
        if (t.startsWith(fenceMark)) inFence = false
      } else if (t.startsWith("```") || t.startsWith("~~~")) {
        inFence = true; fenceMark = t.substring(0, 3)
      } else if (t.startsWith("#")) {
        var h = 0
        while (h < t.length && t.charAt(h) == '#') h += 1
        val atEnd = h == t.length
        if (h <= 6 && (atEnd || t.charAt(h) == ' ' || t.charAt(h) == '\t')) {
          var rest = t.substring(math.min(h + 1, t.length))
          // GFM closing hashes: a trailing run of '#' preceded by
          // whitespace (or the entire remainder) strips
          var e = rest.length
          while (e > 0 && rest.charAt(e - 1) == '#') e -= 1
          if (e < rest.length && (e == 0 || Character.isWhitespace(rest.charAt(e - 1))))
            rest = rest.substring(0, e)
          // emphasis/code markers strip; whitespace collapses
          val title = rest.replace("*", "").replace("`", "")
            .trim.split("\\s+").filter(_.nonEmpty).mkString(" ")
          if (title.nonEmpty) {
            ps.emit(h, title)
            bodies += mutable.ArrayBuffer.empty[String]
            emitted = true
          }
        }
      }
      if (!emitted && bodies.nonEmpty) bodies.last += line
    }
    ps.sections.zip(bodies).map { case (s, b) =>
      SectionBody(s.sectionIdx, s.level, s.title, s.path, b.mkString("\n"))
    }
  }

  def extractMd(md: String): Seq[Section] =
    extractMdBodies(md).map(sb =>
      Section(sb.sectionIdx, sb.level, sb.title, sb.path))
}
