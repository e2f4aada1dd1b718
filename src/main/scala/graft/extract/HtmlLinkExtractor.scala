package graft.extract

import scala.collection.mutable

/** Streaming HTML link extractor: (href, anchor text) pairs in document
  * order — the outlink side of web-corpus construction (anchor-text
  * corpora, link graphs; the host-graph ops q62/q85/q110/q113 consume
  * exactly this shape once hrefs are host-normalized).
  *
  * Single forward pass over `HtmlTokenizer` tokens, O(1) state beyond
  * the current capture. Contract (each clause pinned by HtmlLinkSpec):
  *  - A link is an `<a>` open tag carrying an `href` attribute (name
  *    matched case-insensitively; quoted with `"` or `'`, or unquoted to
  *    the next whitespace/`>`). `<a>` without href (pure anchors) is not
  *    a link, nor is an `<a>` truncated before its `>`.
  *  - Anchor text runs to the matching `</a>`: inner markup stripped,
  *    entities decoded, whitespace collapsed — the `HtmlExtractor`
  *    discipline. Entities in the href VALUE decode too (`&amp;` in
  *    query strings).
  *  - A new `<a href>` while one is open flushes the previous link
  *    (browser auto-close); EOF flushes an unterminated link with the
  *    text accumulated so far. Never throws on any input.
  *  - The tokenizer's rules: comments, declarations, processing
  *    instructions and `<script>`/`<style>` bodies never produce links
  *    or anchor text (an `<a>` literal inside JavaScript is not a link),
  *    and a self-closed `<script/>` hides nothing after it.
  */
object HtmlLinkExtractor {

  final case class Link(linkIdx: Int, href: String, anchor: String)

  def extract(html: String): Seq[Link] = {
    import HtmlTokenizer._
    val tok = new HtmlTokenizer(html)
    val out = mutable.ArrayBuffer.empty[Link]
    var href: String = null // non-null while a link capture is open
    val anchor = new CollapsedText

    def flush(): Unit = if (href != null) {
      out += Link(out.length, href, anchor.result())
      href = null; anchor.clear()
    }

    var kind = tok.next()
    while (kind != End) {
      if (kind == Text) { if (href != null) anchor.append(tok) }
      else if (tok.name == "a") {
        if (kind == EndTag) flush()
        else if (tok.terminated) tok.attr("href").foreach { v => flush(); href = v }
      }
      kind = tok.next()
    }
    flush() // unterminated link at EOF
    out.toSeq
  }
}
