package graft

import graft.extract.{HtmlExtractor, HtmlLinkExtractor, HtmlTableExtractor, OutlineExtractor}
import org.scalatest.funsuite.AnyFunSuite

/** Regression tests for malformed-HTML recovery paths (code-review
  * findings): self-closed raw-text/drop elements and mis-nested closes
  * must not poison the remainder of the document, and hostile shapes
  * must stay linear in every extractor built on `HtmlTokenizer`.
  */
class HtmlEdgeSpec extends AnyFunSuite {

  private val para = "<p>twenty-five-plus characters of real article body text here</p>"
  private val expected = "twenty-five-plus characters of real article body text here"

  test("self-closed <script/> does not swallow the rest of the document") {
    val r = HtmlExtractor.extract(s"""<script src="x.js"/>$para""")
    assert(r.text == expected)
  }

  test("self-closed drop tag (<nav/>) does not open a drop scope") {
    val r = HtmlExtractor.extract(s"""<nav/>$para""")
    assert(r.text == expected)
  }

  test("unclosed <a> terminated by an ancestor close recovers link accounting") {
    val r = HtmlExtractor.extract(
      s"""<div><a href="/x">home</div>$para""")
    assert(r.text == expected, "post-</div> text must not count as link chars")
  }

  test("mis-nested close of a drop tag restores dropDepth") {
    val r = HtmlExtractor.extract(
      s"""<div><aside>sidebar junk</div>$para""")
    assert(r.text.contains(expected.take(30)),
      s"text after recovered drop scope must survive, got: '${r.text}'")
  }

  test("stray close tags are no-ops") {
    val r = HtmlExtractor.extract(s"""</nav></a></div>$para""")
    assert(r.text == expected)
  }

  test("unterminated real <script> still drops its payload") {
    val r = HtmlExtractor.extract(s"""$para<script>var x = 1;""")
    assert(r.text == expected)
  }

  test("DOCTYPE, XML prolog and comments are consumed, not emitted") {
    val r = HtmlExtractor.extract(
      s"""<!DOCTYPE html><?xml version="1.0"?><!-- header comment with <p>tags</p> -->$para""")
    assert(r.text == expected)
  }

  test("processing instruction with '>' inside quoted data is fully consumed") {
    val r = HtmlExtractor.extract(
      s"""<?xml-stylesheet href="a>b.css" type="text/css"?>$para<?php if (1 > 0) ?>""")
    assert(r.text == expected, s"PI data leaked: '${r.text}'")
  }

  test("unterminated PI ends at the first '>' (bogus-comment semantics), not end-of-input") {
    val r = HtmlExtractor.extract(s"""<?php broken short tag >$para""")
    assert(r.text == expected, s"text after a stray '<?' must survive: '${r.text}'")
    // no '>' at all after the stray '<?': nothing to recover, consume silently
    val r2 = HtmlExtractor.extract(s"""$para<?php tail with no close""")
    assert(r2.text == expected)
  }

  test("numeric entity overflow and malformed entities degrade to literal text") {
    // &#x110000; is above Character.MAX_CODE_POINT; &#zz; is unparseable;
    // a '&' with no ';' within 10 chars is plain text — none may throw
    val r = HtmlExtractor.extract(
      "<p>a &#x110000; b &#zz; c & plain ampersand and body text padding</p>")
    assert(r.text.contains("a &") && r.text.contains("c & plain ampersand"))
    assert(r.failure.isEmpty)
  }

  test("'>' inside a quoted attribute value does not terminate the tag") {
    val r = HtmlExtractor.extract(
      s"""<div data-x="a > b" title='1 > 0'>$para</div>""")
    assert(r.text == expected, s"got: '${r.text}'")
  }

  test("unterminated comment drops the remainder without throwing") {
    val r = HtmlExtractor.extract(s"""$para<!-- never closed $para""")
    assert(r.text == expected)
  }

  test("truncation mid-tag consumes the fragment silently") {
    val r = HtmlExtractor.extract(s"""$para<div class="cut""")
    assert(r.text == expected)
  }

  test("multi-MB turn: single pass, O(depth) state, linear-ish time") {
    // north star: "streaming DOM tokenizer" must handle multi-MB turns
    // without materializing a DOM. An 8 MB tag-dense page of 40k blocks,
    // each a heading, a paragraph, a link and a one-cell table; the page
    // holds no ';' and no '?>', so every bare '&' and stray '<?' is a miss
    val blocks = 40000
    val sb = new StringBuilder("<html><body>")
    (0 until blocks).foreach { i =>
      sb.append(s"<div><h2>heading $i</h2><?php tag >" +
        s"<p>paragraph $i with R&D and enough characters to clear the minimum block length</p>" +
        s"<p>see <a href=\"/doc/$i\">doc $i</a></p><table><tr><td>cell $i</td></tr></table></div>")
    }
    sb.append("</body></html>")
    val html = sb.toString
    assert(html.length > 8_000_000)
    def timed[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      val sec = (System.nanoTime() - t0) / 1e9
      assert(sec < 10.0, f"$name: 8MB doc took $sec%.1f s — not streaming-linear")
      r
    }
    val r = timed("HtmlExtractor")(HtmlExtractor.extract(html))
    assert(r.spans.length == blocks)
    assert(r.text.startsWith("paragraph 0 with R&D"))
    val links = timed("HtmlLinkExtractor")(HtmlLinkExtractor.extract(html))
    assert(links.length == blocks && links.last.href == s"/doc/${blocks - 1}")
    val cells = timed("HtmlTableExtractor")(HtmlTableExtractor.extract(html))
    assert(cells.length == blocks && cells.last.text == s"cell ${blocks - 1}")
    val sections = timed("OutlineExtractor")(OutlineExtractor.extractHtml(html))
    assert(sections.length == blocks && sections.last.title == s"heading ${blocks - 1}")
  }

  test("pathological nesting depth does not blow the stack") {
    val depth = 200000
    val html = "<div>" * depth + "<p>deep but fine: enough characters to keep this block</p>"
    val r = HtmlExtractor.extract(html)
    assert(r.text.contains("deep but fine"))
  }
}
