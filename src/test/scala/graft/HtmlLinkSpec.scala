package graft

import graft.extract.HtmlLinkExtractor
import graft.extract.HtmlLinkExtractor.Link
import graft.synth.TableDocs
import org.scalatest.funsuite.AnyFunSuite

/** Local truths for the streaming HTML link extractor: each contract
  * clause pinned in isolation, then full golden equality against the
  * generator's by-construction links with planted-shape coverage asserts.
  */
class HtmlLinkSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionFixture.spark

  test("quoted, single-quoted and unquoted hrefs; anchor markup strips") {
    val links = HtmlLinkExtractor.extract(
      "<a href=\"/a\">one</a><a href='/b'><b>two</b> x</a><a href=/c>three</a>")
    assert(links == Seq(
      Link(0, "/a", "one"), Link(1, "/b", "two x"), Link(2, "/c", "three")))
    // declarations and processing instructions strip like any markup
    assert(HtmlLinkExtractor.extract("<a href=/x>A<!x>B<?php y ?>C</a>") ==
      Seq(Link(0, "/x", "ABC")))
  }

  test("entities decode in href values and anchor text") {
    val links = HtmlLinkExtractor.extract(
      "<a href=\"/p?a=1&amp;b=2\">x &amp; y</a>")
    assert(links == Seq(Link(0, "/p?a=1&b=2", "x & y")))
  }

  test("<a> without href is not a link; other attrs are skipped correctly") {
    val links = HtmlLinkExtractor.extract(
      "<a name=\"top\">anchor only</a>" +
        "<a class=\"btn\" data-x=\"href=/fake\" href=\"/real\" rel=nofollow>ok</a>")
    assert(links == Seq(Link(0, "/real", "ok")))
  }

  test("a new <a href> auto-closes the previous; EOF flushes an open link") {
    val links = HtmlLinkExtractor.extract(
      "<a href=\"/one\">first <a href=\"/two\">second</a><a href=\"/three\">tail")
    assert(links == Seq(
      Link(0, "/one", "first"), Link(1, "/two", "second"), Link(2, "/three", "tail")))
  }

  test("script/style bodies and comments never produce links") {
    val links = HtmlLinkExtractor.extract(
      "<script>var a = '<a href=\"/js\">no</a>';</script>" +
        "<!-- <a href=\"/comment\">no</a> --><a href=\"/yes\">yes</a>")
    assert(links == Seq(Link(0, "/yes", "yes")))
    // a self-closed <script/> has no body to skip
    assert(HtmlLinkExtractor.extract(
      "<a href=\"/a\">A</a><script src=\"y.js\"/><a href=\"/b\">B</a><h1>T</h1>") ==
      Seq(Link(0, "/a", "A"), Link(1, "/b", "B")))
  }

  test("malformed input never throws: truncation anywhere") {
    val doc = TableDocs.build(15L)._1 // id 15: rel link + dangling link
    for (cut <- 0 to doc.length by 3) HtmlLinkExtractor.extract(doc.take(cut))
    assert(HtmlLinkExtractor.extract("<a href=\"/x") == Seq())
    assert(HtmlLinkExtractor.extract("<a href=\"/x\">t&am") ==
      Seq(Link(0, "/x", "t&am")))
  }

  test("extractor equals the generator's by-construction links on the full corpus") {
    val n = 200L
    var sawUnquoted = false; var sawDangling = false; var sawHrefless = false
    (0L until n).foreach { id =>
      val (html, _, golden) = TableDocs.build(id)
      val got = HtmlLinkExtractor.extract(html).map(l =>
        TableDocs.GoldenLink(id, l.linkIdx, l.href, l.anchor))
      assert(got == golden, s"doc $id")
      if (id % 3 == 0) sawUnquoted = true
      if (id % 5 == 0) sawDangling = true
      if (id % 4 == 0) sawHrefless = true
      if (id % 4 == 0) assert(!got.exists(_.anchor == "not a link"),
        s"doc $id: href-less <a> must not be a link")
    }
    assert(sawUnquoted && sawDangling && sawHrefless,
      "planted corpus must exercise unquoted/dangling/href-less shapes")
  }

  test("q136 Spark path equals the distributed golden links") {
    import spark.implicits._
    val got = graft.ops.TableOps.links(spark, SparkEntry.VerifyTableDocs)
      .as[(Long, Long, String, String)].collect().sorted
    val want = TableDocs.goldenLinks(spark, SparkEntry.VerifyTableDocs)
      .as[TableDocs.GoldenLink].collect()
      .map(l => (l.doc_id, l.link_idx.toLong, l.href, l.anchor)).sorted
    assert(got.length == want.length && got.sameElements(want))
  }
}
