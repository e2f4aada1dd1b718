package graft

import graft.extract.OutlineExtractor
import graft.extract.OutlineExtractor.Section
import graft.synth.OutlineDocs
import org.scalatest.funsuite.AnyFunSuite

/** Local truths for the document-outline extractor: each contract clause
  * pinned in isolation, then full golden equality against the generator's
  * by-construction sections with planted-shape coverage asserts.
  */
class OutlineSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionFixture.spark

  test("html: markup strips, entities decode, whitespace collapses") {
    val s = OutlineExtractor.extractHtml(
      "<h1> Alpha &amp; <b>Beta</b> </h1><p>x</p><h2>One &#65;</h2>")
    assert(s == Seq(
      Section(0, 1, "Alpha & Beta", "Alpha & Beta"),
      Section(1, 2, "One A", "Alpha & Beta > One A")))
    // declarations and processing instructions strip like any markup
    assert(OutlineExtractor.extractHtml("<h1>A<?php y ?>B<!x>C</h1>") ==
      Seq(Section(0, 1, "ABC", "ABC")))
  }

  test("html: breadcrumb pops by LEVEL, not depth (h2 -> h4 -> h2)") {
    val s = OutlineExtractor.extractHtml(
      "<h1>a</h1><h2>b</h2><h4>c</h4><h2>d</h2><h3>e</h3>")
    assert(s.map(_.path) == Seq(
      "a", "a > b", "a > b > c", "a > d", "a > d > e"))
  }

  test("html: block tag and new heading auto-close; EOF flushes") {
    val s = OutlineExtractor.extractHtml(
      "<h2>open<p>not title</p><h3>next</h3></body></html><h3>tail")
    assert(s == Seq(
      Section(0, 2, "open", "open"),
      Section(1, 3, "next", "open > next"),
      Section(2, 3, "tail", "open > tail")))
  }

  test("html: script/style bodies and comments never produce headings") {
    val s = OutlineExtractor.extractHtml(
      "<script>var a = '<h1>no</h1>';</script><style>h1{}</style>" +
        "<!-- <h2>no</h2> --><h1>yes</h1>")
    assert(s == Seq(Section(0, 1, "yes", "yes")))
    // a self-closed <script/> has no body to skip
    assert(OutlineExtractor.extractHtml(
      "<a href=\"/a\">A</a><script src=\"y.js\"/><a href=\"/b\">B</a><h1>T</h1>") ==
      Seq(Section(0, 1, "T", "T")))
  }

  test("md: ATX levels, trailing closing hashes, emphasis strip") {
    val s = OutlineExtractor.extractMd(
      "# a\n## b **c** ##\nprose\n### `d` e")
    assert(s == Seq(
      Section(0, 1, "a", "a"),
      Section(1, 2, "b c", "a > b c"),
      Section(2, 3, "d e", "a > b c > d e")))
  }

  test("md: #x, 7+ hashes, and fenced literals stay prose; empty titles drop") {
    val s = OutlineExtractor.extractMd(
      "#nope\n####### seven\n```\n## fenced\n```\n~~~\n# tilde fenced\n~~~\n##\n# real")
    assert(s == Seq(Section(0, 1, "real", "real")))
  }

  test("malformed input never throws: truncation anywhere") {
    for (id <- Seq(0L, 1L, 6L, 30L, 40L, 3L, 9L, 11L)) {
      val (kind, text, _) = OutlineDocs.build(id)
      for (cut <- 0 to text.length by 3)
        OutlineExtractor.extract(kind, text.take(cut))
    }
    assert(OutlineExtractor.extractHtml("<h2 class=\"x") == Seq())
    assert(OutlineExtractor.extractHtml("<h2>t&am") == Seq(Section(0, 2, "t&am", "t&am")))
  }

  test("extractor equals the generator's by-construction sections on the full corpus") {
    val n = 240L
    var sawSkip = false; var sawUnclosedBlock = false; var sawEofFlush = false
    var sawNotHeading = false; var sawSevenHash = false
    (0L until n).foreach { id =>
      val (kind, text, golden) = OutlineDocs.build(id)
      val got = OutlineExtractor.extract(kind, text).map(s =>
        OutlineDocs.GoldenSection(id, s.sectionIdx, s.level, s.title, s.path))
      assert(got == golden, s"doc $id ($kind)")
      if (id % 6 == 0 || id % 6 == 3) sawSkip = true
      if (id % 10 == 0 && id % 2 == 0) sawUnclosedBlock = true
      if (id % 8 == 0 && id % 2 == 0) sawEofFlush = true
      if (id % 6 == 1) sawNotHeading = true
      if (id % 6 == 5) sawSevenHash = true
    }
    assert(sawSkip && sawUnclosedBlock && sawEofFlush && sawNotHeading && sawSevenHash,
      "planted corpus must exercise skip-level/unclosed/EOF/prose shapes")
  }

  test("extractMdBodies: bodies attach verbatim; preamble drops; rejected ATX is body") {
    val got = OutlineExtractor.extractMdBodies(
      "preamble line\n# a\nbody 1\n```\n## fenced\n```\n##\n## b\n#notahead\ntail")
    assert(got.map(s => (s.title, s.body)) == Seq(
      ("a", "body 1\n```\n## fenced\n```\n##"),
      ("b", "#notahead\ntail")))
    assert(got.map(_.path) == Seq("a", "a > b"))
    assert(OutlineExtractor.extractMdBodies("no headings at all") == Seq())
  }

  test("extractMdBodies equals the generator's by-construction bodies on the full corpus") {
    var sawNonEmpty = false
    (0L until 240L).foreach { id =>
      val (kind, text, _) = OutlineDocs.build(id)
      val wantBodies = OutlineDocs.buildBodies(id)
      if (kind == "markdown") {
        val got = OutlineExtractor.extractMdBodies(text).map(s =>
          OutlineDocs.GoldenSectionBody(id, s.sectionIdx, s.path, s.body))
        assert(got == wantBodies, s"doc $id")
        if (got.exists(_.body.nonEmpty)) sawNonEmpty = true
      } else assert(wantBodies.isEmpty)
    }
    assert(sawNonEmpty)
  }

  test("sectionChunks: windows cover every body token in order, keyed by path") {
    import spark.implicits._
    val k = graft.ops.TableOps.SectionChunkTokens
    val got = graft.ops.TableOps.sectionChunks(spark, 40L)
      .as[(Long, Long, String, Long, String)].collect()
      .groupBy(r => (r._1, r._2)).view
      .mapValues(_.sortBy(_._4).map(_._5)).toMap
    var sawMulti = false
    (1L until 40L by 2).foreach { id =>
      OutlineDocs.buildBodies(id).foreach { sb =>
        val toks = sb.body.split("\\s+").filter(_.nonEmpty)
        val wantChunks = toks.grouped(k).map(_.mkString(" ")).toSeq
        val gotChunks = got.getOrElse((id, sb.section_idx.toLong), Array.empty[String]).toSeq
        assert(gotChunks == wantChunks, s"doc $id sec ${sb.section_idx}")
        if (wantChunks.length > 1) sawMulti = true
        // reassembled chunks equal the token stream exactly
        assert(gotChunks.flatMap(_.split(" ")).filter(_.nonEmpty).toSeq == toks.toSeq)
      }
    }
    assert(sawMulti, "corpus must contain multi-chunk sections")
  }

  test("q137/q138 Spark path equals the distributed golden sections") {
    import spark.implicits._
    val got = graft.ops.TableOps.sections(spark, SparkEntry.VerifyOutlineDocs)
      .as[(Long, Long, Long, String, String)].collect().sorted
    val want = OutlineDocs.goldenSections(spark, SparkEntry.VerifyOutlineDocs)
      .as[OutlineDocs.GoldenSection].collect()
      .map(g => (g.doc_id, g.section_idx.toLong, g.level.toLong, g.title, g.path))
      .sorted
    assert(got.toSeq == want.toSeq)
  }
}
