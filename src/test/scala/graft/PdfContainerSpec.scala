package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.extract.{PdfContainerExtractor, PdfContentParser}
import graft.synth.PdfDocs

/** Local truths for the real-PDF container path: byte-level round trips
  * against the generator's by-construction goldens, operator-surface
  * coverage, and truncation/corruption fuzz (the parser must NEVER
  * throw — every malformation is a failure class).
  */
class PdfContainerSpec extends AnyFunSuite {

  test("300-doc round trip: container bytes reproduce the golden reading order exactly") {
    (0L until 300L).foreach { id =>
      val got = PdfContainerExtractor.extract(PdfDocs.pdf(id))
      assert(got.failure.isEmpty, s"doc $id failed: ${got.failure}")
      assert(got.text == PdfDocs.goldenText(id), s"doc $id text mismatch")
      val p = PdfDocs.plan(id)
      assert(got.spans.length == p.length, s"doc $id span count")
    }
  }

  test("the corpus genuinely exercises every positioning mode and escape form") {
    val all = (0L until 300L).map(PdfDocs.pdf).mkString
    for (tok <- Seq(" Tm ", " Td ", " TJ", " TL ", " '", "\\(", "\\\\")) {
      assert(all.contains(tok), s"operator surface missing $tok")
    }
    // octal escapes: \ followed by three octal digits
    assert("\\\\[0-7]{3}".r.findFirstIn(all).isDefined, "no octal escape planted")
    // hex strings (not dict markers): <hex...> with even-ish digit runs
    assert("<[0-9a-f]{6,}>".r.findFirstIn(all).isDefined, "no hex string planted")
    // two-stream pages and an intermediate /Pages node exist
    assert(all.contains("/Contents ["), "no multi-stream page planted")
    assert((0L until 300L).exists(id =>
      "/Type /Pages".r.findAllIn(PdfDocs.pdf(id)).size >= 2),
      "no nested page tree planted")
    // multi-page docs and two-column pages exist
    assert((0L until 300L).exists(id => PdfDocs.plan(id).map(_.page).max >= 2))
    assert((0L until 300L).exists(id => PdfDocs.plan(id).exists(_.col == 1)))
    // same-y split runs exist (the x tie-break is live)
    assert((0L until 300L).exists { id =>
      PdfDocs.plan(id).groupBy(r => (r.page, r.yPdf)).exists(_._2.size > 1)
    })
  }

  test("cross-producer twins: different bytes, identical extraction — dedup can collapse them") {
    (0L until 300L by 5).foreach { id =>
      val a = PdfDocs.pdf(id); val b = PdfDocs.twinPdf(id)
      assert(a != b, s"twin container bytes for $id must differ")
      val ea = PdfContainerExtractor.extract(a)
      val eb = PdfContainerExtractor.extract(b)
      assert(ea.failure.isEmpty && eb.failure.isEmpty, s"twin parse $id")
      assert(ea.text == eb.text && ea.text == PdfDocs.goldenText(id), s"twin text $id")
    }
  }

  test("q193 dedup: two corrupt containers and one good document form three groups") {
    val spark = SparkSessionFixture.spark
    import spark.implicits._
    val bytes = (s: String) => s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val docs = Seq(
      1L -> bytes("not a pdf"), 2L -> bytes("also not a pdf"), 3L -> bytes(PdfDocs.pdf(3L))
    ).toDF("doc_id", "pdf")
    val groups = SparkEntry.pdfProducerDedup(docs)
      .select($"keep_id", $"n_copies").as[(Long, Long)].collect().sorted.toSeq
    assert(groups == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("truncation fuzz: every prefix parses to a failure class or a clean result, never throws") {
    (0L until 20L).foreach { id =>
      val pdf = PdfDocs.pdf(id)
      var i = 1
      while (i < pdf.length) {
        val got = PdfContainerExtractor.extract(pdf.substring(0, i)) // must not throw
        assert(got.failure.isDefined || got.text.nonEmpty || got.text.isEmpty)
        i += (pdf.length / 97).max(1)
      }
    }
  }

  test("targeted corruption maps to the documented failure classes") {
    val pdf = PdfDocs.pdf(7L)
    assert(PdfContainerExtractor.extract("not a pdf").failure.contains("pdf_header"))
    assert(PdfContainerExtractor.extract("%PDF-1.4\njunk").failure.contains("pdf_object"))
    assert(PdfContainerExtractor.extract(pdf.replace("/Root 1 0 R", "/Boot 1 0 R"))
      .failure.contains("pdf_trailer"))
    assert(PdfContainerExtractor.extract(pdf.replaceFirst("endstream", ""))
      .failure.isDefined)
    // an unterminated string literal inside a content stream
    val brokenStr = pdf.replaceFirst("\\) Tj", " Tj")
    assert(PdfContainerExtractor.extract(brokenStr).failure.isDefined)
    // a /Filter'd stream is refused, never mis-parsed
    assert(PdfContainerExtractor.extract(
      pdf.replaceFirst("<< /Length", "<< /Filter /FlateDecode /Length"))
      .failure.contains("pdf_filter"))
    // a damaged xref does NOT break parsing (sequential object scan)
    assert(PdfContainerExtractor.extract(
      pdf.replaceFirst("startxref\n\\d+", "startxref\n0"))
      .failure.isEmpty)
  }

  test("page-tree cycle and dangling refs fail cleanly, never loop or throw") {
    // a Pages node whose Kids include itself: the visited-set guard must
    // fail with pdf_pages instead of recursing forever
    val cyclic =
      """%PDF-1.4
        |1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj
        |2 0 obj << /Type /Pages /Kids [2 0 R] /Count 1 >> endobj
        |trailer << /Size 3 /Root 1 0 R >>
        |%%EOF""".stripMargin
    assert(PdfContainerExtractor.extract(cyclic).failure.contains("pdf_pages"))
    // a /Contents array pointing at an object that does not exist
    val dangling =
      """%PDF-1.4
        |1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj
        |2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj
        |3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents [9 0 R] >> endobj
        |trailer << /Size 4 /Root 1 0 R >>
        |%%EOF""".stripMargin
    assert(PdfContainerExtractor.extract(dangling).failure.contains("pdf_stream"))
  }

  test("a 20,000-deep chain of /Pages nodes extracts its one page, independent of stack size") {
    // objects 2..depth+1 are /Pages nodes, each the only kid of the one
    // before; the last one holds the page, which draws "(hello)"
    val depth = 20000
    val page = depth + 2
    val sb = new StringBuilder("%PDF-1.4\n1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    for (n <- 2 to depth + 1)
      sb ++= s"$n 0 obj << /Type /Pages /Kids [${n + 1} 0 R] /Count 1 >> endobj\n"
    val content = "BT /F1 12 Tf 72 700 Td (hello) Tj ET"
    sb ++= s"$page 0 obj << /Type /Page /MediaBox [0 0 612 792] /Contents ${page + 1} 0 R >> endobj\n"
    sb ++= s"${page + 1} 0 obj << /Length ${content.length} >>\nstream\n$content\nendstream\nendobj\n"
    sb ++= s"trailer << /Size ${page + 2} /Root 1 0 R >>\n%%EOF"
    val got = PdfContainerExtractor.extract(sb.toString)
    assert(got.failure.isEmpty, s"failed with ${got.failure}")
    assert(got.text == "hello")
  }

  test("stream-less objects scan in linear time: 80k of them before the first stream") {
    // each stream-less object used to search the rest of the file for
    // "stream": quadratic in the object count
    val doc = PdfDocs.pdf(0L)
    val headerEnd = doc.indexOf('\n') + 1
    val filler = (0 until 80000).map(i => s"${1000000 + i} 0 obj\n<< /Filler $i >>\nendobj\n").mkString
    val padded = doc.substring(0, headerEnd) + filler + doc.substring(headerEnd)
    PdfContainerExtractor.extract(doc) // warm-up
    val t0 = System.nanoTime()
    val got = PdfContainerExtractor.extract(padded)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(got.failure.isEmpty && got.text == PdfDocs.goldenText(0L), "filler objects changed the output")
    assert(secs < 2.0, f"${padded.length} bytes of stream-less objects took $secs%.2f s")
  }

  test("string-literal decoder: nesting, escapes, octal, continuation") {
    def p(s: String) = PdfContentParser.parseString(s, 0)
    assert(p("abc)").contains(("abc", 4)))
    assert(p("a(b)c)x").contains(("a(b)c", 6)))
    assert(p("a\\(b\\)c)").contains(("a(b)c", 8)))
    assert(p("a\\\\b)").contains(("a\\b", 5)))
    assert(p("\\101bc)").contains(("Abc", 7)))
    assert(p("a\\nb)").contains(("a\nb", 5)))
    assert(p("a\\\nb)").contains(("ab", 5))) // line continuation
    assert(p("unterminated").isEmpty)
  }
}
