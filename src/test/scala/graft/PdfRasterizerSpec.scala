package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.extract.{PdfContentParser, PdfRasterizer}
import graft.synth.PdfDocs

/** Local truths for the S2/S3 rasterization path: ink statistics against
  * an independent analytic recompute from the layout plan (never from
  * the raster), the reference's 600/300 dpi scale factors, and the PNG
  * codec round trip at the raster level.
  */
class PdfRasterizerSpec extends AnyFunSuite {

  /** Driver-side analytic ink: distinct lit POINTS from the plan +
    * glyphs, clipped in point space (dedup = the compositing).
    */
  private def litPoints(id: Long): Set[(Int, Int, Int)] = {
    val pts = scala.collection.mutable.Set.empty[(Int, Int, Int)] // (page, x, y)
    PdfDocs.plan(id).foreach { r =>
      val yTop = PdfDocs.PageH - r.yPdf
      r.text.zipWithIndex.foreach { case (ch, ci) =>
        if (ch >= 33 && ch <= 126) {
          val bits = PdfRasterizer.glyphBits(ch - 33)
          (0 until 35).foreach { b =>
            if (((bits >> b) & 1L) == 1L) {
              val x = r.x + PdfRasterizer.CellW * ci + b % 5
              val y = yTop + b / 5
              if (x >= 0 && x < PdfRasterizer.PageWPt && y >= 0 && y < PdfDocs.PageH)
                pts += ((r.page, x, y))
            }
          }
        }
      }
    }
    pts.toSet
  }

  private def parsed(id: Long) =
    PdfContentParser.parse(PdfDocs.pdf(id)).fold(
      e => fail(s"doc $id failed to parse: $e"), identity)

  test("dpi 72 ink equals the analytic point set (count and placement checksum)") {
    (0L until 40L).foreach { id =>
      val pages = PdfRasterizer.rasterize(parsed(id), dpi = 72)
      val want = litPoints(id).groupBy(_._1)
      pages.foreach { pb =>
        val (ink, pos) = PdfRasterizer.inkStats(pb)
        val pts = want.getOrElse(pb.page, Set.empty)
        assert(ink == pts.size.toLong, s"doc $id page ${pb.page} ink")
        assert(pos == pts.iterator.map { case (_, x, y) => (x + y * pb.width).toLong }.sum,
          s"doc $id page ${pb.page} placement")
      }
    }
  }

  // q195's oracle derives rows only from lit pixels, while the engine
  // emits one row per rasterized page: the two agree only while every
  // page of the verify corpus carries ink
  test("every page of the verify corpus rasterizes with ink (the q195 engine/oracle coupling)") {
    (0L until SparkEntry.VerifyPdfDocs).foreach { id =>
      val doc = parsed(id)
      val pages = PdfRasterizer.rasterize(doc, dpi = 72)
      assert(pages.map(_.page) == doc.pageHeights.indices, s"doc $id page set")
      pages.foreach { pb =>
        assert(PdfRasterizer.inkStats(pb)._1 > 0, s"doc $id page ${pb.page} has no ink")
      }
    }
  }

  test("reference dpi factors: 600 and 300 scale exactly by the floor-div span rule") {
    def spanInk(id: Long, dpi: Int): Map[Int, Long] =
      litPoints(id).groupBy(_._1).map { case (page, pts) =>
        page -> pts.iterator.map { case (_, x, y) =>
          ((x + 1) * dpi / 72 - x * dpi / 72).toLong *
            ((y + 1) * dpi / 72 - y * dpi / 72)
        }.sum
      }
    (0L until 10L).foreach { id =>
      for (dpi <- Seq(600, 300)) {
        val pages = PdfRasterizer.rasterize(parsed(id), dpi)
        assert(pages.head.width == 612 * dpi / 72 && pages.head.height == 792 * dpi / 72)
        val want = spanInk(id, dpi)
        pages.foreach { pb =>
          val (ink, _) = PdfRasterizer.inkStats(pb)
          assert(ink == want.getOrElse(pb.page, 0L), s"doc $id dpi $dpi page ${pb.page}")
        }
      }
      // sanity: the scale factors land where (dpi/72)^2 says they should
      val i72 = PdfRasterizer.rasterize(parsed(id), 72).map(PdfRasterizer.inkStats(_)._1).sum
      val i600 = PdfRasterizer.rasterize(parsed(id), 600).map(PdfRasterizer.inkStats(_)._1).sum
      assert(i600 >= 64 * i72 && i600 <= 82 * i72, s"doc $id 600-dpi scale factor")
    }
  }

  test("S3's JPG leg: dpi-300 raster survives a real lossy JPEG round trip within tolerance") {
    // the reference's signature path writes JPGs at dpi 300; JPEG is
    // codec-version-defined on hard edges (the q98 policy), so the
    // claims here are dimensional exactness + a bounded luma drift, not
    // byte equality
    val pb = PdfRasterizer.rasterize(parsed(5L), 300).head
    assert(pb.width == 612 * 300 / 72 && pb.height == 792 * 300 / 72)
    val img = new java.awt.image.BufferedImage(
      pb.width, pb.height, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    img.getRaster.setDataElements(0, 0, pb.width, pb.height, pb.pixels)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", bos))
    val dec = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bos.toByteArray))
    assert(dec.getWidth == pb.width && dec.getHeight == pb.height)
    val out = new Array[Byte](pb.width * pb.height)
    dec.getRaster.getDataElements(0, 0, pb.width, pb.height, out)
    def meanLuma(a: Array[Byte]): Double =
      a.foldLeft(0L)((acc, b) => acc + (b & 0xff)).toDouble / a.length
    val (orig, got) = (meanLuma(pb.pixels), meanLuma(out))
    assert(orig > 0, "page must contain ink")
    assert(math.abs(got - orig) <= 0.15 * orig + 1.0,
      s"JPEG mean-luma drift: $orig -> $got")
  }

  test("PNG round trip preserves the raster byte-for-byte") {
    val pb = PdfRasterizer.rasterize(parsed(3L), 72).head
    val img = new java.awt.image.BufferedImage(
      pb.width, pb.height, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    img.getRaster.setDataElements(0, 0, pb.width, pb.height, pb.pixels)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos))
    val dec = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bos.toByteArray))
    val out = new Array[Byte](pb.width * pb.height)
    dec.getRaster.getDataElements(0, 0, pb.width, pb.height, out)
    assert(java.util.Arrays.equals(out, pb.pixels))
    val (ink, _) = PdfRasterizer.inkStats(pb)
    assert(ink > 0, "the rasterized page must actually contain ink")
  }
}
