package graft.synth

import DocDraw.word
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic synthetic heading corpus for the document-outline
  * extraction operator (q137/q138) — HTML `<h1>`-`<h6>` docs on even ids,
  * markdown ATX docs on odd ids. The builder writes each document's text
  * AND its expected sections in one pass from the same draws (the
  * q28/q121/q133 trust model); breadcrumb paths are written LITERALLY at
  * plant time (the generator never runs a stack), so the q138 oracle's
  * recursive-CTE re-derivation from (level, title) order is a third,
  * independent derivation.
  *
  * Planted surface:
  *  - titles with entities (`&amp;`, `&#65;`) and inline markup (`<b>`)
  *    to strip (HTML), emphasis markers and trailing closing hashes
  *    (markdown)
  *  - a fake `<h1>` inside `<script>` / a fake `##` inside a code fence
  *  - skipped levels (h2 → h4) every 6th doc — the stack must pop by
  *    LEVEL, not by depth
  *  - an UNCLOSED `<h2>` flushed by the next block tag (every 10th even
  *    doc) and an unclosed `<h3>` at document EOF (every 8th even doc)
  *  - `#notaheading` (no space) and 7-hash lines that must stay prose
  */
object OutlineDocs {

  final case class GoldenSection(
      doc_id: Long, section_idx: Int, level: Int, title: String, path: String)

  private val vocab = Array(
    "alpha", "beta", "gamma", "delta", "epsilon", "zeta",
    "eta", "theta", "iota", "kappa", "lambda", "sigma")

  /** Pure builder: (kind, text, expected sections). */
  def build(id: Long): (String, String, Seq[GoldenSection]) =
    if (id % 2 == 0) buildHtml(id)
    else { val (k, t, g, _, _) = buildMd(id); (k, t, g) }

  private def buildHtml(id: Long): (String, String, Seq[GoldenSection]) = {
    val out = scala.collection.mutable.ArrayBuffer.empty[GoldenSection]
    def sec(level: Int, title: String, path: String): Unit =
      out += GoldenSection(id, out.length, level, title, path)
    val t1 = word(vocab, id, 0x01); val t2 = word(vocab, id, 0x02)
    val t3 = word(vocab, id, 0x03); val t4 = word(vocab, id, 0x04)
    val t5 = word(vocab, id, 0x05); val t6 = word(vocab, id, 0x06); val t7 = word(vocab, id, 0x07)
    val sb = new StringBuilder
    sb ++= "<html><head><script>var s = \"<h1>fake</h1>\";</script>"
    sb ++= "<style>h1 { color: red; }</style></head><body>"
    sb ++= "<nav><a href=\"/home\">home</a></nav>"
    val h1 = s"$t1 & $t2"
    sb ++= s"<h1> $t1 &amp; <b>$t2</b> </h1>"
    sec(1, h1, h1)
    sb ++= s"<p>intro ${word(vocab, id, 0x11)} paragraph</p>"
    val h2a = s"$t3 $t4"
    sb ++= s"<h2>$t3 $t4</h2><p>body text</p>"
    sec(2, h2a, s"$h1 > $h2a")
    if (id % 6 == 0) { // skipped level: h4 directly under h2
      sb ++= s"<h4>$t5</h4>"
      sec(4, t5, s"$h1 > $h2a > $t5")
    } else {
      val h3 = s"$t5 A" // &#65; decodes to 'A'
      sb ++= s"<h3>$t5 &#65;</h3>"
      sec(3, h3, s"$h1 > $h2a > $h3")
    }
    sb ++= s"<p>more ${word(vocab, id, 0x12)} prose</p>"
    if (id % 10 == 0) { // unclosed h2: flushed by the next block tag
      sb ++= s"<h2>$t6<p>after paragraph</p>"
      sec(2, t6, s"$h1 > $t6")
    } else {
      sb ++= s"<h2>$t6</h2>"
      sec(2, t6, s"$h1 > $t6")
    }
    sb ++= "<p>tail paragraph</p></body></html>"
    if (id % 8 == 0) { // unclosed h3 at document EOF
      sb ++= s"<h3>$t7"
      sec(3, t7, s"$h1 > $t6 > $t7")
    }
    ("html", sb.toString, out.toSeq)
  }

  final case class GoldenSectionBody(
      doc_id: Long, section_idx: Int, path: String, body: String)

  final case class GoldenMdLink(
      doc_id: Long, link_idx: Int, href: String, anchor: String)

  private def buildMd(id: Long)
      : (String, String, Seq[GoldenSection], Seq[GoldenSectionBody], Seq[GoldenMdLink]) = {
    val out = scala.collection.mutable.ArrayBuffer.empty[GoldenSection]
    val bodies = scala.collection.mutable.ArrayBuffer.empty[scala.collection.mutable.ArrayBuffer[String]]
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    def sec(level: Int, title: String, path: String): Unit = {
      out += GoldenSection(id, out.length, level, title, path)
      bodies += scala.collection.mutable.ArrayBuffer.empty[String]
    }
    // a non-heading line: part of the raw text AND of the open section's
    // body (pre-first-heading lines belong to no section)
    def body(l: String): Unit = {
      lines += l
      if (bodies.nonEmpty) bodies.last += l
    }
    val t1 = word(vocab, id, 0x21); val t2 = word(vocab, id, 0x22)
    val t3 = word(vocab, id, 0x23); val t4 = word(vocab, id, 0x24)
    val t5 = word(vocab, id, 0x25); val t6 = word(vocab, id, 0x26)
    val links = scala.collection.mutable.ArrayBuffer.empty[GoldenMdLink]
    def link(href: String, anchor: String): Unit =
      links += GoldenMdLink(id, links.length, href, anchor)
    body(s"intro prose ${word(vocab, id, 0x31)} line")
    val h1 = s"$t1 $t2"
    lines += s"# $t1 $t2"
    sec(1, h1, h1)
    body("```")
    body("## fake heading inside fence")
    body("[fenced](https://fence.example/no) is not a link")
    body("```")
    val lw = word(vocab, id, 0x33)
    body(s"see [$lw docs](https://docs${id % 5}.example/page/$id) here")
    link(s"https://docs${id % 5}.example/page/$id", s"$lw docs")
    val h2a = s"$t3 $t4"
    lines += s"## $t3 **$t4**"
    sec(2, h2a, s"$h1 > $h2a")
    if (id % 6 == 1) {
      body("#notaheading prose stays prose")
      body("\\[escaped](https://esc.example/no) stays prose")
    }
    if (id % 6 == 3) { // skipped level: #### directly under ##
      lines += s"#### $t5"
      sec(4, t5, s"$h1 > $h2a > $t5")
      body(s"code `[no](https://skip.example)` then [ok $lw](https://ok.example/$id)")
      link(s"https://ok.example/$id", s"ok $lw")
    } else {
      lines += s"### $t5 ##" // trailing closing hashes strip
      sec(3, t5, s"$h1 > $h2a > $t5")
    }
    if (id % 6 == 5) body("####### seven hashes is prose")
    body(s"![diagram](/img/$id.png) and [**$t5** rel](/rel/$id)")
    link(s"/rel/$id", s"$t5 rel")
    body(s"body prose ${word(vocab, id, 0x32)}")
    lines += s"## $t6"
    sec(2, t6, s"$h1 > $t6")
    body("tail prose")
    val goldenBodies = out.toSeq.zip(bodies).map { case (g, b) =>
      GoldenSectionBody(id, g.section_idx, g.path, b.mkString("\n"))
    }
    ("markdown", lines.mkString("\n"), out.toSeq, goldenBodies, links.toSeq)
  }

  /** Markdown golden bodies by construction (empty for HTML docs). */
  def buildBodies(id: Long): Seq[GoldenSectionBody] =
    if (id % 2 == 0) Seq.empty else buildMd(id)._4

  /** Markdown golden links by construction (empty for HTML docs). */
  def buildLinks(id: Long): Seq[GoldenMdLink] =
    if (id % 2 == 0) Seq.empty else buildMd(id)._5

  /** Distributed raw table: (doc_id, kind, text). */
  def docs(spark: SparkSession, nDocs: Long): DataFrame = {
    import spark.implicits._
    spark.range(nDocs)
      .map { id => val (k, t, _) = build(id); (id, k, t) }
      .toDF("doc_id", "kind", "text")
  }

  /** Distributed golden sections (for the Verify materialization). */
  def goldenSections(spark: SparkSession, nDocs: Long): DataFrame = {
    import spark.implicits._
    spark.range(nDocs).flatMap(id => build(id)._3).toDF()
  }

  /** Distributed golden markdown section bodies (q150 oracle). */
  def goldenBodies(spark: SparkSession, nDocs: Long): DataFrame = {
    import spark.implicits._
    spark.range(nDocs).flatMap(id => buildBodies(id)).toDF()
  }

  /** Distributed golden markdown links (q151 oracle). */
  def goldenMdLinks(spark: SparkSession, nDocs: Long): DataFrame = {
    import spark.implicits._
    spark.range(nDocs).flatMap(id => buildLinks(id)).toDF()
  }
}
