package graft

import graft.ops.WebOps
import graft.synth.WebDocs
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Local-truth tests for the web-corpus curation operators: handcrafted
  * repetition expectations (incl. the count-tie lexicographic break), a
  * java.util.regex recomputation of the PII redaction over the planted
  * corpus, URL host-normalization merges, and generator determinism.
  */
class WebOpsSpec extends AnyFunSuite with SparkSessionFixture.TempDirs {
  private lazy val spark = SparkSessionFixture.spark
  import spark.implicits._

  private def repStats(docs: Seq[(Long, String)]): Map[Long, Row] = {
    val dir = tempDir("webops").toString
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    WebOps.repetitionStats(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
  }

  test("repetitionStats: handcrafted duplicate-word and top-bigram fractions") {
    val m = repStats(Seq(1L -> "a b a b c", 2L -> "solo", 3L -> "x y z"))
    // doc 1: 5 words, 3 distinct -> dup = 10000*2/5; bigrams [a b, b a, a b, b c]
    // top = "a b" x2; word chars = 5; covered chars per occurrence = 2
    val r1 = m(1L)
    assert(r1.getLong(r1.fieldIndex("n_words")) == 5L)
    assert(r1.getLong(r1.fieldIndex("dup_word_frac_x10000")) == 4000L)
    assert(r1.getString(r1.fieldIndex("top_bigram")) == "a b")
    assert(r1.getLong(r1.fieldIndex("top_bigram_count")) == 2L)
    assert(r1.getLong(r1.fieldIndex("top_bigram_char_frac_x10000")) == 8000L)
    assert(!r1.getBoolean(r1.fieldIndex("keep"))) // top-bigram gate trips
    // doc 2: single word -> no bigrams, zero fractions, keep
    val r2 = m(2L)
    assert(r2.getLong(r2.fieldIndex("dup_word_frac_x10000")) == 0L)
    assert(r2.getString(r2.fieldIndex("top_bigram")) == "")
    assert(r2.getLong(r2.fieldIndex("top_bigram_count")) == 0L)
    assert(r2.getBoolean(r2.fieldIndex("keep")))
    // doc 3: all distinct; top bigram is a 1-count tie -> smallest wins
    val r3 = m(3L)
    assert(r3.getLong(r3.fieldIndex("dup_word_frac_x10000")) == 0L)
    assert(r3.getString(r3.fieldIndex("top_bigram")) == "x y")
  }

  test("repetitionStats: count ties break to the lexicographically smallest bigram") {
    // bigrams: "x y" x2, "y q" x2, "q r" x2, "r x" x1 -> tie, "q r" smallest
    val m = repStats(Seq(9L -> "x y q r x y q r"))
    val r = m(9L)
    assert(r.getLong(r.fieldIndex("top_bigram_count")) == 2L)
    assert(r.getString(r.fieldIndex("top_bigram")) == "q r")
  }

  test("repetitionStats matches a brute-force recompute over 60 seeded random docs") {
    import graft.text.TextAlgos.mix64
    val vocabArr = Array("aa", "bb", "cc", "d", "eee", "ff")
    val docs = (0L until 60L).map { id =>
      val n = 1 + Math.floorMod(mix64(id * 31 + 7), 40L).toInt
      id -> (0 until n)
        .map(i => vocabArr(Math.floorMod(mix64(id * 131 + i), vocabArr.length.toLong).toInt))
        .mkString(" ")
    }
    val got = repStats(docs)
    docs.foreach { case (id, text) =>
      val words = text.trim.split("\\s+").toSeq
      val dupFrac = (words.size - words.distinct.size).toLong * 10000 / words.size
      val bigrams = words.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
      val (topGram, topCnt) =
        if (bigrams.isEmpty) ("", 0L)
        else {
          val byCnt = bigrams.groupBy(identity).map { case (g, o) => (g, o.size.toLong) }
          val maxC = byCnt.values.max
          (byCnt.filter(_._2 == maxC).keys.min, maxC)
        }
      val wordChars = words.map(_.length.toLong).sum
      val topFrac =
        if (wordChars == 0 || topCnt == 0) 0L
        else topCnt * (topGram.length - 1) * 10000 / wordChars
      val r = got(id)
      assert(r.getLong(r.fieldIndex("dup_word_frac_x10000")) == dupFrac, s"doc $id dup")
      assert(r.getString(r.fieldIndex("top_bigram")) == topGram, s"doc $id gram")
      assert(r.getLong(r.fieldIndex("top_bigram_count")) == topCnt, s"doc $id cnt")
      assert(r.getLong(r.fieldIndex("top_bigram_char_frac_x10000")) == topFrac, s"doc $id frac")
    }
  }

  test("piiRedact matches a java.util.regex local recomputation over the planted corpus") {
    val n = 60L
    val got = WebOps.piiRedact(WebDocs.docs(spark, n)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got.size == n)
    var sawEmail, sawPhoneA, sawPhoneB = false
    (0L until n).foreach { id =>
      val t = WebDocs.text(id)
      val emails = WebOps.EmailRe.r.findAllIn(t).size
      val phones = WebOps.PhoneRe.r.findAllIn(t).size
      val redacted = t.replaceAll(WebOps.EmailRe, "<EMAIL>")
        .replaceAll(WebOps.PhoneRe, "<PHONE>")
      val sha = java.security.MessageDigest.getInstance("SHA-256")
        .digest(redacted.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(got(id) == ((emails.toLong, phones.toLong, sha)), s"doc $id")
      // redaction is complete: no residual matches
      assert(WebOps.EmailRe.r.findFirstIn(redacted).isEmpty)
      assert(WebOps.PhoneRe.r.findFirstIn(redacted).isEmpty)
      sawEmail |= emails > 0; sawPhoneA |= t.contains("+1 "); sawPhoneB |= t.contains("tel (")
    }
    assert(sawEmail && sawPhoneA && sawPhoneB) // corpus actually plants all shapes
  }

  test("dupSpanStats counts cross-doc shared 5-grams, distinct within doc, zero under k words") {
    val dir = tempDir("dupspan").toString
    Seq(
      1L -> "a b c d e f", // grams: "a b c d e", "b c d e f"
      2L -> "a b c d e x", // shares "a b c d e" with doc 1
      3L -> "z z z z", // < 5 words: no spans
      4L -> "q w e r t y q w e r t y") // internal repeat dedupes within the doc
      .toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = WebOps.dupSpanStats(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == ((2L, 1L, 5000L)))
    assert(got(2L) == ((2L, 1L, 5000L)))
    assert(got(3L) == ((0L, 0L, 0L)))
    assert(got(4L) == ((6L, 0L, 0L))) // 8 positions, 6 distinct grams, none shared
  }

  test("dupSpanStats is non-vacuous on the sf corpus (planted near-dups share spans)") {
    val df = WebOps.dupSpanStats(spark, "/root/testdata/sf0.001")
    assert(df.filter(org.apache.spark.sql.functions.col("n_dup_grams") > 0).count() > 0)
  }

  test("removeDupSpans: handcrafted first-occurrence-wins removal with position masks") {
    val dir = tempDir("remspan").toString
    Seq(
      1L -> "a b c d e f", // keeper of "a b c d e" (doc 1 < doc 2)
      2L -> "a b c d e x", // loses "a b c d e": tokens 1-5 masked, keeps "x"
      3L -> "z z z z", // < 5 words: untouched
      4L -> "p q r s t p q r s t") // internal repeat: second occurrence masked
      .toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    def sha(s: String): String = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val got = WebOps.removeDupSpans(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((6L, 0L, sha("a b c d e f"))))
    assert(got(2L) == ((6L, 5L, sha("x"))))
    assert(got(3L) == ((4L, 0L, sha("z z z z"))))
    // doc 4: grams at 1.."p q r s t",2,3,4,5,6."p q r s t"(dup; masks 6-10)
    assert(got(4L) == ((10L, 5L, sha("p q r s t"))))
  }

  test("removeDupSpans matches a brute-force local recompute over the sf corpus") {
    import spark.implicits._
    val k = WebOps.SpanK
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect().sortBy(_._1)
    def sha(s: String): String = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // global keeper map: gram text -> first (doc_id, pos)
    val first = scala.collection.mutable.Map.empty[String, (Long, Int)]
    val occs = docs.flatMap { case (id, t) =>
      val w = t.trim.split("\\s+")
      (0 to w.length - k).map(p => (id, p, w.slice(p, p + k).mkString(" ")))
    }
    occs.sortBy(o => (o._1, o._2)).foreach { case (id, p, g) =>
      if (!first.contains(g)) first(g) = (id, p)
    }
    val local = docs.map { case (id, t) =>
      val w = t.trim.split("\\s+")
      val masked = Array.fill(w.length)(false)
      (0 to w.length - k).foreach { p =>
        val g = w.slice(p, p + k).mkString(" ")
        if (first(g) != ((id, p))) (p until p + k).foreach(masked(_) = true)
      }
      val kept = w.indices.filterNot(masked).map(w)
      id -> ((w.length.toLong, (w.length - kept.length).toLong, sha(kept.mkString(" "))))
    }.toMap
    val got = WebOps.removeDupSpans(spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got.keySet == local.keySet)
    got.foreach { case (id, v) => assert(v == local(id), s"doc $id") }
    assert(got.values.exists(_._2 > 0L), "planted near-dups must cause removals")
    assert(got.values.exists(_._2 == 0L), "not everything may be removed")
  }

  test("urlHosts lowercases, strips www., and merges host families") {
    val docs = Seq(
      (1L, "see https://WWW.Foo.COM/a and http://foo.com/b?x=1"),
      (2L, "ref https://foo.com/c plus http://Bar.org/")).toDF("doc_id", "text")
    val got = WebOps.urlHosts(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map("foo.com" -> ((3L, 2L)), "bar.org" -> ((1L, 1L))))
  }

  test("anchorTerms: host-normalized term rollup; relative links and empty terms drop") {
    val links = Seq(
      (1L, 0L, "https://WWW.Foo.COM/a", "Fast Parquet reader"),
      (1L, 1L, "/relative/path", "no signal"),
      (2L, 0L, "http://foo.com/b", "parquet  reader"),
      (2L, 1L, "https://Bar.org/", "Reader")).toDF("doc_id", "link_idx", "href", "anchor")
    val got = WebOps.anchorTerms(links).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      ("foo.com", "fast") -> ((1L, 1L)),
      ("foo.com", "parquet") -> ((2L, 2L)),
      ("foo.com", "reader") -> ((2L, 2L)),
      ("bar.org", "reader") -> ((1L, 1L))))
  }

  test("anchorTerms matches a driver recompute over the planted link corpus") {
    val n = 120L
    val want = collection.mutable.Map.empty[(String, String), (Long, collection.mutable.Set[Long])]
    val hostRe = WebOps.HostRe.r
    (0L until n).foreach { id =>
      graft.synth.TableDocs.build(id)._3.foreach { l =>
        val host = hostRe.findFirstMatchIn(l.href)
          .map(m => m.group(1).toLowerCase.replaceFirst("^www\\.", "")).getOrElse("")
        if (host.nonEmpty)
          l.anchor.toLowerCase.split("\\s+").filter(_.nonEmpty).foreach { term =>
            val (c, d) = want.getOrElseUpdate((host, term), (0L, collection.mutable.Set.empty[Long]))
            want((host, term)) = (c + 1, d += id)
          }
      }
    }
    val got = WebOps.anchorTerms(graft.ops.TableOps.links(spark, n)).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got == want.map { case (k, (c, d)) => k -> ((c, d.size.toLong)) }.toMap)
    assert(got.nonEmpty && got.keys.map(_._1).toSet.size > 1,
      "corpus must exercise multiple hosts")
  }

  test("UrlRe stops at ALL whitespace: newline/tab-terminated URLs do not absorb following text") {
    val docs = Seq((1L, "pre https://a.com/x\nnext line http://b.org/y\tend"))
      .toDF("doc_id", "text")
    val got = WebOps.urlHosts(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map("a.com" -> ((1L, 1L)), "b.org" -> ((1L, 1L))))
    // the planted corpus now carries a newline-terminated URL (every 9th doc)
    assert(WebDocs.text(9L).contains(".net/x/9\ntrailing"))
  }

  test("domainFilter drops exactly the docs citing a blocked host (local regex recompute)") {
    val n = 80L
    val got = WebOps.domainFilter(WebDocs.docs(spark, n)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hostRe = WebOps.HostRe.r
    (0L until n).foreach { id =>
      val urls = WebOps.UrlRe.r.findAllIn(WebDocs.text(id)).toSeq
      val hosts = urls.map { u =>
        hostRe.findFirstMatchIn(u).get.group(1).toLowerCase.replaceFirst("^www\\.", "")
      }
      val blocked = hosts.exists(WebOps.BlockedHosts.contains)
      if (blocked) assert(!got.contains(id), s"doc $id cites a blocked host but survived")
      else assert(got(id) == urls.size.toLong, s"doc $id")
    }
    assert(got.size < n, "the planted corpus cites blocked hosts; some rows must drop")
  }

  test("politeCrawlSchedule: cap, one redistribution round, clip — driver recompute") {
    val n = 60L
    val cap = WebOps.PolitenessCapPages
    val alloc = WebOps.crawlBudget(WebDocs.docs(spark, n)).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(3)))).toMap
    val surplus = alloc.values.map { case (_, a) => math.max(a - cap, 0L) }.sum
    val openRank = alloc.collect { case (_, (r, a)) if a <= cap => r }.sum
    val extraBase = alloc.map { case (h, (r, a)) =>
      h -> (if (a > cap) 0L else surplus * r / openRank)
    }
    val rems = alloc.map { case (h, (r, a)) =>
      h -> (if (a > cap) -1L else surplus * r % openRank)
    }
    val seats = surplus - extraBase.values.sum
    val seatHosts = alloc.keys.toSeq.sortBy(h => (-rems(h), h)).take(seats.toInt).toSet
    val want = alloc.map { case (h, (_, a)) =>
      val extra = if (a > cap) 0L else extraBase(h) + (if (seatHosts(h)) 1L else 0L)
      h -> ((a, a > cap, math.min(math.min(a, cap) + extra, cap)))
    }
    val got = WebOps.politeCrawlSchedule(WebDocs.docs(spark, n)).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2), r.getLong(3)))).toMap
    assert(got == want)
    assert(got.values.exists(_._2), "the dominant host must cap")
    assert(got.values.forall(_._3 <= cap))
    val total = got.values.map(_._3).sum
    assert(total <= WebOps.CrawlBudget)
    assert(got.values.exists { case (a, capped, f) => !capped && f > a },
      "redistribution must raise at least one uncapped host")
  }

  test("canonicalUrls: fragment/port/slash/utm/sort rules, each pinned") {
    val links = Seq(
      (1L, 0L, "https://A.example/p?utm_source=x&b=2&a=1", "t"),
      (1L, 1L, "https://b.Example:443/x/", "t"),
      (1L, 2L, "http://c.example:80/y#frag", "t"),
      (1L, 3L, "https://d.example:8443/z", "t"), // non-default port kept
      (1L, 4L, "/rel/path/", "t"),
      (1L, 5L, "https://e.example/", "t"), // root slash stays
      (1L, 6L, "https://f.example/q?utm_a=1&utm_b=2", "t"))
      .toDF("doc_id", "link_idx", "href", "anchor")
    val got = WebOps.canonicalUrls(links).collect()
      .map(r => r.getLong(1) -> r.getString(3)).toMap
    assert(got == Map(
      0L -> "https://a.example/p?a=1&b=2",
      1L -> "https://b.example/x",
      2L -> "http://c.example/y",
      3L -> "https://d.example:8443/z",
      4L -> "/rel/path",
      5L -> "https://e.example/",
      6L -> "https://f.example/q"))
  }

  test("canonGroups: planted variant pairs merge; counts match a driver recompute") {
    val n = 84L
    def canon(href: String): String = {
      val nf = href.takeWhile(_ != '#')
      val (base, query) = nf.indexOf('?') match {
        case -1 => (nf, "")
        case i  => (nf.take(i), nf.drop(i + 1))
      }
      val hostpart = "^(https?://[^/]+)".r.findFirstIn(base).getOrElse("")
      val rest0 = base.drop(hostpart.length)
      val hostl = hostpart.toLowerCase
      val hostc = if (hostl.startsWith("https://")) hostl.stripSuffix(":443")
        else hostl.stripSuffix(":80")
      val pathc = if (rest0.length > 1 && rest0.endsWith("/")) rest0.dropRight(1) else rest0
      val params = query.split("&").filter(p => p.nonEmpty && !p.startsWith("utm_")).sorted
      hostc + pathc + (if (params.nonEmpty) "?" + params.mkString("&") else "")
    }
    val all = (0L until n).flatMap(id => graft.synth.TableDocs.build(id)._3)
    val want = all.groupBy(l => canon(l.href)).map { case (c, ls) =>
      c -> ((ls.size.toLong, ls.map(_.href).distinct.size.toLong))
    }
    val got = WebOps.canonGroups(graft.ops.TableOps.links(spark, n)).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got.view.mapValues(v => (v._1, v._2)).toMap == want)
    got.foreach { case (c, (_, raw, merged)) => assert(merged == (raw > 1), c) }
    assert(got.values.exists(_._3), "planted variant pairs must merge")
  }

  test("hostQuality + reputationFilter match a driver recompute; both regimes fire") {
    val n = 60L
    val hostRe = WebOps.HostRe.r
    val urlRe = WebOps.UrlRe.r
    // driver logit recompute (same integer features as the q66 test)
    def logit(t: String): Long = {
      val toks = t.trim.split("\\s+").length.toLong
      val punct = t.count(".,;:!?".contains(_)).toLong
      val letters = t.replaceAll("\\s", "").length.toLong
      val mwl = math.floor(letters * 100.0 / toks).toLong
      val sw = math.floor("\\b(the|and|of|to|in|is|that|for)\\b".r
        .findAllIn(t).size * 1000.0 / toks).toLong
      val Seq(wT, wL, wS, wP) = graft.ops.TextOps.QualityLogitWeights
      toks * wT + mwl * wL + sw * wS + punct * wP
    }
    val perHost = collection.mutable.Map.empty[String, List[(Long, Long)]]
    val docHosts = collection.mutable.Map.empty[Long, Set[String]]
    (0L until n).foreach { id =>
      val t = WebDocs.text(id)
      val lg = logit(t)
      val hosts = urlRe.findAllIn(t).flatMap(u =>
        hostRe.findFirstMatchIn(u).map(_.group(1).toLowerCase.replaceFirst("^www\\.", ""))).toSet
      docHosts(id) = hosts
      hosts.foreach(h => perHost(h) = (id, lg) :: perHost.getOrElse(h, Nil))
    }
    val wantHost = perHost.map { case (h, ds) =>
      val mean = ds.map(_._2).sum * 100 / ds.size
      h -> ((ds.size.toLong, mean, mean >= WebOps.HostReputationThresholdX100))
    }.toMap
    val gotHost = WebOps.hostQuality(WebDocs.docs(spark, n)).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(gotHost == wantHost)
    assert(gotHost.values.exists(_._3) && gotHost.values.exists(!_._3),
      "threshold must split the host spectrum")
    val badHosts = wantHost.collect { case (h, (_, _, false)) => h }.toSet
    val gotFilter = WebOps.reputationFilter(WebDocs.docs(spark, n)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(gotFilter.size == n)
    (0L until n).foreach { id =>
      val hosts = docHosts(id)
      val bad = hosts.count(badHosts)
      assert(gotFilter(id) == ((hosts.size.toLong, bad.toLong, bad == 0)), s"doc $id")
    }
    assert(gotFilter.values.exists(!_._3) && gotFilter.values.exists(_._3),
      "cascade must drop some docs and keep some")
  }

  test("linkSurface: family-tagged census with an explicit relative bucket") {
    val html = Seq((1L, 0L, "https://WWW.A.com/x", "a"), (1L, 1L, "/rel", "r"))
      .toDF("doc_id", "link_idx", "href", "anchor")
    val md = Seq((7L, 0L, "https://a.com/y", "b"), (7L, 1L, "/other", "s"))
      .toDF("doc_id", "link_idx", "href", "anchor")
    val got = WebOps.linkSurface(html, md).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      ("a.com", "html") -> ((1L, 1L)),
      ("(relative)", "html") -> ((1L, 1L)),
      ("a.com", "markdown") -> ((1L, 1L)),
      ("(relative)", "markdown") -> ((1L, 1L))))
  }

  test("anchorKeywords: whole-bit TF-IDF top-K matches a driver recompute") {
    val n = 120L
    val hostRe = WebOps.HostRe.r
    val tf = collection.mutable.Map.empty[(String, String), Long]
    (0L until n).foreach { id =>
      graft.synth.TableDocs.build(id)._3.foreach { l =>
        val host = hostRe.findFirstMatchIn(l.href)
          .map(m => m.group(1).toLowerCase.replaceFirst("^www\\.", "")).getOrElse("")
        if (host.nonEmpty)
          l.anchor.toLowerCase.split("\\s+").filter(_.nonEmpty)
            .foreach(t => tf((host, t)) = tf.getOrElse((host, t), 0L) + 1)
      }
    }
    val nHosts = tf.keys.map(_._1).toSet.size.toLong
    val df = tf.keys.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    def bits(x: Long): Long = 63 - java.lang.Long.numberOfLeadingZeros(x)
    val want = tf.keys.groupBy(_._1).flatMap { case (host, ks) =>
      ks.toSeq
        .map { case (_, t) =>
          val idf = bits(nHosts * 10000L / df(t))
          (t, tf((host, t)), idf, tf((host, t)) * idf)
        }
        .sortBy { case (t, _, _, s) => (-s, t) }
        .zipWithIndex.take(WebOps.AnchorTopK)
        .map { case ((t, f, idf, s), i) => (host, t, f, idf, s, i + 1L) }
    }.toSet
    import spark.implicits._
    val got = WebOps.anchorKeywords(graft.ops.TableOps.links(spark, n))
      .as[(String, String, Long, Long, Long, Long)].collect().toSet
    assert(got == want)
    // boilerplate nav terms must be idf-suppressed below rank 1 somewhere
    assert(got.exists { case (_, t, _, _, _, rn) => rn == 1L && t != "home" })
  }

  test("crawlBudget: exact Hamilton apportionment — driver recompute, sum == budget") {
    val n = 60L
    val budget = WebOps.CrawlBudget
    val ranks = WebOps.hostRank(WebDocs.docs(spark, n)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ranks.size > 2, "corpus must span several hosts")
    val total = ranks.values.sum
    val base = ranks.map { case (h, r) => h -> budget * r / total }
    val rem = ranks.map { case (h, r) => h -> budget * r % total }
    val leftover = budget - base.values.sum
    val extras = ranks.keys.toSeq
      .sortBy(h => (-rem(h), h)).take(leftover.toInt).toSet
    val want = ranks.keys.map { h =>
      h -> ((ranks(h), base(h), base(h) + (if (extras(h)) 1L else 0L)))
    }.toMap
    val got = WebOps.crawlBudget(WebDocs.docs(spark, n)).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == want)
    assert(got.values.map(_._3).sum == budget, "allocations must sum to the budget")
    assert(leftover > 0, "planted ranks must leave remainder seats (non-vacuous)")
  }

  test("encodingAudit matches a char-level driver recompute; accents stay clean") {
    val n = 210L
    def classify(c: Char): (Int, Int, Int, Int) = {
      val cp = c.toInt
      (
        if (cp <= 0x08 || cp == 0x0B || cp == 0x0C ||
          (cp >= 0x0E && cp <= 0x1F) || cp == 0x7F) 1 else 0,
        if (cp == 0xFFFD) 1 else 0,
        if (cp == 0xA0 || (cp >= 0x200B && cp <= 0x200D) || cp == 0xFEFF) 1 else 0,
        if (cp > 0x7F) 1 else 0)
    }
    val got = graft.ops.TextOps.encodingAudit(graft.synth.NoisyDocs.docs(spark, n))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6)))).toMap
    var sawAccentOnlyClean = false
    (0L until n).foreach { id =>
      val t = graft.synth.NoisyDocs.text(id)
      val cs = t.map(classify)
      val want = (t.length.toLong, cs.map(_._1).sum.toLong, cs.map(_._2).sum.toLong,
        cs.map(_._3).sum.toLong, cs.map(_._4).sum.toLong,
        cs.map(_._1).sum + cs.map(_._2).sum + cs.map(_._3).sum == 0)
      assert(got(id) == want, s"doc $id")
      if (id % 7 == 3 && id % 3 != 0 && id % 4 != 1 && id % 5 != 2) {
        assert(got(id)._6 && got(id)._5 > 0, s"doc $id: accent-only must be clean non-ascii")
        sawAccentOnlyClean = true
      }
    }
    assert(sawAccentOnlyClean, "corpus must contain an accent-only clean doc")
    assert(got.values.exists(v => v._2 > 0) && got.values.exists(v => v._3 > 0) &&
      got.values.exists(v => v._4 > 0), "every damage class must occur")
  }

  test("qualityCalibrated: per-source percentile matches a driver rank recompute") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.ops.TextOps.qualityCalibrated(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._2).distinct.length > 1, "corpus must span multiple sources")
    rows.groupBy(_._2).foreach { case (source, g) =>
      val logits = g.map(_._3).sorted
      val n = logits.length.toLong
      g.foreach { case (id, _, logit, pct) =>
        val rank = logits.indexWhere(_ == logit) + 1L // ties share min rank
        val want = (rank - 1) * 10000L / math.max(n - 1, 1L)
        assert(pct == want, s"doc $id in $source")
      }
      // endpoints: some doc sits at 0; the max logit sits at 10000 (n>1)
      if (n > 1) {
        assert(g.exists(_._4 == 0L), s"$source has no percentile-0 doc")
        assert(g.filter(_._3 == logits.last).forall(_._4 == 10000L),
          s"$source max-logit doc not at 10000")
      }
    }
  }

  test("qualityLogit is the exact integer dot product of the q15 features") {
    val dir = "/root/testdata/sf0.001"
    val feats = graft.ops.TextOps.qualityScore(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(4), r.getLong(5), r.getLong(3)))).toMap
    val Seq(wTok, wLen, wStop, wPunct) = graft.ops.TextOps.QualityLogitWeights
    val got = graft.ops.TextOps.qualityLogit(spark, dir).collect()
    assert(got.length == feats.size)
    got.foreach { r =>
      val (tok, len, stop, punct) = feats(r.getLong(0))
      val logit = tok * wTok + len * wLen + stop * wStop + punct * wPunct
      assert(r.getLong(r.fieldIndex("logit")) == logit)
      assert(r.getBoolean(r.fieldIndex("model_pass")) ==
        (logit >= graft.ops.TextOps.QualityLogitThreshold))
    }
    val passes = got.count(_.getBoolean(got.head.fieldIndex("model_pass")))
    assert(passes > 0 && passes < got.length, "threshold must genuinely split the corpus")
  }

  test("host PageRank matches a naive integer recompute across all rounds") {
    val nDocs = 240L
    val urlRe = new scala.util.matching.Regex(WebOps.UrlRe)
    val hostRe = new scala.util.matching.Regex(WebOps.HostRe)
    val edges = scala.collection.mutable.LinkedHashSet.empty[(String, String)]
    (0L until nDocs).foreach { id =>
      val hosts = urlRe.findAllIn(WebDocs.text(id)).toSeq
        .map(u => hostRe.findFirstMatchIn(u).get.group(1)
          .toLowerCase.replaceFirst("^www\\.", ""))
      if (hosts.size >= 2) {
        val src = hosts.head
        hosts.tail.distinct.foreach(d => if (d != src) edges += ((src, d)))
      }
    }
    val nodes = edges.flatMap { case (s, d) => Seq(s, d) }.toSet
    val deg = edges.toSeq.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val base = WebOps.RankScale / nodes.size
    var rank = nodes.map(_ -> base).toMap
    (1 to WebOps.RankIters).foreach { _ =>
      val contrib = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      edges.foreach { case (s, d) => contrib(d) += rank(s) / deg(s) }
      rank = nodes.map(v => v -> (base * 15L / 100L + 85L * contrib(v) / 100L)).toMap
    }
    val got = WebOps.hostRank(WebDocs.docs(spark, nDocs))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == rank)
    assert(got.nonEmpty && got.values.toSet.size > 1, "ranks must differentiate hosts")
  }

  test("host HITS matches a naive integer recompute across all rounds") {
    val nDocs = 240L
    val urlRe = new scala.util.matching.Regex(WebOps.UrlRe)
    val hostRe = new scala.util.matching.Regex(WebOps.HostRe)
    val edges = scala.collection.mutable.LinkedHashSet.empty[(String, String)]
    (0L until nDocs).foreach { id =>
      val hosts = urlRe.findAllIn(WebDocs.text(id)).toSeq
        .map(u => hostRe.findFirstMatchIn(u).get.group(1)
          .toLowerCase.replaceFirst("^www\\.", ""))
      if (hosts.size >= 2) {
        val src = hosts.head
        hosts.tail.distinct.foreach(d => if (d != src) edges += ((src, d)))
      }
    }
    val nodes = edges.flatMap { case (s, d) => Seq(s, d) }.toSet
    def normalize(raw: Map[String, Long]): Map[String, Long] = {
      val tot = math.max(raw.values.sum, 1L)
      nodes.map(v => v -> raw.getOrElse(v, 0L) * WebOps.HitsScale / tot).toMap
    }
    var hub = nodes.map(_ -> WebOps.HitsScale / nodes.size).toMap
    var auth = Map.empty[String, Long]
    (1 to WebOps.HitsIters).foreach { _ =>
      val ra = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      edges.foreach { case (s, d) => ra(d) += hub(s) }
      auth = normalize(ra.toMap)
      val rh = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      edges.foreach { case (s, d) => rh(s) += auth(d) }
      hub = normalize(rh.toMap)
    }
    val got = WebOps.hostHits(WebDocs.docs(spark, nDocs))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.map(r => r._1 -> r._2).toMap == hub)
    assert(got.map(r => r._1 -> r._3).toMap == auth)
    assert(got.map(_._2).distinct.length > 1 && got.map(_._3).distinct.length > 1,
      "hub and authority scores must differentiate hosts")
  }

  test("hostTriangles: handcrafted triangle + pendant edge (degrees, counts, clustering)") {
    import spark.implicits._
    // a->{b,c}, b->c closes the {a,b,c} triangle; a->d is a pendant edge
    val docs = Seq(
      (0L, "see http://a.com/x and http://b.com/y and http://c.com/z"),
      (1L, "see http://b.com/q and http://c.com/r"),
      (2L, "see http://a.com/1 and http://d.com/2")
    ).toDF("doc_id", "text")
    val got = WebOps.hostTriangles(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      "a.com" -> ((3L, 1L, 2L * 1L * 10000L / (3L * 2L))),
      "b.com" -> ((2L, 1L, 10000L)),
      "c.com" -> ((2L, 1L, 10000L)),
      "d.com" -> ((1L, 0L, 0L))))
  }

  test("hostTriangles matches a brute-force recompute over the synthetic corpus") {
    val nDocs = 240L
    val urlRe = new scala.util.matching.Regex(WebOps.UrlRe)
    val hostRe = new scala.util.matching.Regex(WebOps.HostRe)
    val und = scala.collection.mutable.Set.empty[(String, String)]
    (0L until nDocs).foreach { id =>
      val hosts = urlRe.findAllIn(WebDocs.text(id)).toSeq
        .map(u => hostRe.findFirstMatchIn(u).get.group(1)
          .toLowerCase.replaceFirst("^www\\.", ""))
      if (hosts.size >= 2) {
        val src = hosts.head
        hosts.tail.distinct.foreach { d =>
          if (d != src) und += ((if (src < d) src else d, if (src < d) d else src))
        }
      }
    }
    val adj = scala.collection.mutable.Map.empty[String, Set[String]].withDefaultValue(Set.empty)
    und.foreach { case (a, b) => adj(a) += b; adj(b) += a }
    val nodes = adj.keys.toSeq.sorted
    val triCount = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    for {
      (a, b) <- und
      c <- nodes if c > b && adj(a).contains(c) && adj(b).contains(c)
    } { triCount(a) += 1; triCount(b) += 1; triCount(c) += 1 }
    val expected = nodes.map { v =>
      val d = adj(v).size.toLong
      val t = triCount(v)
      v -> ((d, t, if (d >= 2) t * 20000L / (d * (d - 1L)) else 0L))
    }.toMap
    val got = WebOps.hostTriangles(WebDocs.docs(spark, nDocs)).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expected)
    assert(got.values.exists(_._2 > 0), "synthetic co-link graph must contain triangles")
  }

  test("WebDocs generation is deterministic and parallelism-independent") {
    val a = WebDocs.docs(spark, 40).collect().map(r => (r.getLong(0), r.getString(1))).sorted
    val b = (0L until 40L).map(id => (id, WebDocs.text(id)))
    assert(a.toSeq == b)
  }

  test("host scorecard: join/coalesce logic exact over the (independently-tested) components") {
    import spark.implicits._
    val docs = WebDocs.docs(spark, 40L)
    val got = WebOps.hostScorecard(docs)
      .as[(String, Long, Long, Long, Boolean, Long)].collect().toSet
    val hosts = WebOps.urlHosts(docs)
      .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val quality = WebOps.hostQuality(docs)
      .select($"host", $"mean_logit_x100", $"reputable")
      .as[(String, Long, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val ranks = WebOps.hostRank(docs)
      .as[(String, Long)].collect().toMap
    val expected = hosts.keySet.intersect(quality.keySet).map { h =>
      val (nu, nd) = hosts(h); val (ml, rep) = quality(h)
      (h, nu, nd, ml, rep, ranks.getOrElse(h, 0L))
    }
    assert(got == expected, s"got ${got.size} rows, expected ${expected.size}")
    assert(got.nonEmpty && got.exists(_._6 > 0L), "some host must carry rank mass")
    // quality covers every cited host on this corpus, so no row is lost
    assert(got.size == hosts.size)
  }
}
