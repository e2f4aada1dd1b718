package graft.synth

import DocDraw.{draw, word}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic synthetic "scraped web page" corpus for the PII-redaction
  * and URL-normalization operators (the sf-dir `documents` word soup
  * contains no emails / phone numbers / URLs, so those operators would be
  * vacuous over it — same planted-input pattern as `ShredOps
  * .structuredRecords`). Each doc's text is a pure function of `doc_id`
  * (splitmix64 draws), so the table is identical at any parallelism and
  * `graft.Verify` can materialize a byte-identical copy for the DuckDB
  * oracle.
  *
  * Planted surface (all shapes a real crawl would carry):
  *  - emails   — every 3rd doc, a second one every 6th
  *  - phones   — `+1 DDD-DDD-DDDD` every 4th doc, `(DDD) DDD-DDDD` every 5th
  *  - URLs     — mixed-case hosts, `www.` prefixes, query strings, and a
  *               second scheme/host family every 7th doc, so host
  *               normalization (lowercase + www-strip) actually merges keys
  */
object WebDocs {

  private val vocab = Array(
    "page", "crawl", "link", "index", "render", "anchor", "byte",
    "fetch", "parse", "robot", "cache", "header", "title", "body",
    "script", "style", "media", "frame", "query", "token")

  /** Pure text builder — the single source of truth for both the Spark
    * table and the test-side local recomputation.
    */
  def text(id: Long): String = {
    val sb = new StringBuilder
    val nWords = 12 + draw(id, 0x11, 20)
    var i = 0
    while (i < nWords) {
      if (i > 0) sb.append(' ')
      sb.append(word(vocab, id, 0x20 + 31 * i))
      i += 1
    }
    if (id % 3 == 0) sb.append(s" contact user$id@example${id % 7}.com")
    if (id % 6 == 0) sb.append(s" or admin$id@mail.org")
    if (id % 4 == 0)
      sb.append(s" call +1 ${300 + draw(id, 0x31, 700)}-${100 + draw(id, 0x32, 900)}-${1000 + draw(id, 0x33, 9000)}")
    if (id % 5 == 0)
      sb.append(s" tel (${200 + draw(id, 0x34, 800)}) ${100 + draw(id, 0x35, 900)}-${1000 + draw(id, 0x36, 9000)}")
    if (id % 2 == 0) sb.append(s" see https://WWW.Site${id % 13}.COM/p/$id?utm_source=x&id=$id")
    if (id % 7 == 0) sb.append(s" and http://blog${id % 5}.org/a/$id")
    if (id % 11 == 0) sb.append(s" ref https://site${id % 13}.com/dup/$id")
    // newline-terminated URL: pins that UrlRe stops at ALL whitespace —
    // with the old "[^ ]+" pattern the URL would absorb "trailing text"
    if (id % 9 == 0) sb.append(s" nl https://news${id % 3}.net/x/$id\ntrailing text")
    sb.toString
  }

  /** Distributed table: (doc_id, text), one row per id in [0, nDocs). */
  def docs(spark: SparkSession, nDocs: Long): DataFrame = {
    import spark.implicits._
    spark.range(nDocs).map(id => (id, text(id))).toDF("doc_id", "text")
  }
}
