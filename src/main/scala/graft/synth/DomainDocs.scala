package graft.synth

import DocDraw.draw
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic synthetic corpus for importance-based data selection
  * (DSIR, q132). The sf-dir `documents` word soup is distributionally
  * HOMOGENEOUS across its `source` and `lang` columns by construction —
  * every token's target/raw frequency ratio converges to the corpus ratio,
  * so any importance weight degenerates to 0 and a selection operator over
  * it would be vacuous (verified empirically at both verify scales). Same
  * planted-input pattern as `WebDocs` / `RetryCorpus`.
  *
  * Planted surface: two disjoint 16-word vocabularies (a "target-domain"
  * register and a "crawl" register). Each doc draws every word from the
  * target vocabulary with probability `affinity(id)`/100, else from the
  * crawl vocabulary. Docs with `id % 5 == 0` carry the `target` domain
  * label AND a high affinity (55-100), so the labeled target corpus is
  * genuinely target-skewed; the remaining `crawl` docs spread affinity
  * uniformly 0-100, so importance scoring has real positives (crawl docs
  * that happen to look target-like) and real negatives. Text is a pure
  * function of `doc_id` — identical at any parallelism, and `graft.Verify`
  * materializes a byte-identical copy for the DuckDB oracle.
  */
object DomainDocs {

  val VocabTarget: Array[String] = Array(
    "theorem", "proof", "lemma", "matrix", "tensor", "algebra",
    "integral", "manifold", "topology", "prime", "axiom", "kernel",
    "basis", "norm", "operator", "spectrum")

  val VocabCrawl: Array[String] = Array(
    "click", "buy", "sale", "offer", "deal", "shop",
    "cart", "price", "free", "ship", "coupon", "brand",
    "store", "banner", "trend", "gift")

  /** Percent chance a word is drawn from the target vocabulary. */
  def affinity(id: Long): Int =
    if (id % 5 == 0) 55 + draw(id, 0x41, 46) else draw(id, 0x42, 101)

  def domain(id: Long): String = if (id % 5 == 0) "target" else "crawl"

  /** Pure text builder — single source of truth for the Spark table and
    * the test-side local recomputation.
    */
  def text(id: Long): String = {
    val a = affinity(id)
    val nWords = 20 + draw(id, 0x11, 31)
    val sb = new StringBuilder
    var i = 0
    while (i < nWords) {
      if (i > 0) sb.append(' ')
      val fromTarget = draw(id, 0x100 + 31L * i, 100) < a
      val v = if (fromTarget) VocabTarget else VocabCrawl
      sb.append(v(draw(id, 0x200 + 17L * i, v.length)))
      i += 1
    }
    sb.toString
  }

  /** Distributed table: (doc_id, domain, text), one row per id. */
  def docs(spark: SparkSession, nDocs: Long): DataFrame = {
    import spark.implicits._
    spark.range(nDocs).map(id => (id, domain(id), text(id)))
      .toDF("doc_id", "domain", "text")
  }
}
