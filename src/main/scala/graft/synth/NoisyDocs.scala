package graft.synth

import DocDraw.word
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic synthetic corpus with PLANTED encoding damage for the
  * encoding-quality audit (q142) — the crawl-hygiene signal every web
  * pipeline gates on before training: U+FFFD replacement characters
  * (double-decode damage), C0 control bytes, NBSP/zero-width characters
  * (copy-paste and SEO junk), and legitimate non-ASCII letters that must
  * NOT count as damage. All planted characters are BMP, so codepoint
  * counting agrees between engines regardless of UTF-16 vs UTF-8 length
  * semantics.
  *
  * The damage schedule is residue-class planted (like `TableDocs`):
  *  - id % 3 == 0 → U+FFFD replacement chars (1 mid-text + 2 trailing)
  *  - id % 4 == 1 → C0 controls (U+0001, U+0007) and a DEL (U+007F)
  *  - id % 5 == 2 → an NBSP and a zero-width space
  *  - id % 7 == 3 → real accented words ("café naïve") — non-ASCII but
  *    clean
  * Residues overlap, so docs with multiple damage classes occur.
  */
object NoisyDocs {

  private val vocab = Array(
    "alpha", "beta", "gamma", "delta", "epsilon", "zeta",
    "eta", "theta", "iota", "kappa", "lambda", "sigma")

  def text(id: Long): String = {
    val sb = new StringBuilder
    sb ++= word(vocab, id, 1); sb += ' '
    if (id % 3 == 0) sb += '\ufffd'
    sb ++= word(vocab, id, 2); sb += ' '
    if (id % 4 == 1) { sb += '\u0001'; sb ++= word(vocab, id, 3); sb += '\u0007'; sb += '\u007f' }
    if (id % 5 == 2) { sb += '\u00a0'; sb ++= word(vocab, id, 4); sb += '\u200b' }
    sb ++= word(vocab, id, 5)
    if (id % 7 == 3) sb ++= " caf\u00e9 na\u00efve"
    if (id % 3 == 0) sb ++= "\ufffd\ufffd"
    sb.toString
  }

  /** Distributed raw table: (doc_id, text). */
  def docs(spark: SparkSession, nDocs: Long): DataFrame = {
    import spark.implicits._
    spark.range(nDocs).map(id => (id, text(id))).toDF("doc_id", "text")
  }
}
