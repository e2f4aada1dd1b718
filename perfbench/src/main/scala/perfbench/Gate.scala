package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Golden comparison of an engine output with the generator's golden,
  * both in the shape `(conv_id, turn_idx, kind, text, failure[, spans])`.
  * Runs outside every timed region.
  */
object Gate {

  /** Order-independent fingerprint of a table: row count and the exact
    * sum of a 64-bit hash per row. Equal tables give equal fingerprints;
    * the join in [[mismatches]] runs only when they differ. */
  final case class Fingerprint(rows: Long, hashSum: java.math.BigDecimal)

  def fingerprint(df: DataFrame): Fingerprint = {
    val r = df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h")))
      .head()
    Fingerprint(r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  /** Turns that are missing, extra, duplicated or differ in any compared
    * column. */
  def mismatches(actual: DataFrame, expected: DataFrame): Long = {
    val keys = Seq("conv_id", "turn_idx")
    val fields = expected.columns.filterNot(keys.contains)
    val a = actual.select(actual.columns.map(c => col(c).as(s"a_$c")).toIndexedSeq: _*)
    val e = expected.select(expected.columns.map(c => col(c).as(s"e_$c")).toIndexedSeq: _*)
    val joined = a.join(e,
      col("a_conv_id") === col("e_conv_id") && col("a_turn_idx") === col("e_turn_idx"), "full_outer")
    val differs = fields.map(f => !(col(s"a_$f") <=> col(s"e_$f"))).reduce(_ || _)
    val dupKeys = actual.groupBy(keys.map(col): _*).count().filter(col("count") > 1)
      .agg(coalesce(sum(col("count") - 1), lit(0L))).head().getLong(0)
    joined.filter(col("a_conv_id").isNull || col("e_conv_id").isNull || differs).count() + dupKeys
  }

  /** Rows missing from `actual` plus rows `actual` has too many of,
    * counted with multiplicity, for tables whose keys repeat. A turn that
    * differs counts twice. */
  def rowMismatches(actual: DataFrame, expected: DataFrame): Long = {
    val a = actual.select(expected.columns.map(col).toIndexedSeq: _*)
    expected.exceptAll(a).count() + a.exceptAll(expected).count()
  }
}
