package graft.synth

import graft.model.Turn
import org.apache.spark.sql.{Dataset, SparkSession}

/** Distributed construction of the synthetic corpus: one `spark.range` row
  * per conversation, flat-mapped to its turns. Generation is a pure
  * function of the conv index (Synth), so the corpus is identical at any
  * parallelism — the long-conversation skew lands in single input tasks by
  * construction, which `Pipeline.salted` then spreads by cutting each
  * conversation into chunks of T consecutive turns.
  */
object SynthDataset {

  def turns(spark: SparkSession, nConvs: Long): Dataset[Turn] = {
    import spark.implicits._
    spark.range(nConvs).flatMap(c => Synth.convTurns(c).map(_.turn))
  }

  def golden(spark: SparkSession, nConvs: Long): Dataset[Synth.GoldenTurn] = {
    import spark.implicits._
    spark.range(nConvs).flatMap(c => Synth.convTurns(c))
  }
}
