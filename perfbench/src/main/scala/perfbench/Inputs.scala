package perfbench

import graft.model.Turn
import graft.synth.Synth
import graft.synth.Synth.GoldenTurn
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Workload inputs, all drawn from the engine's own generator
  * (`Synth.goldenTurn`), so every turn carries its golden extraction.
  *
  * The benchmark seed selects a window of conversation indices: seed `s`
  * owns indices `[w * WindowStride, w * WindowStride + WindowStride)` with
  * `w = s mod Windows`. The
  * same seed therefore gives byte-identical input, and another seed gives
  * a disjoint window of the same shape (the generator makes every 101st
  * conversation a 400-1600 turn Zipf-tail conversation, wherever the
  * window starts). A workload takes the conversations from the window's
  * start that hold its turn target ([[window]]), so every seed gives the
  * same amount of work. `Synth.Seed` itself is never touched.
  */
object Inputs {

  /** Conversation indices owned by one seed; more than any workload takes. */
  val WindowStride = 5000L

  /** Distinct windows; seeds that agree modulo this share one. The
    * generator's turn timestamps grow with the conversation index, and
    * Spark's microsecond encoding of them overflows near index 9.2e9, so
    * the windows stay far below that. */
  val Windows = 100000L

  /** `reingest_delta` edits take their payloads from this far away in the
    * generator, so the edited turn's golden is known. */
  val EditShift = 500000L

  /** The window of any integer seed, however large or negative. */
  def windowOf(seed: BigInt): Long = seed.mod(BigInt(Windows)).toLong

  def windowStart(seed: Long): Long = Math.floorMod(seed, Windows) * WindowStride

  def isLong(convIdx: Long): Boolean = Synth.convLen(convIdx) >= 400

  /** The conversations `[start, end)` except `skipped`. */
  final case class Window(start: Long, end: Long, skipped: Set[Long]) {
    def convs: IndexedSeq[Long] = (start until end).filterNot(skipped)
  }

  /** The conversations from `start` on that hold `turns` turns, to within
    * one short conversation (at most 20 turns): a Zipf-tail conversation
    * that would overshoot is skipped. Tail lengths vary from 400 to 1600
    * turns, so a fixed number of conversations would change a run's work
    * by about 10% from seed to seed. */
  def window(start: Long, turns: Long): Window = {
    var n = 0L
    var c = start
    val skipped = Set.newBuilder[Long]
    while (n < turns) {
      val len = Synth.convLen(c)
      if (isLong(c) && n + len > turns) skipped += c else n += len
      c += 1
    }
    Window(start, c, skipped.result())
  }

  private def convId(convIdx: Long): String = f"conv-$convIdx%06d"

  // --- day-2 change plan of reingest_delta ----------------------------------

  /** Per-conversation draw in [0, 1000), independent of the payload draws. */
  private def planDraw(convIdx: Long): Int =
    Math.floorMod(Synth.mix(convIdx * 0x2545f4914f6cdd1dL ^ 0x5eedL), 1000L).toInt

  /** About 1% of the short conversations are edited, 0.5% deleted. Long
    * conversations are never touched, so the delta is the same share of
    * the corpus on every seed (one long edit would be ~1000 turns). */
  def isEdited(convIdx: Long): Boolean = !isLong(convIdx) && planDraw(convIdx) < 10
  def isDeleted(convIdx: Long): Boolean = !isLong(convIdx) && planDraw(convIdx) >= 10 && planDraw(convIdx) < 15

  /** Day-2 conversations appended after the window: short ones only, one
    * per 200 conversations of the window. */
  def addedConvs(w: Window): IndexedSeq[Long] =
    Iterator.from(0).map(i => w.end + i).filterNot(isLong).take(w.convs.length / 200).toIndexedSeq

  /** One conversation as it reads on day 2: edited conversations keep their
    * keys and take every payload from `convIdx + EditShift`. */
  def day2Conv(convIdx: Long): IndexedSeq[GoldenTurn] =
    if (isDeleted(convIdx)) IndexedSeq.empty
    else if (isEdited(convIdx))
      (0 until Synth.convLen(convIdx)).map(t =>
        Synth.goldenTurn(convIdx + EditShift, t).copy(conv_id = convId(convIdx)))
    else Synth.convTurns(convIdx)

  /** Keys `changedTurnKeys` must report: every edited and every added turn. */
  def plantedChanges(w: Window): Long =
    w.convs.filter(isEdited).map(Synth.convLen(_).toLong).sum +
      addedConvs(w).map(Synth.convLen(_).toLong).sum

  // --- stream_html slices ----------------------------------------------------

  /** The html+pdfir turns of one conversation. */
  def streamConv(convIdx: Long): IndexedSeq[GoldenTurn] =
    Synth.convTurns(convIdx).filter(g => g.kind == "html" || g.kind == "pdfir")

  // --- Spark views -------------------------------------------------------------

  /** Golden turns of a window's conversations, generated on the
    * executors; `numPartitions` contiguous index ranges keep the order (and
    * so the written bytes) independent of scheduling. */
  def golden(spark: SparkSession, w: Window, numPartitions: Int)(
      gen: Long => Seq[GoldenTurn]): Dataset[GoldenTurn] = {
    import spark.implicits._
    val skipped = w.skipped
    spark.range(w.start, w.end, 1, numPartitions).as[Long]
      .flatMap(c => if (skipped(c)) Nil else gen(c))
  }

  def goldenOf(spark: SparkSession, convs: Seq[Long], numPartitions: Int)(
      gen: Long => Seq[GoldenTurn]): Dataset[GoldenTurn] = {
    import spark.implicits._
    spark.createDataset(convs).repartition(numPartitions).flatMap(c => gen(c))
  }

  def turns(g: Dataset[GoldenTurn]): Dataset[Turn] = {
    import g.sparkSession.implicits._
    g.map(_.turn)
  }

  /** Expected output rows in the comparison shape of [[Gate]]. */
  def expected(g: Dataset[GoldenTurn]): DataFrame =
    g.toDF().select(col("conv_id"), col("turn_idx"), col("kind"),
      col("expected_text").as("text"), col("expected_failure").as("failure"),
      col("expected_spans").as("spans"))

  /** Engine output rows in the comparison shape of [[Gate]]. */
  def actual(out: DataFrame, withSpans: Boolean = true): DataFrame = {
    val base = Seq(col("conv_id"), col("turn_idx"), col("kind"),
      col("extracted_text").as("text"), col("failure"))
    out.select((if (withSpans) base :+ col("spans") else base): _*)
  }

  /** The first `perKind` payloads of every kind in the seed's window. */
  def kindSample(seed: Long, perKind: Int): Map[String, IndexedSeq[String]] = {
    val by = scala.collection.mutable.LinkedHashMap.empty[String, scala.collection.mutable.ArrayBuffer[String]]
    var c = windowStart(seed)
    while (by.size < 5 || by.values.exists(_.length < perKind)) {
      Synth.convTurns(c).foreach { g =>
        val b = by.getOrElseUpdate(g.kind, scala.collection.mutable.ArrayBuffer.empty)
        if (b.length < perKind) b += g.text
      }
      c += 1
    }
    by.map { case (k, b) => k -> b.toIndexedSeq }.toMap
  }
}
