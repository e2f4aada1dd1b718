package graft

import graft.pipeline.Pipeline
import graft.streaming.StreamingExtract
import graft.synth.SynthDataset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming facade: file-source extraction drains to the same
  * results as the batch pipeline; watermarked event windows equal the
  * batch aggregation; measured watermark drops follow the lagged rule.
  */
class StreamingSpec extends AnyFunSuite with SparkSessionFixture.TempDirs {
  private lazy val spark = SparkSessionFixture.spark

  private val nConvs = 40L

  test("stream windowed aggregation equals batch exactly (sentinel drain closes the watermark)") {
    import spark.implicits._
    val base = tempDir("graft-stream-windows").toString
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val got = StreamingExtract.eventWindows(spark, events, base)
      .as[(Long, String, Long, Long)].collect().toSet
    val expected = events.filter(col("ts").isNotNull)
      .groupBy(window(col("ts").cast("timestamp"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 100).cast("long")).as("cents_sum"))
      .select(unix_micros(col("window.start")).as("us"), col("event_type"),
        col("n_events"), col("cents_sum"))
      .as[(Long, String, Long, Long)].collect().toSet
    assert(got == expected, "append-mode emitted windows must equal the batch aggregation")
    assert(got.nonEmpty && !got.exists(_._2 == StreamingExtract.WatermarkSentinel))
  }

  test("AvailableNow stream extracts exactly the batch pipeline's rows, and restart is exactly-once") {
    import spark.implicits._
    val base = tempDir("graft-stream").toString
    val in = s"$base/in"; val out = s"$base/out"; val ck = s"$base/ck"

    // land the corpus as two separate file batches (two "tasks")
    val turns = SynthDataset.turns(spark, nConvs)
    turns.filter(_.turn_idx % 2 == 0).write.parquet(in)
    turns.filter(_.turn_idx % 2 == 1).write.mode("append").parquet(in)

    StreamingExtract.runAvailableNow(spark, in, out, ck).awaitTermination()

    val streamed = spark.read.parquet(out)
      .select($"conv_id", $"turn_idx", $"kind", $"extracted_text", $"failure")
    val batch = Pipeline.run(spark, turns).toDF()
      .select($"conv_id", $"turn_idx", $"kind", $"extracted_text", $"failure")
    assert(streamed.count() === batch.count())
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)

    // restart with the same checkpoint: no new files -> no new rows
    StreamingExtract.runAvailableNow(spark, in, out, ck).awaitTermination()
    assert(spark.read.parquet(out).count() === batch.count())

    // a third landing batch is picked up incrementally, rows only appended once
    turns.filter(_.turn_idx % 2 == 1).limit(0).write.mode("append").parquet(in) // no-op file
    spark.createDataset(Seq(
      graft.model.Turn("conv-extra", 0, "user", "plain text turn for stream restart", null,
        java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))))
      .write.mode("append").parquet(in)
    StreamingExtract.runAvailableNow(spark, in, out, ck).awaitTermination()
    assert(spark.read.parquet(out).count() === batch.count() + 1)
  }

  test("curation projections run unchanged on a stream: piiRedact stream equals batch") {
    // pure per-row operators (PII redaction, quality, repetition) need no
    // state — the SAME DataFrame function applies to a readStream source
    val base = tempDir("graft-stream-pii").toString
    val docs = graft.synth.WebDocs.docs(spark, 80)
    docs.write.parquet(s"$base/in")
    val stream = spark.readStream.schema(docs.schema).parquet(s"$base/in")
    val q = graft.ops.WebOps.piiRedact(stream)
      .writeStream.format("memory").queryName("pii")
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("pii").collect().map(_.toSeq).toSet
    val want = graft.ops.WebOps.piiRedact(docs).collect().map(_.toSeq).toSet
    assert(got == want && got.nonEmpty)
  }

  test("watermark drop audit: measured drops equal the block-prefix watermark rule") {
    import spark.implicits._
    val base = tempDir("graft-wm-audit").toString
    val ev = graft.ops.RelationalOps.stragglerStream(
      spark, graft.ops.RelationalOps.VerifyArrivalEvents)
    val got = StreamingExtract.watermarkDropAudit(spark, ev, base)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // sequential local replay of the MEASURED rule: the late-event
    // filter during batch k is the LAGGED watermark
    // (floor(maxUs(blocks with index <= k-2)/1000) - delayMs) ms, and a
    // row drops iff its 1-second window END is <= that value
    val rows = ev.as[(Long, String, Long)].collect().sortBy(_._1)
    val blockSize = StreamingExtract.AuditBlockSize
    val input = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val adm = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val blocks = rows.groupBy(_._1 / blockSize).toSeq.sortBy(_._1).map(_._2)
    blocks.zipWithIndex.foreach { case (rs, k) =>
      val wmUs =
        if (k < 2) Long.MinValue
        else (blocks.take(k - 1).flatten.map(_._3).max / 1000L -
          StreamingExtract.AuditDelayMs) * 1000L
      rs.foreach { case (_, t, us) =>
        input(t) += 1
        val windowEndUs = (us / 1000000L + 1L) * 1000000L
        if (wmUs == Long.MinValue || windowEndUs > wmUs) adm(t) += 1
      }
    }
    val expected = input.keys.map(t => t -> ((input(t), adm(t), input(t) - adm(t)))).toMap
    assert(got == expected, s"got $got\nexpected $expected")
    assert(got.values.map(_._3).sum > 0, "late drops must genuinely occur")
    assert(got.values.map(_._2).sum > 0, "most events must be admitted")
  }
}
