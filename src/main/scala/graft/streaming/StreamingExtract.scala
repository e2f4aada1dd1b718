package graft.streaming

import graft.model.{ExtractedTurn, Turn}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** Structured Streaming facade over the extraction pipeline.
  *
  * The reference's only streaming construct is a Celery work queue — one
  * async task per uploaded document with at-least-once redelivery
  * (ref: app.py:64-95, run_app.sh:7-12). The Spark-native analogue is a
  * file-source stream over the landing directory of the turn table:
  * each new parquet file is a "task", extraction is the same fused
  * per-turn map the batch path uses, and exactly-once sink semantics come
  * from checkpointed file sinks instead of `INSERT OR IGNORE` idempotency
  * (ref: agents/sql_agent/json_to_db.py:38).
  *
  * `Trigger.AvailableNow` gives the batch-equivalent "drain the queue and
  * stop" semantics of the reference's task poll loop (app.py:172-186).
  */
object StreamingExtract {

  /** Streaming source: new parquet files under `inputDir` as `Turn`s. */
  def readTurnStream(spark: SparkSession, inputDir: String): Dataset[Turn] = {
    import spark.implicits._
    spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[Turn]].schema)
      .parquet(inputDir)
      .as[Turn]
  }

  /** Per-turn extraction as a streaming map — literally the batch
    * `Pipeline.extractStage` (shared code, not a parallel copy); no
    * shuffle is introduced, so the stream stays in the narrow, scalable
    * regime (per-file tasks).
    */
  def extractStream(turns: Dataset[Turn]): Dataset[ExtractedTurn] =
    graft.pipeline.Pipeline.extractStage(turns.sparkSession, turns)

  /** Run the extraction stream to a parquet sink with checkpointing,
    * draining all available input then stopping (Trigger.AvailableNow).
    * Restartable: the checkpoint dir makes re-runs exactly-once over new
    * files only — the streaming counterpart of `SnapshotStore` resume.
    */
  def runAvailableNow(
      spark: SparkSession,
      inputDir: String,
      outputDir: String,
      checkpointDir: String): StreamingQuery = {
    val q = extractStream(readTurnStream(spark, inputDir))
      .drop("spans") // parquet sink keeps the flat columns; spans live in the batch path
      .writeStream
      .format("parquet")
      .option("path", outputDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q
  }

  /** Watermark delay for [[watermarkDropAudit]] — 2000 ms, chosen
    * between the arrival stream's median and max lateness so late drops
    * GENUINELY occur at verify scale. */
  val AuditDelayMs = 2000L

  /** Replay-block size for [[watermarkDropAudit]]: 512 ids per batch —
    * batch count (the real cost: micro-batch startup x two drains) stays
    * small while the 1200 s straggler lag still exceeds the two-block
    * lagged-watermark horizon. */
  val AuditBlockSize = 512L

  /** q180: MEASURED watermark drop accounting — the q171 lateness audit
    * says what a watermark of some delay would admit in theory; this
    * replays a stream through a real watermarked stateful operator and
    * counts what Spark DID admit. The stream lands one parquet file per
    * event_id block with strictly increasing mtimes, so the file source
    * (maxFilesPerTrigger=1, AvailableNow) replays blocks as
    * deterministic batches in arrival order; the stateful op is a
    * watermarked 1-second-window aggregation in APPEND mode — the
    * operator class where Spark actually drops late input (both
    * dropDuplicates variants were MEASURED to pass late rows through on
    * this build). The sentinel double-drain (the eventWindows recipe)
    * flushes the trailing windows so emitted counts equal admitted rows.
    *
    * The measured drop rule, replicated exactly by the oracle and the
    * local test: since SPARK-24634 the LATE-EVENT filter uses the
    * PREVIOUS batch's watermark, i.e. during batch k the filter value is
    * (floor(maxUs(blocks with index <= k-2) / 1000) - delayMs) ms, and a
    * row is dropped iff its 1-second window END is <= that value
    * (probed empirically: a row 2 h late in batch 1 of a 0-delay stream
    * is ADMITTED because the lagged filter is still at 0). Jitter-scale
    * lateness therefore never drops — only genuine stragglers do, which
    * is why the audit input is `RelationalOps.stragglerStream`.
    *
    * Scale shape: the per-block landing loop is bounded by block count
    * (the replay-granularity knob), not rows; the stream itself is one
    * pass; the audit join aggregates both sides to per-type counts
    * before comparing.
    */
  /** State-store partition count for the audit/window streams. A
    * streaming aggregation pins its state partitioning from
    * `spark.sql.shuffle.partitions` at the FIRST batch, and every
    * micro-batch then commits one delta per state partition — with the
    * session's 32 partitions over a keyspace of a handful of event
    * types, that is pure fixed cost (hundreds of state-file commits per
    * drain). 8 keeps headroom over |event_type| while cutting the
    * per-batch commit fan-out 4x; a production deployment with a wide
    * key space would raise it with the keyspace, not with the corpus.
    */
  val StreamStatePartitions = 8

  /** Run `f` with `spark.sql.shuffle.partitions` = [[StreamStatePartitions]],
    * restored afterwards — scoped to the streaming query starts below so
    * the batch surface keeps the session's parallelism.
    */
  private def withStreamStateConf[A](spark: SparkSession)(f: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, StreamStatePartitions.toString)
    try f finally spark.conf.set(key, prev)
  }

  /** The single part- file of a one-partition parquet write. The
    * directory stream is closed eagerly — `Files.list` leaks a directory
    * fd per call otherwise, once per replay block here.
    */
  private def firstPartFile(dir: String): java.nio.file.Path =
    scala.util.Using.resource(
        java.nio.file.Files.list(java.nio.file.Paths.get(dir))) { st =>
      st.filter(p => p.getFileName.toString.startsWith("part-")).findFirst().get()
    }

  def watermarkDropAudit(
      spark: SparkSession,
      events: DataFrame, // (event_id, event_type, us)
      base: String,
      delayMs: Long = AuditDelayMs,
      blockSize: Long = AuditBlockSize): DataFrame = {
    val in = s"$base/in"; val out = s"$base/out"; val ck = s"$base/ck"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val src = events
      .select(col("event_id"), col("event_type"), col("us"),
        timestamp_micros(col("us")).as("ts"))
      .withColumn("blk", expr(s"event_id div $blockSize"))
    val blocks = src.select(col("blk")).distinct()
      .collect().map(_.getLong(0)).sorted // block count, not data, bounded
    val maxUs = src.agg(max(col("us"))).head().getLong(0)
    // Sentinel A (3 h past the corpus max) rides IN the last real
    // block's file: its batch already ends with the watermark beyond
    // every real window (admission of real events is untouched — their
    // operating watermarks come from earlier batches), so only ONE
    // trailing sentinel batch is needed to emit the closed windows.
    import spark.implicits._
    val landing = src.unionByName(
      Seq((-1L, WatermarkSentinel, maxUs + 3L * 3600 * 1000000))
        .toDF("event_id", "event_type", "us")
        .withColumn("ts", timestamp_micros(col("us")))
        .withColumn("blk", lit(blocks.last)))
    // ONE partitioned write lands every block file (the per-block
    // coalesce-write loop paid a full Spark job per block)
    val tmp = s"$base/tmp_blocks"
    landing.repartition(blocks.length, col("blk"))
      .write.mode("overwrite").partitionBy("blk").parquet(tmp)
    blocks.zipWithIndex.foreach { case (b, i) =>
      val dest = java.nio.file.Paths.get(in, f"block-$b%05d.parquet")
      java.nio.file.Files.move(firstPartFile(s"$tmp/blk=$b"), dest,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 1000L))
    }
    val schema = spark.read.parquet(in).schema
    def drain(): Unit = withStreamStateConf(spark) {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(in)
        .withWatermark("ts", s"$delayMs milliseconds")
        .groupBy(window(col("ts"), "1 second"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("event_type"), col("n"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // One trailing sentinel file (6 h past the corpus max, mod-time
    // after every real block): its batch operates under the post-A
    // watermark and emits every closed real window inside the SINGLE
    // drain. (The original shape paid a full second AvailableNow start +
    // checkpoint resume; both sentinel rows filter out by type.)
    val sentinelB = Seq((-2L, WatermarkSentinel, maxUs + 6L * 3600 * 1000000))
      .toDF("event_id", "event_type", "us")
      .withColumn("ts", timestamp_micros(col("us")))
    val stmp = s"$base/tmp_sentinel"
    sentinelB.coalesce(1).write.mode("overwrite").parquet(stmp)
    val sdest = java.nio.file.Paths.get(in, "block-zz-sentinel.parquet")
    java.nio.file.Files.move(firstPartFile(stmp), sdest,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    java.nio.file.Files.setLastModifiedTime(sdest,
      java.nio.file.attribute.FileTime.fromMillis(1700000000000L + (blocks.length + 2) * 1000L))
    drain()
    val admitted = spark.read.parquet(out)
      .filter(col("event_type") =!= WatermarkSentinel)
      .groupBy(col("event_type")).agg(coalesce(sum(col("n")), lit(0L)).as("n_admitted"))
    src.groupBy(col("event_type")).agg(count(lit(1)).as("n_input"))
      .join(admitted, Seq("event_type"), "left")
      .select(col("event_type"), col("n_input"),
        coalesce(col("n_admitted"), lit(0L)).as("n_admitted"))
      .withColumn("n_dropped", col("n_input") - col("n_admitted"))
  }

  /** Sentinel event type used by [[eventWindows]] to close the watermark. */
  val WatermarkSentinel = "__watermark_sentinel__"

  /** Driver-visible watermarked windowed aggregation over the events
    * table: hourly tumbling windows per event_type (count + exact cent
    * sum), run THROUGH a checkpointed file-source stream in APPEND mode —
    * the mode whose output a 100 TB deployment would actually consume
    * (each window row is final when emitted; complete mode would rewrite
    * the whole result every batch).
    *
    * Append mode only emits a window once the watermark passes its end,
    * so a corpus-only drain would withhold the trailing windows. One
    * sentinel event 3 hours past the corpus max (landed WITH the corpus)
    * advances the end-of-batch watermark beyond every real window, and
    * the no-data finalize micro-batch AvailableNow runs before
    * terminating (`spark.sql.streaming.noDataMicroBatches.enabled`,
    * default on — asserted at run time) emits them all inside a SINGLE
    * drain: two micro-batches total, where the previous shape paid two
    * full AvailableNow starts plus a checkpoint resume. The sentinel's
    * own window stays open forever and is filtered back out — so the
    * result equals the batch aggregation exactly through a real
    * checkpointed stream.
    */
  def eventWindows(
      spark: SparkSession,
      events: DataFrame,
      base: String,
      watermark: String = "10 minutes",
      windowLen: String = "1 hour"): DataFrame = {
    import spark.implicits._
    val in = s"$base/in"; val out = s"$base/out"; val ck = s"$base/ck"
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    val landed = events.select(cols.map(col): _*).filter(col("ts").isNotNull)
      // event-time watermarks require TIMESTAMP (with local tz) — the raw
      // table's NTZ timestamps are value-identical under the UTC session
      .withColumn("ts", col("ts").cast("timestamp"))
    landed.write.mode("overwrite").parquet(in)
    // single-drain watermark closure needs the finalize no-data batch
    assert(spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled",
      "true") == "true", "eventWindows requires noDataMicroBatches")
    // max over the rewritten (TIMESTAMP-typed) landing data, not the raw
    // frame — the source table may carry NTZ timestamps
    val maxTs = spark.read.parquet(in).agg(max(col("ts"))).head().getTimestamp(0)
    Seq((-1L, new java.sql.Timestamp(maxTs.getTime + 3L * 3600 * 1000), -1L,
        WatermarkSentinel, 0.0))
      .toDF(cols: _*)
      .write.mode("append").parquet(in)
    val schema = spark.read.parquet(in).schema
    def drain(): Unit = withStreamStateConf(spark) {
      val q = spark.readStream.schema(schema).parquet(in)
        .withWatermark("ts", watermark)
        .groupBy(window(col("ts"), windowLen), col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(floor(col("value") * 100).cast("long")).as("cents_sum"))
        .select(unix_micros(col("window.start")).as("window_start_us"),
          col("event_type"), col("n_events"), col("cents_sum"))
        .writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    spark.read.parquet(out).filter(col("event_type") =!= WatermarkSentinel)
  }
}
