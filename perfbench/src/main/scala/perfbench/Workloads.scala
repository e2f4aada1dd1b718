package perfbench

import graft.model.{ExtractedTurn, Turn}
import graft.pipeline.{Pipeline, SnapshotStore}
import graft.streaming.StreamingExtract
import graft.synth.Synth
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** What the untimed check after a job (or a stream session) found. */
final case class JobCheck(jobs: Int, mismatches: Long, inBytes: Long, outBytes: Long,
    outFiles: Int, problems: Seq[String])

/** Shared state of one benchmark process. */
final class Ctx(val spark: SparkSession, val dir: Path, val seed: Long, val nproc: Int,
    val tracer: Tracer, val log: TaskLog) {
  /** Job numbers are unique within a process: outputs never collide. */
  private var jobs = 0
  def nextJob(): Int = { jobs += 1; jobs - 1 }
  def path(name: String): String = dir.resolve(name).toString
  def span[A](name: String)(body: => A): A = tracer.span(name)(body)
}

/** One closed-loop workload: a single client thread that waits for every
  * job before it starts the next. */
trait Workload {
  /** Materialize the inputs. Part of set-up. */
  def prepare(): Unit
  /** Untimed jobs after set-up, to warm the JIT and the engine. */
  def warmupJobs: Int = 1
  /** Typical seconds of one job: the timed job count is `--seconds` over
    * this, fixed per workload so that both sides of a comparison run the
    * same number of jobs. */
  def nominalJobS: Double
  /** Run job `i` and return its input turns; only this call is timed. */
  def runJob(i: Int): Long
  /** Check job `i`'s output against the golden, outside the timed region. */
  def afterJob(i: Int): Option[JobCheck]
  /** Check what the last jobs left unchecked. */
  def close(): Option[JobCheck] = None
  /** Checks that run once per process, outside the timed region; each
    * string is a problem. */
  def gate(): Seq[String] = Nil
  /** Per-layer passes of a traced run, after its traced jobs. */
  def layers(l: Layers): Unit
}

object Files2 {
  def walk(p: String): Seq[Path] = {
    val root = Paths.get(p)
    if (!Files.exists(root)) Nil
    else scala.util.Using.resource(Files.walk(root))(_.iterator().asScala.toSeq)
  }
  def parquetFiles(p: String): Seq[Path] =
    walk(p).filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
  def parquetBytes(p: String): Long = parquetFiles(p).map(Files.size).sum
  def delete(p: String): Unit =
    walk(p).sortBy(-_.getNameCount).foreach(Files.deleteIfExists)
}

/** Forced passes shared by the layer decomposition. */
object Passes {
  /** Full-width typed read: every row is decoded into a `Turn` and its
    * text touched, so the scan cannot prune columns. */
  def charSum(turns: Dataset[Turn]): Long =
    turns.mapPartitions { it =>
      var n = 0L
      it.foreach(t => n += (if (t.text == null) 0 else t.text.length))
      Iterator.single(n)
    }(org.apache.spark.sql.Encoders.scalaLong).reduce(_ + _)

  /** Consume every row of a plan without writing anything. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The typed `Turn` -> `ExtractedTurn` round trip without extraction. */
  def encodeOnly(turns: Dataset[Turn]): Dataset[ExtractedTurn] = {
    import turns.sparkSession.implicits._
    turns.map(t => ExtractedTurn(t.conv_id, t.turn_idx, t.role, "", "", Seq.empty, None,
      if (t.text == null) 0 else t.text.length))
  }
}

/** `batch_checkpointed`: `SnapshotStore.process` over the mixed Zipf
  * corpus, killed after half its batches and resumed to completion. */
final class BatchCheckpointed(ctx: Ctx, turnTarget: Long) extends Workload {
  import ctx.spark
  import spark.implicits._

  val nominalJobS = 1.5
  val NBuckets = 8
  val BucketsPerBatch = 4
  val Batches: Int = NBuckets / BucketsPerBatch
  private val window = Inputs.window(Inputs.windowStart(ctx.seed), turnTarget)
  private val inDir = ctx.path("in")
  private def golden = Inputs.golden(spark, window, ctx.nproc)(Synth.convTurns)
  private var expected: Gate.Fingerprint = _
  private var goldenFailures = 0L
  private var inBytes = 0L
  private var nTurns = 0L
  private var lineageRows = 0L
  private var kept: Option[Int] = None
  private def turns: Dataset[Turn] = spark.read.parquet(inDir).as[Turn]
  private def storeDir(i: Int) = ctx.path(s"store-$i")
  private def store(i: Int) = new SnapshotStore(storeDir(i), NBuckets)

  def prepare(): Unit = {
    val g = golden.cache()
    Inputs.turns(g).write.parquet(inDir)
    inBytes = Files2.parquetBytes(inDir)
    expected = Gate.fingerprint(Inputs.expected(g))
    nTurns = expected.rows
    goldenFailures = g.filter(_.expected_failure.isDefined).count()
    g.unpersist()
  }

  def runJob(i: Int): Long = {
    val killed =
      try {
        ctx.span("pipeline.snapshot.process") {
          store(i).process(spark, turns, s"seed-${ctx.seed}", BucketsPerBatch, Some(Batches / 2))
        }
        false
      } catch {
        case e: RuntimeException if String.valueOf(e.getMessage).startsWith("simulated kill") => true
      }
    if (!killed) throw new IllegalStateException("the planned kill did not happen")
    ctx.span("pipeline.snapshot.process") {
      store(i).process(spark, turns, s"seed-${ctx.seed}", BucketsPerBatch)
    }
    nTurns
  }

  def afterJob(i: Int): Option[JobCheck] = {
    val s = store(i)
    val problems = ArrayBuffer.empty[String]
    if (s.completedBuckets() != (0 until NBuckets).toSet)
      problems += s"manifest incomplete after resume: ${s.completedBuckets().toSeq.sorted}"
    val batchIds = s.completedBatchIds()
    if (batchIds.size != Batches) problems += s"manifest lists ${batchIds.size} batches, want $Batches"
    val perBatch = s.readLineage(spark).groupBy("batch_id")
      .agg(count(lit(1)), countDistinct(col("partition_id")), sum("turn_count"), sum("failure_count"))
      .collect()
    lineageRows = perBatch.map(_.getLong(1)).sum
    if (perBatch.map(_.getInt(0)).toSet != batchIds)
      problems += s"lineage batches ${perBatch.map(_.getInt(0)).sorted.mkString(",")} differ from the manifest's"
    if (perBatch.exists(r => r.getLong(1) != r.getLong(2)))
      problems += "a batch has two lineage rows for one partition"
    if (perBatch.map(_.getLong(3)).sum != nTurns)
      problems += s"lineage counts ${perBatch.map(_.getLong(3)).sum} turns, want $nTurns"
    if (perBatch.map(_.getLong(4)).sum != goldenFailures)
      problems += s"lineage counts ${perBatch.map(_.getLong(4)).sum} failures, want $goldenFailures"
    val out = Inputs.actual(s.readExtracted(spark))
    val mism = if (Gate.fingerprint(out) == expected) 0L else Gate.mismatches(out, Inputs.expected(golden))
    val files = Files2.parquetFiles(storeDir(i))
    kept.foreach(k => Files2.delete(storeDir(k)))
    kept = Some(i)
    Some(JobCheck(1, mism, inBytes, files.map(Files.size).sum, files.length, problems.toSeq))
  }

  def layers(l: Layers): Unit = {
    val scanS = l.scan(turns, inBytes)
    val extractS = l.staged(turns, scanS, salted = true, in => Pipeline.run(spark, in).toDF())
    l.write(Pipeline.run(spark, turns).toDF(), extractS)
    val lineageS = l.pass("pipeline.lineage") {
      val (out, lineage) = Pipeline.runWithLineage(spark, turns, "layers")
      Passes.noop(out.toDF())
      lineage()
    }
    l.set("pipeline.lineage.overhead_s", lineageS - extractS)
    val perJob = ctx.tracer.spans.filter(_.name == "pipeline.snapshot.process").groupBy(_.parent)
    val t = l.tasksOf("pipeline.snapshot.process")
    l.set("pipeline.snapshot.process_s", Stats.median(perJob.values.map(_.map(_.durationNs / 1e9).sum).toSeq))
    l.set("pipeline.snapshot.scan_amplification", t.inputRecords.toDouble / perJob.size / nTurns)
    l.set("pipeline.snapshot.write_bytes", t.outputBytes.toDouble / perJob.size)
    l.set("pipeline.snapshot.lineage_rows", lineageRows.toDouble)
    kept.foreach { k =>
      l.set("pipeline.snapshot.files_written", Files2.parquetFiles(storeDir(k)).length.toDouble)
      l.set("pipeline.snapshot.readback_s",
        l.pass("pipeline.snapshot.readback")(Passes.noop(store(k).readExtracted(spark))))
    }
  }
}

/** `stream_html`: html+pdfir-only slices landed as parquet files and
  * drained by `StreamingExtract.runAvailableNow`, one cycle per slice, on
  * one landing directory, output and checkpoint for the whole run. Cycle
  * `c` lands slice `c mod slices` under file names prefixed with `c`: the
  * file source tracks files by path, so each cycle's files are new input.
  * The whole output is checked every `slices` cycles; since a slice's
  * keys recur in it, a mismatch there counts rows, not keys. */
final class StreamHtml(ctx: Ctx, turnsPerSlice: Long, slices: Int) extends Workload {
  import ctx.spark
  import spark.implicits._

  val nominalJobS = 0.5
  /** Consecutive windows of `turnsPerSlice` generated turns each. */
  private val windows = Iterator.iterate(Inputs.window(Inputs.windowStart(ctx.seed), turnsPerSlice))(
    w => Inputs.window(w.end, turnsPerSlice)).take(slices).toIndexedSeq
  private def sliceGolden(k: Int) = Inputs.golden(spark, windows(k), ctx.nproc)(Inputs.streamConv)
  private def sliceDir(k: Int) = ctx.path(s"staging/slice-$k")
  private val landDir = ctx.path("land")
  private val outDir = ctx.path("out")
  private val ckDir = ctx.path("ck")
  private val sliceTurns = new Array[Long](slices)
  private val sliceBytes = new Array[Long](slices)
  private val sliceFp = new Array[Gate.Fingerprint](slices)
  /** Slices of every cycle so far, latest first. */
  private var landed = List.empty[Int]
  /** Cycles, output bytes and files, and mismatches the last check covered. */
  private var checkedCycles = 0
  private var checkedOutBytes = 0L
  private var checkedOutFiles = 0
  private var checkedMismatches = 0L
  /** One pass over the slices: timed cycles run on a warm query. */
  override def warmupJobs: Int = slices

  /** Traced micro-batches: (triggerExecution ms, addBatch ms). */
  private val triggers = ArrayBuffer.empty[(Double, Double)]

  def prepare(): Unit = (0 until slices).foreach { k =>
    val g = sliceGolden(k).cache()
    Inputs.turns(g).write.parquet(sliceDir(k))
    sliceBytes(k) = Files2.parquetBytes(sliceDir(k))
    sliceFp(k) = Gate.fingerprint(Inputs.expected(g).drop("spans"))
    sliceTurns(k) = sliceFp(k).rows
    g.unpersist()
  }

  /** Hard-link slice `k`'s files into the landing directory under names
    * that are new to the file source. */
  private def land(cycle: Int, k: Int): Unit = {
    Files.createDirectories(Paths.get(landDir))
    Files2.parquetFiles(sliceDir(k)).foreach { f =>
      val to = Paths.get(landDir, s"c$cycle-${f.getFileName}")
      try Files.createLink(to, f)
      catch { case _: UnsupportedOperationException | _: java.io.IOException => Files.copy(f, to) }
    }
  }

  def runJob(i: Int): Long = {
    val k = landed.length % slices
    land(landed.length, k)
    landed = k :: landed
    ctx.span("streaming.runAvailableNow") {
      val q = StreamingExtract.runAvailableNow(spark, landDir, outDir, ckDir)
      q.awaitTermination()
      q.exception.foreach(e => throw e)
      ctx.tracer.current.foreach(id => ctx.log.alias(q.runId.toString, Tracer.group(id)))
      if (ctx.tracer.enabled) q.recentProgress.foreach { p =>
        val trigger = Option(p.durationMs.get("triggerExecution")).map(_.doubleValue()).getOrElse(0.0)
        val add = Option(p.durationMs.get("addBatch")).map(_.doubleValue()).getOrElse(0.0)
        triggers += ((trigger, add))
        // progress reports carry wall-clock start times; spans use nanoTime
        val st = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L +
          (System.nanoTime() - System.currentTimeMillis() * 1000000L)
        ctx.tracer.record("streaming.trigger", st, st + (trigger * 1e6).toLong)
      }
    }
    sliceTurns(k)
  }

  def afterJob(i: Int): Option[JobCheck] =
    if (landed.length % slices == 0) close() else None

  /** Checks the whole output against every cycle landed so far, and
    * reports what changed since the last check. */
  override def close(): Option[JobCheck] =
    if (landed.length == checkedCycles) None
    else {
      val out = Inputs.actual(spark.read.parquet(outDir), withSpans = false)
      val want = Gate.Fingerprint(landed.map(sliceFp(_).rows).sum,
        landed.map(sliceFp(_).hashSum).reduce(_ add _))
      val mism =
        if (Gate.fingerprint(out) == want) 0L
        else Gate.rowMismatches(out, landed.map(k => Inputs.expected(sliceGolden(k)).drop("spans"))
          .reduce(_ union _))
      val files = Files2.parquetFiles(outDir)
      val outBytes = files.map(Files.size).sum
      val fresh = landed.take(landed.length - checkedCycles)
      val check = JobCheck(fresh.length, math.max(0L, mism - checkedMismatches),
        fresh.map(sliceBytes(_)).sum, outBytes - checkedOutBytes, files.length - checkedOutFiles, Nil)
      checkedCycles = landed.length
      checkedOutBytes = outBytes
      checkedOutFiles = files.length
      checkedMismatches = math.max(mism, checkedMismatches)
      Some(check)
    }

  def layers(l: Layers): Unit = {
    val all = spark.read.parquet((0 until slices).map(sliceDir): _*).as[Turn]
    val scanS = l.scan(all, sliceBytes.sum)
    val extractS = l.staged(all, scanS, salted = false,
      in => Pipeline.extractStage(spark, in).drop("spans"))
    l.write(Pipeline.extractStage(spark, all).drop("spans"), extractS)
    val runs = ctx.tracer.spans.filter(_.name == "streaming.runAvailableNow")
    if (runs.nonEmpty && triggers.nonEmpty) {
      val children = ctx.tracer.spans.groupBy(_.parent)
      l.set("streaming.fixed_ms_p50", Stats.median(triggers.map { case (t, a) => t - a }))
      l.set("streaming.add_batch_ms_p50", Stats.median(triggers.map(_._2)))
      l.set("streaming.start_stop_ms_p50",
        Stats.median(runs.map(r => Stats.selfNs(r, children.getOrElse(r.id, Nil)) / 1e6)))
      l.set("streaming.batches", triggers.length.toDouble / runs.length)
    }
  }
}

/** `reingest_delta`: day 2 of the batch corpus (about 1% of conversations
  * edited, 0.5% deleted, 0.5% added), refreshed from the day-1 extracted
  * table with `Pipeline.incrementalRun` and written out. */
final class ReingestDelta(ctx: Ctx, turnTarget: Long) extends Workload {
  import ctx.spark
  import spark.implicits._

  val nominalJobS = 1.5
  private val window = Inputs.window(Inputs.windowStart(ctx.seed), turnTarget)
  private def day1Golden = Inputs.golden(spark, window, ctx.nproc)(Synth.convTurns)
  private def day2Golden =
    Inputs.golden(spark, window, ctx.nproc)(Inputs.day2Conv)
      .union(Inputs.goldenOf(spark, Inputs.addedConvs(window), 1)(Synth.convTurns))
  private def day1 = spark.read.parquet(ctx.path("day1")).as[Turn]
  private def day1Extracted = spark.read.parquet(ctx.path("day1-extracted")).as[ExtractedTurn]
  private def day2 = spark.read.parquet(ctx.path("day2")).as[Turn]
  private def changedTurns = day2.toDF()
    .join(Pipeline.changedTurnKeys(day1, day2), Seq("conv_id", "turn_idx"), "left_semi").as[Turn]
  private var expected: Gate.Fingerprint = _
  private var inBytes = 0L
  private var nTurns = 0L
  val planted: Long = Inputs.plantedChanges(window)

  def prepare(): Unit = {
    Inputs.turns(day1Golden).write.parquet(ctx.path("day1"))
    Pipeline.run(spark, day1).write.parquet(ctx.path("day1-extracted"))
    val g = day2Golden.cache()
    Inputs.turns(g).write.parquet(ctx.path("day2"))
    inBytes = Files2.parquetBytes(ctx.path("day2"))
    expected = Gate.fingerprint(Inputs.expected(g))
    nTurns = expected.rows
    g.unpersist()
  }

  private def refresh(): Dataset[ExtractedTurn] =
    Pipeline.incrementalRun(spark, day1, day1Extracted, day2)

  def runJob(i: Int): Long = {
    ctx.span("pipeline.incrementalRun")(refresh().write.parquet(ctx.path(s"out-$i")))
    nTurns
  }

  def afterJob(i: Int): Option[JobCheck] = {
    val out = Inputs.actual(spark.read.parquet(ctx.path(s"out-$i")))
    val mism = if (Gate.fingerprint(out) == expected) 0L else Gate.mismatches(out, Inputs.expected(day2Golden))
    val files = Files2.parquetFiles(ctx.path(s"out-$i"))
    val outBytes = files.map(Files.size).sum
    Files2.delete(ctx.path(s"out-$i"))
    Some(JobCheck(1, mism, inBytes, outBytes, files.length, Nil))
  }

  override def gate(): Seq[String] = {
    val changed = Pipeline.changedTurnKeys(day1, day2).count()
    if (changed == planted) Nil else Seq(s"changedTurnKeys found $changed keys, $planted were planted")
  }

  def layers(l: Layers): Unit = {
    l.scan(day1.union(day2), Files2.parquetBytes(ctx.path("day1")) + inBytes)
    val perJob = ctx.tracer.spans.count(_.name == "pipeline.incrementalRun")
    l.set("pipeline.incremental.shuffle_bytes",
      l.tasksOf("pipeline.incrementalRun").shuffleWriteBytes.toDouble / math.max(1, perJob))
    val diffS = l.pass("pipeline.incremental.diff")(Passes.noop(Pipeline.changedTurnKeys(day1, day2)))
    l.set("pipeline.incremental.diff_s", diffS)
    l.set("pipeline.incremental.reextract_s",
      l.pass("pipeline.incremental.reextract")(Passes.noop(Pipeline.run(spark, changedTurns).toDF())) - diffS)
    val changed = Pipeline.changedTurnKeys(day1, day2).count()
    l.set("pipeline.incremental.changed_keys", changed.toDouble)
    l.set("pipeline.incremental.reextract_precision", planted.toDouble / math.max(1L, changed))
    // the extraction-stage layers act on the turns the refresh re-extracts
    changedTurns.write.parquet(ctx.path("changed"))
    val sub = spark.read.parquet(ctx.path("changed")).as[Turn]
    val subScanS = l.pass("stage.scan")(Passes.charSum(sub))
    l.staged(sub, subScanS, salted = true, in => Pipeline.run(spark, in).toDF())
    l.write(refresh().toDF(), l.pass("pipeline.incremental.consume")(Passes.noop(refresh().toDF())))
    Files2.delete(ctx.path("changed"))
  }
}
