package perfbench

import graft.extract.Extract
import graft.model.Turn
import graft.pipeline.Pipeline
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The per-layer metrics of a traced run. A layer's self time comes from
  * cumulative staged passes over the same input (scan, + salt shuffle,
  * + extraction, + write): each pass is a root span, repeated `reps` times,
  * and a layer's self time is the fastest run of its pass minus the fastest
  * run of the pass it extends (host noise only ever slows a pass). Task
  * metrics come from [[TaskLog]] by span.
  */
final class Layers(ctx: Ctx, log: TaskLog, reps: Int) {
  import ctx.spark

  val m: mutable.LinkedHashMap[String, Double] =
    mutable.LinkedHashMap(Metrics.perLayer.map(_.name -> 0.0): _*)

  def set(name: String, v: Double): Unit = {
    require(m.contains(name), s"unknown per-layer metric $name")
    m(name) = v
  }

  private def out(path: String): String = ctx.path(s"layers/$path")

  /** Fastest of `reps` runs of `body` in seconds, each a root span `name`. */
  def pass(name: String)(body: => Unit): Double =
    (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      ctx.span(name)(body)
      (System.nanoTime() - t0) / 1e9
    }.min

  /** Tasks of every span named `name`, and of the spans under them. */
  def tasksOf(name: String): TaskTotals = {
    log.drain(spark.sparkContext)
    val spans = ctx.tracer.spans
    val children = spans.groupBy(_.parent)
    def under(id: Int): Seq[Int] = id +: children.getOrElse(id, Nil).flatMap(c => under(c.id))
    val ids = spans.filter(_.name == name).flatMap(s => under(s.id)).toSet
    TaskTotals(log.tasks.filter(t => Tracer.spanOf(t.group).exists(ids.contains)))
  }

  /** Full-width scan of a workload's input tables (`bytes` on disk):
    * `scan.s`, `scan.bytes`. Returns the seconds. */
  def scan(in: Dataset[Turn], bytes: Long): Double = {
    val s = pass("scan")(Passes.charSum(in))
    set("scan.s", s)
    set("scan.bytes", bytes.toDouble)
    s
  }

  /** (+ salt shuffle) -> + extraction over the input whose scan took
    * `scanS`, plus the encoder round trip and the per-kind work counts.
    * Returns the seconds of the extraction pass. */
  def staged(in: Dataset[Turn], scanS: Double, salted: Boolean,
      extracted: Dataset[Turn] => DataFrame): Double = {
    val saltS =
      if (!salted) scanS
      else {
        val s = pass("pipeline.salted")(Passes.charSum(Pipeline.salted(spark, in)))
        val t = tasksOf("pipeline.salted")
        set("pipeline.salted.self_s", s - scanS)
        set("pipeline.salted.shuffle_write_bytes", t.shuffleWriteBytes.toDouble / reps)
        set("pipeline.salted.spill_bytes", t.spillBytes.toDouble / reps)
        set("pipeline.salted.fetch_wait_s", t.fetchWaitS / reps)
        set("pipeline.salted.task_skew", t.postShuffleSkew)
        s
      }
    val extractS = pass("extract")(Passes.noop(extracted(in)))
    set("extract.self_s", extractS - saltS)
    set("encode.self_s", pass("encode")(Passes.noop(Passes.encodeOnly(in).toDF())) - scanS)
    val byKind = extracted(in).groupBy(col("kind"))
      .agg(count(lit(1)), sum(when(col("failure").isNotNull, 1L).otherwise(0L)))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    Metrics.Kinds.foreach(k => set(s"extract.turns.$k", byKind.get(k).map(_._1).getOrElse(0L).toDouble))
    set("extract.failures", byKind.values.map(_._2).sum.toDouble)
    val predictedS = byKind.map { case (k, (n, _)) => n * nsPerTurn.getOrElse(k, 0.0) }.sum / 1e9
    // undefined (reported 0) when the extraction self time is within noise
    if (extractS > saltS) set("extract.parallel_eff", predictedS / (ctx.nproc * (extractS - saltS)))
    extractS
  }

  /** Write self time: the plan written as parquet minus the same plan
    * consumed without a write (`consumedS`). */
  def write(plan: => DataFrame, consumedS: Double): Unit = {
    var i = 0
    val s = pass("write") {
      i += 1
      plan.write.parquet(out(s"write-$i"))
    }
    set("write.self_s", s - consumedS)
    Files2.delete(out(""))
  }

  /** Single-thread nanoseconds per turn of `Extract.one`, per kind, over a
    * fixed sample of the seed's window: median of five timed loops after
    * one warm loop. */
  lazy val nsPerTurn: Map[String, Double] = {
    val ns = Inputs.kindSample(ctx.seed, 1500).map { case (k, texts) =>
      texts.foreach(Extract.one)
      k -> Stats.median((1 to 5).map { _ =>
        val t0 = System.nanoTime()
        texts.foreach(Extract.one)
        (System.nanoTime() - t0).toDouble / texts.length
      })
    }
    Metrics.Kinds.foreach(k => set(s"extract.$k.ns_per_turn", ns(k)))
    ns
  }
}

/** Metric names and units; BENCHMARK.json lists the same. */
object Metrics {
  final case class M(name: String, unit: String)

  val Kinds: Seq[String] = Seq("html", "pdfir", "markdown", "tool", "plain")

  val endToEnd: Seq[M] = Seq(
    M("turns_per_s", "turns/s"), M("cycle_s_p50", "s"),
    M("out_bytes_per_in_byte", "ratio"), M("heap_live_peak_mb", "MB"), M("setup_s", "s"))

  val perLayer: Seq[M] =
    Seq(M("scan.s", "s"), M("scan.bytes", "bytes"),
      M("pipeline.salted.self_s", "s"), M("pipeline.salted.shuffle_write_bytes", "bytes"),
      M("pipeline.salted.spill_bytes", "bytes"), M("pipeline.salted.fetch_wait_s", "s"),
      M("pipeline.salted.task_skew", "ratio"),
      M("extract.self_s", "s")) ++
      Kinds.map(k => M(s"extract.$k.ns_per_turn", "ns")) ++
      Kinds.map(k => M(s"extract.turns.$k", "count")) ++
      Seq(M("extract.failures", "count"), M("extract.parallel_eff", "ratio"),
        M("encode.self_s", "s"), M("pipeline.lineage.overhead_s", "s"),
        M("pipeline.snapshot.process_s", "s"), M("pipeline.snapshot.scan_amplification", "ratio"),
        M("pipeline.snapshot.write_bytes", "bytes"), M("pipeline.snapshot.files_written", "count"),
        M("pipeline.snapshot.lineage_rows", "count"), M("pipeline.snapshot.readback_s", "s"),
        M("pipeline.incremental.diff_s", "s"), M("pipeline.incremental.changed_keys", "count"),
        M("pipeline.incremental.reextract_s", "s"), M("pipeline.incremental.shuffle_bytes", "bytes"),
        M("pipeline.incremental.reextract_precision", "ratio"),
        M("streaming.fixed_ms_p50", "ms"), M("streaming.add_batch_ms_p50", "ms"),
        M("streaming.start_stop_ms_p50", "ms"), M("streaming.batches", "count"),
        M("write.self_s", "s"), M("write.bytes", "bytes"), M("write.files", "count"),
        M("cpu.process_s_per_mturn", "s"),
        M("tasks.run_s", "s"), M("tasks.cpu_s", "s"), M("tasks.gc_s", "s"),
        M("tasks.useful_ratio", "ratio"), M("tasks.shuffle_read_bytes", "bytes"),
        M("tasks.shuffle_write_bytes", "bytes"), M("tasks.spill_bytes", "bytes"),
        M("tasks.skew_max_over_p50", "ratio"), M("tasks.count", "count"),
        M("jvm.gc_s", "s"), M("jvm.gc_count", "count"),
        M("trace.turns_per_s_untraced", "turns/s"), M("trace.turns_per_s_traced", "turns/s"),
        M("trace.overhead", "ratio"))
}
