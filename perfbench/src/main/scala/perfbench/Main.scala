package perfbench

import org.apache.spark.sql.SparkSession
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The benchmark process: one workload, one seed, one JVM on `local[nproc]`.
  *
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *  [--source <digest>] [--commit <id>]`
  *
  * Set-up (input materialization; the first also starts the session) runs
  * [[SetupReps]] times and `setup_s` is its median; untimed warm-up jobs follow the last
  * one (job time is what `turns_per_s` measures). Then a fixed
  * number of jobs, `--seconds` over the workload's nominal job time (at
  * least [[MinJobs]]), runs in a closed loop; each job's output is checked
  * against the golden right after it, outside its timing. The last stdout
  * line is the result object.
  */
object Main {
  private val t00 = System.nanoTime()

  val SetupReps = 3
  val MinJobs = 3
  val LayerReps = 3

  /** Workload sizes, chosen so that ten runs of each workload per commit
    * fit one measurement session on a 4-core host (about 35 s a run). */
  val BatchTurns = 30000L
  val ReingestTurns = 40000L
  /** Generated turns; about 45% of them are html or pdfir and are landed. */
  val StreamTurnsPerSlice = 20000L
  val StreamSlices = 3

  def workload(name: String, ctx: Ctx): Workload = name match {
    case "batch_checkpointed" => new BatchCheckpointed(ctx, BatchTurns)
    case "stream_html"        => new StreamHtml(ctx, StreamTurnsPerSlice, StreamSlices)
    case "reingest_delta"     => new ReingestDelta(ctx, ReingestTurns)
    case other                => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** `seedArg` is the seed as given, any integer; `seed` is its window. */
  final case class Opts(workload: String, seedArg: BigInt, seed: Long, seconds: Double,
      trace: Boolean, work: Path, source: String, commit: String)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val seed = BigInt(need("seed"))
    Opts(need("workload"), seed, Inputs.windowOf(seed), need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath,
      kv.getOrElse("source", "unknown"), kv.getOrElse("commit", "unknown"))
  }

  def session(nproc: Int, work: Path): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      // loopback only, whatever the host name resolves to
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      // unlike graft.Bench (tmpfs), shuffle files stay on the checkout's
      // disk: the benchmark writes nothing outside its checkout. The record
      // names the filesystem and each job's I/O-wait share.
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Spark's own status bookkeeping grows with every job; cap it so the
      // live heap after GC reflects the engine, not how many jobs ran
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "5000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.sql.streaming.ui.retainedQueries", "10")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // --- host probes -------------------------------------------------------------

  /** (steal, iowait, total) jiffies from /proc/stat, fields user..steal. */
  def cpuStat(): (Long, Long, Long) =
    try {
      val line = scala.util.Using.resource(scala.io.Source.fromFile("/proc/stat"))(_.getLines().next())
      val f = line.trim.split("\\s+").drop(1).map(_.toLong)
      (f.lift(7).getOrElse(0L), f.lift(4).getOrElse(0L), f.take(8).sum)
    } catch { case NonFatal(_) => (0L, 0L, 0L) }

  def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
    case _                                           => 0.0
  }

  def gcTotals(): (Double, Long) = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (gcs.map(_.getCollectionTime).sum / 1e3, gcs.map(_.getCollectionCount).sum)
  }

  /** Old-generation occupancy after a full collection, in MB. Spark's
    * ContextCleaner frees broadcast and shuffle blocks only after the
    * collection that releases their handles, so collect, give it a moment,
    * and collect again. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getName.contains("Old"))
      .map(p => Option(p.getCollectionUsage).getOrElse(p.getUsage).getUsed)
      .sum / 1048576.0
  }

  def fsType(p: Path): String =
    try {
      val mounts = Files.readAllLines(Paths.get("/proc/mounts")).asScala.map(_.split(' ')).filter(_.length > 2)
      mounts.filter(m => p.toString.startsWith(m(1))).maxBy(_(1).length).apply(2)
    } catch { case NonFatal(_) => "unknown" }

  // --- the closed loop -----------------------------------------------------------

  final case class Job(seconds: Double, turns: Long, cpuS: Double, stealPct: Double,
      iowaitPct: Double, gcS: Double, gcCount: Long)

  /** Jobs of one kind (warm-up, untraced or traced); `sampleHeap` takes
    * the live heap after each checked job (for `stream_html`, after each
    * check of the whole output). */
  final class Loop(ctx: Ctx, w: Workload, sampleHeap: Boolean = true) {
    val jobs = ArrayBuffer.empty[Job]
    val checks = ArrayBuffer.empty[JobCheck]
    val problems = ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0
    var heapPeakMb = 0.0

    def run(n: Int): Unit = {
      val end = attempted + n
      while (attempted < end && failed < 3) {
        val i = ctx.nextJob()
        attempted += 1
        val (st0, io0, tot0) = cpuStat()
        val (gc0, gcn0) = gcTotals()
        val cpu0 = processCpuS()
        val t0 = System.nanoTime()
        try {
          val turns = ctx.span("job")(w.runJob(i))
          val t1 = System.nanoTime()
          val cpu1 = processCpuS()
          val (gc1, gcn1) = gcTotals()
          val (st1, io1, tot1) = cpuStat()
          def pct(a: Long, b: Long) = if (tot1 > tot0) (b - a) * 100.0 / (tot1 - tot0) else 0.0
          jobs += Job((t1 - t0) / 1e9, turns, cpu1 - cpu0, pct(st0, st1), pct(io0, io1),
            gc1 - gc0, gcn1 - gcn0)
          val check = w.afterJob(i)
          checks ++= check
          if (sampleHeap && check.isDefined) heapPeakMb = math.max(heapPeakMb, liveHeapMb())
        } catch {
          case NonFatal(e) =>
            failed += 1
            System.err.println(s"[perfbench] job $i failed: $e")
            e.printStackTrace()
        }
        System.err.println(f"[perfbench] job $i done at ${(System.nanoTime() - t00) / 1e9}%.2f s")
      }
    }

    def close(): Unit = {
      checks ++= w.close()
      problems ++= checks.flatMap(_.problems)
    }

    def mismatches: Long = checks.map(_.mismatches).sum
    def turnsPerS(sumOverTotal: Boolean): Double =
      if (sumOverTotal) jobs.map(_.turns).sum / jobs.map(_.seconds).sum
      else Stats.median(jobs.map(_.turns.toDouble)) / Stats.median(jobs.map(_.seconds))
  }

  def main(args: Array[String]): Unit = {
    val code =
      try run(parse(args))
      catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] aborted: $e")
          e.printStackTrace()
          2
      }
    System.out.flush()
    sys.exit(code)
  }

  def run(o: Opts): Int = {
    val nproc = Runtime.getRuntime.availableProcessors
    val runId = f"${o.workload}-s${o.seedArg}-t${if (o.trace) 1 else 0}-${System.currentTimeMillis()}%d"
    Files.createDirectories(o.work)

    // set-up, several times: the session starts with the first, and each
    // materializes the inputs afresh; the last stays for the jobs
    val setupS = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    val spark = session(nproc, o.work)
    var ctx: Ctx = null
    var w: Workload = null
    (0 until SetupReps).foreach { k =>
      if (ctx != null) Files2.delete(ctx.dir.toString)
      val t1 = if (k == 0) t0 else System.nanoTime()
      ctx = new Ctx(spark, o.work.resolve(s"setup-$k"), o.seed, nproc,
        new Tracer(false, o.workload, runId, spark.sparkContext), new TaskLog)
      w = workload(o.workload, ctx)
      w.prepare()
      setupS += (System.nanoTime() - t1) / 1e9
    }
    val warm = new Loop(ctx, w, sampleHeap = false)
    warm.run(w.warmupJobs)
    warm.close()
    val nJobs = math.max(MinJobs, math.round(o.seconds / w.nominalJobS).toInt)
    val streamed = o.workload == "stream_html"

    val untraced = new Loop(ctx, w)
    val traced = new Loop(ctx, w)
    var layers: Layers = null
    if (!o.trace) untraced.run(nJobs)
    else {
      // traced and untraced jobs alternate, so the warm-up trend does not
      // bias the tracing overhead
      spark.sparkContext.addSparkListener(ctx.log)
      (0 until math.max(4, nJobs)).foreach { i =>
        ctx.tracer.enabled = i % 2 == 1
        (if (ctx.tracer.enabled) traced else untraced).run(1)
      }
      untraced.close()
      traced.close()
      layers = new Layers(ctx, ctx.log, LayerReps)
      w.layers(layers)
      perJobLayers(layers, untraced, traced)
      layers.set("trace.turns_per_s_untraced", untraced.turnsPerS(streamed))
      layers.set("trace.turns_per_s_traced", traced.turnsPerS(streamed))
      layers.set("trace.overhead", untraced.turnsPerS(streamed) / traced.turnsPerS(streamed) - 1)
      val traceDir = o.work.getParent.resolve("traces")
      Files.createDirectories(traceDir)
      val spansFile = traceDir.resolve(s"$runId.spans.jsonl")
      Files.write(spansFile, ctx.tracer.toJsonLines.asJava, StandardCharsets.UTF_8)
      println(s"perfbench spans ${ctx.tracer.spans.length} written to ${o.work.getParent.getFileName}/traces/${spansFile.getFileName}")
    }
    if (!o.trace) untraced.close()
    val gateProblems = w.gate()
    val loops = Seq(warm, untraced) ++ (if (o.trace) Seq(traced) else Nil)
    spark.stop()

    // results
    val timed = if (o.trace) traced else untraced
    val attempted = untraced.attempted + traced.attempted
    val failed = untraced.failed + traced.failed
    val mismatches = loops.map(_.mismatches).sum
    val problems = loops.flatMap(_.problems) ++ gateProblems
    val correct = mismatches == 0 && failed == 0 && warm.failed == 0 && problems.isEmpty &&
      timed.jobs.nonEmpty
    val jobs = untraced.jobs ++ traced.jobs
    val cycle = jobs.map(_.seconds)

    val record = Json.obj(Seq(
      "workload" -> Json.str(o.workload), "seed" -> o.seedArg.toString, "window" -> o.seed.toString,
      "trace" -> (if (o.trace) "1" else "0"),
      "run_id" -> Json.str(runId), "commit" -> Json.str(o.commit), "source_digest" -> Json.str(o.source),
      "nproc" -> nproc.toString, "task_slots" -> nproc.toString,
      "xmx_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "spark_local_dir" -> Json.str(o.work.resolve("spark-local").toString),
      "spark_local_dir_fs" -> Json.str(fsType(o.work)),
      "java" -> Json.str(System.getProperty("java.version")),
      "spark" -> Json.str(org.apache.spark.SPARK_VERSION),
      "steal_pct_per_job" -> jobs.map(j => Json.num(j.stealPct)).mkString("[", ",", "]"),
      "iowait_pct_per_job" -> jobs.map(j => Json.num(j.iowaitPct)).mkString("[", ",", "]"),
      "job_s" -> jobs.map(j => Json.num(j.seconds)).mkString("[", ",", "]"),
      "job_cpu_s" -> jobs.map(j => Json.num(j.cpuS)).mkString("[", ",", "]"),
      "setup_s_each" -> setupS.map(Json.num).mkString("[", ",", "]")))
    println(s"perfbench record $record")
    println(s"perfbench gate " + Json.obj(Seq(
      "golden_mismatch_turns" -> mismatches.toString,
      "failed_ratio" -> Json.num(failed.toDouble / math.max(1, attempted)),
      "problems" -> problems.map(Json.str).mkString("[", ",", "]"))))
    problems.foreach(p => System.err.println(s"[perfbench] gate: $p"))
    if (cycle.nonEmpty) {
      val hi = Stats.highestSupported(cycle.length)
        .map(p => f" p${Json.num(p)}=${Json.num(Stats.percentile(cycle, p))}").getOrElse("")
      println(s"perfbench cycle_s p50=${Json.num(Stats.median(cycle))}$hi n=${cycle.length}")
    }

    val metrics: Seq[(String, Double, String)] =
      if (o.trace) Metrics.perLayer.map(m => (m.name, layers.m(m.name), m.unit))
      else if (timed.jobs.isEmpty) Nil
      else {
        val e2e = Map(
          "turns_per_s" -> timed.turnsPerS(streamed),
          "cycle_s_p50" -> Stats.median(timed.jobs.map(_.seconds)),
          "out_bytes_per_in_byte" -> timed.checks.map(_.outBytes).sum.toDouble / timed.checks.map(_.inBytes).sum,
          "heap_live_peak_mb" -> timed.heapPeakMb,
          "setup_s" -> Stats.median(setupS.toSeq))
        Metrics.endToEnd.map(m => (m.name, e2e(m.name), m.unit))
      }
    println(s"perfbench metric golden_mismatch_turns = $mismatches count")
    println(s"perfbench metric failed_ratio = ${Json.num(failed.toDouble / math.max(1, attempted))} ratio")
    metrics.foreach { case (n, v, u) => println(s"perfbench metric $n = ${Json.num(v)} $u") }
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> math.max(1, attempted).toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
    if (correct) 0 else 1
  }

  /** Per-job task and GC metrics of the traced jobs; write volume of all
    * checked jobs. */
  private def perJobLayers(l: Layers, untraced: Loop, traced: Loop): Unit = {
    val n = math.max(1, traced.jobs.length).toDouble
    val all = untraced.jobs ++ traced.jobs
    l.set("cpu.process_s_per_mturn", all.map(_.cpuS).sum / (all.map(_.turns).sum / 1e6))
    val t = l.tasksOf("job")
    l.set("tasks.run_s", t.runS / n)
    l.set("tasks.cpu_s", t.cpuS / n)
    l.set("tasks.gc_s", t.gcS / n)
    l.set("tasks.useful_ratio", t.usefulRatio)
    l.set("tasks.shuffle_read_bytes", t.shuffleReadBytes / n)
    l.set("tasks.shuffle_write_bytes", t.shuffleWriteBytes / n)
    l.set("tasks.spill_bytes", t.spillBytes / n)
    l.set("tasks.skew_max_over_p50", t.heaviestStageSkew)
    l.set("tasks.count", t.count / n)
    l.set("jvm.gc_s", traced.jobs.map(_.gcS).sum / n)
    l.set("jvm.gc_count", traced.jobs.map(_.gcCount).sum / n)
    val checked = (untraced.checks ++ traced.checks).map(_.jobs).sum
    if (checked > 0) {
      l.set("write.bytes", (untraced.checks ++ traced.checks).map(_.outBytes).sum.toDouble / checked)
      l.set("write.files", (untraced.checks ++ traced.checks).map(_.outFiles).sum.toDouble / checked)
    }
  }
}
