package perfbench

import org.apache.spark.SparkContext
import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. `parent` is 0 for a root span. */
final case class Span(id: Int, parent: Int, name: String, workload: String, runId: String,
    startNs: Long, endNs: Long) {
  def durationNs: Long = endNs - startNs
}

/** In-memory span recorder. Every span also becomes the Spark job group of
  * the jobs started inside it, so [[TaskLog]] can charge stage and task
  * metrics to the span that caused them. While `enabled` is false it only
  * runs the body: no spans, no job groups.
  */
final class Tracer(var enabled: Boolean, workload: String, val runId: String, sc: SparkContext) {
  private val recorded = ArrayBuffer.empty[Span]
  private var stack: List[(Int, String)] = Nil
  private var nextId = 1

  def spans: Seq[Span] = recorded.toSeq

  /** The innermost open span. */
  def current: Option[Int] = stack.headOption.map(_._1)

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(0)
      stack = (id, name) :: stack
      sc.setJobGroup(Tracer.group(id), name)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        recorded += Span(id, parent, name, workload, runId, t0, t1)
        stack.headOption match {
          case Some((p, pName)) => sc.setJobGroup(Tracer.group(p), pName)
          case None             => sc.clearJobGroup()
        }
      }
    }

  /** Record a span timed by someone else (a streaming progress report)
    * as a child of the innermost open span. */
  def record(name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) {
      recorded += Span(nextId, stack.headOption.map(_._1).getOrElse(0), name, workload, runId,
        startNs, endNs)
      nextId += 1
    }

  def toJsonLines: Seq[String] = recorded.sortBy(_.id).map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"workload":${Json.str(s.workload)},"run_id":${Json.str(s.runId)},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.toSeq
}

object Tracer {
  def group(spanId: Int): String = s"span-$spanId"
  def spanOf(group: String): Option[Int] =
    Option(group).filter(_.startsWith("span-")).flatMap(_.stripPrefix("span-").toIntOption)
}

/** Pure statistics over spans and samples. */
object Stats {

  /** A span's self time: its duration minus the part of its interval that
    * its children cover. Overlapping children count once. */
  def selfNs(span: Span, children: Seq[Span]): Long = {
    val clipped = children
      .map(c => (math.max(c.startNs, span.startNs), math.min(c.endNs, span.endNs)))
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    span.durationNs - covered
  }

  /** Median (mean of the middle pair for an even count). */
  def median(xs: collection.Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile, `p` in (0, 100]. */
  def percentile(xs: collection.Seq[Double], p: Double): Double = {
    require(xs.nonEmpty && p > 0 && p <= 100, s"percentile $p of ${xs.length} samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100 * s.length).toInt - 1))
  }

  val Ladder: Seq[Double] = Seq(50, 90, 95, 99, 99.9)

  /** The highest percentile of [[Ladder]] that has at least ten samples
    * beyond it, or None when even the median has fewer. */
  def highestSupported(n: Int): Option[Double] =
    Ladder.filter(p => n * (100 - p) / 100 >= 10 - 1e-9).lastOption

  /** Slowest task over the median task: 1.0 is perfectly even. */
  def skew(taskSeconds: collection.Seq[Double]): Double = {
    val m = median(taskSeconds)
    if (m <= 0) 1.0 else taskSeconds.max / m
  }

  /** DS2's useful time: executor run time not spent waiting for shuffle
    * fetches or in GC, over the run time. */
  def usefulRatio(runS: Double, fetchWaitS: Double, gcS: Double): Double =
    if (runS <= 0) 0.0 else (runS - fetchWaitS - gcS) / runS
}

object Json {
  def str(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
