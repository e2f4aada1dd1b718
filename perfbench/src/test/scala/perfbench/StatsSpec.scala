package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  private def span(id: Int, parent: Int, s: Long, e: Long) = Span(id, parent, s"s$id", "w", "r", s, e)

  test("self time subtracts the union of child intervals, overlaps counted once") {
    val root = span(1, 0, 0, 100)
    // [10,40] and [30,60] overlap on [30,40]; [70,80] is separate; [90,120]
    // runs past the parent's end and only [90,100] is charged
    val kids = Seq(span(2, 1, 10, 40), span(3, 1, 30, 60), span(4, 1, 70, 80), span(5, 1, 90, 120))
    assert(Stats.selfNs(root, kids) == 100 - (50 + 10 + 10))
  }

  test("self time: nested and identical children, children outside the parent") {
    val root = span(1, 0, 100, 200)
    assert(Stats.selfNs(root, Nil) == 100)
    assert(Stats.selfNs(root, Seq(span(2, 1, 120, 180), span(3, 1, 130, 140))) == 40)
    assert(Stats.selfNs(root, Seq(span(2, 1, 120, 180), span(3, 1, 120, 180))) == 40)
    assert(Stats.selfNs(root, Seq(span(2, 1, 0, 50), span(3, 1, 300, 400))) == 100)
    assert(Stats.selfNs(root, Seq(span(2, 1, 0, 500))) == 0)
  }

  test("highest percentile with at least ten samples beyond it") {
    assert(Stats.highestSupported(0).isEmpty)
    assert(Stats.highestSupported(19).isEmpty)
    assert(Stats.highestSupported(20).contains(50.0))
    assert(Stats.highestSupported(99).contains(50.0))
    assert(Stats.highestSupported(100).contains(90.0))
    assert(Stats.highestSupported(199).contains(90.0))
    assert(Stats.highestSupported(200).contains(95.0))
    assert(Stats.highestSupported(1000).contains(99.0))
    assert(Stats.highestSupported(10000).contains(99.9))
  }

  test("median and nearest-rank percentile") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 99.9) == 100.0)
  }

  test("skew is the slowest task over the median task") {
    assert(Stats.skew(Seq(1.0, 1.0, 1.0)) == 1.0)
    assert(Stats.skew(Seq(1.0, 2.0, 8.0)) == 4.0)
    assert(Stats.skew(Seq(0.0, 0.0)) == 1.0)
  }

  test("useful ratio takes fetch wait and GC out of run time") {
    assert(Stats.usefulRatio(10.0, 1.0, 1.5) == 0.75)
    assert(Stats.usefulRatio(4.0, 0.0, 0.0) == 1.0)
    assert(Stats.usefulRatio(0.0, 0.0, 0.0) == 0.0)
  }

  test("task totals: per-stage skew of the heaviest stage and the post-shuffle stage") {
    def t(stage: Int, d: Double, shRead: Long) =
      TaskRow("span-1", stage, d, d, d, 0.1, 0.2, shRead, 0, 0, 0, 0)
    val tt = TaskTotals(Seq(t(1, 1, 0), t(1, 1, 0), t(1, 10, 0), t(2, 2, 5), t(2, 3, 5), t(2, 4, 5)))
    assert(tt.heaviestStageSkew == 10.0)
    assert(tt.postShuffleSkew == 4.0 / 3.0)
    assert(math.abs(tt.usefulRatio - (21.0 - 1.2 - 0.6) / 21.0) < 1e-12)
  }

  test("job groups map back to span ids") {
    assert(Tracer.spanOf(Tracer.group(42)).contains(42))
    assert(Tracer.spanOf("drain-1").isEmpty)
    assert(Tracer.spanOf(null).isEmpty)
  }
}
