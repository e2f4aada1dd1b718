package perfbench

import graft.synth.Synth
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

class InputsSpec extends AnyFunSuite {

  private def digest(xs: Iterator[Synth.GoldenTurn]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    xs.foreach(g => md.update(g.toString.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private def window(seed: Long, n: Long) = {
    val s = Inputs.windowStart(seed)
    (s until s + n).iterator.flatMap(Synth.convTurns)
  }

  test("the same seed gives the same generated turns; another seed a disjoint window") {
    assert(digest(window(7, 300)) == digest(window(7, 300)))
    assert(digest(window(7, 300)) != digest(window(8, 300)))
    val a = window(7, 300).map(_.conv_id).toSet
    val b = window(8, 300).map(_.conv_id).toSet
    assert(a.intersect(b).isEmpty)
  }

  test("any integer seed, beyond 64 bits or negative, selects a window") {
    assert(Inputs.windowOf(BigInt(7)) == 7)
    assert(Inputs.windowOf(BigInt("18446744073709551615")) == 51615)
    assert(Inputs.windowOf(BigInt(-1)) == Inputs.Windows - 1)
    assert(Inputs.windowStart(Inputs.windowOf(BigInt("123456789012345678901234567"))) ==
      Inputs.windowStart(34567L))
  }

  test("every workload's conversations fit its window, and Spark can encode their timestamps") {
    val last = Inputs.windowStart(Inputs.Windows - 1)
    val batch = Inputs.window(last, Main.BatchTurns)
    val reingest = Inputs.window(last, Main.ReingestTurns)
    val stream = Iterator.iterate(Inputs.window(last, Main.StreamTurnsPerSlice))(
      w => Inputs.window(w.end, Main.StreamTurnsPerSlice)).drop(Main.StreamSlices - 1).next()
    val ends = Seq(batch.end, reingest.end, Inputs.addedConvs(reingest).last + 1, stream.end)
    ends.foreach(e => assert(e <= last + Inputs.WindowStride))
    (Seq(last + Inputs.WindowStride) ++ reingest.convs.filter(Inputs.isEdited).map(_ + Inputs.EditShift))
      .foreach { c =>
        val ts = Synth.goldenTurn(c, Synth.convLen(c) - 1).ts
        Math.multiplyExact(ts.getTime, 1000L)
      }
  }

  test("every seed's window has the same shape: one Zipf-tail conversation per 101") {
    Seq(0L, 1L, 2L, 17L, Inputs.Windows - 1).foreach { seed =>
      val s = Inputs.windowStart(seed)
      assert((s until s + 10100).count(Inputs.isLong) == 100, s"seed $seed")
    }
  }

  test("a window holds its turn target to within one short conversation on every seed") {
    Seq(0L, 1L, 2L, 17L, Inputs.Windows - 1).foreach { seed =>
      val w = Inputs.window(Inputs.windowStart(seed), 30000)
      val turns = w.convs.map(Synth.convLen(_).toLong).sum
      assert(turns >= 30000 && turns < 30020, s"seed $seed")
      assert(w.convs.count(Inputs.isLong) >= 10, s"seed $seed")
      assert(w.skipped.forall(Inputs.isLong), s"seed $seed")
    }
  }

  test("the day-2 plan: planted changes are the edited plus the added turns") {
    val w = Inputs.window(Inputs.windowStart(3), 80000)
    val edited = w.convs.filter(Inputs.isEdited)
    val deleted = w.convs.filter(Inputs.isDeleted)
    assert(edited.nonEmpty && deleted.nonEmpty && edited.intersect(deleted).isEmpty)
    assert(!edited.exists(Inputs.isLong) && !deleted.exists(Inputs.isLong))
    assert(Inputs.addedConvs(w).length == w.convs.length / 200)
    assert(Inputs.addedConvs(w).forall(_ >= w.end))
    edited.take(5).foreach { c =>
      val day1 = Synth.convTurns(c)
      val day2 = Inputs.day2Conv(c)
      assert(day2.map(g => (g.conv_id, g.turn_idx)) == day1.map(g => (g.conv_id, g.turn_idx)))
      assert(day2.zip(day1).forall { case (x, y) => x.text != y.text || x.ts != y.ts })
    }
    deleted.foreach(c => assert(Inputs.day2Conv(c).isEmpty))
    assert(Inputs.plantedChanges(w) ==
      edited.map(Synth.convLen(_).toLong).sum + Inputs.addedConvs(w).map(Synth.convLen(_).toLong).sum)
  }

  test("materialized input parquet is byte-identical for the same seed") {
    val spark = SparkSession.builder().master("local[2]").appName("inputs-spec")
      .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC").getOrCreate()
    try {
      val tmp = Files.createTempDirectory("perfbench-inputs")
      def write(seed: Long, dir: String): Seq[String] = {
        val w = Inputs.window(Inputs.windowStart(seed), 5000)
        Inputs.turns(Inputs.golden(spark, w, 3)(Synth.convTurns)).write.parquet(s"$tmp/$dir")
        Files2.parquetFiles(s"$tmp/$dir").sortBy(_.getFileName.toString).map { f =>
          MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(f)).map("%02x".format(_)).mkString
        }
      }
      val a = write(5, "a")
      assert(a.length == 3)
      assert(write(5, "b") == a)
      assert(write(6, "c") != a)
      Files2.delete(tmp.toString)
    } finally spark.stop()
  }

  test("metric names and units match BENCHMARK.json") {
    val json = new String(Files.readAllBytes(Paths.get("../BENCHMARK.json")), "UTF-8")
    def listed(section: String): Seq[(String, String)] = {
      val body = json.substring(json.indexOf(s""""$section""""))
      val block = body.substring(body.indexOf('['), body.indexOf(']') + 1)
      """\{"name":\s*"([^"]+)",\s*"unit":\s*"([^"]+)"""".r.findAllMatchIn(block)
        .map(m => (m.group(1), m.group(2))).toSeq
    }
    assert(listed("end_to_end") == Metrics.endToEnd.map(m => (m.name, m.unit)))
    assert(listed("per_layer") == Metrics.perLayer.map(m => (m.name, m.unit)))
  }
}
