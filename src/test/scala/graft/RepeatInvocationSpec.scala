package graft

import org.scalatest.funsuite.AnyFunSuite

/** Idempotent re-invocation for the STATEFUL queries — the ones that
  * write scratch state (rule registries, persisted indexes, streaming
  * checkpoints, snapshot stores) keyed by `SparkEntry.scratchDir`: a
  * second call in the same JVM must wipe-and-rebuild to the
  * byte-identical result, never resume into stale state, and reuse its
  * scratch path instead of adding a new temp-dir entry. (Verify and
  * Bench each invoke once per JVM today; this pins the contract for any
  * harness that doesn't.)
  */
class RepeatInvocationSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionFixture.spark
  private val dir = "/root/testdata/sf0.001"

  private def rows(name: String): Set[String] =
    SparkEntry.queries(name)(spark, dir)
      .collect().map(_.toString).toSet

  /** The temp-dir entries this code can create: the dirs under the
    * per-user scratch root keyed by this JVM's pid (`*_p<pid>`), plus
    * top-level `graft*` entries (the shape of a per-call temp dir).
    * Other live JVMs' scratch dirs under the shared root are left out. */
  private def tmpEntries(): Set[String] = {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    def names(d: Path): Set[String] =
      if (!Files.isDirectory(d)) Set.empty
      else scala.util.Using.resource(Files.list(d))(_.iterator().asScala.map(_.getFileName.toString).toSet)
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val root = s"graft_scratch_${System.getProperty("user.name")}"
    val own = s"_p${ProcessHandle.current().pid()}"
    names(tmp).filter(_.startsWith("graft")) ++
      names(tmp.resolve(root)).filter(_.endsWith(own)).map(root + "/" + _)
  }

  test("scratchDir reclaims the dirs of exited JVMs and leaves live pids' dirs alone") {
    import java.nio.file.{Files, Paths}
    val child = new ProcessBuilder("true").start()
    child.waitFor()
    val root = Paths.get(System.getProperty("java.io.tmpdir"), s"graft_scratch_${System.getProperty("user.name")}")
    val exited = Files.createDirectories(root.resolve(s"probe_exited_000000_p${child.pid()}"))
    Files.write(exited.resolve("state"), Array[Byte](1))
    val live = Files.createDirectories(root.resolve(s"probe_live_000000_p${ProcessHandle.current().pid()}"))
    val own = SparkEntry.scratchDir("probe_reclaim", "x")
    try {
      assert(!Files.exists(exited), s"the dir of exited pid ${child.pid()} survived")
      assert(Files.isDirectory(live), "a live pid's dir was wiped")
    } finally Seq(live, Paths.get(own)).foreach(Files.deleteIfExists)
  }

  for (q <- Seq(
      "q47_rule_registry", "q90_stream_extract", "q106_stream_windows",
      "q180_stream_drop_audit", "q185_ivf_index_scan",
      "q191_ivf_quantized_index", "q194_time_travel",
      "q196_snapshot_changelog")) {
    test(s"$q: second same-JVM invocation reproduces the first exactly") {
      val first = rows(q)
      val before = tmpEntries()
      val second = rows(q)
      val added = tmpEntries() -- before
      assert(first.nonEmpty, s"$q returned no rows")
      assert(second == first, s"$q drifted across invocations")
      assert(added.isEmpty, s"$q left new temp-dir entries: ${added.toSeq.sorted}")
    }
  }
}
