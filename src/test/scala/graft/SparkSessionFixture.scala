package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession
import org.scalatest.{Args, Outcome, Status, TestSuite, TestSuiteMixin}
import java.nio.file.{Files, Path}

/** One shared local SparkSession for all suites (spark_guide.md: one
  * session per suite; sharing across suites avoids repeated JVM-wide
  * startup cost under `sbt -batch test`).
  */
object SparkSessionFixture {

  /** Shared test helper: lowercase sha256 hex (engine `sha2(_, 256)` /
    * DuckDB `sha256()` parity family).
    */
  def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Shared test helper: EXACT Spark `size(split(trim(text), "\\s+"))`
    * semantics — space-only trim and a limit=-1 split that KEEPS
    * leading/trailing empty tokens. Java `String.trim` + Scala's
    * default split silently diverge on tab/newline-edged text.
    */
  def sparkTokenCount(t: String): Long = {
    val s = t.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
    s.split("\\s+", -1).length.toLong
  }

  /** Scratch directories that are deleted recursively when the test
    * that made them ends; one made outside a test (suite-shared) is
    * deleted when the suite ends. Deletion is best effort: a test's
    * outcome never depends on it.
    */
  trait TempDirs extends TestSuiteMixin { this: TestSuite =>
    private val made = scala.collection.mutable.ArrayBuffer.empty[Path]

    def tempDir(prefix: String): Path = made.synchronized {
      val d = Files.createTempDirectory(prefix)
      made += d
      d
    }

    private def deleteFrom(mark: Int): Unit = made.synchronized {
      made.drop(mark).foreach { d =>
        try scala.util.Using.resource(Files.walk(d)) {
          _.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
        } catch { case _: java.io.IOException | _: java.io.UncheckedIOException => }
      }
      made.dropRightInPlace(made.length - mark)
    }

    abstract override def withFixture(test: NoArgTest): Outcome = {
      val mark = made.synchronized(made.length)
      try super.withFixture(test) finally deleteFrom(mark)
    }

    abstract override def run(testName: Option[String], args: Args): Status =
      try super.run(testName, args) finally deleteFrom(0)
  }

  lazy val spark: SparkSession = Session.start(
    new SparkConf().setMaster("local[4]").set("spark.sql.shuffle.partitions", "8"),
    "graft-test", 4)
}
