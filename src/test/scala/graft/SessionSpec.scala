package graft

import org.apache.spark.SparkConf
import org.scalatest.funsuite.AnyFunSuite

/** [[Session.conf]] fills only what the launcher left unset; no session
  * is started here.
  */
class SessionSpec extends AnyFunSuite {

  private val defaults = Map(
    "spark.app.name" -> "graft-x",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.extensions" -> "graft.functions.GraftExtensions")

  test("a launcher's master and shuffle partitions are kept; the other defaults are filled") {
    val launched = new SparkConf(false)
      .setMaster("local-cluster[2,1,1024]")
      .set("spark.sql.shuffle.partitions", "3")
    val c = Session.conf(launched, "graft-x", 8)
    assert(c.get("spark.master") == "local-cluster[2,1,1024]")
    assert(c.get("spark.sql.shuffle.partitions") == "3")
    defaults.foreach { case (k, v) => assert(c.get(k) == v, k) }
    assert(!launched.contains("spark.ui.enabled"), "the caller's conf is not mutated")
  }

  test("an empty conf gets master local[cpus] and cpus shuffle partitions") {
    val c = Session.conf(new SparkConf(false), "graft-x", 8)
    assert(c.get("spark.master") == "local[8]")
    assert(c.get("spark.sql.shuffle.partitions") == "8")
    defaults.foreach { case (k, v) => assert(c.get(k) == v, k) }
  }
}
