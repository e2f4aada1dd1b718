package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The engine's one session factory: `graft.Bench`, `graft.Verify`,
  * `graft.WireDump` and the test fixture all build their session here.
  *
  * Callers pass `new SparkConf()`, which already holds every `spark.*`
  * key a launcher set (`spark-submit --master` / `--conf`, or a
  * `-Dspark.*` JVM flag). The engine's defaults only fill the keys left
  * unset, so the launcher's master and sizing always win.
  */
object Session {

  /** `base` with the engine's defaults set where `base` has no value:
    * master `local[cpus]`, `appName`, `cpus` shuffle partitions, UTC
    * session time zone, UI off, and the graft SQL functions injected
    * through `spark.sql.extensions`. Returns a copy; starts nothing.
    */
  def conf(base: SparkConf, appName: String, cpus: Int): SparkConf =
    base.clone()
      .setIfMissing("spark.master", s"local[$cpus]")
      .setIfMissing("spark.app.name", appName)
      .setIfMissing("spark.sql.shuffle.partitions", cpus.toString)
      .setIfMissing("spark.sql.session.timeZone", "UTC")
      .setIfMissing("spark.ui.enabled", "false")
      .setIfMissing("spark.sql.extensions", classOf[functions.GraftExtensions].getName)

  /** The session for [[conf]]`(base, appName, cpus)` (reused if one is
    * active), logging at WARN.
    */
  def start(base: SparkConf, appName: String, cpus: Int): SparkSession = {
    val s = SparkSession.builder().config(conf(base, appName, cpus)).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
