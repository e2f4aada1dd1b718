package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._

/** Task metrics of one finished task, charged to the job group (span) of
  * its stage. Times in seconds, sizes in bytes. */
final case class TaskRow(group: String, stageId: Int, durationS: Double, runS: Double,
    cpuS: Double, gcS: Double, fetchWaitS: Double, shuffleReadBytes: Long,
    shuffleWriteBytes: Long, spillBytes: Long, inputRecords: Long, outputBytes: Long)

/** A SparkListener that keeps every finished task's metrics in memory.
  * Listener events arrive asynchronously; [[drain]] waits until all events
  * of jobs that already ended have been seen. */
final class TaskLog extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val rows = new ConcurrentLinkedQueue[TaskRow]()
  private val endedGroups = ConcurrentHashMap.newKeySet[String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(TaskLog.JobGroupKey)))
    stageGroup.put(e.stageInfo.stageId, g.getOrElse(""))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(TaskLog.JobGroupKey)))
    jobGroup.put(e.jobId, g.getOrElse(""))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.get(e.jobId)).foreach(endedGroups.add)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val sr = m.shuffleReadMetrics
      rows.add(TaskRow(
        group = Option(stageGroup.get(e.stageId)).getOrElse(""),
        stageId = e.stageId,
        durationS = e.taskInfo.duration / 1e3,
        runS = m.executorRunTime / 1e3,
        cpuS = m.executorCpuTime / 1e9,
        gcS = m.jvmGCTime / 1e3,
        fetchWaitS = sr.fetchWaitTime / 1e3,
        shuffleReadBytes = sr.totalBytesRead,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled,
        inputRecords = m.inputMetrics.recordsRead,
        outputBytes = m.outputMetrics.bytesWritten))
    }
  }

  private val aliases = new ConcurrentHashMap[String, String]()

  /** Charge the tasks of job group `group` to `to`: a streaming query runs
    * its jobs in its own thread under its own group. */
  def alias(group: String, to: String): Unit = aliases.put(group, to)

  def tasks: Seq[TaskRow] =
    rows.asScala.toSeq.map(t => Option(aliases.get(t.group)).fold(t)(g => t.copy(group = g)))

  /** Run a one-task job in its own group and wait until its end event is
    * delivered: every event of an earlier job has been delivered by then. */
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit = {
    val g = s"drain-${System.nanoTime()}"
    sc.setJobGroup(g, "listener drain")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!endedGroups.contains(g)) {
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException("listener events were not delivered in time")
      Thread.sleep(5)
    }
  }
}

object TaskLog {
  /** The local property Spark stores `setJobGroup`'s id under. */
  val JobGroupKey = "spark.jobGroup.id"
}

/** Aggregates of a set of tasks. */
final case class TaskTotals(tasks: Seq[TaskRow]) {
  def count: Int = tasks.length
  def runS: Double = tasks.map(_.runS).sum
  def cpuS: Double = tasks.map(_.cpuS).sum
  def gcS: Double = tasks.map(_.gcS).sum
  def fetchWaitS: Double = tasks.map(_.fetchWaitS).sum
  def shuffleReadBytes: Long = tasks.map(_.shuffleReadBytes).sum
  def shuffleWriteBytes: Long = tasks.map(_.shuffleWriteBytes).sum
  def spillBytes: Long = tasks.map(_.spillBytes).sum
  def inputRecords: Long = tasks.map(_.inputRecords).sum
  def outputBytes: Long = tasks.map(_.outputBytes).sum
  def usefulRatio: Double = Stats.usefulRatio(runS, fetchWaitS, gcS)

  /** Max over median task time of the stage with the most task time. */
  def heaviestStageSkew: Double = skewOf(tasks)

  /** The same for the heaviest stage that read a shuffle. */
  def postShuffleSkew: Double = skewOf(tasks.filter(_.shuffleReadBytes > 0))

  private def skewOf(ts: Seq[TaskRow]): Double = {
    val byStage = ts.groupBy(_.stageId)
    if (byStage.isEmpty) 0.0
    else Stats.skew(byStage.values.maxBy(_.map(_.durationS).sum).map(_.durationS))
  }
}
