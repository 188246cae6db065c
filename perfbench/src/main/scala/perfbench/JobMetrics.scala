package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Per job group counters: every job a Spark action submits while a job
  * group is set on the submitting thread (broadcast and subquery threads
  * inherit it) is attributed to that group. */
final class GroupCounters {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def taskSeconds: Double = taskMs / 1000.0

  /** Wall time inside [start, end] (epoch ms) that no job of the group
    * covered: planning, driver-side collection and writing, scheduling
    * gaps. */
  def driverOnlySeconds(startMs: Long, endMs: Long): Double = {
    val clipped = jobIntervals.map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0L, endMs - startMs - covered) / 1000.0
  }
}

final class JobMetrics(sc: SparkContext) extends SparkListener {
  private val groups = mutable.HashMap.empty[String, GroupCounters]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (String, Long)]

  sc.addSparkListener(this)

  private def group(g: String): GroupCounters = groups.getOrElseUpdate(g, new GroupCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) {
      group(g).jobs += 1
      e.stageIds.foreach(stageGroup.update(_, g))
      jobStart(e.jobId) = (g, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t0) => group(g).jobIntervals += ((t0, e.time)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(g => group(g).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val c = group(g)
      c.tasks += 1
      if (e.taskInfo != null) c.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.diskBytesSpilled
      }
    }
  }

  /** Counters of `g` once every event posted so far has been delivered. */
  def counters(g: String): GroupCounters = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized(groups.getOrElse(g, new GroupCounters))
  }

  /** Run `body` with every job it submits attributed to group `g`. */
  def inGroup[T](g: String)(body: => T): T = {
    sc.setJobGroup(g, g, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }
}
