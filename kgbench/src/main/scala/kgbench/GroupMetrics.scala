package kgbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** Task totals for one Spark job group. Times in nanoseconds, sizes
  * in bytes. */
final case class GroupTotals(
    jobs: Long = 0,
    tasks: Long = 0,
    runNs: Long = 0,
    cpuNs: Long = 0,
    shuffleWriteBytes: Long = 0,
    spillBytes: Long = 0)

/** Sums task metrics per job group. The benchmark sets a job group
  * around each traced span; each job counts for its group, and each
  * finished task adds its executor run and CPU time, shuffle-write
  * bytes and disk spill to the group of the job that submitted its
  * stage. A job submitted without a group — from a thread that does
  * not carry the span's local properties, such as a pooled `Future`
  * thread — counts for the innermost span [[open]] at its submission
  * time; the benchmark runs one span's work at a time, so the time
  * window identifies it. Read totals only after
  * [[org.apache.spark.kgbench.ListenerBusDrain]]: events arrive on the
  * listener bus after the action returns. */
final class GroupMetrics extends SparkListener {
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val totals = mutable.HashMap.empty[String, GroupTotals]
  /** (group, opened ms, closed ms — Long.MaxValue while open). */
  private val windows = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val windowRun = mutable.HashMap.empty[String, Long]

  def open(group: String): Unit = synchronized {
    windows += ((group, System.currentTimeMillis(), Long.MaxValue))
  }

  def close(group: String): Unit = synchronized {
    val i = windows.lastIndexWhere(w => w._1 == group && w._3 == Long.MaxValue)
    if (i >= 0) windows(i) = windows(i).copy(_3 = System.currentTimeMillis())
  }

  private def windowAt(ms: Long): Option[String] =
    windows.reverseIterator.find { case (_, s, e) => s <= ms && ms <= e }.map(_._1)

  private def groupOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(GroupMetrics.GroupKey)))

  private def bump(group: String)(f: GroupTotals => GroupTotals): Unit =
    totals(group) = f(totals.getOrElse(group, GroupTotals()))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    groupOf(e.properties).orElse(windowAt(e.time)).foreach { g =>
      bump(g)(t => t.copy(jobs = t.jobs + 1))
      e.stageIds.foreach(stageGroup(_) = g)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    groupOf(e.properties).foreach(stageGroup(e.stageInfo.stageId) = _)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) for ((g, s, end) <- windows
                        if s <= e.taskInfo.launchTime && e.taskInfo.finishTime <= end)
      windowRun(g) = windowRun.getOrElse(g, 0L) + m.executorRunTime * 1000000L
    for (g <- stageGroup.get(e.stageId) if m != null) bump(g) { t =>
      t.copy(
        tasks = t.tasks + 1,
        runNs = t.runNs + m.executorRunTime * 1000000L,
        cpuNs = t.cpuNs + m.executorCpuTime,
        shuffleWriteBytes = t.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        spillBytes = t.spillBytes + m.diskBytesSpilled)
    }
  }

  def apply(group: String): GroupTotals = synchronized(totals.getOrElse(group, GroupTotals()))

  /** Executor run time of all tasks launched and finished inside the
    * window of span group `group`, whichever group they were charged to. */
  def windowRunNs(group: String): Long = synchronized(windowRun.getOrElse(group, 0L))
}

object GroupMetrics {
  /** The local property `SparkContext.setJobGroup` sets. */
  val GroupKey = "spark.jobGroup.id"
}
