package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Job and task totals seen by a listener the benchmark registers. */
final case class SparkTotals(
    jobs: Long = 0, tasks: Long = 0, shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
    recordsRead: Long = 0, taskMsSum: Long = 0, taskMsMax: Long = 0) {
  def -(o: SparkTotals): SparkTotals = SparkTotals(
    jobs - o.jobs, tasks - o.tasks, shuffleWriteBytes - o.shuffleWriteBytes,
    spillBytes - o.spillBytes, recordsRead - o.recordsRead, taskMsSum - o.taskMsSum,
    // the max is over the whole window: callers reset it per window
    taskMsMax)
}

final class SparkMeter(spark: SparkSession) extends SparkListener {
  private var t = SparkTotals()
  spark.sparkContext.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    t = t.copy(jobs = t.jobs + 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val ms = e.taskInfo.duration
    t = if (m == null) t.copy(tasks = t.tasks + 1)
    else t.copy(
      tasks = t.tasks + 1,
      shuffleWriteBytes = t.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
      spillBytes = t.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
      recordsRead = t.recordsRead + m.inputMetrics.recordsRead,
      taskMsSum = t.taskMsSum + ms,
      taskMsMax = math.max(t.taskMsMax, ms))
  }

  /** Totals after every event posted so far has been delivered. */
  def snapshot(): SparkTotals = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    synchronized(t)
  }

  /** `body`'s result and the jobs and tasks it ran. */
  def measure[A](body: => A): (A, SparkTotals) = {
    val before = snapshot()
    synchronized { t = t.copy(taskMsMax = 0) }
    val a = body
    (a, snapshot() - before)
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(this)
}
