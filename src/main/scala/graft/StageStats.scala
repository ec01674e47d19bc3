package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/**
 * Job-group-scoped stage statistics for `graft.Profile` and the
 * plan-shape pins: counts the jobs and tracks per-stage (tasks, max task
 * ms, sum task ms) plus shuffle write records and bytes for every job
 * whose group id starts with `groupPrefix` — the CLAUDE.md job-group scoping rule,
 * robust when other jobs share the SparkContext. `report` prints the
 * executed stages as (tasks, max, mean, skew): a straggler reads as
 * skew (max/mean) ≫ 1 WITHIN a stage; balanced-but-heavy stages read ≈ 1.
 *
 * Listener events trail the action that caused them, so read the
 * figures only after [[drain]] (or through [[StageStats.measure]], which
 * drains): an event still queued under-reports and reads as a false pass.
 */
private[graft] final class StageStats(val groupPrefix: String) extends SparkListener {
  require(groupPrefix.nonEmpty, "an empty prefix would match every job group")
  private val stageIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  // stage id -> name (callsite), for attribution in reports
  private val names = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val stats = new java.util.concurrent.ConcurrentHashMap[Int, StageStats.Stage]()
  /** Jobs started in a matching group. */
  val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
  val shuffleRecords = new java.util.concurrent.atomic.AtomicLong(0L)
  val shuffleBytes = new java.util.concurrent.atomic.AtomicLong(0L)
  // the pending drain sentinel's job group and its arrival latch
  @volatile private var sentinel: (String, java.util.concurrent.CountDownLatch) = null

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    // properties is documented nullable on SparkListenerJobStart — an NPE
    // here is swallowed by the listener bus and silently drops the job's
    // stages from the audit (a shuffle-record claim under-reports and
    // reads as a false pass)
    val group = Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val s = sentinel
    if (s != null && group.contains(s._1)) s._2.countDown()
    else if (group.exists(_.startsWith(groupPrefix))) {
      jobs.incrementAndGet()
      j.stageInfos.foreach { si =>
        stageIds.add(si.stageId)
        names.put(si.stageId, si.name.takeWhile(_ != '\n').take(60))
      }
    }
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    // successful attempts only: stage retries and speculative duplicates
    // would double-count durations and shuffle write records, over-reporting
    // skew under local retry noise
    if (t.reason == org.apache.spark.Success &&
        stageIds.contains(t.stageId) && t.taskInfo != null) {
      val m = Option(t.taskMetrics)
      val (recs, bytes) = m.flatMap(m => Option(m.shuffleWriteMetrics))
        .fold((0L, 0L))(w => (w.recordsWritten, w.bytesWritten))
      val read = m.flatMap(m => Option(m.shuffleReadMetrics)).fold(0L)(_.recordsRead)
      val d = t.taskInfo.duration
      stats.merge(t.stageId, StageStats.Stage(1, d, d, recs, bytes, read),
        (a, b) => StageStats.Stage(a.tasks + b.tasks, math.max(a.maxMs, b.maxMs),
          a.sumMs + b.sumMs, a.recordsWritten + b.recordsWritten,
          a.bytesWritten + b.bytesWritten, math.min(a.minRecordsRead, b.minRecordsRead)))
      shuffleRecords.addAndGet(recs)
      shuffleBytes.addAndGet(bytes)
    }

  /** Stages that ran at least one successful task. */
  def stageCount: Int = stats.size

  /** Every stage that ran, in stage-id order, with its name (callsite). */
  def stages: Seq[(String, StageStats.Stage)] = {
    import scala.jdk.CollectionConverters._
    stats.asScala.toSeq.sortBy(_._1).map { case (sid, st) => (names.getOrDefault(sid, ""), st) }
  }

  /** Block until every listener event posted before this call has been
    * delivered. Runs one tiny job in a sibling group that does not match
    * the prefix and waits for its job start: the shared listener queue
    * is FIFO, so once it arrives every earlier event has too. The
    * caller's job group is restored afterwards. */
  def drain(sc: SparkContext): Unit = {
    val group = s"drain-${System.nanoTime()}-$groupPrefix"
    val latch = new java.util.concurrent.CountDownLatch(1)
    sentinel = (group, latch)
    try {
      StageStats.inGroup(sc, group)(sc.parallelize(Seq(0), 1).count())
      require(latch.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the listener bus never delivered the drain sentinel")
    } finally sentinel = null
  }

  /** Print every stage that ran, in stage-id order, under `tag`. */
  def report(tag: String): Unit = {
    import scala.jdk.CollectionConverters._
    stats.asScala.toSeq.sortBy(_._1).foreach {
      case (sid, StageStats.Stage(nt, mx, sm, recs, bytes, _)) =>
        println(f"[$tag]   stage $sid%4d tasks $nt%4d max $mx%6d ms " +
          f"mean ${sm / math.max(nt, 1)}%6d ms  skew ${mx.toDouble * nt / math.max(sm, 1)}%4.1fx" +
          f"  wrote $recs%8d rec ${bytes / (1024 * 1024)}%5d MB  " +
          names.getOrDefault(sid, ""))
    }
  }
}

private[graft] object StageStats {

  /** One stage's successful tasks: count, longest and summed duration,
    * shuffle records and bytes written, and the fewest shuffle records
    * any one task read (0 on a stage that reads no shuffle, or when a
    * shuffle leaves a task idle). */
  final case class Stage(
      tasks: Int, maxMs: Long, sumMs: Long, recordsWritten: Long, bytesWritten: Long,
      minRecordsRead: Long)

  /** Run `body` in job group `group` with a fresh listener attached;
    * return its value and the drained stats. The listener is removed
    * before this returns. */
  def measure[T](sc: SparkContext, group: String)(body: => T): (T, StageStats) = {
    val stats = new StageStats(group)
    sc.addSparkListener(stats)
    try {
      val v = inGroup(sc, group)(body)
      stats.drain(sc)
      (v, stats)
    } finally sc.removeSparkListener(stats)
  }

  /** Run `body` in job group `group`, then restore the caller's group. */
  def inGroup[T](sc: SparkContext, group: String)(body: => T): T = {
    val keys = Seq("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    val saved = keys.map(k => k -> sc.getLocalProperty(k))
    sc.setJobGroup(group, group)
    try body finally saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }
}
