package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What one run measured: timed samples per metric, single per-layer
  * values, and the operation tally. */
final class Record {
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val values = mutable.LinkedHashMap.empty[String, Double]
  val attempted = new AtomicLong(0L)
  val failed = new AtomicLong(0L)
  private val shown = new AtomicLong(0L)

  def sample(name: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  }
  def samplesOf(name: String): Seq[Double] = synchronized(samples.get(name).map(_.toSeq).getOrElse(Nil))

  def set(name: String, v: Double): Unit = synchronized(values(name) = v)
  def add(name: String, v: Double): Unit = synchronized(values(name) = values.getOrElse(name, 0.0) + v)
  def value(name: String): Double = synchronized(values.getOrElse(name, 0.0))

  /** Count one operation; a wrong answer counts as failed. The first few
    * failures are described on stderr. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted.incrementAndGet()
    if (!ok) {
      failed.incrementAndGet()
      if (shown.incrementAndGet() <= 10) System.err.println(s"[perfbench] wrong answer: $what")
    }
  }

  /** Count one operation that threw. */
  def fail(what: String, e: Throwable): Unit = {
    attempted.incrementAndGet()
    failed.incrementAndGet()
    if (shown.incrementAndGet() <= 10) System.err.println(s"[perfbench] failed: $what: $e")
  }
}

/** The live heap right after a full collection, sampled between timed
  * operations. The collections it forces are counted apart, so the run's
  * own GC time leaves them out. */
final class Heap {
  private var peak = 0.0
  private var forced = 0L

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def sample(): Unit = synchronized {
    val g0 = gcMs
    System.gc()
    forced += gcMs - g0
    peak = math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6)
  }

  def peakMb: Double = synchronized(peak)
  def forcedGcMs: Long = synchronized(forced)
}

object Answers {
  def same(expected: Option[Array[Byte]], got: Option[Array[Byte]]): Boolean =
    (expected, got) match {
      case (None, None) => true
      case (Some(a), Some(b)) => java.util.Arrays.equals(a, b)
      case _ => false
    }

  def show(v: Option[Array[Byte]]): String =
    v.fold("absent")(b => if (b == null) "null" else new String(b, "UTF-8").take(40))
}
