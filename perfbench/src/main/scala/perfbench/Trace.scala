package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One timed call into a layer. `parent` is the enclosing span's id (0 at
  * the top); spans of one operation share `op`. */
final case class Span(
    id: Long, parent: Long, op: Long, name: String, startNs: Long, endNs: Long) {
  /** The layer is the name's first dotted component: `swap.refresh` is in
    * layer `swap`. */
  def layer: String = name.takeWhile(_ != '.')
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder around the benchmark's calls into graft. When
  * disabled, `span` runs its body and records nothing; a traced run
  * disables it for a while to measure what tracing costs. */
final class Tracer(@volatile var enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  private val stack = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)

  /** Time `body` as span `name`, nested under the calling thread's
    * innermost open span. `op` defaults to the parent's operation id. */
  def span[A](name: String, op: Long = -1L)(body: => A): A =
    if (!enabled) body
    else {
      val outer = stack.get()
      val id = ids.incrementAndGet()
      val (parent, parentOp) = outer.headOption.getOrElse((0L, id))
      val opId = if (op >= 0) op else parentOp
      stack.set((id, opId) :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, opId, name, t0, System.nanoTime()))
        stack.set(outer)
      }
    }

  def recorded: Seq[Span] = spans.asScala.toSeq

  /** Write every span as one tab-separated line. */
  def writeTo(path: java.nio.file.Path): Unit = {
    val lines = recorded.sortBy(_.id).map(s =>
      s"${s.id}\t${s.parent}\t${s.op}\t${s.name}\t${s.startNs}\t${s.endNs}")
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {

  /** Self time of each span: its duration minus the part of its interval
    * covered by its children (overlapping children count once, and a
    * child's time outside the parent is not subtracted). */
  def selfNs(spans: Seq[Span]): Map[Long, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else if (b > curB) curB = b
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Summed self time per layer, in seconds. */
  def layerSelfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val self = selfNs(spans)
    spans.groupBy(_.layer).map { case (layer, ss) => layer -> ss.map(s => self(s.id)).sum / 1e9 }
  }
}
