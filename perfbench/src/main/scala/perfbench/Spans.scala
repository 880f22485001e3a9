package perfbench

import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable.ArrayBuffer

/** One timed interval: `parent` is the enclosing span's id (or -1) and
  * `op` the operation (query, vendor, serve batch) it belongs to. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
                      parent: Int, op: String) {
  def durNs: Long = endNs - startNs
}

object Spans {

  /** Self time of every span: its duration minus the time covered by at
    * least one direct child. Children that run concurrently (a worker
    * pool) are counted once, by the union of their intervals. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach) else (sum + b - math.max(a, reach), b)
        }._1
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Tab-separated dump with self times, one span a line. */
  def tsv(spans: Seq[Span]): String = {
    val self = selfTimes(spans)
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    val lines = spans.sortBy(s => (s.startNs, s.id)).map { s =>
      f"${s.id}\t${s.name}\t${s.op}\t${s.parent}\t${(s.startNs - t0) / 1e9}%.6f\t" +
        f"${s.durNs / 1e9}%.6f\t${self(s.id) / 1e9}%.6f"
    }
    ("id\tname\top\tparent\tstart_s\tdur_s\tself_s" +: lines).mkString("", "\n", "\n")
  }
}

/** Thread-safe in-memory span log. Nesting on one thread is tracked
  * automatically; work handed to another thread names its parent. */
final class SpanRecorder {
  private val ids = new AtomicInteger
  private val done = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue = Nil }

  /** Times `body`. `parent` overrides the enclosing span; `startNs`
    * backdates the start (a vendor's time runs from its claim). */
  def span[T](name: String, op: String, parent: Int = -2, startNs: Long = 0L)(body: => T): T = {
    val id = ids.getAndIncrement()
    val outer = stack.get
    val par = if (parent != -2) parent else outer.headOption.getOrElse(-1)
    stack.set(id :: outer)
    val t0 = if (startNs != 0L) startNs else System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.set(outer)
      done.synchronized { done += Span(id, name, t0, t1, par, op) }
    }
  }

  /** Logs an interval timed by the caller. */
  def record(name: String, op: String, startNs: Long, endNs: Long, parent: Int): Unit = {
    val id = ids.getAndIncrement()
    done.synchronized { done += Span(id, name, startNs, endNs, parent, op) }
  }

  /** Id of the innermost open span on this thread, or -1. */
  def current: Int = stack.get.headOption.getOrElse(-1)

  def all: Seq[Span] = done.synchronized(done.toList)

  def clear(): Unit = done.synchronized(done.clear())
}
