package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed call made by the benchmark. Spans of one query or one
  * serve epoch share `trace`; `parent` is 0 for a root span. */
final case class Span(id: Int, parent: Int, trace: Int, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Records spans around the benchmark's calls into the engine. Spans
  * stay in memory until the run ends. A disabled tracer runs the body
  * and records nothing. Single-threaded: the benchmark has one client
  * thread. */
final class Tracer(val enabled: Boolean) {
  private val done = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var lastId = 0
  private var trace = 0

  /** Starts a new trace (one query or one epoch) and returns its id. */
  def newTrace(): Int = { trace += 1; trace }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      lastId += 1
      val id = lastId
      val parent = open.headOption.getOrElse(0)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        open = open.tail
        done += Span(id, parent, trace, name, t0, System.nanoTime())
      }
    }

  def spans: Seq[Span] = done.toSeq
}

object Spans {

  /** Length of the union of `[start, end)` intervals. */
  def unionNs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- intervals.filter(i => i._2 > i._1).sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s
        curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of each span: its duration minus the part of its
    * interval that its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = unionNs(children.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.id -> (s.durNs - covered)
    }.toMap
  }
}
