package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. Times are `System.nanoTime`
  * values; `parent` is the id of the span that caused it (0 = root);
  * spans of one request share `request`.
  */
final case class Span(id: Long, parent: Long, request: Long, name: String,
    start: Long, end: Long) {
  def durNs: Long = end - start
}

/** In-memory span recorder: spans are kept while a run is live and
  * written out once, after it ends (`Trace.writeJsonLines`).
  */
final class Tracer(@volatile var enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def nextId(): Long = ids.incrementAndGet()

  def record(s: Span): Unit = if (enabled) spans.add(s)

  /** Time `f` as a span named `name`; returns the result and the
    * span's duration in ms.
    */
  def timed[A](name: String, request: Long, parent: Long = 0L,
      id: Long = 0L)(f: => A): (A, Double) = {
    val sid = if (id != 0L) id else nextId()
    val t0 = System.nanoTime()
    val r = f
    val t1 = System.nanoTime()
    record(Span(sid, parent, request, name, t0, t1))
    (r, (t1 - t0) / 1e6)
  }

  def all: Seq[Span] = spans.asScala.toSeq
}

object Trace {

  /** One JSON object per span, in start order. */
  def writeJsonLines(spans: Seq[Span], path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.sortBy(_.start).foreach { s =>
      w.write(Json.obj(Seq("id" -> s.id, "parent" -> s.parent,
        "request" -> s.request, "name" -> s.name,
        "start_ns" -> s.start, "end_ns" -> s.end)))
      w.newLine()
    } finally w.close()
  }

  /** Self time of `parent`: its duration minus the part of its interval
    * covered by at least one of `children`. Children may overlap each
    * other (parallel stages of one job) and may stick out of the
    * parent (a listener event delivered late); only the covered part
    * inside the parent counts, and only once.
    */
  def selfNs(parent: Span, children: Seq[Span]): Long = {
    val clipped = children
      .map(c => (math.max(c.start, parent.start), math.min(c.end, parent.end)))
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) covered += curB - curA
    parent.durNs - covered
  }

  /** Self time of every span named `name`, in ms. */
  def selfMs(spans: Seq[Span], name: String): Seq[Double] = {
    val byParent = spans.groupBy(_.parent)
    spans.filter(_.name == name).map(s =>
      selfNs(s, byParent.getOrElse(s.id, Nil)) / 1e6)
  }
}
