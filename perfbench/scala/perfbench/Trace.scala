package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

/** Spans recorded by the harness around each call into a layer. A span has
  * an id, its parent's id (0 for a root), the request it belongs to (a
  * query sample or a micro-batch), a name, and start/end in nanoseconds.
  * Spans stay in memory until [[write]]. When `on` is false nothing is
  * recorded and [[span]] only runs its body. */
final class Trace(val on: Boolean) {
  import Trace.Span

  private val spans = ArrayBuffer.empty[Span]
  private val ids = new AtomicLong
  private val open = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }

  def span[T](name: String, request: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get
      val parent = stack.headOption.getOrElse(0L)
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.set(stack)
        synchronized(spans += Span(id, parent, request, name, t0, t1))
      }
    }

  /** Records a span measured elsewhere (e.g. a phase reported by Spark's
    * progress data); returns its id so children can point at it. */
  def add(name: String, request: String, parent: Long, startNs: Long, endNs: Long): Long =
    if (!on) 0L
    else {
      val id = ids.incrementAndGet()
      synchronized(spans += Span(id, parent, request, name, startNs, endNs))
      id
    }

  def all: Seq[Span] = synchronized(spans.toList)

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.foreach { s =>
      w.println(Json(Map("id" -> s.id, "parent" -> s.parent, "request" -> s.request,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    } finally w.close()
  }
}

object Trace {
  final case class Span(id: Long, parent: Long, request: String, name: String,
      startNs: Long, endNs: Long)
}
