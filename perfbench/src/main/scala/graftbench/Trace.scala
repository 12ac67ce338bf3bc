package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** In-memory span recorder. A span is (id, parent, name, op, start, end):
  * `op` is the id of the request, batch or query it belongs to; `parent`
  * is the span open on the same thread when it started (0 for a root).
  * Spans are kept in memory and written out once the run ends. With
  * tracing off, [[span]] only runs its body.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0L)
  private val done = new ConcurrentLinkedQueue[Array[Any]]()
  private val open = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[T](name: String, op: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get()
      val parent = stack.headOption.getOrElse(0L)
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Array(id, parent, name, op, t0, System.nanoTime()))
        open.set(stack)
      }
    }

  /** Record an interval measured elsewhere (e.g. a lock wait) as a child of
    * the span open on this thread. */
  def record(name: String, op: String, start: Long, end: Long): Unit =
    if (enabled) {
      val parent = open.get().headOption.getOrElse(0L)
      done.add(Array(ids.incrementAndGet(), parent, name, op, start, end))
    }

  def spans: Seq[Array[Any]] = done.asScala.toSeq
}
