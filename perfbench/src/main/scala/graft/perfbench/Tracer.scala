package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed interval around a call the benchmark makes into graft. */
final case class Span(id: Long, parent: Long, name: String, op: Long,
                      startNs: Long, endNs: Long)

/** In-memory span recorder. With tracing off, [[span]] only runs its
  * body; with it on, every span gets an id, its enclosing span on the
  * same thread as parent, and the operation id it belongs to. Spans
  * are written out once, when the run ends. */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[T](name: String, op: Long = 0L)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        spans.synchronized(spans += Span(id, parent, name, op, t0, t1))
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Self time per span name, seconds: each span's duration minus the
    * part of it its child spans cover. Children run on the parent's
    * thread, so they never overlap each other. */
  def selfSeconds(from: Long): Map[String, Double] = {
    val ss = all.filter(_.startNs >= from)
    val childNs = ss.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum }
    ss.groupBy(_.name).map { case (n, group) =>
      n -> group.map(s => s.endNs - s.startNs - childNs.getOrElse(s.id, 0L))
        .sum / 1e9 }
  }

  /** Durations in ms of every span with this name. */
  def durationsMs(name: String, from: Long): Seq[Double] =
    all.filter(s => s.name == name && s.startNs >= from)
      .map(s => (s.endNs - s.startNs) / 1e6)

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.startNs).foreach { s =>
      w.write(PerfMain.json.writeValueAsString(s))
      w.newLine()
    } finally w.close()
  }
}
