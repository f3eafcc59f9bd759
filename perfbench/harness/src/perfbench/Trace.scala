package perfbench

import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable.ArrayBuffer

/** One timed call from the benchmark into a layer of the program. */
final case class Span(id: Int, parent: Int, layer: String, name: String, startNs: Long, endNs: Long)

/** Spans around the benchmark's calls into the program, held in memory and
  * written when the run ends. With tracing off, `span` only runs its body. */
final class Trace(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val ids = new AtomicInteger(1)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  def current: Int = stack.get.headOption.getOrElse(0)

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.getAndIncrement()
      val parent = current
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        spans.synchronized(spans += Span(id, parent, layer, name, t0, t1))
      }
    }

  /** Adds a span measured elsewhere (a streaming trigger and its phases,
    * timed by the engine's progress reports); returns its id. */
  def record(parent: Int, layer: String, name: String, startNs: Long, endNs: Long): Int =
    if (!enabled) 0
    else {
      val id = ids.getAndIncrement()
      spans.synchronized(spans += Span(id, parent, layer, name, startNs, endNs))
      id
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  def writeJsonLines(path: String, baseNs: Long): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      Json(Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
        "start_s" -> (s.startNs - baseNs) / 1e9, "end_s" -> (s.endNs - baseNs) / 1e9))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", if (lines.isEmpty) "" else "\n"))
  }
}
