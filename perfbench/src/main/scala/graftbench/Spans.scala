package graftbench

import scala.collection.mutable

/** One timed interval: an op or one of its phases. */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long)

/** In-memory span log, written out once the run ends. */
final class Spans(origin: Long) {
  val all = mutable.ArrayBuffer.empty[Span]
  def add(parent: Int, op: Int, name: String, start: Long, end: Long): Int = {
    val id = all.size + 1
    all += Span(id, parent, op, name, start - origin, end - origin)
    id
  }
}
