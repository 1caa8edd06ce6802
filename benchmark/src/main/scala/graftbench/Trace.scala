package graftbench

import scala.collection.mutable.ArrayBuffer

/** Spans recorded around the harness's calls into the program's layers.
  * A span holds name, start, end, parent and the id of the operation (a
  * set-up round, a pass, a drain) it belongs to; spans are kept in memory
  * and written once when the run ends.
  *
  * When tracing is off, [[span]] only runs its body: the end-to-end timings
  * the harness reports are taken by the caller with `System.nanoTime`
  * either way, so the traced run adds only the bookkeeping below. A traced
  * run switches it off for the operations it times untraced.
  */
final class Trace(@volatile var enabled: Boolean) {
  import Trace.Span

  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private var nextId = 0
  private var op = ""

  /** Sets the operation id that new spans are filed under. */
  def operation(id: String): Unit = op = id

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parents = stack.get()
      val id = synchronized { nextId += 1; nextId }
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        synchronized { spans += Span(id, parents.headOption.getOrElse(0), op, name, t0, t1) }
      }
    }

  def json: Json.Obj = synchronized {
    Json.obj("spans" -> spans.map(s => Json.obj("id" -> s.id, "parent" -> s.parent,
      "op" -> s.op, "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)).toSeq)
  }
}

object Trace {
  final case class Span(id: Int, parent: Int, op: String, name: String,
      startNs: Long, endNs: Long)
}
