package perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder for the traced run. A span is (id, name,
  * start, end, parent, query, n): `parent` is the span open on the same
  * thread when it started (-1 for a root), `query` the id of the query
  * being answered (-1 outside the query loop), `n` the rows the call
  * processed (0 when not applicable). Spans are kept in memory and
  * written out once, when the run ends. Disabled, a span is one branch.
  */
object Trace {
  final case class Span(id: Int, name: String, start: Long, end: Long,
      parent: Int, query: Int, n: Long)

  @volatile var enabled: Boolean = false
  @volatile var query: Int = -1

  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 0
  private val open = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def span[T](name: String, n: Long = 0L)(f: => T): T =
    if (!enabled) f
    else {
      val id = synchronized { nextId += 1; nextId }
      val stack = open.get()
      val parent = stack.headOption.getOrElse(-1)
      open.set(id :: stack)
      val q = query
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        open.set(stack)
        synchronized { spans += Span(id, name, t0, t1, parent, q, n) }
      }
    }

  def recorded: Seq[Span] = synchronized(spans.toList)

  /** Tab-separated, one span per line, header first. */
  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("id\tname\tstart_ns\tend_ns\tparent\tquery\tn\n")
    recorded.sortBy(_.id).foreach { s =>
      sb.append(s"${s.id}\t${s.name}\t${s.start}\t${s.end}\t${s.parent}\t${s.query}\t${s.n}\n")
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}
