package perfbench

import scala.collection.mutable

/** One timed interval at a layer boundary. Times are `System.nanoTime`
  * values; `parent` is the id of the span that caused this one. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      start: Long, end: Long) {
  def dur: Long = end - start
}

/** In-memory span recorder. Spans are kept until the run ends and then
  * written out in one go, so recording costs an allocation and no I/O.
  * A disabled recorder still runs the timed body and returns no span. */
final class Trace(val enabled: Boolean) {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1

  def add(parent: Int, name: String, layer: String, start: Long, end: Long): Int = synchronized {
    if (!enabled) 0
    else {
      val id = nextId
      nextId += 1
      buf += Span(id, parent, name, layer, start, end)
      id
    }
  }

  /** Time `body` as a span; the body receives the new span's id so
    * child spans can name it as their parent. */
  def span[T](parent: Int, name: String, layer: String)(body: Int => T): T = {
    val id = synchronized { if (enabled) { val i = nextId; nextId += 1; i } else 0 }
    val t0 = System.nanoTime()
    try body(id)
    finally if (enabled) synchronized {
      buf += Span(id, parent, name, layer, t0, System.nanoTime())
    }
  }

  def spans: Seq[Span] = synchronized(buf.toList.sortBy(_.id))
}

object Trace {
  /** Self time of every span: its duration minus the part of its
    * interval that its children cover (overlapping children count
    * once; a child running past its parent's end is clipped). */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          val from = math.max(a, reach)
          if (b > from) (sum + (b - from), b) else (sum, reach)
        }._1
      s.id -> (s.dur - covered)
    }.toMap
  }

  /** Self time summed per layer, in seconds. */
  def selfByLayer(spans: Seq[Span]): Map[String, Double] = {
    val self = selfTimes(spans)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum / 1e9 }
  }

  def toJsonLines(spans: Seq[Span]): String =
    spans.map(s => Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "layer" -> s.layer, "start_ns" -> s.start, "end_ns" -> s.end)).mkString("", "\n", "\n")
}
