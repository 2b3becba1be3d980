package perfbench

import scala.collection.mutable

/** One timed interval at a layer boundary. Times are nanoseconds on the
  * JVM's monotonic clock; `parent` is the span that caused this one (-1 for
  * an op's root span) and `op` links every span of one op. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    start: Long, end: Long) {
  def dur: Long = end - start
  /** The layer a span belongs to: its name up to the first dot. */
  def layer: String = name.takeWhile(_ != '.')
}

object Span {
  /** Self time of every span: its duration minus the part of its interval
    * that its children cover. Children may overlap one another (concurrent
    * jobs or stages), so the covered part is the length of the union of
    * their intervals clipped to the parent. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else if (b > curB) curB = b
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.dur - covered)
    }.toMap
  }

  /** Self time summed per layer, in milliseconds. */
  def selfMsByLayer(spans: Seq[Span]): Map[String, Double] = {
    val self = selfTimes(spans)
    spans.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => self(s.id)).sum / 1e6
    }
  }
}

/** Spans of one run, kept in memory and written out when the run ends.
  * The listener bus thread adds job and stage spans, hence the locking. */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L

  def newId(): Long = synchronized { nextId += 1; nextId }

  def add(s: Span): Unit = synchronized { spans += s }

  /** Times `body` as a span named `name` under `parent`. */
  def span[T](op: Long, parent: Long, name: String)(body: Long => T): T = {
    val id = newId()
    val t0 = System.nanoTime()
    try body(id)
    finally add(Span(id, parent, op, name, t0, System.nanoTime()))
  }

  def all: Seq[Span] = synchronized { spans.toSeq }

  /** One JSON object per span, one per line. */
  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end}}""")
      w.newLine()
    } finally w.close()
  }
}
