package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. Times are System.nanoTime values;
  * `parent` is -1 for a top-level (op) span. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      start: Long, end: Long)

/** Spans recorded from the benchmark's own code around calls into the
  * program's public functions. Kept in memory; written out at the end.
  * With `on = false` a span is just the call, so untraced ops pay
  * nothing. A span must enclose the materialization of any lazy
  * DataFrame its call returns, or the work lands in the caller's span.
  * Spans named `trace.*` are the tracer's own work (store-root walks):
  * they are children like any other, so they come out of their
  * parent's self time, and the report counts them as overhead. */
final class Tracer(var on: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var op = -1

  /** Open a span under the innermost open one; its id, or -1 when off. */
  def begin(name: String): Int =
    if (!on) -1
    else {
      val id = spans.size
      spans += Span(id, name, stack.headOption.getOrElse(-1), op, System.nanoTime(), -1L)
      stack = id :: stack
      id
    }

  /** Close span `id`, and with it any span still open inside it. */
  def end(id: Int): Unit =
    if (stack.contains(id)) {
      val t = System.nanoTime()
      val (inner, rest) = stack.span(_ != id)
      (inner :+ id).foreach(i => spans(i) = spans(i).copy(end = t))
      stack = rest.tail
    }

  def span[T](name: String)(body: => T): T = {
    val id = begin(name)
    try body finally end(id)
  }

  def rename(id: Int, name: String): Unit = spans(id) = spans(id).copy(name = name)

  /** Name of the innermost open span. */
  def innermost: Option[String] = stack.headOption.map(spans(_).name)

  /** A top-level span for one op of the closed loop. */
  def opSpan[T](opId: Int, name: String)(body: => T): T = {
    op = opId
    try span(name)(body) finally op = -1
  }

  def topLevel: Seq[Span] = spans.toSeq.filter(_.parent < 0)
}

object Trace {

  /** Length of the union of intervals, clipped to [lo, hi). */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (a max lo, b min hi) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time per span: its duration minus the part its children cover. */
  def selfNanos(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> ((s.end - s.start) - covered(ch, s.start, s.end))
    }.toMap
  }

  /** (self seconds, calls) per span name. */
  def byName(spans: Seq[Span]): Map[String, (Double, Int)] = {
    val self = selfNanos(spans)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> (ss.map(s => self(s.id)).sum / 1e9, ss.size)
    }
  }

  /** Module of a Spark job: the package of the first `graft.` frame in
    * its long-form call site (StageInfo.details), one of
    * [[Modules]]; "none" when the job came from no program frame. */
  val Modules: Seq[String] = Seq("core", "ops", "jobs", "sources", "other", "none")

  def moduleOf(callSite: String): String =
    Option(callSite).getOrElse("").split("\n").iterator.map(_.trim)
      .map(l => if (l.startsWith("at ")) l.drop(3) else l)
      .collectFirst { case l if l.startsWith("graft.") => l.drop(6).takeWhile(_ != '.') }
      .map(p => if (Modules.contains(p) && p != "none") p else "other")
      .getOrElse("none")

  /** Spans as JSON lines, for the trace file. */
  def toJsonLines(spans: Seq[Span], t0: Long): Seq[String] = {
    val self = selfNanos(spans)
    spans.map { s =>
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        f""""start_s":${(s.start - t0) / 1e9}%.6f,"end_s":${(s.end - t0) / 1e9}%.6f,""" +
        f""""self_s":${self(s.id) / 1e9}%.6f}"""
    }
  }
}
