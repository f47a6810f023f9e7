package graft.perfbench

import scala.collection.mutable

/** Wall clock in epoch milliseconds with nanosecond resolution, so the
  * benchmark's own spans line up with Spark listener timestamps. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double) {
  def seconds: Double = (end - start) / 1e3
}

/** In-memory span recorder. Every call is timed; spans are kept only when
  * tracing is on, and written out once the run ends. */
final class Spans(val enabled: Boolean) {
  val all = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil

  /** Run `body`, returning its value and its wall seconds. */
  def timed[T](name: String)(body: => T): (T, Double) = {
    val start = Clock.now()
    val id = all.size
    if (enabled) {
      all += Span(id, open.headOption.getOrElse(-1), name, start, start)
      open = id :: open
    }
    try {
      val v = body
      (v, (Clock.now() - start) / 1e3)
    } finally if (enabled) {
      all(id) = all(id).copy(end = Clock.now())
      open = open.tail
    }
  }

  /** Record a span measured elsewhere (another process, or a listener). */
  def add(name: String, start: Double, end: Double, parent: Int): Unit =
    if (enabled) all += Span(all.size, parent, name, start, end)

  /** Span id of the innermost open span, for attaching children. */
  def current: Int = open.headOption.getOrElse(-1)

  /** Per span: its duration minus the part of it its children cover. */
  def selfSeconds: Seq[(Span, Double)] = {
    val kids = all.groupBy(_.parent)
    all.toSeq.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (c.start max s.start, c.end min s.end)).filter(i => i._2 > i._1)
        .sortBy(_._1).foldLeft((0.0, s.start)) { case ((sum, reach), (a, b)) =>
          if (b > reach) (sum + b - (a max reach), b) else (sum, reach)
        }._1
      s -> ((s.end - s.start - covered) / 1e3)
    }
  }
}

/** Minimal JSON writer for the harness's result and trace files. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => graft.util.Json.str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
