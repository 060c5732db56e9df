package graft.layerbench

import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder for the traced run.
  *
  * A span is (id, parent, name, start, end) in milliseconds since the
  * tracer was created; spans are written once, at the end of the run.
  * With tracing off every call is a no-op, so the untraced run pays
  * nothing for the hooks.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span

  private val t0Nano = System.nanoTime()
  private val t0Epoch = System.currentTimeMillis()
  private val spans = ArrayBuffer.empty[Span]

  def nanoToMs(nano: Long): Double = (nano - t0Nano) / 1e6
  def epochToMs(epochMs: Long): Double = (epochMs - t0Epoch).toDouble

  def size: Int = spans.size

  /** Records a span; returns its id (-1 when tracing is off). */
  def add(name: String, parent: Int, start: Double, end: Double,
      attrs: Seq[(String, Any)] = Nil): Int =
    if (!enabled) -1
    else synchronized {
      spans += Span(spans.size, parent, name, start, end, attrs)
      spans.size - 1
    }

  /** Self time per span name: each span's duration minus the part of
    * its interval its children cover (children clipped to the parent).
    */
  def selfTimes: Seq[(String, Double, Double, Int)] = synchronized {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).toSeq.map { case (name, ss) =>
      val total = ss.map(s => s.end - s.start).sum
      val self = ss.map { s =>
        val iv = children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0.0
        var curA = Double.NaN
        var curB = Double.NaN
        iv.foreach { case (a, b) =>
          if (curA.isNaN) { curA = a; curB = b }
          else if (a <= curB) curB = math.max(curB, b)
          else { covered += curB - curA; curA = a; curB = b }
        }
        if (!curA.isNaN) covered += curB - curA
        (s.end - s.start) - covered
      }.sum
      (name, total, self, ss.size)
    }.sortBy(-_._3)
  }

  def write(path: Path, context: Map[String, Any]): Unit = synchronized {
    val rows = spans.map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end) ++ s.attrs: _*)
    }
    val self = selfTimes.map { case (n, tot, self, cnt) =>
      Json.obj("name" -> n, "count" -> cnt, "total_ms" -> tot, "self_ms" -> self)
    }
    Json.write(path, Json.obj("context" -> context, "self_time" -> self, "spans" -> rows))
  }
}

object Tracer {
  private final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double,
      attrs: Seq[(String, Any)])
}
