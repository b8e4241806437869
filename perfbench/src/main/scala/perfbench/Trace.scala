package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. Spans of one request or micro-batch share
  * `trace`; `parent` is 0 for a root. Times are epoch nanoseconds. */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
                      layer: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
  def toJson: String =
    s"""{"id":$id,"parent":$parent,"trace":$trace,"name":${Json.str(name)},""" +
      s""""layer":${Json.str(layer)},"start_ns":$startNs,"end_ns":$endNs}"""
}

object Span {
  private val Line = """\{"id":(\d+),"parent":(\d+),"trace":(\d+),"name":"([^"]*)","layer":"([^"]*)","start_ns":(\d+),"end_ns":(\d+)\}""".r
  def parse(line: String): Option[Span] = line match {
    case Line(id, p, t, n, l, s, e) =>
      Some(Span(id.toLong, p.toLong, t.toLong, n, l, s.toLong, e.toLong))
    case _ => None
  }
}

/** In-memory span recorder. Disabled, `span` only runs its body; enabled,
  * it also keeps the span and counts the time its own bookkeeping takes,
  * which is the tracing overhead the traced run reports. */
final class Tracer(val enabled: Boolean, idBase: Long = 0L) {
  private val origin = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val ids = new AtomicLong(idBase)
  private val spans = ArrayBuffer.empty[Span]
  private val overhead = new AtomicLong(0L)

  def nowNs: Long = System.nanoTime() + origin
  def newId(): Long = ids.incrementAndGet()

  /** Time `body` as a span; `body` gets the span id for its children. */
  def span[A](name: String, layer: String, parent: Long = 0L, trace: Long = 0L)(body: Long => A): A =
    if (!enabled) body(0L)
    else {
      val b0 = System.nanoTime()
      val id = newId()
      val tr = if (trace == 0L) id else trace
      val start = nowNs
      overhead.addAndGet(System.nanoTime() - b0)
      try body(id)
      finally {
        val end = nowNs
        val b1 = System.nanoTime()
        add(Span(id, parent, tr, name, layer, start, end))
        overhead.addAndGet(System.nanoTime() - b1)
      }
    }

  def add(s: Span): Unit = if (enabled) spans.synchronized(spans += s)

  def all: Seq[Span] = spans.synchronized(spans.toList)
  def overheadNs: Long = overhead.get()

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, all.map(_.toJson).mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  /** Self time per layer in ms: each span's duration minus the time its
    * direct children cover. */
  def selfTimesMs(spans: Seq[Span]): Map[String, Double] = {
    val childNs = spans.groupBy(_.parent).view.mapValues(_.map(_.durNs).sum).toMap
    spans.groupBy(_.layer).view.mapValues { ss =>
      ss.map(s => math.max(0L, s.durNs - childNs.getOrElse(s.id, 0L))).sum / 1e6
    }.toMap
  }
}

/** The few JSON renderings the harness needs. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
}
