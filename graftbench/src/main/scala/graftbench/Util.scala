package graftbench

import java.io.{File, PrintWriter}

import scala.collection.mutable.ArrayBuffer

/** Minimal JSON writer for the harness's result files. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }

  def write(file: File, v: Any): Unit = {
    val w = new PrintWriter(file, "UTF-8")
    try w.println(apply(v)) finally w.close()
  }
}

/** One traced interval. `op` identifies the operation (pass/key or
  * micro-batch) the span belongs to; `parent` is the enclosing span's id. */
final case class Span(id: Int, name: String, op: String, parent: Int,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder; disabled in untraced runs, where `span` only
  * runs its body. Spans are written out when the run ends. */
final class Trace(val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]

  def span[T](name: String, op: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, name, op, parent, System.nanoTime(), 0L)
      stack = id :: stack
      try body finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endNs = System.nanoTime())
      }
    }

  /** Record an interval measured elsewhere (e.g. from a progress report). */
  def add(name: String, op: String, parent: Int, startNs: Long, endNs: Long): Int = {
    spans += Span(spans.length, name, op, parent, startNs, endNs)
    spans.length - 1
  }

  /** Sum of durations of spans named `name`. */
  def total(name: String): Double = spans.iterator.filter(_.name == name).map(_.seconds).sum

  /** Self time per span name: duration minus the time its children cover. */
  def selfTimes: Map[String, Double] = {
    val child = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.seconds - child.getOrElse(s.id, 0.0)).sum
    }
  }

  def writeTo(file: File): Unit = {
    val w = new PrintWriter(file, "UTF-8")
    try spans.foreach(s => w.println(Json(Map("id" -> s.id, "name" -> s.name,
      "op" -> s.op, "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs))))
    finally w.close()
  }
}

object Stats {
  /** Median of `xs`, 0 when empty. Percentiles are taken in layers.py. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Peak resident set size of this process in MB (Linux VmHWM). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  def heapPeakMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
  }
}
