package perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory spans recorded around the benchmark's calls into each layer.
  * One client thread drives every workload, so the open-span stack is a
  * plain list. When `on` is false a span is just its body.
  */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, layer: String, name: String,
      op: Long, start: Long, end: Long)

  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  private var nextOp = 0L
  var on: Boolean = enabled

  /** A fresh operation id: spans of one lookup, stage or query share it. */
  def newOp(): Long = { nextOp += 1; nextOp }

  def span[T](layer: String, name: String, op: Long)(body: => T): T =
    if (!on) body else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body finally {
        stack = stack.tail
        spans += Span(id, parent, layer, name, op, t0, System.nanoTime())
      }
    }

  /** Seconds per layer of span time not covered by child spans. */
  def selfSeconds: Map[String, Double] = {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(s => s.end - s.start).sum }
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.end - s.start - childNs.getOrElse(s.id, 0L)).sum / 1e9
    }
  }

  /** Durations in ms of the spans named `name`. */
  def durationsMs(name: String): Seq[Double] =
    spans.iterator.filter(_.name == name).map(s => (s.end - s.start) / 1e6).toSeq

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.start).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}","name":"${s.name}",""" +
        s""""op":${s.op},"start_ns":${s.start},"end_ns":${s.end}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Stats {
  /** Nearest-rank percentile, `p` in (0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
  }
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
