package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** Percentiles and small numeric helpers shared by every workload. */
object Stats {
  /** Linear-interpolated quantile (q in [0, 1]); 0 for an empty sample. */
  def quantile(xs: collection.Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.toArray.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)

  /** Growable long array, safe to append from one thread while another reads. */
  final class Longs(initial: Int = 1024) {
    private var a = new Array[Long](initial)
    private var n = 0
    def size: Int = synchronized(n)
    def apply(i: Int): Long = synchronized(a(i))
    def +=(v: Long): Unit = synchronized {
      if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
      a(n) = v; n += 1
    }
    /** Set slot i, growing (with `fill`) as needed. */
    def set(i: Int, v: Long, fill: Long): Unit = synchronized {
      while (i >= a.length) {
        val b = java.util.Arrays.copyOf(a, a.length * 2)
        java.util.Arrays.fill(b, a.length, b.length, fill)
        a = b
      }
      if (i >= n) { java.util.Arrays.fill(a, n, i, fill); n = i + 1 }
      a(i) = v
    }
    def get(i: Int, dflt: Long): Long = synchronized(if (i < n) a(i) else dflt)
    /** Index of `v` in a sorted prefix, or -1. */
    def indexOf(v: Long): Int = synchronized {
      val i = java.util.Arrays.binarySearch(a, 0, n, v)
      if (i >= 0) i else -1
    }
    def toArray: Array[Long] = synchronized(java.util.Arrays.copyOf(a, n))
  }
}

/** In-memory spans for the traced run: name, start, end, parent, one run id.
  * Spans are only recorded when tracing is on and are written out once, at
  * the end of the run. A layer's self time is the union of its spans minus
  * the part covered by their child spans. */
final class Trace(val enabled: Boolean, val runId: String) {
  final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long)

  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]

  def newId(): Long = ids.incrementAndGet()

  def record(name: String, startNs: Long, endNs: Long, parent: Long = 0L, id: Long = 0L): Long =
    if (!enabled) 0L
    else {
      val sid = if (id != 0L) id else newId()
      synchronized(spans += Span(sid, parent, name, startNs, endNs))
      sid
    }

  /** Time `body` as a span named `name` (a no-op wrapper when disabled). */
  def span[A](name: String, parent: Long = 0L)(body: Long => A): A =
    if (!enabled) body(0L)
    else {
      val id = newId()
      val t0 = System.nanoTime()
      try body(id) finally record(name, t0, System.nanoTime(), parent, id)
    }

  def allSpans: Vector[Span] = synchronized(spans.toVector)

  /** Layer = span name up to the first '.'; self time in milliseconds. */
  def selfTimeMs: Map[String, Double] = {
    val all = allSpans
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name.takeWhile(_ != '.')).map { case (layer, ss) =>
      val self = ss.map { s =>
        val covered = kids.getOrElse(s.id, Vector.empty)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var cov = 0L; var curA = Long.MinValue; var curB = Long.MinValue
        covered.foreach { case (a, b) =>
          if (a > curB) { if (curB > curA) cov += curB - curA; curA = a; curB = b }
          else curB = math.max(curB, b)
        }
        if (curB > curA) cov += curB - curA
        (s.endNs - s.startNs) - cov
      }.sum
      layer -> self / 1e6
    }
  }

  def spanCounts: Map[String, Int] =
    allSpans.groupBy(_.name.takeWhile(_ != '.')).map { case (k, v) => k -> v.size }

  /** One JSON object per span. */
  def write(path: Path): Unit = if (enabled) {
    Files.createDirectories(path.getParent)
    val sb = new StringBuilder
    allSpans.foreach { s =>
      sb.append(s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""")
        .append(s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""").append('\n')
    }
    Files.write(path, sb.toString.getBytes(UTF_8))
  }
}
