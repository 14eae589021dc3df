package graftbench

import java.io.File

/** A failed output check: the run prints no result and exits non-zero. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Files {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def treeBytes(f: File, keep: File => Boolean): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(treeBytes(_, keep)).sum).getOrElse(0L)
    else if (keep(f)) f.length() else 0L

  def readAll(f: File): Array[Byte] = java.nio.file.Files.readAllBytes(f.toPath)
}

object Stats {
  /** linear-interpolated quantile, q in [0, 1] */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toArray
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Clock {
  def now(): Long = System.nanoTime()
  def secs(from: Long, to: Long = System.nanoTime()): Double = (to - from) / 1e9
  def ms(from: Long, to: Long = System.nanoTime()): Double = (to - from) / 1e6
}

/** Spans of a traced run: name, start, end and parent, all under one run
  * id, kept in memory and written to one file when the run ends. */
final class Tracer(val enabled: Boolean, runId: String) {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private val stack = new java.util.ArrayDeque[Int]()
  private var nextId = 0

  /** time `body` as a span (a plain call when tracing is off) */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = if (stack.isEmpty) 0 else stack.peek()
      stack.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.pop()
        synchronized { spans += Span(id, parent, name, t0, t1) }
      }
    }

  def all: Seq[Span] = synchronized(spans.toList)

  def write(f: File): Unit = {
    val s = all.sortBy(_.startNs)
    val t0 = if (s.isEmpty) 0L else s.head.startNs
    val body = s.map { x =>
      f"""{"run":"$runId","id":${x.id},"parent":${x.parent},"name":"${x.name}",""" +
        f""""start_ms":${(x.startNs - t0) / 1e6}%.3f,"end_ms":${(x.endNs - t0) / 1e6}%.3f}"""
    }.mkString("[\n", ",\n", "\n]\n")
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, body.getBytes("UTF-8"))
  }
}
