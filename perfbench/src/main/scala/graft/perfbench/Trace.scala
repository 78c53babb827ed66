package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. `parent` is 0 for a root span; `reqId`
  * ties the sibling measurements of one request together. */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
    parent: Long, reqId: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder of a traced run. Spans are only written out
  * when the run ends ([[Trace.writeJsonl]]). */
final class Tracer {
  private val spans = ArrayBuffer[Span]()
  private var nextId = 1L

  def span[T](name: String, parent: Long = 0L, reqId: Long = 0L)(f: Long => T): T = {
    val id = synchronized { nextId += 1; nextId - 1 }
    val t0 = System.nanoTime()
    try f(id)
    finally {
      val t1 = System.nanoTime()
      synchronized { spans += Span(id, name, t0, t1, parent, reqId) }
    }
  }

  def all: Seq[Span] = synchronized(spans.toList)
}

object Trace {

  /** What recording one span costs, in ns: the median over `reps` batches
    * of `n` empty spans on a scratch tracer. */
  def spanCostNs(n: Int = 20000, reps: Int = 5): Double =
    Stats.median((0 until reps).map { _ =>
      val t = new Tracer
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { t.span("x")(_ => ()); i += 1 }
      (System.nanoTime() - t0).toDouble / n
    })

  /** Total length of the union of `intervals`, each first clipped to
    * [lo, hi]. */
  def coveredNs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time per span id: the span's duration minus the part of it that
    * its direct children cover (overlapping children count once). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.filter(_.parent != 0L).groupBy(_.parent)
    spans.map { s =>
      val covered = kids.get(s.id)
        .map(cs => coveredNs(cs.map(c => (c.startNs, c.endNs)), s.startNs, s.endNs))
        .getOrElse(0L)
      s.id -> (s.durNs - covered)
    }.toMap
  }

  def writeJsonl(spans: Seq[Span], path: java.nio.file.Path): Unit = {
    val self = selfTimes(spans)
    val lines = spans.sortBy(_.startNs).map { s =>
      val name = s.name.replace("\\", "\\\\").replace("\"", "\\\"")
      s"""{"id":${s.id},"name":"$name","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""parent":${s.parent},"req":${s.reqId},"self_ns":${self(s.id)}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path,
      (lines.mkString("\n") + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
