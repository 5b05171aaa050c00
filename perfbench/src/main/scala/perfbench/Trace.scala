package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. `parent` is the id of the span that was
  * open when this one started (-1 at the top); all spans of a run share
  * `runId`. Times are `System.nanoTime` readings. */
final case class Span(id: Int, parent: Int, name: String,
                      startNs: Long, endNs: Long, runId: String) {
  def durNs: Long = endNs - startNs
}

/** Records spans in memory around the benchmark's calls into the program;
  * nothing is written until [[Tracer.writeTo]]. A disabled tracer runs the
  * body and records nothing. */
final class Tracer(val runId: String, val enabled: Boolean) {
  private val buf = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        buf += Span(id, parent, name, t0, System.nanoTime(), runId)
        open = open.tail
      }
    }

  def spans: Seq[Span] = buf.toSeq

  def writeTo(file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try buf.sortBy(_.id).foreach { s =>
      w.println(s"""{"run":"${s.runId}","id":${s.id},"parent":${s.parent},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

object Trace {

  /** Self time of `span`: its duration minus its direct children's. The
    * tracer is single-threaded and strictly nested, so the children run one
    * after another inside their parent. */
  def selfNs(span: Span, children: Seq[Span]): Long = span.durNs - children.map(_.durNs).sum

  /** Self time of every span, by span id. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map(s => s.id -> selfNs(s, kids.getOrElse(s.id, Nil))).toMap
  }

  /** Self seconds of each span occurrence, grouped by span name. */
  def selfSecondsByName(spans: Seq[Span]): Map[String, Seq[Double]] = {
    val self = selfTimes(spans)
    spans.sortBy(_.id).groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id) / 1e9) }
  }
}
