package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. `parent` is -1 for a root span. `counters`
  * holds the engine work (jobs, tasks, CPU, shuffle, ...) that ran inside
  * the span, children included; `attrs` holds layer-specific figures such
  * as rows written. */
final case class Span(
    id: Int, parent: Int, runId: String, op: Int, name: String, module: String,
    startNs: Long, endNs: Long, counters: Counters, jobMs: Seq[Long],
    attrs: Map[String, Double]) {
  def durationNs: Long = endNs - startNs
}

object Span {

  /** Time of `span` not covered by any of `children`: the span's duration
    * minus the union of the children's intervals clipped to the span.
    * Never negative, even if children overlap each other or the span's
    * edges. */
  def selfNs(span: Span, children: Seq[Span]): Long = {
    val clipped = children
      .map(c => (math.max(c.startNs, span.startNs), math.min(c.endNs, span.endNs)))
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- clipped) {
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    math.max(0L, span.durationNs - covered)
  }

  def toJson(s: Span, self: Long): String = Json.obj(Seq(
    "id" -> s.id, "parent" -> s.parent, "run_id" -> s.runId, "op" -> s.op,
    "name" -> s.name, "module" -> s.module,
    "start_ms" -> s.startNs / 1e6, "wall_s" -> s.durationNs / 1e9,
    "self_s" -> self / 1e9, "job_ms" -> s.jobMs) ++
    s.counters.toJson ++ s.attrs.toSeq.sortBy(_._1))
}

/** Records spans around calls into the engine's layers. Disabled, it only
  * runs the body: the untraced run pays nothing for it. Enabled, it
  * drains the listener bus at both edges of each span so the counters it
  * attributes to a span are complete. Spans are kept in memory and
  * written out at the end of the run. */
final class Tracer(probe: Probe, val runId: String) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[(Int, ArrayBuffer[(String, Double)])] = Nil
  private var nextId = 0
  private var op = -1
  var enabled = false

  def beginOp(i: Int, traced: Boolean): Unit = { op = i; enabled = traced }
  def endOp(): Unit = enabled = false

  def span[T](name: String, module: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      val attrs = ArrayBuffer.empty[(String, Double)]
      stack = (id, attrs) :: stack
      val c0 = probe.snapshot()
      val t0 = System.nanoTime()
      try body
      finally {
        val c1 = probe.snapshot()
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, parent, runId, op, name, module, t0, t1, c1 - c0,
          probe.jobDurationsBetween(c0, c1), attrs.toMap)
      }
    }

  /** Attaches a figure to the innermost open span (no-op when disabled). */
  def attr(key: String, value: Double): Unit =
    if (enabled) stack.headOption.foreach(_._2 += (key -> value))

  def all: Seq[Span] = spans.toList

  /** Span id -> self time, computed from each span's direct children. */
  def selfTimes: Map[Int, Long] = {
    val byParent = spans.groupBy(_.parent)
    spans.map(s => s.id -> Span.selfNs(s, byParent.getOrElse(s.id, Nil).toSeq)).toMap
  }

  def write(path: java.nio.file.Path): Unit = {
    val self = selfTimes
    val lines = spans.map(s => Span.toJson(s, self(s.id)))
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
