package perfbench

import scala.collection.mutable.ArrayBuffer

/** One wall clock for the benchmark's own spans and Spark's listener
  * events (which carry epoch milliseconds): epoch ms with sub-ms digits. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** A span: a named interval in one layer, under a parent span, inside one
  * trace (the op that caused it). */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
    layer: String, start: Double, end: Double) {
  def dur: Double = end - start
}

/** One client operation: a registry query, a refresh query, or a stage of
  * the RETAIN pipeline. `calls` are the benchmark's own spans around the
  * calls it makes into each layer during the op. */
final class Op(val id: Long, val name: String, val module: String,
    val start: Double) {
  var end: Double = start
  var ok: Boolean = true
  var error: String = ""
  var rows: Long = -1L
  var traced: Boolean = false
  var planCacheBuilds: Int = 0
  val calls = ArrayBuffer.empty[Span]
  def dur: Double = end - start
}

/** Spans and counts of one run. The benchmark records spans around each
  * layer call it makes; in a traced run [[Listeners]] adds the Spark jobs,
  * stages, planning phases and streaming progress under them. */
final class Recorder {
  private var nextId = 0L
  def newId(): Long = synchronized { nextId += 1; nextId }
  val ops = ArrayBuffer.empty[Op]
  val spans = ArrayBuffer.empty[Span]  // non-op spans (set-up, probes)
  @volatile var current: Op = null

  /** Time `body` as a span of `layer` inside the current op (or as a
    * free-standing span when no op is open). */
  def call[A](layer: String, name: String)(body: => A): A = {
    val t0 = Clock.nowMs
    try body finally {
      val op = current
      val s = Span(newId(), if (op == null) 0L else op.id,
        if (op == null) 0L else op.id, name, layer, t0, Clock.nowMs)
      if (op == null) spans.synchronized(spans += s) else op.calls += s
    }
  }
}

/** Self time by layer over one op, from a sweep over its intervals: at each
  * instant the op's time goes to the highest-priority layer active then
  * (a running Spark job, then a planning phase, then a streaming trigger,
  * then the layer the benchmark is calling into); time covered by none of
  * them is `spark.driver_gap`. The parts are disjoint and cover the op,
  * so they sum to its wall time by construction; what can go wrong is the
  * attribution of spans to ops, which `Metrics.nested` checks. */
object SelfTime {
  val Gap = "spark.driver_gap"

  def priority(layer: String): Int = layer match {
    case "spark" => 6
    case "plans" => 5
    case "streaming" => 4
    case "Tables" => 3
    case "operators.action" => 0 // an action's own time is driver gap
    case _ => 2
  }

  /** Disjoint labelled segments covering [start, end]. */
  def segments(start: Double, end: Double,
      intervals: Seq[(String, Double, Double)]): Seq[(String, Double, Double)] = {
    val clipped = intervals.flatMap { case (l, a, b) =>
      val s = math.max(a, start); val e = math.min(b, end)
      if (e > s && priority(l) > 0) Some((l, s, e)) else None
    }
    val evs = (clipped.flatMap { case (l, s, e) => Seq((s, 1, l), (e, -1, l)) } ++
      Seq((start, 0, ""), (end, 0, ""))).sortBy(_._1)
    val active = scala.collection.mutable.HashMap.empty[String, Int].withDefaultValue(0)
    val out = ArrayBuffer.empty[(String, Double, Double)]
    var prev = start
    evs.foreach { case (t, d, l) =>
      if (t > prev) {
        val live = active.collect { case (k, n) if n > 0 => k }
        val lab = if (live.isEmpty) Gap else live.maxBy(priority)
        if (out.nonEmpty && out.last._1 == lab && out.last._3 == prev)
          out(out.length - 1) = (lab, out.last._2, t)
        else out += ((lab, prev, t))
        prev = t
      }
      if (d != 0) active(l) += d
    }
    out.toSeq
  }
}
