package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import graft.{GraftSession, PlanCache, QueryDef, Tables}
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: sets up the engine, runs one workload as a
  * closed loop with one client, times every op, keeps the results the
  * oracle check reads, and writes a result file for `run.py`. Only the engine's
  * public entry points are called: `SparkEntry.queries`, `RetainOps`,
  * `functions.Retain*`, `PlanCache.keys`, `Tables` and `GraftSession`.
  *
  * Usage (see perfbench/README.md; `run.py` supplies every argument):
  * {{{
  * Main --workload W --seed N --seconds S --trace 0|1 --input DIR
  *      --work DIR --out FILE [--batches DIR --landing DIR --events N]
  * }}}
  */
object Main {
  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
    def get(k: String): Option[String] = m.get(k)
  }

  def parse(a: Array[String]): Args =
    Args(a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val bench = new Bench(a)
    val code = try bench.run() catch {
      case NonFatal(e) =>
        e.printStackTrace()
        1
    }
    sys.exit(code)
  }
}

/** Result of one run: what `run.py` turns into the final JSON line. */
final class Bench(val a: Main.Args) {
  val workload: String = a("workload")
  val seed: Int = a.int("seed")
  val seconds: Double = a("seconds").toDouble
  val traced: Boolean = a("trace") == "1"
  val input: String = a("input")
  val work: Path = Paths.get(a("work"))
  val resultsDir: Path = work.resolve("results")
  val rec = new Recorder
  val setups = ArrayBuffer.empty[Double]
  val checks = ArrayBuffer.empty[(String, Boolean, String)]
  val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val dumps = ArrayBuffer.empty[(String, String)] // (query, input dir it ran on)
  val rounds = ArrayBuffer.empty[Double]
  val latencies = ArrayBuffer.empty[Double]
  val spans = ArrayBuffer.empty[Span] // traced ops' span trees, for the trace file
  var spark: SparkSession = _
  var listeners: Listeners = _
  var measureStart = 0.0
  var measureEnd = 0.0
  var heapSamples: Seq[Double] = Nil
  var warmupS = 0.0

  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    checks += ((name, ok, if (ok) "" else detail))

  // ------------------------------------------------------------ set-up

  /** One set-up: a fresh engine session (the previous one, with its
    * session-keyed `PlanCache` and relation cache entries, is stopped and
    * collected before the clock starts) and every input table resolved. */
  def setupOnce(): Unit = {
    stopSession()
    System.gc()
    val t0 = Clock.nowMs
    spark = rec.call("GraftSession", "build")(GraftSession.build("perfbench"))
    rec.call("Tables", "resolve")(resolveAll(input))
    setups += (Clock.nowMs - t0) / 1000
  }

  def stopSession(): Unit = if (spark != null) {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def resolveAll(dir: String): Unit =
    Workloads.tablesIn(dir).foreach(t => Tables.load(spark, dir, t).schema)

  // ------------------------------------------------------------ ops

  def openOp(name: String, module: String, trace: Boolean): Op = {
    val op = new Op(rec.newId(), name, module, Clock.nowMs)
    op.traced = trace
    if (trace) {
      spark.sparkContext.setJobGroup(s"span-${op.id}", name, interruptOnCancel = false)
      op.planCacheBuilds = -PlanCache.keys.size
    }
    rec.current = op
    op
  }

  def closeOp(op: Op): Op = {
    op.end = Clock.nowMs
    rec.current = null
    if (op.traced) {
      op.planCacheBuilds += PlanCache.keys.size
      spark.sparkContext.clearJobGroup()
    }
    rec.ops += op
    op
  }

  /** Run one registry query as one op: build its plan, then run it —
    * `count()`, or with `writeTo` a parquet write of the full result
    * (which the oracle check reads back). */
  def query(q: QueryDef, module: String, dir: String, trace: Boolean,
      writeTo: Option[String] = None): Op = {
    val op = openOp(q.name, module, trace)
    try {
      val df = rec.call("operators", "build")(q.fn(spark, dir))
      rec.call("operators.action", "action")(writeTo match {
        case Some(out) => df.write.mode("overwrite").parquet(out)
        case None => op.rows = df.count()
      })
    } catch {
      case NonFatal(e) =>
        op.ok = false
        op.error = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
          .linesIterator.take(1).mkString.take(300)
    }
    closeOp(op)
  }

  def resultPath(q: QueryDef): String = resultsDir.resolve(q.name).toString

  /** A query run as warm-up work: not a measured op, but a failure fails
    * the run's checks. */
  def setupQuery(q: QueryDef, module: String, dir: String, writeTo: Option[String]): Unit = {
    val op = query(q, module, dir, trace = false, writeTo)
    rec.ops -= op
    if (!op.ok) check(s"warmup:${q.name}", ok = false, op.error)
  }

  // ------------------------------------------------------------ run

  def run(): Int = {
    Files.createDirectories(resultsDir)
    val box = Box.start()
    val w: Workload = workload match {
      case "retain_train" => new RetainTrain(this)
      case "ingest_refresh" => new IngestRefresh(this)
      case other => sys.error(s"unknown workload $other")
    }
    // JIT warm-up, outside setup_s: the workload's code paths run once, in
    // a session of their own or in the measured session after the set-ups,
    // so measured rounds run warm code on cold data
    val w0 = Clock.nowMs
    spark = GraftSession.build("perfbench")
    w.jitWarmup(spark)
    warmupS = (Clock.nowMs - w0) / 1000
    (1 to w.setups).foreach(_ => setupOnce())
    val w1 = Clock.nowMs
    w.preMeasure(spark)
    warmupS += (Clock.nowMs - w1) / 1000
    if (traced) listeners = new Listeners(spark)
    val anchorS = Box.anchor(spark)
    measureStart = Clock.nowMs
    w.measure()
    measureEnd = Clock.nowMs
    heapSamples = Box.heapAfterGcMb()
    if (traced) {
      listeners.enabled = false
      listeners.drain()
    }
    w.verify()
    if (traced) Metrics.layers(this, w)
    val context = Box.context(spark, box, anchorS, heapSamples)
    Report.write(this, w, context)
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    0
  }
}
