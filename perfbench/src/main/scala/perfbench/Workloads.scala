package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.{QueryDef, SparkEntry}
import org.apache.spark.sql.SparkSession

/** One workload: its warm-ups, its measured closed loop, and the checks of
  * its outputs. */
trait Workload {
  /** Once per run, in a session of its own before the set-ups, outside
    * `setup_s`. */
  def jitWarmup(s: SparkSession): Unit
  /** Once per run, in the measured session after the set-ups, outside
    * `setup_s` and the measured time. */
  def preMeasure(s: SparkSession): Unit
  /** Set-ups per run; `setup_s` is their median. */
  def setups: Int
  def measure(): Unit
  def verify(): Unit
  /** Workload-level figures: (name, value, unit). */
  def named: Seq[(String, Double, String)]
  /** Traced run: the workload's own per-layer figures, including
    * `trace.overhead_op_p50_s` (traced minus untraced op latency median). */
  def layers(into: scala.collection.mutable.Map[String, Double]): Unit
}

object Workloads {
  val allTables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def tablesIn(dir: String): Seq[String] =
    allTables.filter(t => Files.exists(Paths.get(dir, s"$t.parquet")))

  /** Operator modules of the workloads' registry queries
    * (`operators.<Module>.p50_s`). */
  val modules: Seq[(String, Seq[QueryDef])] = Seq(
    "CausalOps" -> graft.operators.CausalOps.defs,
    "Streaming" -> graft.streaming.Streaming.defs)

  def moduleOf(name: String): String =
    modules.collectFirst { case (m, ds) if ds.exists(_.name == name) => m }
      .getOrElse("other")

  /** Registry entries by name, with their operator module. A name missing
    * from the registry fails the run before anything is measured. */
  def pick(names: Seq[String]): Seq[(String, QueryDef)] = {
    val byName = SparkEntry.queries
    names.map { n =>
      val fn = byName.getOrElse(n, sys.error(s"query $n is not in SparkEntry.queries"))
      moduleOf(n) -> QueryDef(n, fn, SparkEntry.oracleSql.get(n))
    }
  }

  /** ingest_refresh: the streaming-family drains and the batch causal
    * readout a fresh events batch is refreshed through. */
  val refreshQueries: Seq[String] = Seq(
    // windowed aggregate and transformWithState, both on the state store
    "q80_stream_tumbling", "q109_transform_with_state",
    // batch causal readout
    "q230_granger_lite")

  /** Streaming stages each input dir's events into a per-dir copy under
    * this root and never evicts it; a run removes the copies it caused. */
  val stagingRoot: Path = Paths.get("/dev/shm/graft-io")

  def stagingDir(inputDir: String): Path =
    stagingRoot.resolve(inputDir.replaceAll("[^A-Za-z0-9.]", "_"))

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.deleteIfExists(f))
      finally st.close()
    }

  /** Sample median (the middle value, or the mean of the middle two). */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Harrell-Davis percentile: a beta-weighted mean of all order
    * statistics, steadier than a single order statistic on the few ops
    * of a run. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.size < 2) xs.headOption.getOrElse(0.0) else {
      val s = xs.sorted
      val n = s.size
      val (a, b) = (p / 100 * (n + 1), (1 - p / 100) * (n + 1))
      var prev = 0.0
      var acc = 0.0
      for (i <- 1 to n) {
        val cur = org.apache.commons.math3.special.Beta.regularizedBeta(i.toDouble / n, a, b)
        acc += (cur - prev) * s(i - 1)
        prev = cur
      }
      acc
    }
}

/** Writes beside reads: each cycle lands a new seeded events batch as a
  * new input directory, then refreshes the streaming drains and the
  * batch causal readout against it. Every refresh query is timed from its
  * batch landing. The first batches are warm-up cycles; the measured
  * cycles run on the rest, at least four, until the run's time has
  * passed. */
final class IngestRefresh(b: Bench) extends Workload {
  val refresh: Seq[(String, QueryDef)] = Workloads.pick(Workloads.refreshQueries)
  val batches: Seq[Path] = {
    val st = Files.list(Paths.get(b.a("batches")))
    try st.iterator.asScala.toSeq.sortBy(_.getFileName.toString) finally st.close()
  }
  val landing: Path = Paths.get(b.a("landing"))
  val eventsPerBatch: Long = b.a("events").toLong
  val cycleTimes = ArrayBuffer.empty[Double]
  var lastDir: String = ""
  val setups = 7
  val warmupCycles = 3
  val minCycles = 4

  /** Lands a batch as a new input dir: an atomic rename. */
  private def land(batch: Path): String = {
    Files.createDirectories(landing)
    val dir = landing.resolve(batch.getFileName)
    Files.move(batch, dir, StandardCopyOption.ATOMIC_MOVE)
    dir.toString
  }

  /** The one table a batch brings new; the others are the base's. */
  private def resolveNew(d: String): Unit = graft.Tables.load(b.spark, d, "events").schema

  /** An unmeasured cycle on the current session. */
  private def warmCycle(batch: Path): Unit = {
    val d = land(batch)
    resolveNew(d)
    refresh.foreach { case (m, q) => b.setupQuery(q, m, d, Some(b.resultPath(q))) }
    Workloads.deleteTree(Workloads.stagingDir(d))
  }

  /** The first run of each streaming query in a JVM costs several warm
    * ones: the first batch's cycle runs in the warm-up session. */
  def jitWarmup(s: SparkSession): Unit = warmCycle(batches.head)

  /** The next cycles still run slower than later ones, and a new session
    * adds its own first-run costs: the next batches' cycles run in the
    * measured session. */
  def preMeasure(s: SparkSession): Unit = batches.slice(1, warmupCycles).foreach(warmCycle)

  def measure(): Unit = {
    val cycles = batches.drop(warmupCycles)
    var c = 0
    while (c < cycles.size && (c < minCycles || Clock.nowMs - b.measureStart < b.seconds * 1000)) {
      val traceCycle = b.traced && c % 2 == 0
      if (b.traced) b.listeners.enabled = traceCycle
      val d = land(cycles(c))
      val landed = Clock.nowMs
      val landOp = b.openOp("land", "Tables", traceCycle)
      b.rec.call("Tables", "resolve")(resolveNew(d))
      b.closeOp(landOp)
      refresh.foreach { case (m, q) =>
        val op = b.query(q, m, d, traceCycle, writeTo = Some(b.resultPath(q)))
        b.latencies += (op.end - landed) / 1000
      }
      cycleTimes += (Clock.nowMs - landed) / 1000
      b.rounds += cycleTimes.last
      Workloads.deleteTree(Workloads.stagingDir(d))
      lastDir = d
      c += 1
    }
    b.check("measured_cycles", c >= minCycles, s"$c measured cycles: too few batches")
  }

  def verify(): Unit = {
    // the result files hold the last cycle's refresh
    refresh.foreach { case (_, q) => b.dumps += ((q.name, lastDir)) }
  }

  /** The last batch causal readout, re-run three times untraced and
    * three times traced, alternating, on the last cycle's input. */
  def layers(into: scala.collection.mutable.Map[String, Double]): Unit = {
    val (m, q) = refresh.last
    val runs = (0 until 6).map { i =>
      val trace = i % 2 == 1
      b.listeners.enabled = trace
      val op = b.query(q, m, lastDir, trace)
      b.rec.ops -= op
      (trace, op.dur)
    }
    b.listeners.enabled = false
    val (t, u) = runs.partition(_._1)
    into("trace.overhead_op_p50_s") =
      (Workloads.pct(t.map(_._2), 50) - Workloads.pct(u.map(_._2), 50)) / 1000
  }

  def named: Seq[(String, Double, String)] = {
    val lat = b.latencies.toSeq
    Seq(("refresh_p50_s", Workloads.pct(lat, 50), "s"),
      ("refresh_p90_s", Workloads.pct(lat, 90), "s"),
      ("ingest_events_per_s",
        Workloads.median(cycleTimes.toSeq.map(eventsPerBatch / _)), "events/s"))
  }
}
