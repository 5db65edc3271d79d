package perfbench

import java.nio.file.{Files, Paths}

/** Writes the run's result file (read by `run.py`) and, in a traced run,
  * its spans as JSON lines. */
object Report {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")

  def write(b: Bench, w: Workload, context: Map[String, String]): Unit = {
    val lat = b.latencies.toSeq
    val e2e = Seq(
      "setup_s" -> Workloads.median(b.setups.toSeq),
      "op_p50_s" -> Workloads.pct(lat, 50),
      "round_s" -> Workloads.median(b.rounds.toSeq),
      // what the engine holds once asynchronous cleanup has run
      "heap_retained_mb" -> b.heapSamples.min)
    val ops = b.rec.ops.toSeq.map(o => obj(Seq(
      "name" -> str(o.name), "module" -> str(o.module), "ok" -> o.ok.toString,
      "error" -> str(o.error), "rows" -> o.rows.toString,
      "dur_s" -> num(o.dur / 1000), "traced" -> o.traced.toString)))
    val json = obj(Seq(
      "workload" -> str(b.workload),
      "seed" -> b.seed.toString,
      "traced" -> b.traced.toString,
      "e2e" -> obj(e2e.map { case (k, v) => k -> num(v) }),
      "named" -> obj((w.named ++ Seq(("op_p90_s", Workloads.pct(lat, 90), "s"),
          ("peak_rss_mb", Box.peakRssMb(), "MB"),
          ("jit_warmup_s", b.warmupS, "s"))).map {
        case (k, v, u) => k -> arr(Seq(num(v), str(u))) }),
      "layers" -> obj(b.layers.toSeq.map { case (k, v) => k -> num(v) }),
      "latencies" -> arr(lat.map(num)),
      "setups" -> arr(b.setups.toSeq.map(num)),
      "rounds" -> arr(b.rounds.toSeq.map(num)),
      "ops" -> arr(ops),
      "checks" -> arr(b.checks.toSeq.map { case (n, ok, d) =>
        obj(Seq("name" -> str(n), "ok" -> ok.toString, "detail" -> str(d))) }),
      "dumps" -> arr(b.dumps.toSeq.map { case (q, d) =>
        obj(Seq("query" -> str(q), "dir" -> str(d),
          "oracle" -> str(graft.SparkEntry.oracleSql.getOrElse(q, "")))) }),
      "context" -> obj(context.toSeq.map { case (k, v) => k -> str(v) })))
    Files.write(Paths.get(b.a("out")), json.getBytes("UTF-8"))
    if (b.traced) b.a.get("spans").foreach { p =>
      val lines = (b.rec.spans.toSeq ++ b.spans).map(s => obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString, "trace" -> s.trace.toString,
        "name" -> str(s.name), "layer" -> str(s.layer),
        "start_ms" -> num(s.start), "end_ms" -> num(s.end))))
      Files.write(Paths.get(p), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    }
  }
}
