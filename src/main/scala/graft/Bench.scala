package graft

import org.apache.spark.sql.SparkSession

/** The throughput surface: times every `SparkEntry.queries` entry once on
  * one warm session and prints two JSON lines, the full per-query record
  * and a compact summary.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // comma-separated query names for a focused run; unset benches everything
    val only = SparkEntry.nameFilter("SPARK_GRAFT_BENCH_ONLY")
    // a scale run names its own record so it does not replace BENCH_FULL.json
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    val spark = GraftSession.build("graft-bench")
    val (fullJson, compactJson) = run(spark, sfDir, only, outFile)
    // Print after every other writer is done: silence logging, stop Spark
    // (its shutdown WARNs would otherwise land after us), then print.
    spark.sparkContext.setLogLevel("OFF")
    try spark.stop() catch { case _: Throwable => () }
    println(fullJson)
    println(compactJson)
  }

  /** Warms `spark`, times each query not filtered out by `only` once,
    * writes the full record to `outFile` when nothing is filtered out, and
    * returns the (full, compact) JSON lines.
    */
  def run(spark: SparkSession, sfDir: String, only: Set[String],
      outFile: String): (String, String) = {
    val steal = SparkEntry.stealMeter()
    // Warm the session (codegen, shuffle machinery), every table's first
    // scan (footers, page cache) and the streaming machinery (micro-batch
    // planner, state store), so the first query of each kind is not
    // charged several seconds of one-time setup.
    spark.range(1000).selectExpr("sum(id)").collect()
    for (t <- Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings")) {
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case _: Throwable => () }
    }
    try graft.streaming.Streaming.warm(spark, sfDir)
    catch { case _: Throwable => () }
    // A thrown query is reported with its message, not timed: its fast
    // failure would read as a measurement.
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    // Name order: queries that share PlanCache entries are charged the
    // same way in every run.
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .flatMap { case (name, fn) =>
        try {
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          Some(name -> (System.nanoTime() - t0) / 1e9)
        } catch {
          case e: Throwable =>
            failed(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
              .linesIterator.take(1).mkString.take(160)
            None
        }
      }
    def fmt(v: Double): String =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def toJson(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    def jstr(s: String): String =
      "\"" + s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => " "; case c => c.toString } + "\""
    val failedJson = failed.map { case (k, m) => s"${jstr(k)}:${jstr(m)}" }
      .mkString("{", ",", "}")
    // The anchor, sweep, retime, carried and cross-rung keys are measured
    // by nothing; they stay, empty, because readers rely on the key set.
    val head =
      s""""metric":"total","value":${fmt(results.map(_._2).sum)},"unit":"sec","n":${results.size},"n_failed":${failed.size},"anchor_cpu":null,"anchor_shuffle":null,"swept_local_dirs":0,"anchors_out_of_band":null,"steal_pct":${fmt(steal())},"anchor_latency":null"""
    val fullJson =
      s"""{$head,"queries":${toJson(results)},"retimed":{},"failed":$failedJson,"carried":{},"suspect_vs_upper_rung":{},"sf":"$sfDir"}"""
    // A reader that keeps only a ~2000-char tail of the output cannot parse
    // the full per-query map, so the last line carries the total and the
    // 16 slowest queries; the full map goes to `outFile`.
    val headline = results.sortBy(-_._2).take(16).sortBy(_._1)
    val compactJson =
      s"""{$head,"queries":${toJson(headline)},"queries_full":"$outFile","sf":"$sfDir"}"""
    // A filtered run covers a subset and must not replace the full record.
    if (only.isEmpty)
      try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
        (fullJson + "\n").getBytes("UTF-8"))
      catch { case _: Throwable => () }
    (fullJson, compactJson)
  }
}
