package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // the RETAIN/PQ oracles name files under Scratch.root: root it beside
    // outDir (not inside it) so every run into one outDir writes the
    // same oracle_sql.json, before anything reads Scratch
    sys.props.getOrElseUpdate("graft.scratch",
      s"${Paths.get(outDir).toAbsolutePath.normalize}.scratch")
    // steal beside each correctness run makes a later timing hunt one read
    val steal = SparkEntry.stealMeter()
    val wallStart = System.nanoTime()
    val spark = GraftSession.build("graft-verify")
    new java.io.File(outDir).mkdirs()
    // Optional comma-separated name filter for focused local iteration
    // (like Bench's SPARK_GRAFT_BENCH_ONLY); the driver leaves it unset.
    val only = SparkEntry.nameFilter("SPARK_GRAFT_VERIFY_ONLY")
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        SchemaLint.check(name, df) // driver-hash-unsafe types fail loudly
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // drop any STALE output from a previous run into this outDir —
        // otherwise the checker would hash the old parquet and report a
        // now-broken query green (exactly what the lint must prevent)
        Scratch.deleteTree(Paths.get(s"$outDir/$name"))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val wallSec = (System.nanoTime() - wallStart) / 1e9
    Files.writeString(Paths.get(s"$outDir/box_health.json"),
      f"""{"steal_pct":${steal()}%.3f,"wall_sec":$wallSec%.1f}""")
    spark.stop()
  }
}
