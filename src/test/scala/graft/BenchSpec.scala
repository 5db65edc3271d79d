package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import scala.jdk.CollectionConverters._

/** `runMain graft.Bench` is read by its key set and its last line, so pin
  * both shapes and the filtered-run rules on one batch and one streaming
  * query.
  */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = GraftSession.prepare(
      SparkSession.builder().master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .appName("bench-spec").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("Bench.run prints both JSON lines with their full key sets and times only the filtered queries") {
    val only = Set("q01_pricing_summary", "q80_stream_tumbling")
    val out = java.nio.file.Files.createTempDirectory("bench-spec").resolve("record.json")
    try {
      val (full, compact) = Bench.run(spark, sf, only, out.toString)
      val mapper = new ObjectMapper()
      val (f, c) = (mapper.readTree(full), mapper.readTree(compact))
      val common = Set("metric", "value", "unit", "n", "n_failed", "anchor_cpu",
        "anchor_shuffle", "swept_local_dirs", "anchors_out_of_band", "steal_pct",
        "anchor_latency", "queries", "sf")
      assert(f.fieldNames.asScala.toSet ==
        common ++ Set("retimed", "failed", "carried", "suspect_vs_upper_rung"))
      assert(c.fieldNames.asScala.toSet == common + "queries_full")
      for (j <- Seq(f, c)) {
        assert(j.get("queries").fieldNames.asScala.toSet == only, j.get("queries"))
        assert(j.get("n").asInt == 2 && j.get("n_failed").asInt == 0, j)
      }
      assert(!java.nio.file.Files.exists(out), "a filtered run wrote the record file")
    } finally Scratch.deleteTree(out.getParent)
  }
}
