package graft

import graft.streaming.Streaming
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Running per-key row count through transformWithState; with `fail`
  * set it throws on its first input instead (the runner-scoping test's
  * failing stream). Top-level so the closure does not capture a suite.
  */
private class CountOrFailProcessor(fail: Boolean)
    extends StatefulProcessor[Long, (Long, Double), (Long, Long)] {
  @transient private var n: ValueState[Long] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    n = getHandle.getValueState[Long]("n", Encoders.scalaLong, TTLConfig.NONE)
  override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
      timers: TimerValues): Iterator[(Long, Long)] = {
    if (fail) throw new IllegalStateException("injected stream failure")
    val c = (if (n.exists()) n.get() else 0L) + rows.size
    n.update(c)
    Iterator.single((key, c))
  }
}

/** Streaming == batch on a finite source (SURVEY.md group 8): the
  * streaming session windows must be exactly the batch session windows
  * minus the watermark-withheld tail, and the withheld set must be
  * small (≤ one open session per user).
  */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = GraftSession.prepare(
      SparkSession.builder().master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .appName("streaming-spec").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("checkpointed file sink resumes exactly-once across a restart") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("recovery_test")
    val base = dir.toString
    try {
      Files.createDirectories(Paths.get(s"$base/in"))
      // two deterministic halves of events, staged one per stream run
      val ev = Tables.events(spark, sf).select("event_id", "event_type", "user_id")
      ev.where(col("event_id") % 2 === 0).coalesce(1)
        .write.mode("overwrite").parquet(s"$base/stage0")
      ev.where(col("event_id") % 2 === 1).coalesce(1)
        .write.mode("overwrite").parquet(s"$base/stage1")
      val schema = spark.read.parquet(s"$base/stage0").schema
      def copyIn(stage: String): Unit =
        Files.list(Paths.get(s"$base/$stage")).forEach { f =>
          if (f.getFileName.toString.endsWith(".parquet"))
            Files.copy(f, Paths.get(s"$base/in/$stage.parquet"),
              StandardCopyOption.REPLACE_EXISTING)
        }
      def runOnce(): Unit = {
        val q = spark.readStream.schema(schema).parquet(s"$base/in")
          .writeStream.format("parquet")
          .option("path", s"$base/out")
          .option("checkpointLocation", s"$base/chk")
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      copyIn("stage0"); runOnce()             // first run: half the rows
      copyIn("stage1"); runOnce()             // restart from the SAME checkpoint
      val out = spark.read.parquet(s"$base/out")
      // exactly-once: every event exactly one time, no stage0 replays
      assert(out.count() === ev.count())
      assert(out.select("event_id").distinct().count() === ev.count())
    } finally Scratch.deleteTree(dir)
  }

  test("rate source streams rows through an aggregation (non-file source)") {
    // the engine's queries use the file source; this pins that the
    // plan shape also runs over a generator source (the local stand-in
    // for Kafka-style unbounded ingestion)
    val agg = spark.readStream.format("rate")
      .option("rowsPerSecond", "1000").option("numPartitions", "2").load()
      .groupBy(org.apache.spark.sql.functions.col("value") % 10)
      .count()
    val q = agg.writeStream.format("memory")
      .queryName("graft_rate_smoke").outputMode("complete").start()
    try {
      val deadline = System.currentTimeMillis() + 30000
      var n = 0L
      while (n == 0 && System.currentTimeMillis() < deadline) {
        Thread.sleep(250)
        n = spark.table("graft_rate_smoke").count()
      }
      assert(n > 0, "rate stream produced no aggregated rows within 30s")
    } finally q.stop()
  }

  test("stream-stream join equals the batch theta join on a finite source") {
    import org.apache.spark.sql.functions._
    val joined = SparkEntry.queries("q123_stream_stream_join")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val ev = Tables.events(spark, sf)
    val c = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"))
    val p = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("value"))
    val batch = c.join(p, col("user_id") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") < col("c_ts") + expr("INTERVAL 10 MINUTES"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"), round(sum(col("value")), 2).as("total"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(joined === batch)
  }

  test("stream-static join plans as a broadcast join inside the micro-batch") {
    import org.apache.spark.sql.functions._
    val dim = Tables.customer(spark, sf).select(col("c_custkey"), col("c_mktsegment"))
    val agg = graft.streaming.Streaming.eventStream(spark, sf)
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
    val q = graft.streaming.Streaming.withStreamConf(spark) {
      agg.writeStream.format("memory").queryName("graft_bcast_probe")
        .outputMode("complete").start()
    }
    try {
      q.processAllAvailable()
      val plan = org.apache.spark.sql.GraftBridge.lastMicroBatchPlan(q)
      val nodes = PlanTestUtils.allNodes(plan)
      assert(nodes.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
        s"expected BroadcastHashJoin in the micro-batch plan:\n$plan")
    } finally q.stop()
    assert(spark.table("graft_bcast_probe").count() > 0)
  }

  test("foreachBatch sink writes exactly the stream contents") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("foreach_batch_test")
    val base = dir.toString
    try {
      val q = graft.streaming.Streaming.withStreamConf(spark) {
        graft.streaming.Streaming.eventStream(spark, sf)
          .select("event_id", "event_type", "value")
          .writeStream
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
            batch.write.mode("append").parquet(s"$base/out")
          }
          .option("checkpointLocation", s"$base/chk")
          .outputMode("append").start()
      }
      try q.processAllAvailable() finally q.stop()
      val got = spark.read.parquet(s"$base/out")
      assert(got.count() === Tables.events(spark, sf).count())
      assert(got.agg(sum(col("event_id"))).collect()(0).getLong(0) ===
        Tables.events(spark, sf).agg(sum(col("event_id"))).collect()(0).getLong(0))
    } finally Scratch.deleteTree(dir)
  }

  test("observe() metrics surface row counts and sums without a second pass") {
    import org.apache.spark.sql.functions._
    val obs = new org.apache.spark.sql.Observation("graft_metrics")
    val df = Tables.events(spark, sf)
      .observe(obs, count(lit(1)).as("rows"), sum(col("value")).as("value_sum"))
      .where(col("event_type") === "click")
    val clicks = df.count()
    val m = obs.get
    // metrics are collected at the observe() point — BEFORE the filter —
    // as a free side-channel of the single pass (the R29 console/metrics
    // sink, without a second scan)
    assert(m("rows").asInstanceOf[Long] === Tables.events(spark, sf).count())
    assert(clicks < m("rows").asInstanceOf[Long])
    val expect = Tables.events(spark, sf).agg(sum(col("value"))).collect()(0).getDouble(0)
    assert(math.abs(m("value_sum").asInstanceOf[Double] - expect) < 1e-6)
  }

  test("streaming session windows are a prefix-subset of batch session windows") {
    val batch = SparkEntry.queries("q82_session_window")(spark, sf)
      .collect().map(_.toString).toSet
    val stream = SparkEntry.queries("q83_stream_sessionize")(spark, sf)
      .collect().map(_.toString).toSet
    assert(stream.subsetOf(batch),
      s"${(stream -- batch).size} streaming sessions not present in batch result")
    val users = SparkEntry.queries("q81_stream_dedup")(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("n_users")).head().getLong(0)
    assert(batch.size - stream.size <= users,
      "withheld more than one open session per user")
  }

  test("streaming stateful RETAIN scores match batch scores (fp tolerance)") {
    val stream = SparkEntry.queries("q95_stream_retain_score")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val batch = SparkEntry.queries("q76_retain_score")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(stream.keySet == batch.keySet,
      s"user sets differ: ${(stream.keySet diff batch.keySet).size}/${(batch.keySet diff stream.keySet).size}")
    for ((uid, (a0, a1, a2)) <- stream) {
      val (b0, b1, b2) = batch(uid)
      // state accumulates event-by-event; batch sums via shuffle — fp
      // order differs, results agree to ~1e-6 (both rounded to 6dp)
      assert(math.abs(a0 - b0) <= 2e-6 && math.abs(a1 - b1) <= 2e-6 && math.abs(a2 - b2) <= 2e-6,
        s"user $uid: stream ($a0,$a1,$a2) vs batch ($b0,$b1,$b2)")
    }
  }

  /** q80's batch twin: the per-day per-type group-by over `sf`. */
  private def q80Batch: Array[String] =
    Tables.events(spark, sf)
      .groupBy(org.apache.spark.sql.functions.date_format(
        org.apache.spark.sql.functions.col("ts"), "yyyy-MM-dd").as("day"),
        org.apache.spark.sql.functions.col("event_type"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.round(
          org.apache.spark.sql.functions.sum("value"), 2).as("total"))
      .orderBy("day", "event_type")
      .collect().map(_.toString).sorted

  test("streaming tumbling aggregation equals batch group-by") {
    val stream = SparkEntry.queries("q80_stream_tumbling")(spark, sf)
      .collect().map(_.toString).sorted
    assert(stream.sameElements(q80Batch))
  }

  test("q80 streams each events layout straight from the input dir, with no copy") {
    // the file-stream reader opens the input dir in place: a single-file
    // events.parquet, a part-file events.parquet/ directory, and a
    // single-file events.parquet beside a single-file table and a
    // part-file table, whose files the reader must not pick up
    import java.nio.file.{Files, Path, Paths}
    import org.apache.spark.sql.functions._
    val layouts = Seq[(String, Path => Unit)](
      "single file" -> { dir =>
        Files.copy(Paths.get(sf, "events.parquet"), dir.resolve("events.parquet")) },
      "part-file dir" -> { dir =>
        Tables.events(spark, sf).repartition(3)
          .withColumn("ts", col("ts").cast("timestamp_ntz"))
          .write.parquet(dir.resolve("events.parquet").toString)
        val parts = Files.list(dir.resolve("events.parquet")).toArray
          .count(_.toString.endsWith(".parquet"))
        assert(parts == 3) },
      "single file beside other tables" -> { dir =>
        for (t <- Seq("events.parquet", "region.parquet"))
          Files.copy(Paths.get(sf, t), dir.resolve(t))
        Tables.documents(spark, sf).repartition(2)
          .write.parquet(dir.resolve("documents.parquet").toString) })
    val nEvents = Tables.events(spark, sf).count()
    for ((layout, write) <- layouts) {
      val dir = Files.createTempDirectory("streamlayout")
      try {
        write(dir)
        val d = dir.toString
        val stream = SparkEntry.queries("q80_stream_tumbling")(spark, d)
          .collect().map(_.toString).sorted
        assert(stream.sameElements(q80Batch), s"$layout: q80 differs from the batch group-by")
        val streamed = Streaming.drain(spark, Streaming.eventStream(spark, d).groupBy().count(),
          "graft_layout_count", "complete").first().getLong(0)
        assert(streamed == nEvents, s"$layout: streamed $streamed rows, events has $nEvents")
        val root = Paths.get(Scratch.root)
        val copies = if (!Files.exists(root)) Nil else {
          val st = Files.walk(root)
          try st.filter(_.getFileName.toString == "events_stream").toArray.toSeq
          finally st.close()
        }
        assert(copies.isEmpty, s"$layout: the stream wrote a copy of its input at $copies")
      } finally Scratch.deleteTree(dir)
    }
  }

  test("warm streams region from the input dir through both its warm-up queries") {
    // Bench swallows a failing warm-up, so pin that it really reads rows
    Streaming.warm(spark, sf)
    val keys = spark.read.parquet(s"$sf/region.parquet").distinct().count()
    assert(keys > 0)
    for (t <- Seq("graft_stream_warm", "graft_stream_warm_tws"))
      assert(spark.table(t).count() == keys, t)
  }

  test("transformWithState streams q109/q183/q190 equal their batch twins") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf)
    def decSum(c: String) =
      round(sum(col(c).cast("decimal(28,8)")).cast("double"), 2)
    val top3 = ev
      .withColumn("rn", row_number().over(Window.partitionBy("user_id")
        .orderBy(col("value").desc, col("event_id"))))
      .where(col("rn") <= 3)
      .groupBy("user_id").agg(decSum("value").as("top3"))
    val twins = Seq[(String, DataFrame)](
      "q109_transform_with_state" -> ev.groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total")),
      "q183_stream_list_state" -> ev.groupBy("user_id")
        .agg(count(lit(1)).as("n_events")).join(top3, "user_id"),
      "q190_stream_map_state" -> ev.groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n"), decSum("value").as("total")))
    for ((q, batch) <- twins) {
      val stream = SparkEntry.queries(q)(spark, sf)
      assert(stream.columns.toSeq == batch.columns.toSeq, q)
      val got = stream.collect().map(_.toString).sorted
      val want = batch.collect().map(_.toString).sorted
      assert(got.nonEmpty && got.sameElements(want),
        s"$q diverged from its batch twin: ${got.take(3).mkString(", ")} vs " +
          want.take(3).mkString(", "))
    }
  }

  test("drain restores the stream confs and stops the query, also when the stream throws") {
    import org.apache.spark.sql.functions._
    val ss = spark
    import ss.implicits._
    val pKey = "spark.sql.streaming.stateStore.providerClass"
    val sKey = "spark.sql.shuffle.partitions"
    val prior = (spark.conf.getOption(pKey), spark.conf.get(sKey))
    def counted(fail: Boolean): DataFrame =
      Streaming.eventStream(spark, sf)
        .select(col("user_id"), col("value"))
        .as[(Long, Double)]
        .groupByKey(_._1)
        .transformWithState(new CountOrFailProcessor(fail),
          TimeMode.None(), OutputMode.Update())
        .toDF("user_id", "n")
    def assertRestored(when: String): Unit = {
      assert((spark.conf.getOption(pKey), spark.conf.get(sKey)) == prior,
        s"stream confs not restored $when")
      assert(spark.streams.active.isEmpty, s"a streaming query is still active $when")
    }
    // the transformWithState operator only runs on RocksDB, so a
    // non-empty result also shows the runner chose it from the plan
    assert(Streaming.drain(spark, counted(fail = false), "graft_scope_ok", "update")
      .count() > 0)
    assertRestored("after a drain")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Streaming.drain(spark, counted(fail = true), "graft_scope_fail", "update")
    }
    assert(e.getMessage.contains("injected stream failure"), e.getMessage)
    assertRestored("after a drain whose stream threw")
  }

  test("q249 per-micro-batch lead-lag readout ends exactly at the batch q229 correlogram") {
    // the final refresh has seen every event, and the streaming grid's
    // decimal sums are merge-order-free — so equality is EXACT, not
    // tolerance-based (the same leadLagFromGrid tree on identical values)
    val stream = SparkEntry.queries("q249_stream_leadlag")(spark, sf)
      .collect().map(_.toSeq)
    val batch = SparkEntry.queries("q229_lead_lag_corr")(spark, sf)
      .collect().map(_.toSeq)
    assert(stream.nonEmpty && stream.toSeq == batch.toSeq,
      s"streaming readout diverged from batch: ${stream.take(3)} vs ${batch.take(3)}")
  }

  test("q256/q257 streaming Granger and partial-corr refreshes end exactly at their batch results") {
    for ((sq, bq) <- Seq(
        "q256_stream_granger" -> "q230_granger_lite",
        "q257_stream_partial_corr" -> "q248_partial_corr",
        "q258_stream_cusum" -> "q233_cusum_changepoint",
        "q267_stream_periodogram" -> "q263_periodogram",
        "q270_stream_backtest" -> "q269_forecast_backtest")) {
      val stream = SparkEntry.queries(sq)(spark, sf).collect().map(_.toSeq)
      val batch = SparkEntry.queries(bq)(spark, sf).collect().map(_.toSeq)
      assert(stream.nonEmpty && stream.toSeq == batch.toSeq,
        s"$sq diverged from $bq: ${stream.take(2)} vs ${batch.take(2)}")
    }
  }

  test("streaming source staging handles a ScaleGen-style directory-layout events.parquet") {
    // round-12 regression pin: with a single-file Files.copy stage, a
    // directory-layout source staged EMPTY and every streaming query at
    // the scale rungs processed zero micro-batches (Bench then recorded
    // the fast failure as a timing). Build a mini scale-dir whose
    // events.parquet is a DIRECTORY of part files and require the
    // streaming result to equal the single-file dir's result exactly.
    import java.nio.file.Files
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("dirlayout")
    try {
      // multi-part directory layout (ScaleGen's shape, incl. its NTZ ts)
      Tables.events(spark, sf).repartition(3)
        .withColumn("ts", col("ts").cast("timestamp_ntz"))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val fromDir = SparkEntry.queries("q80_stream_tumbling")(spark, dir.toString)
        .collect().map(_.toSeq)
      val fromFile = SparkEntry.queries("q80_stream_tumbling")(spark, sf)
        .collect().map(_.toSeq)
      assert(fromDir.nonEmpty, "directory-layout source streamed zero rows")
      assert(fromDir.toSeq == fromFile.toSeq,
        "directory-layout streaming result diverged from single-file result")
    } finally Scratch.deleteTree(dir)
  }

  test("q478 streaming WAV ingest equals an exact batch recomputation through the same codec") {
    import graft.functions.WavCodec
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q478_stream_wav_ingest")(spark, sf).collect()
    assert(rows.nonEmpty)
    // batch truth recomputed directly through the codec on the driver —
    // streaming must match to the LAST BIT (exact integer energies)
    val docs = Tables.documents(spark, sf)
      .where(col("doc_id") % 7 === 0)
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val bySource = docs.groupBy(_._2).map { case (src, ds) =>
      val fs = ds.map { case (id, _) => WavCodec.decode(WavCodec.encode(id)) }
      val totN = fs.map(_.nSamples.toLong).sum
      val energy = fs.map(_.energy).sum
      src -> (ds.length.toLong, totN, fs.map(_.peak).max,
        BigDecimal(math.sqrt(energy.toDouble / totN))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        fs.map(_.zeroCross).sum)
    }
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val (n, totN, peak, rms, zc) = bySource(src)
      assert(r.getAs[Long]("n_assets") == n, s"$src assets")
      assert(r.getAs[Long]("total_samples") == totN, s"$src samples")
      assert(r.getAs[Int]("peak") == peak, s"$src peak")
      assert(r.getAs[Double]("rms_all") == rms, s"$src rms")
      assert(r.getAs[Long]("zero_cross") == zc, s"$src zero crossings")
    }
    assert(rows.length == bySource.size, "source set mismatch")
  }
}
