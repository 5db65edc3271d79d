package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver's parquet testdata (TESTDATA.md).
  *
  * All engine queries take `(spark, sfDir)` and read through here so the
  * scan is a plain columnar parquet scan that Catalyst can push filters
  * and projections into. At 100 TB these would be partitioned/bucketed
  * tables behind the same names; nothing else in the engine changes.
  */
object Tables {
  /** The resolved relation of `$dir/$name.parquet`, one per (session,
    * dir, table) in [[PlanCache]] (round 17): every `spark.read.parquet`
    * call re-lists the path and re-reads a footer for schema inference
    * — ~48 ms per call measured, and the 477-query suite makes ~1 000
    * such calls (~45 s of pure metadata work). A real deployment
    * resolves tables through a catalog whose schema/listing is read
    * once; this entry is exactly that — the immutable resolved
    * DataFrame (logical plan only, no data, no results).
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    PlanCache.memo(spark, s"relation|$dir/$name")(spark.read.parquet(s"$dir/$name.parquet"))

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")

  /** The driver has shipped `events.ts` under two parquet encodings
    * across rounds: TIMESTAMP(NANOS) (which Spark's vectorized reader
    * rejects — read nanos as raw long via the legacy conf and rebuild a
    * micros TimestampType with integer DIV; nanos epochs exceed 2^53,
    * so a double round-trip would lose microseconds) and, since round 8,
    * plain TIMESTAMP(MICROS, isAdjustedToUTC=false) (which Spark infers
    * as TIMESTAMP_NTZ). The footer schema is the source of truth: probe
    * it once per (session, dir) and adapt. Both paths end in the same
    * micros-precision session-TZ TimestampType (session TZ is pinned to
    * UTC by [[GraftSession]], so the NTZ→TZ cast is wall-clock exact),
    * and DuckDB sees the identical instants either way.
    *
    * The nanos-as-long flag is SESSION-WIDE (no reader-scoped option
    * exists); [[GraftSession]] sets it at session setup and documents the
    * contract. The set here is an idempotent safety net for
    * driver-supplied sessions that bypassed GraftSession. True iff
    * `$d/events.parquet` stores `ts` as nanos-as-long (the pre-round-8
    * encoding); one footer read per (session, dir).
    */
  def eventsTsIsLong(s: SparkSession, d: String): Boolean =
    PlanCache.memo(s, s"ts_is_long|$d") {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      load(s, d, "events").schema("ts").dataType == org.apache.spark.sql.types.LongType
    }

  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    if (eventsTsIsLong(s, d))
      raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    else
      raw.withColumn("ts", col("ts").cast("timestamp"))
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** `documents` with scan split-starvation fixed (round 17, the q363
    * idiom generalized): the driver's sf test files are SINGLE parquet
    * row groups, so every heavy per-token pass (md5 bucketing, n-gram
    * hashing, shingling) downstream of the scan inherits a ONE-task
    * stage — 1.2–1.6 s serial at sf0.1 while 31 cores idle, measured in
    * q317/q318/q354 stage profiles. A conditional round-robin
    * repartition to the session's default parallelism parallelizes the
    * per-token work; a real multi-row-group table (every scale rung,
    * any production layout) keeps its natural splits and never pays the
    * extra shuffle. Row order is irrelevant at every call site (all
    * consumers aggregate), so results are unchanged.
    */
  def documentsParallel(s: SparkSession, d: String): DataFrame = {
    val t = documents(s, d)
    // `t.rdd.getNumPartitions` instantiates the physical scan (a
    // driver-side plan→RDD conversion, ~tens of ms) — cache the answer
    // per (session, dir) since the relation entry makes `t` identical
    // for every call in a session (round 18, VERDICT r17 #5)
    val n = PlanCache.memo(s, s"scan_parts|$d")(t.rdd.getNumPartitions)
    if (n < 16) t.repartition(s.sparkContext.defaultParallelism)
    else t
  }

  /** Exact table row count served from the parquet FOOTERS on the
    * driver (round 17 optimization): the overflow-guard call sites
    * (q363/q395) need only "is the table under the long-fold row cap",
    * but paid a full `count()` scan job for it — ~0.5 s at sf0.1 and a
    * 600M-row pass at sf100. The footer's row count is the same number
    * the scan would return (parquet stores it per row group), so this
    * is metadata, not result caching; cached per (session, dir, table)
    * because the testdata directories are immutable for a run. Falls
    * back to `count()` if the footer read fails (exotic fs, schema
    * corruption).
    */
  def parquetRowCount(s: SparkSession, d: String, name: String): Long =
    PlanCache.memo(s, s"row_count|$d/$name") {
      try {
        val conf = s.sparkContext.hadoopConfiguration
        val root = new org.apache.hadoop.fs.Path(s"$d/$name.parquet")
        val fs = root.getFileSystem(conf)
        val files: Seq[org.apache.hadoop.fs.Path] =
          if (fs.getFileStatus(root).isDirectory)
            fs.listStatus(root).toSeq.map(_.getPath)
              .filter(_.getName.endsWith(".parquet"))
          else Seq(root)
        files.map { p =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getRecordCount finally r.close()
        }.sum
      } catch { case scala.util.control.NonFatal(_) =>
        load(s, d, name).count()
      }
    }
}
