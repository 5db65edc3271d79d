package perfbench

import org.apache.spark.sql.SparkSession

/** Context recorded beside the metrics to spot a noisy run: hypervisor
  * steal over the run, one fixed anchor job's time, the effective session
  * confs and the pinned environment. None of it is gated. */
object Box {
  final case class Start(stat: Array[Long])

  private def procStat(): Array[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().split("\\s+").drop(1).map(_.toLong)
      finally src.close()
    } catch { case scala.util.control.NonFatal(_) => Array.empty[Long] }

  def start(): Start = Start(procStat())

  /** Seconds for a fixed small shuffle job (graft.Bench's shuffle anchor). */
  def anchor(s: SparkSession): Double = {
    val t0 = Clock.nowMs
    s.range(2L * 1000 * 1000).selectExpr("id % 1000 AS k", "id AS v")
      .groupBy("k").sum("v").collect()
    (Clock.nowMs - t0) / 1000
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
      }.getOrElse(0.0) finally src.close()
    } catch { case scala.util.control.NonFatal(_) => 0.0 }

  /** Heap in use after each of four full collections 250 ms apart, in
    * MB. Spark's ContextCleaner frees shuffle, broadcast and RDD state on
    * its own thread after a collection finds it unreachable, so a single
    * reading can include state already on its way out. */
  def heapAfterGcMb(): Seq[Double] = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 4).map { i =>
      if (i > 1) Thread.sleep(250)
      System.gc()
      mem.getHeapMemoryUsage.getUsed.toDouble / (1024 * 1024)
    }
  }

  /** Peak heap use summed over the heap memory pools, in MB. */
  def heapPeakMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed.toDouble).sum / (1024 * 1024)
  }

  def context(s: SparkSession, st: Start, anchorS: Double,
      heapSamples: Seq[Double]): Map[String, String] = {
    val end = procStat()
    val steal =
      if (st.stat.length >= 8 && end.length >= 8) {
        val d = end.zip(st.stat).map { case (b, a) => b - a }
        if (d.sum > 0) 100.0 * d(7) / d.sum else -1.0
      } else -1.0
    val confs = s.conf.getAll.toSeq
      .filter { case (k, _) => k.startsWith("spark.sql.") || k == "spark.master" ||
        k == "spark.local.dir" || k.startsWith("spark.driver.") }
      .sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(";")
    val env = Seq("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM", "SPARK_LOCAL_DIRS")
      .map(k => s"$k=${sys.env.getOrElse(k, "")}").mkString(";")
    Map("steal_pct" -> f"$steal%.3f", "anchor_s" -> f"$anchorS%.4f",
      "heap_after_gc_mb" -> heapSamples.map(v => f"$v%.1f").mkString(" "),
      "confs" -> confs, "env" -> env)
  }
}
