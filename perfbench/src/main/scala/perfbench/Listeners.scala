package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Task counters summed over one stage (Spark UI definitions). */
final class StageAgg(val id: Int) {
  var tasks, failedTasks = 0L
  var busyMs, runMs, schedDelayMs, gcMs, fetchWaitMs = 0.0
  var cpuNs, resultBytes, inputBytes, inputRecords = 0L
  var shuffleWriteBytes, shuffleReadBytes, spillBytes = 0L
  var submitted, completed = 0.0
}

final case class JobRec(id: Int, group: String, start: Double, var end: Double,
    stages: Seq[Int], var ok: Boolean = true)

final case class PhaseRec(phase: String, start: Double, end: Double)

/** A streaming query run: its micro-batch jobs carry `runId` as their job
  * group. */
final case class QueryStart(id: String, runId: String, start: Double)

final case class Progress(queryId: String, batchId: Long, start: Double,
    durations: Map[String, Long], inputRows: Long, stateRows: Long,
    stateMemBytes: Long, stateCommitMs: Long)

/** The traced run's view of Spark from outside the engine: a
  * `SparkListener` for jobs, stages and tasks, a `QueryExecutionListener`
  * for each action's `QueryPlanningTracker` phases, and a
  * `StreamingQueryListener` for micro-batch progress. Events are kept in
  * memory only while `enabled` (the traced run alternates traced and
  * untraced rounds to measure the tracing overhead). */
final class Listeners(spark: SparkSession) {
  @volatile var enabled = false
  val jobs = ArrayBuffer.empty[JobRec]
  val stages = scala.collection.mutable.HashMap.empty[Int, StageAgg]
  val phases = ArrayBuffer.empty[PhaseRec]
  val progress = ArrayBuffer.empty[Progress]
  val queryStarts = ArrayBuffer.empty[QueryStart]

  private def stage(id: Int) = stages.getOrElseUpdate(id, new StageAgg(id))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      jobs += JobRec(e.jobId, g.getOrElse(""), e.time.toDouble, e.time.toDouble,
        e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled) synchronized {
      jobs.reverseIterator.find(_.id == e.jobId).foreach { j =>
        j.end = e.time.toDouble
        j.ok = e.jobResult == JobSucceeded
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (enabled) synchronized {
      stage(e.stageInfo.stageId).submitted =
        e.stageInfo.submissionTime.map(_.toDouble).getOrElse(Clock.nowMs)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) synchronized {
      stage(e.stageInfo.stageId).completed =
        e.stageInfo.completionTime.map(_.toDouble).getOrElse(Clock.nowMs)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) synchronized {
      val s = stage(e.stageId)
      val i = e.taskInfo
      s.tasks += 1
      if (i.failed || i.killed) s.failedTasks += 1
      val dur = (i.finishTime - i.launchTime).toDouble
      s.busyMs += dur
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.resultBytes += m.resultSize
        s.inputBytes += m.inputMetrics.bytesRead
        s.inputRecords += m.inputMetrics.recordsRead
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        // the Spark UI's scheduler delay
        val getting = if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
        s.schedDelayMs += math.max(0.0, dur - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - getting)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = if (enabled) {
      val ps = qe.tracker.phases.toSeq.sortBy(_._2.startTimeMs)
      synchronized {
        ps.foreach { case (name, p) =>
          phases += PhaseRec(name, p.startTimeMs.toDouble, p.endTimeMs.toDouble)
        }
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      if (enabled) synchronized {
        queryStarts += QueryStart(e.id.toString, e.runId.toString, iso(e.timestamp))
      }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (enabled) {
        val p = e.progress
        val st = p.stateOperators
        synchronized {
          progress += Progress(p.id.toString, p.batchId, iso(p.timestamp),
            p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
            p.numInputRows, st.map(_.numRowsTotal).sum,
            st.map(_.memoryUsedBytes).sum, st.map(_.commitTimeMs).sum)
        }
      }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private def iso(ts: String): Double =
    try java.time.Instant.parse(ts).toEpochMilli.toDouble
    catch { case scala.util.control.NonFatal(_) => Clock.nowMs }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Wait until every event posted so far has been delivered. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}
