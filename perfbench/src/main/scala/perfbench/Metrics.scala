package perfbench

import scala.collection.mutable

import graft.PlanCache
import graft.functions.{Retain, RetainGrad}
import graft.operators.RetainOps

/** Per-layer metrics of a traced run, from the traced ops and the
  * listeners' records. Counts are per traced op unless named otherwise;
  * a layer idle on the workload reads 0. */
object Metrics {
  /** Spans of one op: the benchmark's call spans plus what the listeners
    * saw while the op ran. A job belongs to the op by its job group: the
    * op's `span-<id>`, or the run id of a streaming query started during
    * the op (micro-batch threads set their own group); a job submitted
    * from another engine-owned thread, with no group, belongs by time. */
  final case class OpView(op: Op, jobs: Seq[JobRec], stages: Seq[StageAgg],
      phases: Seq[PhaseRec], progress: Seq[Progress],
      segments: Seq[(String, Double, Double)])

  def view(op: Op, l: Listeners): OpView = {
    val within = (t: Double) => t >= op.start - 1 && t <= op.end + 1
    val runIds = l.queryStarts.filter(q => within(q.start)).map(_.runId).toSet
    val jobs = l.jobs.filter(j => j.group == s"span-${op.id}" || runIds(j.group) ||
      (j.group.isEmpty && within(j.start))).toSeq
    val stages = jobs.flatMap(_.stages).distinct.flatMap(l.stages.get)
    val phases = l.phases.filter(p => within(p.start)).toSeq
    val progress = l.progress.filter(p => within(p.start)).toSeq
    val intervals =
      jobs.map(j => ("spark", j.start, j.end)) ++
        phases.map(p => ("plans", p.start, p.end)) ++
        progress.map(p => ("streaming", p.start, trigEnd(p))) ++
        op.calls.map(c => (c.layer, c.start, c.end))
    OpView(op, jobs, stages, phases, progress, SelfTime.segments(op.start, op.end, intervals))
  }

  private def trigEnd(p: Progress): Double = p.start + p.durations.getOrElse("triggerExecution", 0L)

  /** Spans attributed to an op that do not lie inside it (2 ms slack for
    * Spark's whole-millisecond event times): jobs, planning phases,
    * streaming triggers and the benchmark's own calls. */
  def escapes(v: OpView): Seq[String] = {
    val (s, e) = (v.op.start - 2, v.op.end + 2)
    def out(a: Double, b: Double) = a < s || b > e || b < a
    v.jobs.filter(j => out(j.start, j.end)).map(j => s"job ${j.id}") ++
      v.phases.filter(p => out(p.start, p.end)).map(p => s"phase ${p.phase}") ++
      v.progress.filter(p => out(p.start, trigEnd(p))).map(p => s"trigger ${p.queryId}/${p.batchId}") ++
      v.op.calls.filter(c => out(c.start, c.end)).map(c => s"call ${c.layer}.${c.name}")
  }

  def layers(b: Bench, w: Workload): Unit = {
    val l = b.listeners
    val views = b.rec.ops.filter(_.traced).map(view(_, l)).toSeq
    val n = math.max(views.size, 1).toDouble
    val m = b.layers
    def perOp(f: OpView => Double): Double = views.map(f).sum / n
    def stageSum(v: OpView)(f: StageAgg => Double): Double = v.stages.map(f).sum
    val wallMs = views.map(_.op.dur).sum

    // every span attributed to an op lies inside it, and every streaming
    // op saw the jobs of its micro-batches
    val escaped = views.flatMap(v => escapes(v).map(x => s"${v.op.name}#${v.op.id}: $x"))
    b.check("spans_nested", escaped.isEmpty, s"${escaped.size} spans outside their op: ${escaped.take(5).mkString("; ")}")
    val jobless = views.filter(v => v.op.module == "Streaming" && v.jobs.isEmpty).map(_.op.name)
    b.check("streaming_ops_see_jobs", jobless.isEmpty, s"traced streaming ops with no job: ${jobless.mkString(", ")}")
    // self time per layer (s per op); the parts of each op sum to its wall time
    for (layer <- Seq("Tables", "operators", "plans", "RetainOps", "streaming", "spark"))
      m(s"$layer.self_s") = perOp(_.segments.filter(_._1 == layer).map(s => s._3 - s._2).sum) / 1000
    m("spark.driver_gap_s") = perOp(_.segments.filter(_._1 == SelfTime.Gap).map(s => s._3 - s._2).sum) / 1000

    m("GraftSession.build_s") = Workloads.median(b.rec.spans.filter(_.layer == "GraftSession").map(_.dur / 1000).toSeq)
    m("Tables.cold_resolve_ms") = perOp(_.op.calls.filter(_.layer == "Tables").map(_.dur).sum)
    m("spark.input_bytes") = perOp(v => stageSum(v)(_.inputBytes.toDouble))
    m("spark.input_records") = perOp(v => stageSum(v)(_.inputRecords.toDouble))

    val builds = views.flatMap(v => v.op.calls.find(_.name == "build").map(c => (v, c)))
    m("operators.plan_build_ms") = if (builds.isEmpty) 0 else builds.map(_._2.dur).sum / builds.size
    m("operators.eager_jobs") = if (builds.isEmpty) 0 else
      builds.map { case (v, c) => v.jobs.count(j => j.start <= c.end).toDouble }.sum / builds.size
    val actions = views.flatMap(_.op.calls.find(_.name == "action"))
    m("operators.action_s") = if (actions.isEmpty) 0 else actions.map(_.dur).sum / actions.size / 1000
    Workloads.modules.map(_._1).foreach { mod =>
      m(s"operators.$mod.p50_s") =
        Workloads.median(b.rec.ops.filter(o => o.module == mod && o.ok).map(_.dur / 1000).toSeq)
    }

    for ((phase, key) <- Seq("analysis" -> "analysis_ms", "optimization" -> "optimization_ms",
        "planning" -> "planning_ms"))
      m(s"plans.$key") = perOp(_.phases.filter(_.phase == phase).map(p => p.end - p.start).sum)

    // PlanCache: new keys per op
    m("PlanCache.builds") = perOp(_.op.planCacheBuilds.toDouble)
    m("PlanCache.entries_end") = PlanCache.keys.size.toDouble
    m("spark.storage_mem_bytes") = b.spark.sparkContext.getRDDStorageInfo.map(_.memSize.toDouble).sum

    // streaming: queries and micro-batches per op, per-trigger durations
    val prog = views.flatMap(_.progress)
    def dur(k: String) = prog.map(_.durations.getOrElse(k, 0L).toDouble)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val starts = l.queryStarts.map(q => q.id -> q.start).toMap
    val firstProgress = prog.groupBy(_.queryId).toSeq.flatMap { case (q, ps) =>
      starts.get(q).map { t0 =>
        trigEnd(ps.minBy(_.start)) - t0
      }
    }
    m("streaming.queries") = prog.map(_.queryId).distinct.size / n
    m("streaming.batches") = prog.size / n
    m("streaming.start_to_first_progress_ms") = mean(firstProgress)
    m("streaming.trigger_ms_p50") = Workloads.median(dur("triggerExecution"))
    m("streaming.add_batch_ms") = mean(dur("addBatch"))
    m("streaming.query_planning_ms") = mean(dur("queryPlanning"))
    m("streaming.wal_commit_ms") = mean(dur("walCommit"))
    val lastPerQuery = prog.groupBy(_.queryId).values.map(_.maxBy(_.batchId)).toSeq
    m("streaming.state_rows") = lastPerQuery.map(_.stateRows.toDouble).sum / n
    m("streaming.state_mem_bytes") = lastPerQuery.map(_.stateMemBytes.toDouble).sum / n
    m("streaming.state_commit_ms") = mean(prog.map(_.stateCommitMs.toDouble))

    // spark runtime, per op
    val allJobs = views.flatMap(_.jobs)
    m("spark.jobs") = allJobs.size / n
    m("spark.stages") = perOp(_.stages.size.toDouble)
    m("spark.tasks") = perOp(v => stageSum(v)(_.tasks.toDouble))
    m("spark.job_ms_p50") = Workloads.median(allJobs.map(j => j.end - j.start))
    val busyMs = views.map(v => stageSum(v)(_.busyMs)).sum
    m("spark.task_busy_s") = busyMs / n / 1000
    m("spark.task_cpu_s") = perOp(v => stageSum(v)(_.cpuNs.toDouble)) / 1e9
    m("spark.core_busy_ratio") = if (wallMs > 0) busyMs / (wallMs * b.spark.sparkContext.defaultParallelism) else 0
    m("spark.task_overhead_s") = perOp(v => stageSum(v)(_.schedDelayMs)) / 1000
    m("spark.shuffle_write_bytes") = perOp(v => stageSum(v)(_.shuffleWriteBytes.toDouble))
    m("spark.shuffle_read_bytes") = perOp(v => stageSum(v)(_.shuffleReadBytes.toDouble))
    m("spark.shuffle_fetch_wait_s") = perOp(v => stageSum(v)(_.fetchWaitMs)) / 1000
    m("spark.spill_bytes") = perOp(v => stageSum(v)(_.spillBytes.toDouble))
    m("spark.gc_s") = perOp(v => stageSum(v)(_.gcMs)) / 1000
    m("spark.result_bytes") = perOp(v => stageSum(v)(_.resultBytes.toDouble))
    m("spark.failed_tasks") = perOp(v => stageSum(v)(_.failedTasks.toDouble))
    m("jvm.heap_peak_mb") = Box.heapPeakMb()

    for (k <- Seq("RetainOps.featurize_s", "RetainOps.amtl_step_ms_p50", "RetainOps.amtl_step_ms_p90",
        "RetainOps.jobs_per_step", "RetainOps.eval_pass_ms", "RetainOps.bptt_iter_ms", "RetainOps.score_s"))
      m(k) = 0.0
    w.layers(m)
    kernels(b, m)
    b.spans ++= views.flatMap(v => spansOf(b, v))
  }

  /** `functions` kernels, single-threaded on up to 2 000 featurized rows
    * of the run's input, in rows per second. */
  private def kernels(b: Bench, m: mutable.Map[String, Double]): Unit = {
    val rows = RetainOps.featurized(b.spark, b.input).take(2000)
    val w = Retain.defaultWeights
    val K = Retain.numTasks
    def rate(f: ((Long, Array[Array[Double]], Array[Double])) => Unit): Double = {
      var n = 0L
      val t0 = Clock.nowMs
      while (Clock.nowMs - t0 < 400) { rows.foreach(f); n += rows.length }
      n / ((Clock.nowMs - t0) / 1000)
    }
    val scale = Array.fill(K)(1.0)
    val acc = new Array[Double](RetainGrad.Dim + 1 + K)
    m("functions.retain_forward_rows_per_s") = rate(r => Retain.forward(w, r._2))
    m("functions.rowgrad_rows_per_s") = rate(r => RetainGrad.rowGrad(w, r._2, r._3, scale, acc))
  }

  /** The op's spans for the trace file: the op, the benchmark's calls,
    * the self-time segments, and the jobs, stages, planning phases and
    * streaming triggers seen under it. */
  private def spansOf(b: Bench, v: OpView): Seq[Span] = {
    val op = v.op
    def sp(parent: Long, name: String, layer: String, s: Double, e: Double) =
      Span(b.rec.newId(), parent, op.id, name, layer, s, e)
    val root = Span(op.id, 0L, op.id, op.name, "op", op.start, op.end)
    val segs = v.segments.map { case (l, s, e) => sp(op.id, s"self:$l", l, s, e) }
    val jobs = v.jobs.flatMap { j =>
      val js = sp(op.id, s"job ${j.id} group=${j.group}", "spark", j.start, j.end)
      js +: j.stages.flatMap(id => v.stages.find(_.id == id).filter(_.completed > 0).map(st =>
        sp(js.id, s"stage $id", "spark", st.submitted, st.completed)))
    }
    root +: (op.calls.toSeq ++ segs ++ jobs ++
      v.phases.filter(_.end > 0).map(p => sp(op.id, s"phase ${p.phase}", "plans", p.start, p.end)) ++
      v.progress.map(p => sp(op.id, s"trigger ${p.batchId}", "streaming", p.start, trigEnd(p))))
  }
}
