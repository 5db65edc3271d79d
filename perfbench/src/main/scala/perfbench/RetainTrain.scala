package perfbench

import scala.collection.mutable.ArrayBuffer

import graft.functions.{Retain, RetainGrad}
import graft.operators.RetainOps
import org.apache.spark.sql.SparkSession

/** The paper's pipeline on a fresh seeded events input, as one round of
  * four ops (the client's calls into `RetainOps`): featurize, the
  * reference AMTL regime at a tenth of its step constants (100 minibatch
  * Adam steps, eval every 20, B artifact every 50; batch 128 and lr 1e-3
  * as in the reference), full joint training, then scoring every user
  * with the trained weights and their AUC. The regime's steps are bound
  * by Spark job round trips (45-75 ms each on 4 cores), so the reference's
  * 1000 steps alone would outlast a run's time budget. One round per run:
  * a second would featurize the same input from its cache. */
final class RetainTrain(b: Bench) extends Workload {
  val setups = 9
  val K: Int = Retain.numTasks
  val users: Long = b.a("users").toLong
  val artifact = b.work.resolve("B_matrix_loss_sqrtn.txt")
  var featurizeS, bmatrixS, trainFullS, scoreS = 0.0
  var regimeLines: Seq[String] = Nil
  var full: (Array[Array[Double]], Array[Double], Double, Seq[(Int, Array[Double])]) = _
  var scoredRows = 0L
  var aucs: Seq[Double] = Nil

  /** The whole pipeline, shortened, on a small separate input. */
  def jitWarmup(s: SparkSession): Unit = {
    val d = b.a("warmup")
    RetainOps.featurized(s, d)
    RetainOps.referenceRegime(s, d, totalIter = 10, checkIter = 5, artifactEvery = 10,
      minibatch = 128, lr = 1e-3, artifactPath = b.work.resolve("warmup_artifact.txt"))
    RetainOps.trainFull(s, d, iters = 1)
    RetainOps.scored(s, d, Retain.defaultWeights).count()
  }

  def preMeasure(s: SparkSession): Unit = ()

  private def op[A](name: String, call: String)(body: => A): A = {
    val o = b.openOp(name, "RetainOps", b.traced)
    try b.rec.call("RetainOps", call)(body)
    catch { case e: Throwable => o.ok = false; o.error = String.valueOf(e.getMessage).take(300); throw e }
    finally b.latencies += b.closeOp(o).dur / 1000
  }

  def measure(): Unit = {
    val s = b.spark
    val d = b.input
    if (b.traced) b.listeners.enabled = true
    val t0 = Clock.nowMs
    op("featurize", "featurized")(RetainOps.featurized(s, d))
    featurizeS = (Clock.nowMs - t0) / 1000
    regimeLines = op("reference_regime", "referenceRegime")(RetainOps.referenceRegime(s, d,
      totalIter = 100, checkIter = 20, artifactEvery = 50, minibatch = 128,
      lr = 1e-3, artifactPath = artifact))
    bmatrixS = (Clock.nowMs - t0) / 1000
    val f0 = Clock.nowMs
    full = op("train_full", "trainFull")(RetainOps.trainFull(s, d))
    trainFullS = (Clock.nowMs - f0) / 1000
    val s0 = Clock.nowMs
    val scores = op("score", "scored") {
      RetainOps.scored(s, d, RetainGrad.unpack(full._2))
        .select("p0", "p1", "p2", "y0", "y1", "y2").collect()
        .map(r => Array.tabulate(2 * K)(r.getDouble))
    }
    scoredRows = scores.length
    aucs = (0 until K).map(k => Auc.midRank(scores.map(_(k)), scores.map(_(K + k))))
    scoreS = (Clock.nowMs - s0) / 1000
    b.rounds += (Clock.nowMs - t0) / 1000
  }

  def verify(): Unit = {
    b.check("regime_artifact", Artifact.valid(regimeLines, K, Seq(50, 100)),
      s"artifact blocks malformed: ${regimeLines.take(12).mkString(" | ")}")
    val onDisk = new String(java.nio.file.Files.readAllBytes(artifact), "UTF-8")
    b.check("regime_artifact_file", onDisk == regimeLines.map(_ + "\n").mkString,
      "artifact file differs from the returned lines")
    b.check("regime_B", Artifact.lastB(regimeLines, K).exists(Artifact.validB(_, K)),
      "final B block is not KxK with a zero diagonal and finite values")
    b.check("train_full_B", Artifact.validB(full._1, K) && !full._3.isNaN && !full._3.isInfinite,
      s"trainFull B or loss invalid (loss ${full._3})")
    b.check("scored_rows", scoredRows == users, s"scored $scoredRows rows for $users users")
    b.check("auc_range", aucs.forall(a => a >= 0 && a <= 1), s"AUC out of [0,1]: $aucs")
  }

  def named: Seq[(String, Double, String)] = Seq(
    ("bmatrix_s", bmatrixS, "s"),
    ("train_full_s", trainFullS, "s"),
    ("score_rows_per_s", scoredRows / math.max(scoreS, 1e-9), "rows/s"))

  /** The per-layer RETAIN figures. `trainAmtl` runs a
    * short minibatch regime twice, untraced then traced, timed from its
    * `onIter` hook (the tracing overhead of one Adam step); the
    * `functions` kernels run single-threaded on featurized rows. */
  def layers(into: scala.collection.mutable.Map[String, Double]): Unit = {
    val s = b.spark
    def probe(trace: Boolean): (Seq[Double], Seq[Double], Int) = {
      b.listeners.enabled = trace
      val jobs0 = b.listeners.jobs.size
      val steps = ArrayBuffer.empty[Double]
      val evals = ArrayBuffer.empty[Double]
      var last = Clock.nowMs
      RetainOps.trainAmtl(s, b.input, iters = 100, lr = 1e-3, minibatch = 128,
        onIter = (it, _, ev) => {
          val now = Clock.nowMs
          steps += now - last
          if (it % 50 == 0) { ev(); evals += Clock.nowMs - now }
          last = Clock.nowMs
        })
      b.listeners.enabled = false
      b.listeners.drain()
      (steps.toSeq, evals.toSeq, b.listeners.jobs.size - jobs0)
    }
    val (plain, _, _) = probe(trace = false)
    val (steps, evals, jobs) = probe(trace = true)
    into("RetainOps.amtl_step_ms_p50") = Workloads.pct(steps, 50)
    into("RetainOps.amtl_step_ms_p90") = Workloads.pct(steps, 90)
    into("RetainOps.jobs_per_step") = jobs.toDouble / (steps.size + evals.size)
    into("RetainOps.eval_pass_ms") = Workloads.median(evals)
    into("trace.overhead_op_p50_s") = (Workloads.pct(steps, 50) - Workloads.pct(plain, 50)) / 1000
    into("RetainOps.featurize_s") = featurizeS
    into("RetainOps.bptt_iter_ms") = trainFullS * 1000 / full._4.size
    into("RetainOps.score_s") = scoreS
  }
}

object Auc {
  /** Exact mid-rank AUC (q78's formula): NaN when a class is empty. */
  def midRank(p: Array[Double], y: Array[Double]): Double = {
    val idx = p.indices.sortBy(p(_))
    val rank = new Array[Double](p.length)
    var i = 0
    while (i < idx.length) {
      var j = i
      while (j + 1 < idx.length && p(idx(j + 1)) == p(idx(i))) j += 1
      val mid = (i + j) / 2.0 + 1
      (i to j).foreach(k => rank(idx(k)) = mid)
      i = j + 1
    }
    val pos = y.count(_ == 1.0).toDouble
    val neg = y.length - pos
    val sumPos = p.indices.filter(y(_) == 1.0).map(rank(_)).sum
    (sumPos - pos * (pos + 1) / 2) / (pos * neg)
  }
}

/** The reference regime's artifact (`model.py:296-310`): per dump, a
  * `Step <it>` line, K lines of K values each followed by ',', an
  * `Eval Main Loss = <sum>` line, K `Eval Loss <loss>= <sum>` lines and a
  * blank line. */
object Artifact {
  private val num = """-?(?:\d+\.?\d*|\.\d+)(?:[eE][-+]?\d+)?|NaN|-?Infinity"""

  def blocks(lines: Seq[String], k: Int): Seq[Seq[String]] = lines.grouped(2 * k + 3).toSeq

  def valid(lines: Seq[String], k: Int, steps: Seq[Int]): Boolean = {
    val bs = blocks(lines, k)
    bs.size == steps.size && bs.zip(steps).forall { case (bl, it) =>
      bl.size == 2 * k + 3 && bl.head == s"Step $it" &&
        bl.slice(1, k + 1).forall(_.matches(s"(?:(?:$num),){$k}")) &&
        bl(k + 1).matches(s"Eval Main Loss = (?:$num)") && {
          val sum = bl(k + 1).stripPrefix("Eval Main Loss = ")
          val losses = bl.slice(k + 2, 2 * k + 2).map { l =>
            val m = s"Eval Loss ($num)= (.*)".r.findFirstMatchIn(l)
            m.filter(_.group(2) == sum).map(_.group(1).toDouble)
          }
          losses.forall(_.isDefined) &&
            math.abs(losses.flatten.sum - sum.toDouble) <= 1e-9 * math.max(1.0, math.abs(sum.toDouble))
        } && bl.last.isEmpty
    }
  }

  def lastB(lines: Seq[String], k: Int): Option[Array[Array[Double]]] =
    blocks(lines, k).lastOption.map(_.slice(1, k + 1).map(
      _.split(",").filter(_.nonEmpty).map(_.toDouble)).toArray)

  def validB(m: Array[Array[Double]], k: Int): Boolean =
    m.length == k && m.forall(_.length == k) &&
      m.indices.forall(i => m(i)(i) == 0.0) &&
      m.forall(_.forall(v => !v.isNaN && !v.isInfinite))
}
