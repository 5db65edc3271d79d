package graft.operators

import graft.{QueryDef, Scratch, Tables}
import graft.functions.Retain
import graft.functions.Retain.{RetainWeights, F, H, T, numTasks}
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.util.random.BernoulliSampler
import scala.reflect.ClassTag

/** RETAIN scoring + AMTL training (SURVEY.md M5/M6): the reference's
  * actual end-to-end capability — per-entity risk scores with reverse-
  * time attention (`model.py:129-154`), per-task eval metrics
  * (`model.py:157-159`), and the asymmetric multi-task B matrix
  * (`model.py:86-101,174-184`).
  *
  * Execution shape (SURVEY.md §4.3): featurizing is one scan of
  * `events` and one exchange on `user_id` that sums the [T][F] cells and
  * the labels together and decodes straight into arrays, in the row
  * layout the training passes depend on ([[base]]); scoring is a narrow
  * typed `map` under a broadcast weight struct (no shuffle, scales
  * linearly with rows);
  * full-batch training runs one `treeAggregate` pass per Adam step
  * ([[trainAmtl]] over cached context vectors, [[trainFull]] through
  * RetainGrad.rowGrad) and hands the gradient to the shared driver-side
  * [[AmtlStep]] (B, task scales, λ coupling, Adam) — the classic MLlib
  * optimization pattern. The minibatch regime instead draws every
  * step's sample in ONE job ([[drawMinibatches]]) and runs its steps on
  * the driver over the drawn rows: about `iters × minibatch × (H+K)`
  * doubles reach the driver, whatever the number of rows; nothing
  * full-set-sized ever does.
  *
  * These queries are deterministic given the fixed seed-42 weights but
  * not ANSI-SQL-expressible (the LSTM recurrence, SURVEY.md §7.5), so
  * the driver applies its rows-only check; numeric correctness is
  * covered by RetainSpec (hand-computed kernel cases + invariants).
  */
object RetainOps {

  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")
  private val gridStart = "2024-01-01"
  private val labelSplit = "2024-01-12 00:00:00" // steps: days 0..10; labels: after

  /** Featurized training base: (user_id, dense [T][F] grid, labels[3])
    * as a persisted OBJECT RDD, built once per (context, source dir) and
    * shared by every RETAIN query — scoring, attention, eval, and both
    * training regimes. The engine-side `data_loader` (`run.py:44-55`):
    * [[base]] builds it in one exchange and pays the decode once per
    * session, the way a production feature store amortizes its
    * materialization. Footprint is users × T×F doubles (MBs at any SF
    * that fits a label pass), so it stays pinned for the session.
    */
  def featurized(s: SparkSession, d: String): RDD[(Long, Array[Array[Double]], Array[Double])] =
    base(s, d).rdd

  /** [[featurized]]'s RDD with the row count `n` and per-task positive
    * counts `nPos` that its materializing pass counted. */
  private[graft] final case class Base(rdd: RDD[(Long, Array[Array[Double]], Array[Double])],
                                       n: Double, nPos: Array[Double])

  /** Events per partition of the featurized base ([[base]]). */
  private val EventsPerPartition = 1L << 16

  /** One user's featurize state: the T×F cell sums, whether any event
    * fell in the feature window, and the OR of the label bits. */
  private final class Cells extends Serializable {
    val sum = new Array[Double](T * F)
    var present = false
    var bits = 0
    /** Adds one projected event `(cell, value, label bits)`. */
    def add(e: (Int, Double, Int)): Cells = {
      if (e._1 >= -1) present = true
      if (e._1 >= 0) sum(e._1) += e._2
      bits |= e._3
      this
    }
    def merge(o: Cells): Cells = {
      var i = 0
      while (i < sum.length) { sum(i) += o.sum(i); i += 1 }
      present ||= o.present
      bits |= o.bits
      this
    }
  }

  /** [[featurized]]'s base in one scan of `events` and one exchange on
    * `user_id`. Each event is projected to its grid cell `day·F + type`
    * (days 0..T-1; -1 when it only marks the user present: an unlisted
    * type or a null value; -2 outside the window) and its label bits
    * (a high-value purchase / error / signup after the split, so no
    * label leaks into the grid). A map-side combine sums each cell in
    * scan order and the reducer adds the partial sums in shuffle
    * order, as `sum(value)` does per
    * (user, day, type) group, so every cell is the same double. The
    * reducer keeps the users with a window event, divides each cell by
    * 100 and fills in the labels (0 without a post-split event).
    *
    * Row layout: rows ascend by `user_id` within each partition, and
    * there is one partition per full [[EventsPerPartition]] events of
    * the footer row count, between 1 and the default parallelism (1 on
    * every testdata rung, 4 for 300 000 events on 4 cores). The layout
    * is part of the output: [[trainFull]]'s and [[trainAmtl]]'s
    * treeAggregates sum rows in partition order and [[drawMinibatches]]
    * seeds each partition by its index. The count comes from the input,
    * not from AQE, which would shrink it and BPTT's parallelism with it.
    *
    * Materialized eagerly, so consumers never race the build; the same
    * pass counts the rows and the positives per task.
    */
  private[graft] def base(s: SparkSession, d: String): Base =
    graft.PlanCache.memo(s, s"retain_base|$d") {
      val ts = col("ts")
      val split = lit(labelSplit).cast("timestamp")
      val day = datediff(ts.cast("date"), lit(gridStart).cast("date"))
      val typeIx = eventTypes.indices.foldLeft(lit(-1)) { (acc, i) =>
        when(col("event_type") === eventTypes(i), i).otherwise(acc)
      }
      val cell = when(ts < split && day.between(0, T - 1),
          when(typeIx >= 0 && col("value").isNotNull, day * F + typeIx).otherwise(-1))
        .otherwise(-2)
      val labelBits = Seq("purchase", "error", "signup").zipWithIndex.map { case (t, k) =>
        when(ts >= split && col("event_type") === t && col("value") > 140.0, 1 << k).otherwise(0)
      }.reduce(_ + _)
      val events = Tables.events(s, d)
        .select(col("user_id"), cell.as("cell"), col("value"), labelBits.as("bits"))
        .where(col("cell") > -2 || col("bits") =!= 0)
        .queryExecution.toRdd
        .map(r => (r.getLong(0), (r.getInt(1), if (r.isNullAt(2)) 0.0 else r.getDouble(2), r.getInt(3))))
      val parts = math.max(1, math.min(s.sparkContext.defaultParallelism.toLong,
        Tables.parquetRowCount(s, d, "events") / EventsPerPartition).toInt)
      val rdd = events
        .combineByKey[Cells]((e: (Int, Double, Int)) => new Cells().add(e),
          (c: Cells, e: (Int, Double, Int)) => c.add(e), (a: Cells, b: Cells) => a.merge(b),
          new HashPartitioner(parts))
        .mapPartitions(users => users.filter(_._2.present).toArray.sortBy(_._1).iterator.map {
          case (uid, c) =>
            (uid, Array.tabulate(T, F)((t, f) => c.sum(t * F + f) / 100.0),
              Array.tabulate(numTasks)(k => ((c.bits >> k) & 1).toDouble))
        }, preservesPartitioning = true)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      val counts = rdd.map(r => 1.0 +: r._3).fold(new Array[Double](1 + numTasks))(addInto)
      Base(rdd, counts(0), counts.drop(1))
    }

  /** [[scored]] under the default eval weights, persisted once per
    * (session, sf-dir) via PlanCache — q78 and q254 share the scoring
    * pass, and repeated bench/verify invocations reuse ONE cache entry
    * instead of stacking fresh ones.
    */
  private def scoredCached(s: SparkSession, d: String): DataFrame =
    graft.PlanCache.cached(s, s"retain_scored_default|$d")(
      scored(s, d, Retain.defaultWeights))

  /** Score every user with the broadcast weights; returns
    * (user_id, p0..p2, alpha array, context array, y0..y2). A narrow
    * map over [[featurized]] — no shuffle of its own.
    */
  def scored(s: SparkSession, d: String, w: RetainWeights): DataFrame = {
    import s.implicits._
    val bw = s.sparkContext.broadcast(w)
    featurized(s, d).map { case (uid, x, ys) =>
      val (p, alpha, ctx) = Retain.forward(bw.value, x)
      (uid, p(0), p(1), p(2), alpha.toSeq, ctx.toSeq, ys(0), ys(1), ys(2))
    }.toDF("user_id", "p0", "p1", "p2", "alpha", "ctx", "y0", "y1", "y2")
  }

  // ---------------- AMTL training (reference model.py:174-184) ----------------

  /** Element-wise `a += b`: the combOp of every training aggregate. */
  private val addInto: (Array[Double], Array[Double]) => Array[Double] =
    (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a }

  /** The driver half of one AMTL Adam step (`model.py:174-184`; Lee,
    * Yang & Hwang, Asymmetric Multi-task Learning, ICML 2016), shared by
    * [[trainAmtl]] and [[trainFull]], on the objective
    *   Σ_k s_k·CE_k + λ·Σ_t ‖w_t − Σ_i B[i,t]·w_i‖²,  s_k = (1 + μ‖B[k,:]‖₁)/√n.
    * `params` is the regime's flat parameter vector, updated in place,
    * with the K×H heads w_k at `offHeads`; B's diagonal stays 0
    * (`model.py:91-92`). Each regime brings only its data pass: the
    * gradient of Σ_k s_k·CE_k over `params` at the current [[taskScale]],
    * and the per-task mean CE.
    */
  private[graft] final class AmtlStep(val params: Array[Double], offHeads: Int, n: Double,
                                      lr: Double, mu: Double, lambda: Double) {
    private val K = numTasks
    private val sqrtn = math.sqrt(n) // single pooled set per task (all users, all tasks)
    val bMat: Array[Array[Double]] = Array.fill(K, K)(0.0)
    // Adam moments over params ++ B (row-major; the diagonal slots stay 0)
    private val m = new Array[Double](params.length + K * K); private val v = m.clone()
    private val b1 = 0.9; private val b2 = 0.999; private val eps = 1e-8
    private var steps = 0

    /** s_k = (1 + μ‖B[k,:]‖₁)/√n, task k's CE weight (model.py:178). */
    def taskScale: Array[Double] = Array.tabulate(K) { k =>
      (1.0 + mu * (0 until K).map(j => math.abs(bMat(k)(j))).sum) / sqrtn
    }

    /** Adds the λ head-coupling gradient to `grad` (the data pass's
      * gradient over `params`) and returns B's gradient, flat K×K with a
      * zero diagonal: the μ path μ·sign(B[i,t])·CE_i/√n plus the λ path.
      */
    def gradient(grad: Array[Double], ce: Array[Double]): Array[Double] = {
      def head(k: Int, j: Int): Double = params(offHeads + k * H + j)
      // λ reconstruction residual w_t − Σ_i B[i,t]·w_i (model.py:179-181)
      val resid = Array.tabulate(K, H) { (t, j) =>
        var r = head(t, j)
        for (i <- 0 until K) r -= bMat(i)(t) * head(i, j)
        r
      }
      for (t <- 0 until K; j <- 0 until H) {
        grad(offHeads + t * H + j) += lambda * 2.0 * resid(t)(j)
        for (i <- 0 until K if i != t)
          grad(offHeads + i * H + j) += lambda * 2.0 * resid(t)(j) * (-bMat(i)(t))
      }
      val gB = new Array[Double](K * K)
      for (i <- 0 until K; t <- 0 until K if i != t) {
        var g = mu * math.signum(bMat(i)(t)) * ce(i) / sqrtn
        for (j <- 0 until H) g += lambda * 2.0 * resid(t)(j) * (-head(i, j))
        gB(i * K + t) = g
      }
      gB
    }

    /** One Adam step (model.py:184) over `params` and B's off-diagonal. */
    def step(grad: Array[Double], ce: Array[Double]): Unit = {
      val gB = gradient(grad, ce)
      steps += 1
      val bc1 = 1 - math.pow(b1, steps); val bc2 = 1 - math.pow(b2, steps)
      def adam(ix: Int, g: Double): Double = {
        m(ix) = b1 * m(ix) + (1 - b1) * g
        v(ix) = b2 * v(ix) + (1 - b2) * g * g
        lr * (m(ix) / bc1) / (math.sqrt(v(ix) / bc2) + eps)
      }
      val dim = params.length
      locally { var i = 0; while (i < dim) { params(i) -= adam(i, grad(i)); i += 1 } }
      for (i <- 0 until K; j <- 0 until K if i != j)
        bMat(i)(j) -= adam(dim + i * K + j, gB(i * K + j))
    }
  }

  /** Task k's logit from a frozen context vector `c`, with the heads and
    * biases flat in `p` as [K×H heads | K biases]. */
  private def headLogit(p: Array[Double], k: Int, c: Array[Double]): Double = {
    var z = p(numTasks * H + k); var j = 0
    while (j < H) { z += p(k * H + j) * c(j); j += 1 }
    z
  }

  /** The seqOp of [[trainAmtl]]'s data pass under the heads and biases
    * `p`: adds one context row `(c, y)`'s Σ(σ(z)−y)·c per head weight and
    * Σ(σ(z)−y) per bias (laid out as `p`), then its CE per task, then 1
    * to the trailing row count. The same fold runs on executors (full
    * batch) and on the driver (drawn minibatches).
    */
  private def headStats(p: Array[Double])
      : (Array[Double], (Array[Double], Array[Double])) => Array[Double] = {
    val K = numTasks
    val P = p.length
    (acc, row) => {
      val (c, y) = row
      var k = 0
      while (k < K) {
        val z = headLogit(p, k, c)
        val g = Retain.sigmoid(z) - y(k)
        var j = 0
        while (j < H) { acc(k * H + j) += g * c(j); j += 1 }
        acc(K * H + k) += g
        acc(P + k) += Retain.sigmoidCe(z, y(k))
        k += 1
      }
      acc(P + K) += 1
      acc
    }
  }

  /** Every step's Bernoulli minibatch, drawn in one pass over `data`:
    * `(p)(it - 1)` holds the rows of partition p that
    * `data.sample(withReplacement = false, fraction, seed = it)` keeps,
    * in partition order. The seeding is Spark's own
    * (`PartitionwiseSampledRDD.getPartitions`): partition p samples with
    * the p-th `nextLong()` of `java.util.Random(it)`.
    */
  private[graft] def drawMinibatches[A: ClassTag](data: RDD[A], fraction: Double,
                                                  iters: Int): Array[Array[Array[A]]] =
    data.mapPartitionsWithIndex { (p, rows) =>
      val all = rows.toArray
      Iterator.single(Array.tabulate(iters) { i =>
        val seeds = new java.util.Random(i + 1L)
        var seed = 0L
        for (_ <- 0 to p) seed = seeds.nextLong()
        val sampler = new BernoulliSampler[A](fraction)
        sampler.setSeed(seed)
        sampler.sample(all.iterator).toArray
      })
    }.collect()

  /** Train per-task heads + B on frozen shared features ("lastlayer"
    * semantics, the reference's own model_tag `run.py:8`). Each Adam
    * step folds [[headStats]] over its rows and runs one [[AmtlStep]] on
    * the driver. Full batch, that fold is one treeAggregate over the
    * cached context vectors per step. In minibatch mode one job
    * ([[drawMinibatches]]) draws every step's rows up front and the
    * steps run on the driver alone, folding each partition's rows and
    * combining partitions in index order; about `iters × minibatch`
    * rows of H+K doubles reach the driver.
    *
    * @param minibatch 0 = full batch (every iteration sees all rows);
    *                  >0 = the reference's regime (`model.py:187-194`,
    *                  R4+R26): each Adam step consumes a fresh seeded
    *                  ~`minibatch`-row Bernoulli sample of the cached
    *                  rows (the rows `sample(false, minibatch / n, seed =
    *                  iteration)` yields, so the trajectory is
    *                  deterministic), gradients normalized by the rows
    *                  actually sampled.
    * @param onIter    optional per-iteration hook `(it, B snapshot,
    *                  evalCe thunk)` for checkpoint/artifact regimes
    *                  (`model.py:236-310`). The thunk runs ONE CE-only
    *                  treeAggregate over the full cached set with the
    *                  current heads — pay it only on check iterations.
    *                  It is valid until trainAmtl returns.
    */
  def trainAmtl(s: SparkSession, d: String, iters: Int = 40, lr: Double = 0.05,
                mu: Double = 0.005, lambda: Double = 0.005,
                minibatch: Int = 0,
                onIter: (Int, Array[Array[Double]], () => Array[Double]) => Unit = null)
      : (Array[Array[Double]], Array[Double], Array[Double]) = {
    val K = numTasks
    val w0 = Retain.defaultWeights
    val b = base(s, d)
    val n = b.n
    // Persist the OBJECT RDD, not the Dataset: the Adam loop reuses the
    // same partitions every iteration, and a persisted object RDD skips
    // both the per-iteration Catalyst planning a fresh `.rdd` would do
    // and the InternalRow→tuple deserialization a cached Dataset pays
    // on every pass. Derived from the shared [[featurized]] base (one
    // forward pass to the frozen context vectors — narrow, no shuffle).
    // The draw job, or the first full-batch step, materializes it.
    val bw0 = s.sparkContext.broadcast(w0)
    val data = b.rdd
      .map { case (_, x, ys) =>
        val (_, _, ctx) = Retain.forward(bw0.value, x)
        (ctx, ys)
      }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    try {
      val step = new AmtlStep(w0.heads.flatten ++ w0.headB, 0, n, lr, mu, lambda)
      val p = step.params
      val P = p.length
      val stats = headStats(p)
      val drawn =
        if (minibatch <= 0) null else drawMinibatches(data, math.min(1.0, minibatch / n), iters)
      var ces = new Array[Double](K)
      for (it <- 1 to iters) {
        // head statistics laid out as `p`, then Σ CE per task, then the
        // rows that contributed (== n for full batch; the sampled size
        // for minibatch)
        val agg =
          if (drawn == null) data.treeAggregate(new Array[Double](P + K + 1))(stats, addInto)
          else drawn.foldLeft(new Array[Double](P + K + 1)) { (acc, part) =>
            addInto(acc, part(it - 1).foldLeft(new Array[Double](P + K + 1))(stats))
          }

        // normalize by the rows this step actually saw (an empty sampled
        // batch — possible at tiny SF — contributes a zero gradient)
        val cnt = math.max(agg(P + K), 1.0)
        ces = Array.tabulate(K)(k => agg(P + k) / cnt)
        val scale = step.taskScale // slot i is task i/H's head, or bias i−K·H's
        step.step(Array.tabulate(P)(i => scale(if (i < K * H) i / H else i - K * H) * (agg(i) / cnt)), ces)

        if (onIter != null) {
          // eval pass (`model.py:219-228`): full-set CE with the CURRENT
          // heads — capture a copy so the lazy thunk is stable even if
          // invoked after later iterations move the parameters
          val snap = p.clone()
          val evalThunk = () => {
            val agg = data.treeAggregate(new Array[Double](K))(
              seqOp = (acc, row) => {
                val (c, y) = row
                var k = 0
                while (k < K) { acc(k) += Retain.sigmoidCe(headLogit(snap, k, c), y(k)); k += 1 }
                acc
              },
              combOp = addInto)
            agg.map(_ / n)
          }
          onIter(it, step.bMat.map(_.clone()), evalThunk)
        }
      }
      (step.bMat, ces, b.nPos.clone())
    } finally {
      data.unpersist()
      bw0.destroy()
    }
  }

  /** The reference's composed default training regime, end-to-end
    * (`run.py:24-31` + `model.py:187-310`): seeded ~`minibatch`-row
    * Adam steps, a full-set eval every `checkIter` iterations, and —
    * every `artifactEvery` iterations — an APPEND to the reference's
    * one persistent output, `B_matrix_loss_sqrtn.txt`. File lifecycle
    * matches the reference exactly: TRUNCATED once at regime start
    * (`model.py:229` `open('w')`), then appended per dump
    * (`model.py:297` `open('a')`). The reproduction contract is
    * BLOCK-STRUCTURE/FORMAT parity (`model.py:296-310`) — every line,
    * separator, and quirk below — not byte-identical numeric text:
    * Python 2's `str()` prints floats truncated to 12 significant
    * digits while Scala prints shortest-roundtrip doubles, a declared
    * precision-representation divergence (SURVEY §7.4).
    *
    * {{{
    * Step <it>
    * <B[t][0]>,<B[t][1]>,...,        ← one line per task, EVERY value
    *                                    followed by ',' (model.py:303-305)
    * Eval Main Loss = <sum>
    * Eval Loss <loss_t>= <sum>       ← one per task; the reference
    *                                    literally interpolates the loss
    *                                    VALUE before '=' (model.py:308-309)
    * <blank line>
    * }}}
    *
    * Note `artifactEvery` need not divide `checkIter` (the reference's
    * 500 vs 200): the artifact uses the LATEST eval values, exactly as
    * `model.py` reads its last-updated `eval_loss` variables.
    *
    * Defaults are the reference's regime constants (`run.py:28-30`:
    * total 1000, check 200, artifact 500, batch 128, lr 1e-3). Scale
    * posture: one job draws every step's minibatch (about `totalIter ×
    * minibatch × (H+K)` doubles reach the driver: ~11 MB at the
    * reference constants), the Adam steps run on the driver, and each
    * eval is one treeAggregate over the cached context RDD — 1 + (eval
    * count) jobs in all; the artifact path is driver-side O(K²) text.
    *
    * @return the artifact lines appended by THIS run, in order.
    */
  def referenceRegime(s: SparkSession, d: String,
      totalIter: Int = 1000, checkIter: Int = 200, artifactEvery: Int = 500,
      minibatch: Int = 128, lr: Double = 1e-3,
      artifactPath: java.nio.file.Path): Seq[String] = {
    import java.nio.file.{Files, StandardOpenOption}
    if (artifactPath.getParent != null) Files.createDirectories(artifactPath.getParent)
    // model.py:229: the reference truncates the artifact once at run
    // start (`open('w'); close()`), then appends per dump — so a fresh
    // regime replaces a previous run's file instead of growing it
    Files.write(artifactPath, Array.emptyByteArray,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    val written = scala.collection.mutable.ArrayBuffer[String]()
    var lastEval: Array[Double] = null
    trainAmtl(s, d, iters = totalIter, lr = lr, minibatch = minibatch,
      onIter = (it, b, evalThunk) => {
        if (checkIter > 0 && it % checkIter == 0) lastEval = evalThunk()
        if (artifactEvery > 0 && it % artifactEvery == 0) {
          val ev = if (lastEval != null) lastEval else evalThunk()
          val sum = ev.sum
          val block = scala.collection.mutable.ArrayBuffer[String]()
          block += s"Step $it"
          for (t <- 0 until numTasks)
            block += b(t).map(x => s"$x,").mkString // trailing comma per value
          block += s"Eval Main Loss = $sum"
          for (t <- 0 until numTasks)
            block += s"Eval Loss ${ev(t)}= $sum"
          block += ""
          Files.write(artifactPath,
            (block.mkString("\n") + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8),
            StandardOpenOption.CREATE, StandardOpenOption.APPEND)
          written ++= block
        }
      })
    written.toSeq
  }

  /** Full joint training (the reference's actual optimization,
    * `model.py:184`: Adam over ALL trainables — V, both LSTMs,
    * attention, heads — plus B): per-iteration distributed pass runs
    * [[graft.functions.RetainGrad.rowGrad]] per entity and
    * treeAggregates the ~2.4k-double flat gradient; the B/λ coupling
    * and Adam are the driver's [[AmtlStep]]. Backprop is
    * finite-difference validated in RetainGradSpec.
    *
    * @return (B matrix, final flat params, final mean loss,
    *          per-iteration eval history: (iter, perTaskCE)) — the
    *          history is the reference's check_iter eval stream
    *          (`model.py:236-272`), consumed by q96's running-minimum
    *          tracking (R28).
    */
  def trainFull(s: SparkSession, d: String, iters: Int = 12, lr: Double = 0.01,
                mu: Double = 0.005, lambda: Double = 0.005,
                keepProb: Double = 1.0): (Array[Array[Double]], Array[Double], Double, Seq[(Int, Array[Double])]) = {
    import graft.functions.RetainGrad
    import graft.functions.RetainGrad._
    // the shared persisted (uid, x, ys) base — every Adam iteration
    // reuses the same cached partitions (see [[featurized]])
    val b = base(s, d)
    val data = b.rdd
    val n = b.n
    val step = new AmtlStep(RetainGrad.pack(Retain.defaultWeights), OffHeads, n, lr, mu, lambda)
    var lastLoss = 0.0
    val history = scala.collection.mutable.ArrayBuffer.empty[(Int, Array[Double])]

    for (it <- 1 to iters) {
      val bw = s.sparkContext.broadcast((RetainGrad.unpack(step.params), step.taskScale))
      // one distributed pass: flat grad ++ [scaled loss] ++ per-task CE
      val agg = try data.treeAggregate(new Array[Double](Dim + 1 + K))(
        seqOp = (acc, row) => {
          val (uid, x, ys) = row
          val ceView = new Array[Double](K)
          // per-(row, iter) dropout seed: deterministic across runs and
          // partitionings (R11, keep_prob model.py:204)
          acc(Dim) += RetainGrad.rowGrad(bw.value._1, x, ys, bw.value._2, acc,
            ceView, keepProb, uid * 7919L + it)
          var k = 0
          while (k < K) { acc(Dim + 1 + k) += ceView(k); k += 1 }
          acc
        },
        combOp = addInto)
      finally bw.destroy()
      lastLoss = agg(Dim) / n
      // the μ-path B gradient takes the exact per-task mean CE carried
      // through the same pass (model.py:178 couples B's L1 row to task
      // i's loss)
      val ceTask = Array.tabulate(K)(k => agg(Dim + 1 + k) / n)
      history += ((it, ceTask))
      step.step(Array.tabulate(Dim)(i => agg(i) / n), ceTask)
    }
    (step.bMat, step.params, lastLoss, history.toSeq) // base RDD stays cached for the session
  }

  /** Weight checkpoint shared by the q76/q77/q78 oracles: the flat
    * (idx,value) parquet the generated DuckDB SQL reads back, written
    * at most once per session (all three queries call this; Verify may
    * run any subset). Path is Scratch-rooted so the driver's DuckDB
    * pass — which runs after this JVM exits — reads exactly what it
    * wrote.
    */
  def oracleCkptDir(s: SparkSession): String =
    checkpointOnce(s, s"${Scratch.root}/graft_retain_w")(
      graft.functions.RetainCheckpoint.save(s, Retain.defaultWeights, _))

  /** `dir` after `save(dir)` has run once in this session. */
  private def checkpointOnce(s: SparkSession, dir: String)(save: String => Unit): String = {
    graft.PlanCache.memo(s, s"retain_ckpt|$dir")(save(dir))
    dir
  }
  private def ckptGlob: String = s"${Scratch.root}/graft_retain_w/*.parquet"

  val defs: Seq[QueryDef] = Seq(

    /** RETAIN risk scores per entity (reference entry point semantics,
      * `model.py:153-154`): deterministic eval-mode forward pass under
      * broadcast seed-42 weights. Hash-verified since round 7 against
      * [[RetainOracleSql]]'s unrolled-recurrence DuckDB oracle over the
      * checkpointed weights.
      */
    QueryDef("q76_retain_score", RetainOracleSql.q76(ckptGlob)) { (s, d) =>
      oracleCkptDir(s)
      scored(s, d, Retain.defaultWeights)
        .select(col("user_id"),
          round(col("p0"), 6).as("p0"),
          round(col("p1"), 6).as("p1"),
          round(col("p2"), 6).as("p2"))
        .orderBy("user_id")
    },

    /** Weights checkpoint round-trip (the reference's `tf.train.Saver`
      * surface, `model.py:216-217`): save the eval weights to parquet,
      * restore, score the corpus under BOTH, and emit the per-task max
      * absolute score divergence — which must be EXACTLY zero (the
      * restore is bit-exact and the kernel deterministic), so the
      * constant oracle hash-verifies the whole save→load→score path.
      */
    QueryDef(
      "q205_weights_checkpoint",
      """SELECT * FROM (VALUES (0, CAST(0.0 AS DOUBLE)),
        |  (1, CAST(0.0 AS DOUBLE)), (2, CAST(0.0 AS DOUBLE)))
        |  t(task, max_abs_diff)
        |ORDER BY task""".stripMargin) { (s, d) =>
      // per-run overwrite path (q207's pattern): repeated gates/benches
      // must not accumulate orphaned temp checkpoint directories, and
      // concurrent runs must not clobber each other's checkpoints
      val dir = s"${Scratch.root}/graft_ckpt/w"
      graft.functions.RetainCheckpoint.save(s, Retain.defaultWeights, dir)
      val restored = graft.functions.RetainCheckpoint.load(s, dir)
      val a = scored(s, d, Retain.defaultWeights)
        .select(col("user_id"), col("p0"), col("p1"), col("p2"))
      val b = scored(s, d, restored)
        .select(col("user_id"), col("p0").as("q0"), col("p1").as("q1"),
          col("p2").as("q2"))
      val j = a.join(b, "user_id")
      (0 until numTasks).map { k =>
        j.agg(lit(k).as("task"),
          max(abs(col(s"p$k") - col(s"q$k"))).as("max_abs_diff"))
      }.reduce(_.unionByName(_)).orderBy("task")
    },

    /** q76 in the reference's own precision (`model.py:45` float32
      * end-to-end): every op of the forward pass rounds to f32, closing
      * the SURVEY §7.4 precision-divergence gap for scoring.
      * Hash-verified since round 9 (VERDICT r8 #4) against
      * [[RetainOracleSqlF32]]'s list_reduce f32-fold oracle — every
      * partial sum rounds to REAL in the JVM kernel's exact
      * accumulation order; RetainSpec additionally pins f32-vs-f64
      * agreement and genuine f32 rounding.
      */
    QueryDef("q204_retain_score_f32", RetainOracleSqlF32.q204(ckptGlob)) { (s, d) =>
      oracleCkptDir(s)
      import s.implicits._
      // broadcast the PRE-CONVERTED float weights: the per-row hot loop
      // converts only the input grid, never the parameter matrices
      val bw = s.sparkContext.broadcast(Retain.F32.prepare(Retain.defaultWeights))
      featurized(s, d).map { case (uid, x, _) =>
        val p = Retain.F32.forward(bw.value, x)
        (uid, p(0), p(1), p(2))
      }.toDF("user_id", "p0", "p1", "p2")
        .select(col("user_id"),
          round(col("p0"), 6).as("p0"),
          round(col("p1"), 6).as("p1"),
          round(col("p2"), 6).as("p2"))
        .orderBy("user_id")
    },

    /** q76 under the GRU fallback cell (reference `use_lstm=False`,
      * `model.py:110-111`): same eval-mode forward, α/β recurrences run
      * the GRU under its own deterministic weight lineage. Hash-verified
      * since round 7 (the oracle unrolls the GRU recurrence over the
      * packGru flat checkpoint); RetainSpec additionally pins the cell
      * semantics against a hand-rolled recurrence.
      */
    QueryDef("q203_retain_score_gru",
        RetainOracleSql.q203(s"${Scratch.root}/graft_retain_gru_w/*.parquet")) { (s, d) =>
      checkpointOnce(s, s"${Scratch.root}/graft_retain_gru_w")(
        graft.functions.RetainCheckpoint.saveGru(s, Retain.defaultGruWeights, _))
      scored(s, d, Retain.defaultGruWeights)
        .select(col("user_id"),
          round(col("p0"), 6).as("p0"),
          round(col("p1"), 6).as("p1"),
          round(col("p2"), 6).as("p2"))
        .orderBy("user_id")
    },

    /** RETAIN attention explanation (R13's α, the reference's
      * interpretability output): top-weight step per user. Hash-verified
      * since round 7 (argmax over the oracle's recomputed α sequence;
      * both sides tie-break to the earliest step).
      */
    QueryDef("q77_retain_attention", RetainOracleSql.q77(ckptGlob)) { (s, d) =>
      oracleCkptDir(s)
      val sc = scored(s, d, Retain.defaultWeights)
      sc.select(col("user_id"), posexplode(col("alpha")).as(Seq("step", "a")))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("user_id")).orderBy(col("a").desc, col("step"))))
        .where(col("rn") === 1)
        .select(col("user_id"), col("step").as("top_step"), round(col("a"), 6).as("top_alpha"))
        .orderBy("user_id")
    },

    /** Per-task eval metrics of the RETAIN scores — the reference's
      * eval loop (R18/R19/R20, `model.py:157-159`): accuracy@0.5, mean
      * CE, and exact mid-rank AUC per task, one row per task.
      * Hash-verified since round 7 (the oracle recomputes the metrics
      * with the q20/q21 formulas over its own recomputed scores).
      */
    QueryDef("q78_retain_eval", RetainOracleSql.q78(ckptGlob)) { (s, d) =>
      oracleCkptDir(s)
      val sc = scoredCached(s, d)
      val perTask = (0 until numTasks).map { k =>
        val p = col(s"p$k"); val y = col(s"y$k")
        val z = -log(lit(1.0) / p - 1.0) // logit back from sigmoid
        val ranked = sc.select(p.as("p"), y.as("y"))
          .withColumn("mr", rank().over(Window.orderBy(col("p"))) +
            (count(lit(1)).over(Window.partitionBy(col("p"))) - 1) / 2.0)
        ranked.agg(
          lit(k).as("task"),
          round(lit(100.0) * avg(((col("p") >= 0.5) === (col("y") === 1.0)).cast("double")), 4).as("acc_pct"),
          round(avg(-(col("y") * log(col("p")) + (lit(1.0) - col("y")) * log(lit(1.0) - col("p")))), 6).as("ce"),
          round((sum(when(col("y") === 1.0, col("mr"))) - sum(col("y")) * (sum(col("y")) + 1) / 2) /
            (sum(col("y")) * sum(lit(1.0) - col("y"))), 6).as("auc"))
      }
      perTask.reduce(_.unionByName(_)).orderBy("task")
    },

    /** The reference's AUC APPROXIMATION stated as a query (round 8,
      * VERDICT #4 — the last observable-behavior delta): per task, the
      * exact mid-rank AUC next to the 200-bucket histogram AUC
      * (`tf.metrics.auc`'s default `num_thresholds=200` trapezoid,
      * `model.py:157`) over the same RETAIN eval scores, plus
      * |approx − exact|. The bucketed value runs through the SAME
      * mergeable Aggregator as q87 at bins=200 — one pass, O(bins)
      * buffer, shuffle-free partial merge (the 100 TB eval shape) —
      * while the exact value uses q21's global mid-rank form. All
      * counts and mid-ranks are half-integers (order-free exact double
      * sums), so both AUCs and the gap hash-match DuckDB bit-for-bit;
      * PropertySpec asserts the gap ≤ 1/200 and measures the
      * bin-boundary margin of the unrounded probabilities (the q226
      * margin discipline — scores sit ≫1e-6 from every p·200 integer
      * boundary, so the cross-engine ~1e-9 score deviation cannot flip
      * a bin).
      */
    QueryDef("q254_auc_bucketed", RetainOracleSql.q254(ckptGlob, 200)) { (s, d) =>
      import s.implicits._
      oracleCkptDir(s)
      val sc = scoredCached(s, d)
      val perTask = (0 until numTasks).map { k =>
        val p = col(s"p$k"); val y = col(s"y$k")
        val ranked = sc.select(p.as("p"), y.as("y"))
          .withColumn("mr", rank().over(Window.orderBy(col("p"))) +
            (count(lit(1)).over(Window.partitionBy(col("p"))) - 1) / 2.0)
        val exact = ranked.agg(
          ((sum(when(col("y") === 1.0, col("mr"))) -
            sum(col("y")) * (sum(col("y")) + 1) / 2) /
            (sum(col("y")) * sum(lit(1.0) - col("y")))).as("ae"))
        val bucketed = sc.select(p.as("p"), y.as("y")).as[(Double, Double)]
          .select(graft.functions.AucHistogram.aggWith(200).toColumn)
          .toDF("ab", "np", "nn")
          .select(col("ab"))
        bucketed.crossJoin(exact).select(
          lit(k).as("task"),
          round(col("ae"), 6).as("auc_exact"),
          round(col("ab"), 6).as("auc_b200"),
          round(abs(col("ab") - col("ae")), 6).as("approx_err"))
      }
      perTask.reduce(_.unionByName(_)).orderBy("task")
    },

    /** Streaming stateful RETAIN scoring (SURVEY group 8 "stateful
      * scoring", the streaming analogue of R10): per-user GroupState
      * holds the running [T][F] feature grid; every update re-scores
      * the user with the broadcast weights. On the finite stream the
      * final scores match batch q76 (up to fp summation order —
      * asserted with tolerance in StreamingSpec).
      */
    QueryDef.noOracle("q95_stream_retain_score") { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
      import org.apache.spark.sql.types._
      val bw = s.sparkContext.broadcast(Retain.defaultWeights)
      val typeIdx = eventTypes.zipWithIndex.toMap
      val splitMicros = java.time.LocalDateTime.parse("2024-01-12T00:00:00")
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L
      val startMicros = java.time.LocalDate.parse(gridStart)
        .atStartOfDay.toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L
      val scoredStream = graft.streaming.Streaming.fileStream(s, d, "events.parquet",
          graft.streaming.Streaming.rawSchema(s, d))
        .withColumn("tsm", graft.streaming.Streaming.tsAsMicros(s, d)) // → epoch micros
        .where(col("tsm") < splitMicros)
        .select(col("user_id"), col("tsm"), col("event_type"), col("value"))
        .as[(Long, Long, String, Double)]
        .groupByKey(_._1)
        .mapGroupsWithState[Seq[Double], (Long, Long, Double, Double, Double)](
          GroupStateTimeout.NoTimeout) {
          case (uid, rows, state: GroupState[Seq[Double]]) =>
            val grid = state.getOption.map(_.toArray).getOrElse(new Array[Double](T * F + 1))
            rows.foreach { case (_, tsm, et, v) =>
              val day = ((tsm - startMicros) / 86400000000L).toInt
              typeIdx.get(et).foreach { fi =>
                if (day >= 0 && day < T) { grid(day * F + fi) += v; grid(T * F) += 1 }
              }
            }
            state.update(grid.toSeq)
            val x = Array.tabulate(T, F)((t, i) => grid(t * F + i) / 100.0)
            val (p, _, _) = Retain.forward(bw.value, x)
            (uid, grid(T * F).toLong, p(0), p(1), p(2))
        }
        .toDF("user_id", "n_seen", "p0r", "p1r", "p2r")
      // update mode may emit per microbatch; keep the fullest state per user
      val w = Window.partitionBy(col("user_id")).orderBy(col("n_seen").desc)
      graft.streaming.Streaming.drain(s, scoredStream, "graft_stream_retain", "update")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("user_id"),
          round(col("p0r"), 6).as("p0"),
          round(col("p1r"), 6).as("p1"),
          round(col("p2r"), 6).as("p2"))
        .orderBy("user_id")
    },

    /** Full joint RETAIN+AMTL training (all parameters via distributed
      * BPTT + driver Adam): emits the learned B matrix, the final mean
      * loss, and gradient-flow evidence (how far shared weights moved
      * from init — nonzero only if backprop reaches them).
      */
    QueryDef.noOracle("q94_train_full") { (s, d) =>
      import graft.functions.RetainGrad
      import s.implicits._
      val (bMat, params, loss, _) = trainFull(s, d, keepProb = 0.5) // keep_prob run.py model.py:204
      val init = RetainGrad.pack(Retain.defaultWeights)
      def drift(from: Int, until: Int): Double = {
        var acc = 0.0
        var i = from
        while (i < until) { val dd = params(i) - init(i); acc += dd * dd; i += 1 }
        math.sqrt(acc)
      }
      val bRows = for (i <- 0 until numTasks; j <- 0 until numTasks)
        yield ("B", i.toLong, j.toLong, math.rint(bMat(i)(j) * 1e4) / 1e4)
      val extra = Seq(
        ("loss", 0L, 0L, math.rint(loss * 1e4) / 1e4),
        ("drift_V", 0L, 0L, math.rint(drift(RetainGrad.OffV, RetainGrad.OffACell) * 1e4) / 1e4),
        ("drift_lstm", 0L, 0L, math.rint(drift(RetainGrad.OffACell, RetainGrad.OffWAlpha) * 1e4) / 1e4),
        ("drift_attn", 0L, 0L, math.rint(drift(RetainGrad.OffWAlpha, RetainGrad.OffHeads) * 1e4) / 1e4),
        ("drift_heads", 0L, 0L, math.rint(drift(RetainGrad.OffHeads, RetainGrad.Dim) * 1e4) / 1e4))
      (bRows ++ extra).toSeq
        .toDF("kind", "src_task", "dst_task", "value")
        .orderBy("kind", "src_task", "dst_task")
    },

    /** Training eval stream + running-minimum tracking (R27/R28,
      * `model.py:219-228,236-272`): the per-iteration per-task CE
      * history from a real training run, with the running min and the
      * arg-min iteration computed relationally (window functions over
      * the history — the engine form of the reference's Python minima
      * bookkeeping).
      */
    QueryDef.noOracle("q96_train_eval_history") { (s, d) =>
      import s.implicits._
      val (_, _, _, history) = trainFull(s, d, iters = 6)
      val rows = for ((it, ces) <- history; k <- 0 until numTasks)
        yield (it, k, math.rint(ces(k) * 1e6) / 1e6)
      val hist = rows.toDF("iter", "task", "ce")
      val w = Window.partitionBy(col("task")).orderBy(col("iter"))
        .rowsBetween(Window.unboundedPreceding, 0)
      hist
        .withColumn("run_min_ce", min(col("ce")).over(w))
        .withColumn("best_iter",
          min_by(col("iter"), struct(col("ce"), col("iter"))).over(w))
        .orderBy("task", "iter")
    },

    /** The reference's actual training regime (R4+R26,
      * `model.py:187-194`): each Adam step consumes a fresh seeded
      * ~128-row minibatch instead of the full batch — stochastic
      * trajectory, deterministic given the per-iteration seeds. Output
      * shape matches q79 ([[amtlResultDf]]) so the two regimes are
      * directly comparable.
      */
    QueryDef.noOracle("q121_train_minibatch") { (s, d) =>
      val (bMat, ces, nPos) = trainAmtl(s, d, iters = 20, minibatch = 128)
      amtlResultDf(s, bMat, ces, nPos)
    },

    /** AMTL training: learned B causality matrix + final per-task CE —
      * the reference's headline artifact (`model.py:296-310`). 9 B rows
      * (diag exactly 0) + 3 loss rows.
      */
    QueryDef.noOracle("q79_train_bmatrix") { (s, d) =>
      val (bMat, ces, nPos) = trainAmtl(s, d, iters = 30)
      amtlResultDf(s, bMat, ces, nPos)
    },

    /** The reference's COMPOSED default regime end-to-end
      * ([[referenceRegime]], `run.py:24-31` + `model.py:296-310`):
      * minibatch Adam + periodic eval + the truncate-at-start,
      * append-per-dump `B_matrix_loss_sqrtn.txt` artifact, reproduced
      * block-for-block (format parity; numeric text follows Scala's
      * shortest-roundtrip doubles — see [[referenceRegime]]).
      * This query runs the regime at exactly 1/10 the reference's
      * constants (100/20/50 vs `run.py`'s 1000/200/500 — same
      * structure: two artifact blocks, five evals, artifact cadence
      * NOT a multiple of eval cadence) so it is bench-speed at test
      * SFs; `lr` stays the engine's head-scaled 0.05 (`run.py:27`'s
      * 1e-3 is tuned for the 2.4k-param joint model). Output is the
      * artifact's lines verbatim — rows-only (training floats aren't
      * SQL-expressible); RetainArtifactSpec pins the exact format.
      */
    QueryDef.noOracle("q224_reference_regime") { (s, d) =>
      import s.implicits._
      val p = java.nio.file.Paths.get(Scratch.root, "B_matrix_loss_sqrtn.txt")
      val lines = referenceRegime(s, d, totalIter = 100, checkIter = 20,
        artifactEvery = 50, minibatch = 128, lr = 0.05, artifactPath = p)
      lines.zipWithIndex.map { case (l, i) => ((i + 1).toLong, l) }
        .toDF("line_no", "line").orderBy("line_no")
    }
  )

  /** Shared q79/q121 result shape: 9 B rows + 3 CE rows + 3 n_pos rows,
    * values rounded to 4 decimals for the rows-only stability check.
    */
  private def amtlResultDf(s: SparkSession, bMat: Array[Array[Double]],
      ces: Array[Double], nPos: Array[Double]): DataFrame = {
    import s.implicits._
    val bRows = for (i <- 0 until numTasks; j <- 0 until numTasks)
      yield ("B", i.toLong, j.toLong, math.rint(bMat(i)(j) * 1e4) / 1e4)
    val ceRows = (0 until numTasks).map(k =>
      ("ce", k.toLong, k.toLong, math.rint(ces(k) * 1e4) / 1e4))
    val posRows = (0 until numTasks).map(k =>
      ("n_pos", k.toLong, k.toLong, nPos(k)))
    (bRows ++ ceRows ++ posRows).toSeq
      .toDF("kind", "src_task", "dst_task", "value")
      .orderBy("kind", "src_task", "dst_task")
  }
}
