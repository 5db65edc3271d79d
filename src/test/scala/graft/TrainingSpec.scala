package graft

import graft.operators.RetainOps
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** AMTL training smoke test (SURVEY.md §5.2.5) on the sf0.001 fixture:
  * loss decreases, B off-diagonals move from 0, B diagonal stays
  * exactly 0 (`model.py:91-92`).
  */
class TrainingSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.001"
  private val sf01 = java.nio.file.Paths.get(sf).resolveSibling("sf0.01").toString

  override def beforeAll(): Unit = {
    spark = GraftSession.prepare(
      SparkSession.builder().master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .appName("training-spec").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("B diagonal pinned to zero; off-diagonals learn; CE finite") {
    val (bMat, ces, _) = RetainOps.trainAmtl(spark, sf, iters = 15)
    for (i <- 0 until 3) assert(bMat(i)(i) == 0.0)
    assert(bMat.flatten.exists(v => math.abs(v) > 1e-6),
      "no off-diagonal B weight moved from its 0 init")
    assert(ces.forall(c => c > 0 && c.isFinite))
  }

  test("training reduces CE vs iteration-0 baseline") {
    val (_, ce15, _) = RetainOps.trainAmtl(spark, sf, iters = 15)
    val (_, ce1, _) = RetainOps.trainAmtl(spark, sf, iters = 1)
    assert(ce15.sum < ce1.sum,
      s"sum CE after 15 iters (${ce15.sum}) not below after 1 iter (${ce1.sum})")
  }

  test("full joint training reduces loss and moves shared weights") {
    import graft.functions.{Retain, RetainGrad}
    val (b12, p12, loss12, hist12) = RetainOps.trainFull(spark, sf, iters = 12)
    val (_, _, loss1, _) = RetainOps.trainFull(spark, sf, iters = 1)
    assert(loss12 < loss1, s"loss after 12 iters ($loss12) not below after 1 ($loss1)")
    assert(hist12.size == 12 && hist12.head._1 == 1 && hist12.last._1 == 12)
    val init = RetainGrad.pack(Retain.defaultWeights)
    val lstmDrift = (RetainGrad.OffACell until RetainGrad.OffWAlpha)
      .map(i => math.abs(p12(i) - init(i))).max
    assert(lstmDrift > 1e-6, "BPTT did not move any LSTM weight")
    for (i <- 0 until 3) assert(b12(i)(i) == 0.0)
  }

  // Pinned results of both training regimes on sf0.001. trainFull sums
  // B's gradient in RetainOps.AmtlStep's order (the μ term, then each λ
  // term) and must match bit for bit. trainAmtl's values were recorded
  // while it added λ·Σ_j(...) to the μ term as one sum, so its B and CE
  // carry a relative tolerance of 1e-9.
  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))
  private def assertClose(got: Array[Double], want: Array[Double], what: String): Unit =
    assert(got.length == want.length && got.indices.forall(i => close(got(i), want(i))),
      s"$what: got ${got.mkString(", ")}, want ${want.mkString(", ")}")

  test("characterization: trainAmtl full batch, 15 iterations") {
    val (bMat, ces, nPos) = RetainOps.trainAmtl(spark, sf, iters = 15)
    assertClose(bMat.flatten, Array(
      0.0, 0.01136677220248222, 0.06301171296031073,
      -0.0018601445314751445, 0.0, 0.15554851959858376,
      0.08416623242898576, 0.14288137863453543, 0.0), "B")
    assertClose(ces, Array(0.6868443340975804, 0.6173487943592771, 0.6878461764772473), "CE")
    assert(nPos.sameElements(Array(7.0, 4.0, 7.0)))
  }

  test("characterization: trainAmtl minibatch 128, 20 iterations") {
    val (bMat, ces, _) = RetainOps.trainAmtl(spark, sf, iters = 20, minibatch = 128)
    assertClose(bMat.flatten, Array(
      0.0, -0.005214485417954509, 0.0707188929731633,
      -4.461815809659003E-4, 0.0, 0.36268531574113455,
      0.15613545677094845, 0.37465227329374756, 0.0), "B")
    assertClose(ces, Array(0.6875133977820159, 0.5969298880486681, 0.6845396355897819), "CE")
  }

  // sf0.01 has n = 150 rows, so minibatch 4 and 128 both really sample;
  // values recorded while every step ran its own sample+treeAggregate job
  test("characterization: trainAmtl minibatch 4 and 128 on sf0.01, 60 iterations") {
    val (b4, ce4, pos4) = RetainOps.trainAmtl(spark, sf01, iters = 60, lr = 1e-3, minibatch = 4)
    assertClose(b4.flatten, Array(
      0.0, 0.047190648824157695, -0.048032423211203656,
      0.04645763446214829, 0.0, 0.04581685928773628,
      -0.04964222248037692, 0.04900264503402545, 0.0), "B (minibatch 4)")
    assertClose(ce4, Array(0.6496780319393558, 0.6476045450703131, 0.4763774643657383), "CE (minibatch 4)")
    assert(pos4.sameElements(Array(52.0, 62.0, 68.0)))
    val (b128, ce128, _) = RetainOps.trainAmtl(spark, sf01, iters = 60, lr = 1e-3, minibatch = 128)
    assertClose(b128.flatten, Array(
      0.0, 0.05295980898281968, -0.04351602927258597,
      0.05189248043083875, 0.0, 0.04324091251794825,
      -0.04515362358624772, 0.04658227413250397, 0.0), "B (minibatch 128)")
    assertClose(ce128, Array(0.7688537968245875, 0.727515258373089, 0.6998187946839026), "CE (minibatch 128)")
  }

  test("drawMinibatches keeps exactly the rows of RDD.sample, partition by partition") {
    import graft.functions.Retain
    val w = Retain.defaultWeights
    def context(d: String) = RetainOps.featurized(spark, d)
      .map { case (_, x, ys) => (Retain.forward(w, x)._3, ys) }
    def rows(part: Array[(Array[Double], Array[Double])]) = part.toSeq.map { case (c, y) => (c.toSeq, y.toSeq) }
    val threeParts = context(sf01).repartition(3).persist()
    try {
      val cases = Seq(
        ("sf0.01, minibatch 4", context(sf01), 4),
        ("sf0.01, minibatch 128", context(sf01), 128),
        ("sf0.01 in 3 partitions, minibatch 4", threeParts, 4),
        ("sf0.001, minibatch 128 >= n", context(sf), 128))
      for ((what, ctx, minibatch) <- cases) {
        val f = math.min(1.0, minibatch / ctx.count().toDouble)
        val iters = 25
        val drawn = RetainOps.drawMinibatches(ctx, f, iters)
        assert(drawn.length == ctx.getNumPartitions, what)
        for (it <- 1 to iters) {
          val want = ctx.sample(withReplacement = false, f, seed = it).glom().collect()
          for (p <- want.indices)
            assert(rows(drawn(p)(it - 1)) == rows(want(p)), s"$what: step $it, partition $p")
        }
      }
    } finally threeParts.unpersist()
  }

  test("the minibatch regime runs one draw job plus its eval jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    RetainOps.featurized(spark, sf01)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.sql.GraftBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      val dir = java.nio.file.Files.createTempDirectory("regime-jobs")
      RetainOps.referenceRegime(spark, sf01, totalIter = 100, checkIter = 20,
        artifactEvery = 50, minibatch = 128, artifactPath = dir.resolve("B.txt"))
      org.apache.spark.sql.GraftBridge.drainListenerBus(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get <= 1 + 5, s"${jobs.get} jobs for 100 steps and 5 evals")
  }

  test("characterization: trainFull 3 iterations is bit-identical") {
    val (bMat, params, loss, _) = RetainOps.trainFull(spark, sf, iters = 3)
    assert(bMat.flatten.sameElements(Array(
      0.0, 0.014734718312852288, -0.026030428083302467,
      0.013281736900944696, 0.0, 0.01982594956420466,
      -0.026484950057481374, 0.022059291176953374, 0.0)), bMat.flatten.mkString(", "))
    assert(loss == 0.5688942257812651, s"loss $loss")
    // all 1236 parameters, through the bits of every double
    assert(params.length == 1236 && java.util.Arrays.hashCode(params) == 1115036360,
      s"params changed (sum ${params.sum})")
  }

  test("trainAmtl leaves only the featurized base persisted, also when it throws") {
    for ((d, minibatch) <- Seq((sf, 0), (sf01, 4))) {
      val base = RetainOps.featurized(spark, d)
      val before = spark.sparkContext.getPersistentRDDs.keySet
      assert(before.contains(base.id))
      RetainOps.trainAmtl(spark, d, iters = 2, minibatch = minibatch)
      assert(spark.sparkContext.getPersistentRDDs.keySet == before, s"minibatch $minibatch")
      intercept[IllegalStateException] {
        RetainOps.trainAmtl(spark, d, iters = 2, minibatch = minibatch,
          onIter = (_, _, _) => throw new IllegalStateException("hook failed"))
      }
      assert(spark.sparkContext.getPersistentRDDs.keySet == before, s"minibatch $minibatch, throwing hook")
    }
  }

  test("scored output is deterministic across invocations") {
    val w = graft.functions.Retain.defaultWeights
    val a = RetainOps.scored(spark, sf, w).select("user_id", "p0", "p1", "p2")
      .collect().map(_.toString).sorted
    val b = RetainOps.scored(spark, sf, w).select("user_id", "p0", "p1", "p2")
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("weights checkpoint round-trips bit-exactly and rejects truncation") {
    import graft.functions.{Retain, RetainCheckpoint, RetainGrad}
    val w = Retain.defaultWeights
    val dir = java.nio.file.Files.createTempDirectory("ckpt-spec").toString
    RetainCheckpoint.save(spark, w, s"$dir/w")
    val restored = RetainCheckpoint.load(spark, s"$dir/w")
    assert(RetainGrad.pack(restored).sameElements(RetainGrad.pack(w)),
      "restored flat vector differs from the saved one")
    // a truncated/partial checkpoint must fail loudly, not mis-restore
    spark.read.parquet(s"$dir/w").limit(10)
      .write.mode("overwrite").parquet(s"$dir/bad")
    intercept[IllegalArgumentException] {
      RetainCheckpoint.load(spark, s"$dir/bad")
    }
  }

  test("GRU checkpoint round-trips bit-exactly and guards against the LSTM layout") {
    import graft.functions.{Retain, RetainCheckpoint, RetainGrad}
    val w = Retain.defaultGruWeights
    val dir = java.nio.file.Files.createTempDirectory("ckpt-gru-spec").toString
    RetainCheckpoint.saveGru(spark, w, s"$dir/w")
    val restored = RetainCheckpoint.loadGru(spark, s"$dir/w")
    assert(RetainGrad.packGru(restored).sameElements(RetainGrad.packGru(w)),
      "restored GRU flat vector differs from the saved one")
    // scoring under the restored weights must be IDENTICAL (the q205
    // zero-divergence contract, GRU cell kind)
    val a = RetainOps.scored(spark, sf, w).select("user_id", "p0", "p1", "p2")
      .collect().map(_.toString).sorted
    val b = RetainOps.scored(spark, sf, restored).select("user_id", "p0", "p1", "p2")
      .collect().map(_.toString).sorted
    assert(a.sameElements(b), "restored GRU weights score differently")
    // the two flat layouts have different sizes: loading a GRU file as
    // LSTM (or vice versa) must fail loudly
    intercept[IllegalArgumentException] {
      RetainCheckpoint.load(spark, s"$dir/w")
    }
    intercept[IllegalArgumentException] {
      RetainGrad.packGru(Retain.defaultWeights) // LSTM cells into packGru
    }
  }

  test("q254: bucketed AUC error obeys the same-bin-mass theorem; bins are margin-safe") {
    // the TRUE bound for a mid-rank binned AUC: cross-bin pairs rank
    // identically to the exact form, so |binned − exact| ≤ half the
    // same-bin (pos·neg) pair mass. (The naive 1/bins intuition is
    // FALSE on concentrated scores — task 0's 200-bucket error is
    // ~0.023 at sf0.01, a genuine fidelity statement about
    // tf.metrics.auc's default that SURVEY §7.4 documents.)
    val rows = SparkEntry.queries("q254_auc_bucketed")(spark, sf).collect()
    assert(rows.length == 3)
    val sc = RetainOps.scored(spark, sf, graft.functions.Retain.defaultWeights)
      .select("p0", "p1", "p2", "y0", "y1", "y2").collect()
    for (k <- 0 until 3) {
      val py = sc.map(r => (r.getDouble(k), r.getDouble(3 + k)))
      val bins = py.groupBy { case (p, _) => math.min((p * 200).toInt, 199) }
      val nPos = py.count(_._2 == 1.0).toDouble
      val nNeg = py.length - nPos
      val sameBinMass = bins.values.map { g =>
        val gp = g.count(_._2 == 1.0).toDouble; gp * (g.length - gp)
      }.sum / (nPos * nNeg)
      val err = rows(k).getAs[Double]("approx_err")
      assert(err <= 0.5 * sameBinMass + 1e-9,
        s"task $k: err $err exceeds same-bin-mass bound ${0.5 * sameBinMass}")
      // bin-boundary margin: no probability sits within 1e-7 of a
      // p·200 integer boundary, so the measured ≤1.8e-9 cross-engine
      // score deviation (RetainOracleSql) cannot flip a bin
      val margin = py.map { case (p, _) =>
        val f = p * 200; math.min(f - math.floor(f), math.ceil(f) - f)
      }.min
      assert(margin > 1e-7, s"task $k: bin-boundary margin $margin too tight")
    }
  }
}
