package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Invariants and measured parity margins of the round-10 operator
  * family: CCM cross-map skills are correlations that actually detect
  * a planted lag-coupling, the Kleinberg fold reproduces a
  * hand-computed Viterbi path, R/S statistics grow with window size,
  * spectral entropy is a normalized entropy whose dominant-frequency
  * cut has measurable slack, and the libm-sensitive readouts sit far
  * enough from their round-6 boundaries that an exp/cos last-ulp
  * difference between DuckDB and the JVM cannot flip a hash.
  */
class Round10Spec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.001"
  private val sf01 = "/root/testdata/sf0.01"

  override def beforeAll(): Unit = {
    spark = GraftSession.prepare(
      SparkSession.builder().master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .appName("round10-spec").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("q306 cross-map skills are correlations and the convergence flag is consistent") {
    val rows = SparkEntry.queries("q306_ccm_xmap")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val rh = r.getAs[Double]("rho_half"); val rf = r.getAs[Double]("rho_full")
      assert(math.abs(rh) <= 1.0 + 1e-9 && math.abs(rf) <= 1.0 + 1e-9, s"$r")
      assert(r.getAs[Int]("converging") == (if (rf > rh) 1 else 0), s"$r")
      assert(math.abs(r.getAs[Double]("delta") - BigDecimal(rf - rh)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9, s"$r")
      assert(r.getAs[Long]("n_common") >= 10)
    }
  }

  test("q306 kernel detects a planted lag-coupling: y_t = x_{t-1} cross-maps x almost perfectly") {
    // x = sin(t/2) deterministic, y a pure one-step lag copy: X drives Y,
    // so Y's shadow manifold must recover X. Reference values from an
    // independent scalar implementation: rho_half 0.97556, rho_full 0.99753.
    val n = 40
    val xs = (1 to n).map(t => math.sin(t / 2.0))
    val ys = 0.0 +: xs.dropRight(1)
    val df = spark.sql(
      s"SELECT array(${xs.mkString(",")}) AS xv, array(${ys.mkString(",")}) AS yv, " +
        s"$n AS n, ${n / 2} AS nh")
      .withColumn("xhh", expr(operators.CcmOps.xhSpark("nh")))
      .withColumn("xhf", expr(operators.CcmOps.xhSpark("n")))
      .withColumn("mh", expr(operators.CcmOps.momSpark("xhh")))
      .withColumn("mf", expr(operators.CcmOps.momSpark("xhf")))
      .select(expr(operators.CcmOps.rhoOf("mh")).as("rh"),
        expr(operators.CcmOps.rhoOf("mf")).as("rf"))
    val r = df.head
    assert(math.abs(r.getDouble(0) - 0.9755580439960913) < 1e-9, s"rho_half ${r.getDouble(0)}")
    assert(math.abs(r.getDouble(1) - 0.9975293010017735) < 1e-9, s"rho_full ${r.getDouble(1)}")
    assert(r.getDouble(1) > r.getDouble(0), "lag-coupling must converge")
  }

  test("q306 rounding-boundary margin: unrounded rhos sit off the 1e-6 grid at the verify SF") {
    // the only engine divergence channel is exp()'s last ulp; a flip
    // needs an unrounded rho within ~1e-15 of a x.5e-6 boundary. Measure
    // the actual minimum distance (q281 margin idiom).
    val rows = operators.CcmOps.raw(spark, sf01)
      .select(expr(operators.CcmOps.rhoOf("mh")).as("rh"),
        expr(operators.CcmOps.rhoOf("mf")).as("rf"))
      .collect()
    assert(rows.nonEmpty)
    val margin = rows.flatMap(r => Seq(r.getDouble(0), r.getDouble(1)))
      .map { x =>
        val f = math.abs(x) * 1e6
        math.abs(f - math.floor(f) - 0.5)
      }.min
    assert(margin > 1e-6, s"rho sits $margin from a round-6 boundary")
  }

  test("q307 fold kernel reproduces the hand-computed Viterbi path and score") {
    // counts [3,1,1,8,9,2,1,1,10,12]: lam0=4.9, burst on the last two
    // days only (the 8,9 mid-bump does not pay the ln(10) entry toll
    // twice); independent scalar Viterbi gives score 3.346653.
    val nv = Seq(3, 1, 1, 8, 9, 2, 1, 1, 10, 12)
    val df = spark.sql(
      s"SELECT array(${nv.map(_ + ".0d").mkString(",")}) AS nv, ${nv.size} AS n, " +
        s"${nv.sum}.0d / ${nv.size} AS lam0")
      .withColumn("lam1", expr("2.0 * lam0"))
      .withColumn("tau", expr("ln(cast(n as double))"))
      .withColumn("fwd", expr(
        """aggregate(sequence(1, n), array(cast(0.0 as double), tau),
          |  (acc, k) -> concat(array(
          |    least(element_at(acc, 1), element_at(acc, 2)) + (lam0 - element_at(nv, k) * ln(lam0)),
          |    least(element_at(acc, 1) + tau, element_at(acc, 2)) + (lam1 - element_at(nv, k) * ln(lam1)),
          |    if(element_at(acc, 1) <= element_at(acc, 2), 0.0d, 1.0d),
          |    if(element_at(acc, 1) + tau <= element_at(acc, 2), 0.0d, 1.0d)),
          |    if(size(acc) > 2, slice(acc, 3, size(acc) - 2), cast(array() as array<double>))))""".stripMargin))
      .withColumn("base_cost", expr(
        "aggregate(sequence(1, n), cast(0.0 as double), (a, k) -> a + (lam0 - element_at(nv, k) * ln(lam0)))"))
      .withColumn("st", expr(
        """aggregate(sequence(1, n - 1),
          |  array(if(element_at(fwd, 1) <= element_at(fwd, 2), 0.0d, 1.0d)),
          |  (acc, j) -> concat(array(element_at(fwd,
          |    cast(3 + 2 * (j - 1) + element_at(acc, 1) as int))), acc))""".stripMargin))
      .select(col("st"), expr("round(base_cost - least(element_at(fwd, 1), element_at(fwd, 2)), 6)").as("score"))
    val r = df.head
    assert(r.getSeq[Double](0) == Seq(0, 0, 0, 0, 0, 0, 0, 0, 1, 1).map(_.toDouble), s"states ${r.getSeq[Double](0)}")
    assert(r.getDouble(1) == 3.346653, s"score ${r.getDouble(1)}")
  }

  test("q307 burst statistics are internally consistent") {
    val rows = SparkEntry.queries("q307_burst_kleinberg")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nb = r.getAs[Long]("n_burst_days"); val lb = r.getAs[Long]("longest_burst")
      assert(r.getAs[Double]("burst_score") >= 0.0, s"$r")
      assert(nb >= 0 && nb <= r.getAs[Long]("n_days"), s"$r")
      assert(lb <= nb && (nb == 0) == (lb == 0), s"$r")
      assert((nb == 0) == (r.isNullAt(r.fieldIndex("first_burst_di"))), s"$r")
    }
  }

  test("q308 R/S grows with window size and H is a plausible exponent") {
    val rows = SparkEntry.queries("q308_hurst_rs")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("rs4") < r.getAs[Double]("rs8"), s"$r")
      // rs16 > rs8 is typical but not a theorem at 1 block of 16; only
      // require positivity there and a sane fitted exponent
      assert(r.getAs[Double]("rs16") > 0, s"$r")
      val h = r.getAs[Double]("hurst")
      assert(h > 0 && h < 1.5, s"$r")
    }
  }

  test("q312 spectral entropy is normalized and the dominant-frequency cut has slack") {
    val rows = SparkEntry.queries("q312_spectral_entropy")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val h = r.getAs[Double]("h_spectral")
      assert(h >= 0 && h <= 1 + 1e-9, s"$r")
      assert(r.getAs[Double]("peak_share") >= 1.0 / 8 - 1e-9, s"$r")
      assert(r.getAs[Long]("peak_k") >= 1 && r.getAs[Long]("peak_k") <= 8, s"$r")
    }
    // argmax-flip margin at the verify SF: the gap between the top two
    // normalized powers must dwarf a cos/sin last-ulp difference
    val g = operators.CausalOps.daily(spark, sf01)
    import org.apache.spark.sql.expressions.Window
    val pos = g.select(col("el"), col("v"),
        row_number().over(Window.partitionBy(col("el")).orderBy(col("di"))).as("p"),
        count(lit(1)).over(Window.partitionBy(col("el"))).as("n"))
      .where(col("n") >= 16)
    val mu = pos.groupBy(col("el").as("mel"))
      .agg((sum(col("v").cast("decimal(38,12)")).cast("double") / count(lit(1))).as("m"))
    val kdf = spark.range(1, 9).select(col("id").cast("int").as("k"))
    val pw = pos.join(broadcast(mu), col("mel") === col("el"))
      .crossJoin(broadcast(kdf))
      .groupBy("el", "k")
      .agg(sum(((col("v") - col("m")) * expr("cos(2 * pi() * k * p / n)")).cast("decimal(38,12)")).cast("double").as("sc"),
        sum(((col("v") - col("m")) * expr("sin(2 * pi() * k * p / n)")).cast("decimal(38,12)")).cast("double").as("ss"))
      .select(col("el"), col("k"), (col("sc") * col("sc") + col("ss") * col("ss")).as("pk"))
    val gaps = pw.withColumn("r",
        row_number().over(Window.partitionBy(col("el")).orderBy(col("pk").desc, col("k"))))
      .where(col("r") <= 2)
      .groupBy("el").agg((max(col("pk")) - min(col("pk"))).as("gap"), max(col("pk")).as("top"))
      .select((col("gap") / col("top")).as("relgap"))
      .collect().map(_.getDouble(0))
    assert(gaps.forall(_ > 1e-9), s"dominant-frequency near-tie: ${gaps.min}")
  }

  test("q309 always-valid p is monotone nonincreasing and internally consistent") {
    val rows = SparkEntry.queries("q309_msprt")(spark, sf).collect()
    assert(rows.nonEmpty)
    var last = Double.MaxValue
    rows.foreach { r =>
      val p = r.getAs[Double]("p_always_valid")
      assert(p > 0 && p <= 1 + 1e-9, s"$r")
      assert(p <= last + 1e-9, s"always-valid p increased: $r")
      last = p
      assert(r.getAs[Double]("lambda") > 0, s"$r")
      assert(math.abs(r.getAs[Double]("theta")) <= 1.0, s"$r")
      assert(Set(0, 1)(r.getAs[Int]("signif")), s"$r")
      // cumulative sample sizes are nondecreasing by construction
      assert(r.getAs[Long]("n_a") > 0 && r.getAs[Long]("n_b") > 0)
    }
  }

  test("q311 authority ranking is a consecutive, strictly-ordered top-20") {
    val rows = SparkEntry.queries("q311_hits")(spark, sf).collect()
    assert(rows.length == 20)
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Long]("rank") == i + 1, s"$r")
      assert(r.getAs[Double]("authority_x1000") > 0, s"$r")
      if (i > 0)
        assert(rows(i - 1).getAs[Double]("authority_x1000") >=
          r.getAs[Double]("authority_x1000"), s"authority not nonincreasing at $i")
    }
  }

  test("q313 vocabulary growth is monotone and the Heaps exponent is sublinear") {
    val rows = SparkEntry.queries("q313_heaps_shingle")(spark, sf).collect()
    assert(rows.length == 10)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("n_docs") <= b.getAs[Long]("n_docs"))
      assert(a.getAs[Long]("n_shingles") <= b.getAs[Long]("n_shingles"))
      assert(a.getAs[Long]("vocab") <= b.getAs[Long]("vocab"))
    }
    val beta = rows.head.getAs[Double]("beta")
    assert(beta > 0 && beta < 1, s"Heaps exponent out of (0,1): $beta")
    assert(rows.head.getAs[Double]("k") > 0)
  }

  test("q310 streaming PSI refresh equals the batch q281 result exactly") {
    // q339/q347 refresh the same pinned-decile count stream as q310
    for ((sq, bq) <- Seq(
        "q310_stream_psi" -> "q281_psi_drift",
        "q339_stream_wasserstein" -> "q333_wasserstein",
        "q347_stream_retrain" -> "q345_retrain_trigger")) {
      val batch = SparkEntry.queries(bq)(spark, sf).collect()
      val stream = SparkEntry.queries(sq)(spark, sf).collect()
      assert(stream.nonEmpty && stream.map(_.toString).toSeq == batch.map(_.toString).toSeq,
        s"$sq != $bq:\n${stream.mkString("\n")}\nvs\n${batch.mkString("\n")}")
    }
  }
}
