package graft

import graft.functions.Retain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Named assertions for the rows-only queries that previously rode on
  * adjacent coverage only (SURVEY §2.D footnotes): q38 (sketch error
  * bounds), q77 (attention is a distribution), q78 (eval metrics match
  * the q20/q21 oracle formulas recomputed independently), q127
  * (stratified sample — oracle-checked since round 12, kept here for the
  * binomial per-stratum distribution bounds the oracle can't express),
  * and q37 (the exact-k md5 sample equals an independent pick under its
  * l_quantity tie-break, on data where its md5 key ties).
  */
class RowsOnlySpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = GraftSession.prepare(
      SparkSession.builder().master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .appName("rows-only-spec").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("q38 HLL estimate within documented rsd of exact; percentiles rank-bounded") {
    val approx = SparkEntry.queries("q38_approx_distinct")(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val exact = Tables.lineitem(spark, sf)
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("exact_parts"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (flag, ex) =>
      val ap = approx(flag).getLong(approx(flag).fieldIndex("approx_parts"))
      // approx_count_distinct default rsd = 0.05; 3σ bound
      assert(math.abs(ap - ex).toDouble / ex <= 0.15,
        s"$flag: approx $ap vs exact $ex exceeds 3*rsd")
    }
    // approx_percentile(accuracy=1000): the returned value's true rank
    // must be within ~n/1000 of the target rank (allow 2x + 1 slack)
    val prices = Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_extendedprice").collect()
      .groupBy(_.getString(0))
      .map { case (k, rs) => k -> rs.map(_.getDouble(1)).sorted }
    for ((flag, sorted) <- prices; (q, field) <- Seq(
        0.5 -> "approx_price_p50", 0.95 -> "approx_price_p95")) {
      val v = approx(flag).getDouble(approx(flag).fieldIndex(field))
      val n = sorted.length
      val rank = sorted.count(_ <= v)
      val target = q * n
      val tol = 2.0 * n / 1000.0 + 1
      assert(math.abs(rank - target) <= tol,
        s"$flag $field=$v rank $rank vs target $target (n=$n, tol $tol)")
    }
  }

  test("q77 attention rows sum to 1 per entity and the top step is argmax") {
    val sc = operators.RetainOps.scored(spark, sf, Retain.defaultWeights)
      .select(col("user_id"), col("alpha")).collect()
    assert(sc.nonEmpty)
    val alphas = sc.map(r =>
      r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    alphas.values.foreach { a =>
      assert(a.length == Retain.T)
      assert(math.abs(a.sum - 1.0) < 1e-9, s"alpha sums to ${a.sum}")
      assert(a.forall(x => x > 0 && x < 1))
    }
    val top = SparkEntry.queries("q77_retain_attention")(spark, sf).collect()
    assert(top.length == alphas.size)
    top.foreach { r =>
      val a = alphas(r.getLong(r.fieldIndex("user_id")))
      val step = r.getInt(r.fieldIndex("top_step"))
      assert(a(step) == a.max, s"top_step $step is not the argmax")
      assert(math.abs(r.getDouble(r.fieldIndex("top_alpha")) -
        BigDecimal(a.max).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    }
  }

  test("q78 per-task metrics match the q20/q21 oracle formulas recomputed independently") {
    val rows = operators.RetainOps.scored(spark, sf, Retain.defaultWeights)
      .select("p0", "p1", "p2", "y0", "y1", "y2").collect()
    val emitted = SparkEntry.queries("q78_retain_eval")(spark, sf).collect()
      .map(r => r.getInt(r.fieldIndex("task")) -> r).toMap
    for (k <- 0 until Retain.numTasks) {
      val py = rows.map(r => (r.getDouble(k), r.getDouble(3 + k)))
      // q20's forms: accuracy@0.5 and mean CE
      val acc = 100.0 * py.count { case (p, y) => (p >= 0.5) == (y == 1.0) } / py.length
      val ce = py.map { case (p, y) =>
        -(y * math.log(p) + (1.0 - y) * math.log(1.0 - p)) }.sum / py.length
      // q21's exact mid-rank AUC
      val sorted = py.sortBy(_._1)
      val mr = new Array[Double](sorted.length)
      var i = 0
      while (i < sorted.length) {
        var j = i
        while (j < sorted.length && sorted(j)._1 == sorted(i)._1) j += 1
        val avgRank = (i + 1 + j) / 2.0 // mean of ranks i+1 .. j
        for (t <- i until j) mr(t) = avgRank
        i = j
      }
      val nPos = sorted.map(_._2).sum
      val nNeg = sorted.length - nPos
      val sumPosRank = sorted.indices.collect {
        case t if sorted(t)._2 == 1.0 => mr(t) }.sum
      val auc = (sumPosRank - nPos * (nPos + 1) / 2.0) / (nPos * nNeg)
      def rd(x: Double, s: Int) =
        BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
      def r6(x: Double) = rd(x, 6)
      val e = emitted(k)
      assert(math.abs(e.getDouble(e.fieldIndex("acc_pct")) - rd(acc, 4)) <= 1e-9,
        s"task $k acc") // q78 emits acc_pct at 4 decimals
      assert(math.abs(e.getDouble(e.fieldIndex("ce")) - r6(ce)) <= 1e-6,
        s"task $k ce")
      assert(math.abs(e.getDouble(e.fieldIndex("auc")) - r6(auc)) <= 1e-6,
        s"task $k auc")
    }
  }

  test("q127 stratified sample is hash-deterministic with binomial per-stratum fractions") {
    // q127 is oracle-checked since round 12 (portable md5 selection, no
    // RNG); this spec keeps the distributional sanity check — the hash
    // slice must still BEHAVE like a fair per-stratum Bernoulli draw.
    val run1 = SparkEntry.queries("q127_sample_stratified")(spark, sf).collect()
    val run2 = SparkEntry.queries("q127_sample_stratified")(spark, sf).collect()
    assert(run1.map(_.getLong(0)).sameElements(run2.map(_.getLong(0))),
      "hash selection must reproduce the same sample")
    val fractions = Map("click" -> 0.5, "view" -> 0.25, "purchase" -> 1.0,
      "error" -> 0.05, "signup" -> 0.1)
    val totals = Tables.events(spark, sf).groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sampled = run1.groupBy(_.getString(1)).view.mapValues(_.length.toLong)
    fractions.foreach { case (et, f) =>
      val n = totals(et)
      val got = sampled.getOrElse(et, 0L).toDouble
      val sd = math.sqrt(n * f * (1 - f))
      assert(math.abs(got - f * n) <= 4 * sd + 1,
        s"$et: sampled $got of $n at f=$f (±${4 * sd + 1})")
    }
  }

  test("q37 exact-k sample is the 128 smallest (md5 key, l_quantity) rows") {
    // (l_orderkey, l_linenumber) repeats in the test data (up to 5 rows
    // per pair here), so md5 of it ties; l_quantity breaks the ties, and
    // rows that still tie are identical. The pick is recomputed here from
    // the raw rows, independently of the engine's sort.
    import scala.math.Ordering.Double.TotalOrdering
    val md5 = java.security.MessageDigest.getInstance("MD5")
    def hex(s: String) = md5.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val rows = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_linenumber", "l_quantity").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    val keys = rows.map { case (o, l, _) => (o, l) }
    assert(keys.distinct.length < keys.length, "the md5 key no longer ties")
    val expected = rows.sortBy { case (o, l, q) => (hex(s"$o#$l"), q) }.take(128).sorted
    val got = SparkEntry.queries("q37_sample_exactk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    assert(got.toSeq === expected.toSeq, "q37 picked other rows")
  }
}
