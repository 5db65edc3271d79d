package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-9 distribution-shift and model-quality operators: PSI/JSD data
  * drift between time periods, split-conformal prediction intervals on
  * the forecast backtest, and a calibration-curve + Brier-score
  * decomposition over the engine's standard scored set. These are the
  * monitoring layer of a training-data pipeline — "did the feature
  * distribution move", "how wide must honest forecast intervals be",
  * "are the model's probabilities calibrated" — and each reduces the
  * fact table to an O(bins) or O(elements) readout in one or two
  * map-side-combined aggregates, which is the only shape that survives
  * 100 TB.
  */
object DriftOps {
  private def r6(c: Column) = round(c, 6)
  private def dsum(c: Column): Column = sum(c.cast("decimal(38,12)")).cast("double")

  /** The q20/q21 scored-set convention: a deterministic closed-form
    * score over lineitem so probability-quality metrics are exactly
    * reproducible in the oracle. */
  private val zSql = "l_quantity/10.0 - l_discount*20.0 + l_tax*5.0 - 1.5"
  private def zCol = col("l_quantity") / 10.0 - col("l_discount") * 20.0 +
    col("l_tax") * 5.0 - 1.5
  private def yCol = when(col("l_returnflag") === "R", 1.0).otherwise(0.0)

  /** q286's computation from any (el, di, v) grid — factored out (the
    * leadLagFromGrid pattern) so the batch query and q291's streaming
    * refresh run the IDENTICAL expression tree and produce bit-identical
    * doubles from bit-identical grid state. */
  private[graft] def conformalFromGrid(g: DataFrame): DataFrame = {
    val c = g.select(col("el"), col("di"), col("v"))
      val l7 = g.select(col("el").as("el7"), col("di").as("di7"), col("v").as("f"))
      val ev = c.join(l7, col("el7") === col("el") && col("di7") === col("di") - 7)
        .select(col("el"), col("di"), col("v"), col("f"))
      val w = Window.partitionBy(col("el"))
      val cal = ev.where(col("di") <= 21)
        .select(col("el"), abs(col("v") - col("f")).as("ar"),
          row_number().over(w.orderBy(abs(col("v") - col("f")), col("di"))).as("rn"),
          count(lit(1)).over(w).as("n_cal"))
      val qh = cal.where(col("rn") ===
          least(ceil((col("n_cal") + 1) * 0.8).cast("long"), col("n_cal")))
        .select(col("el").as("qel"), col("n_cal"), col("ar").as("qhat"))
      val tst = ev.where(col("di") > 21)
        .join(broadcast(qh), col("qel") === col("el"))
        .select(col("el"), col("n_cal"), col("qhat"),
          when(col("v") >= col("f") - col("qhat") &&
            col("v") <= col("f") + col("qhat"), 1).otherwise(0).as("covered"))
      tst.groupBy("el")
        .agg(max(col("n_cal")).cast("long").as("n_cal"),
          count(lit(1)).as("n_test"),
          r6(max(col("qhat"))).as("qhat"),
          r6(sum(col("covered")).cast("double") / count(lit(1))).as("coverage"))
        .orderBy("el")
  }

  /** Oracle of [[binnedCounts]] (`e`, `q`, `b`, `c`): per event type
    * and reference-decile bin, the reference (nr) and current (nc)
    * counts. */
  private val binnedCountsSql: String = {
    val qsSql = (1 to 9).map(k => s"quantile_cont(v, 0.$k) AS q$k").mkString(", ")
    // round-9 on BOTH comparands: a last-ulp difference in either
    // engine's interpolated percentile cannot flip a bin unless the
    // value already sits within 5e-10 of the boundary (Round9Spec
    // measures the actual corpus margin: the nearest non-equal value
    // sits 8.9e-16 from a raw boundary, but EQUAL after round-9)
    val binSql = (1 to 9).map(k =>
      s"(CASE WHEN round(v, 9) > round(q$k, 9) THEN 1 ELSE 0 END)").mkString(" + ")
    s"""e AS (
       |  SELECT event_type AS et, value AS v,
       |    ts < TIMESTAMP '2024-01-16' AS is_ref
       |  FROM events),
       |q AS (SELECT et AS qet, $qsSql FROM e WHERE is_ref GROUP BY 1),
       |b AS (
       |  SELECT et, is_ref, 1 + $binSql AS bin
       |  FROM e JOIN q ON et = qet),
       |c AS (
       |  SELECT et, bin, count_if(is_ref) AS nr, count_if(NOT is_ref) AS nc
       |  FROM b GROUP BY 1, 2)""".stripMargin
  }

  /** Oracle of [[psiFromCounts]]'s clamped bin fractions (`t`, `f`):
    * q281, q345. */
  private val binFracSql =
    """t AS (SELECT et AS tet, sum(nr) AS tr, sum(nc) AS tc FROM c GROUP BY 1),
      |f AS (
      |  SELECT et, bin,
      |    greatest(CAST(nr AS DOUBLE) / tr, 1e-6) AS rf,
      |    greatest(CAST(nc AS DOUBLE) / tc, 1e-6) AS cf
      |  FROM c JOIN t ON tet = et)""".stripMargin

  /** Oracle of [[w1FromCounts]]'s per-bin reference and current CDFs
    * over all ten bins (`dense`, the totals CTE `tot`, `cu`): q333,
    * q345. */
  private def binCdfSql(tot: String) =
    s"""dense AS (
       |  SELECT ty.et, g.bin, coalesce(c.nr, 0) AS nr, coalesce(c.nc, 0) AS nc
       |  FROM (SELECT DISTINCT et FROM c) ty
       |  CROSS JOIN (SELECT unnest(range(1, 11)) AS bin) g
       |  LEFT JOIN c ON c.et = ty.et AND c.bin = g.bin),
       |$tot AS (SELECT et AS tet, sum(nr) AS tr, sum(nc) AS tc FROM dense GROUP BY 1),
       |cu AS (
       |  SELECT et, bin,
       |    CAST(sum(nr) OVER (PARTITION BY et ORDER BY bin) AS DOUBLE) / tr AS cr,
       |    CAST(sum(nc) OVER (PARTITION BY et ORDER BY bin) AS DOUBLE) / tc AS cc
       |  FROM dense JOIN $tot ON tet = et)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    /** Population-stability-index + Jensen-Shannon drift of the value
      * distribution per event_type between the first and second half of
      * the month (split at 2024-01-16). Bin boundaries are the REFERENCE
      * period's exact deciles — the standard PSI recipe — computed once
      * per type and broadcast; both periods then bin with the identical
      * `v > boundary` comparison chain and reduce to O(types · 10) count
      * rows. Fractions clamp at 1e-6 (empty-bin convention) before the
      * log terms; the 10-term PSI/JSD sums are decimal-accumulated. At
      * 100 TB this is two sequential aggregates over one scan each —
      * no sort, no join wider than the 9-boundary broadcast; the exact
      * deciles would swap for approx_percentile with the same shape.
      */
    QueryDef(
      "q281_psi_drift",
      s"""WITH $binnedCountsSql,
        |$binFracSql
        |SELECT et AS event_type, CAST(count(*) AS BIGINT) AS n_bins,
        |  round(CAST(sum(CAST((cf - rf) * ln(cf / rf) AS DECIMAL(38,12))) AS DOUBLE), 6) AS psi,
        |  round(CAST(sum(CAST(0.5 * (rf * ln(2.0 * rf / (rf + cf)))
        |    + 0.5 * (cf * ln(2.0 * cf / (rf + cf))) AS DECIMAL(38,12))) AS DOUBLE), 6) AS jsd
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      psiFromCounts(binnedCounts(s, d))
    },

    /** Wasserstein-1 (earth-mover) drift distance on q281's decile
      * bins — the CUMULATIVE drift metric completing the divergence
      * shelf: PSI/JSD (q281) are bin-local and blind to direction, KS
      * (q274) takes the max gap; W1 integrates |ΔCDF| across the whole
      * distribution, and the companion signed_shift says WHICH WAY the
      * current period moved. Bins densify to the full 1-10 grid (a
      * types×10 broadcast cross) so absent bins still carry their CDF
      * gap; the cumulative window runs over the 10-row-per-type count
      * table, never event-grain. Unit: probability mass × bin index
      * (ordinal transport on the reference's decile scale).
      */
    QueryDef(
      "q333_wasserstein",
      s"""WITH $binnedCountsSql,
        |${binCdfSql("t")}
        |SELECT et AS event_type, CAST(count(*) AS BIGINT) AS n_bins,
        |  round(CAST(sum(CAST(abs(cr - cc) AS DECIMAL(38,12))) AS DOUBLE), 6) AS w1_bins,
        |  round(CAST(sum(CAST(cc - cr AS DECIMAL(38,12))) AS DOUBLE), 6) AS signed_shift
        |FROM cu GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      w1FromCounts(s, binnedCounts(s, d))
    },

    /** Drift-gated retrain trigger — the DECISION layer on top of the
      * divergence shelf: per event type, PSI (bin-local), W1
      * (cumulative) and the signed shift from the SAME binned count
      * state, mapped to the standard alerting policy (PSI > 0.2 = the
      * industry "significant shift" cut, or |W1| evidence of a
      * directional move). One count table feeds all three metrics —
      * the whole decision costs nothing beyond q281's two aggregates.
      */
    QueryDef(
      "q345_retrain_trigger",
      s"""WITH $binnedCountsSql,
        |$binFracSql,
        |psi AS (
        |  SELECT et,
        |    round(CAST(sum(CAST((cf - rf) * ln(cf / rf) AS DECIMAL(38,12))) AS DOUBLE), 6) AS psi
        |  FROM f GROUP BY 1),
        |${binCdfSql("t2")},
        |w1 AS (
        |  SELECT et,
        |    round(CAST(sum(CAST(abs(cr - cc) AS DECIMAL(38,12))) AS DOUBLE), 6) AS w1_bins,
        |    round(CAST(sum(CAST(cc - cr AS DECIMAL(38,12))) AS DOUBLE), 6) AS signed_shift
        |  FROM cu GROUP BY 1)
        |SELECT psi.et AS event_type, psi.psi, w1.w1_bins, w1.signed_shift,
        |  CAST(psi.psi > 0.2 OR w1.w1_bins > 0.5 OR abs(w1.signed_shift) > 0.3 AS INT)
        |    AS retrain
        |FROM psi JOIN w1 ON w1.et = psi.et ORDER BY event_type""".stripMargin) { (s, d) =>
      val c = binnedCounts(s, d)
      val psi = psiFromCounts(c).select(col("event_type").as("pet"), col("psi"))
      val w1 = w1FromCounts(s, c)
      w1.join(psi, col("pet") === col("event_type"))
        .select(col("event_type"), col("psi"), col("w1_bins"), col("signed_shift"),
          (col("psi") > 0.2 || col("w1_bins") > 0.5 || abs(col("signed_shift")) > 0.3)
            .cast("int").as("retrain"))
        .orderBy("event_type")
    },

    /** Split-conformal prediction intervals on the seasonal-naive
      * forecast (q269's evaluation rows): calibration days (di ≤ 21)
      * yield the k-th smallest absolute residual with
      * k = ⌈(n_cal + 1) · 0.8⌉ — the distribution-free 80% split-
      * conformal quantile — and test days (di > 21) report the
      * empirical coverage of v ∈ [f ± q̂]. Everything runs on the
      * PlanCache'd (element, day) grid: the order statistic is an
      * element-partitioned row_number (deterministic (|resid|, di)
      * tiebreak), O(P·T) rows total — an honest-uncertainty readout
      * whose cost at 100 TB is the one grid aggregate it shares with
      * the whole causal family.
      */
    QueryDef(
      "q286_conformal_forecast",
      s"""WITH ${CausalOps.dailySql},
        |ev AS (
        |  SELECT c.el, c.di, c.v, l7.v AS f
        |  FROM daily c JOIN daily l7 ON l7.el = c.el AND l7.di = c.di - 7),
        |cal AS (
        |  SELECT el, abs(v - f) AS ar,
        |    row_number() OVER (PARTITION BY el ORDER BY abs(v - f), di) AS rn,
        |    count(*) OVER (PARTITION BY el) AS n_cal
        |  FROM ev WHERE di <= 21),
        |qh AS (
        |  SELECT el AS qel, n_cal, ar AS qhat
        |  FROM cal
        |  WHERE rn = least(CAST(ceil((n_cal + 1) * 0.8) AS BIGINT), n_cal)),
        |tst AS (
        |  SELECT e.el, e.di, e.v, e.f, q.qhat, q.n_cal,
        |    CASE WHEN e.v >= e.f - q.qhat AND e.v <= e.f + q.qhat
        |         THEN 1 ELSE 0 END AS covered
        |  FROM ev e JOIN qh q ON q.qel = e.el WHERE e.di > 21)
        |SELECT el, CAST(max(n_cal) AS BIGINT) AS n_cal,
        |  CAST(count(*) AS BIGINT) AS n_test,
        |  round(max(qhat), 6) AS qhat,
        |  round(CAST(sum(covered) AS DOUBLE) / count(*), 6) AS coverage
        |FROM tst GROUP BY el ORDER BY el""".stripMargin) { (s, d) =>
      conformalFromGrid(CausalOps.daily(s, d))
    },

    /** Calibration curve + Brier-score decomposition of the q20/q21
      * scored set: sigmoid probabilities land in 10 fixed-width bins,
      * each reporting count / mean predicted / observed positive rate,
      * alongside the global Brier score and its Murphy decomposition
      * (reliability − resolution + uncertainty). One map-side pass
      * computes bin AND global sums (the global terms ride the same
      * shuffle as two grouped aggregates over 10 + 1 rows); products
      * of deterministic doubles are decimal-accumulated so both
      * engines see identical sums regardless of partitioning. The
      * fixed-width binning (vs q147's ntile) is deliberate: no sort,
      * no window — the 100 TB calibration pass is a pure groupBy.
      */
    QueryDef(
      "q287_calibration_brier",
      s"""WITH sc AS (
        |  SELECT 1.0/(1.0 + exp(-($zSql))) AS p,
        |    CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y
        |  FROM lineitem),
        |b AS (SELECT least(CAST(floor(p * 10) AS INT), 9) AS bin, p, y FROM sc),
        |g AS (
        |  SELECT bin, count(*) AS n,
        |    CAST(sum(CAST(p AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS avg_p,
        |    CAST(sum(CAST(y AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS frac_pos
        |  FROM b GROUP BY 1),
        |gl AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS nn,
        |    CAST(sum(CAST(y AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS ybar,
        |    CAST(sum(CAST((p - y) * (p - y) AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS brier
        |  FROM b),
        |dc AS (
        |  SELECT
        |    CAST(sum(CAST(g.n * (g.avg_p - g.frac_pos) * (g.avg_p - g.frac_pos)
        |      AS DECIMAL(38,12))) AS DOUBLE) / max(gl.nn) AS rel,
        |    CAST(sum(CAST(g.n * (g.frac_pos - gl.ybar) * (g.frac_pos - gl.ybar)
        |      AS DECIMAL(38,12))) AS DOUBLE) / max(gl.nn) AS res
        |  FROM g CROSS JOIN gl)
        |SELECT g.bin, CAST(g.n AS BIGINT) AS n,
        |  round(g.avg_p, 6) AS avg_p, round(g.frac_pos, 6) AS frac_pos,
        |  round(gl.brier, 6) AS brier,
        |  round(dc.rel, 6) AS reliability,
        |  round(dc.res, 6) AS resolution,
        |  round(gl.ybar * (1 - gl.ybar), 6) AS uncertainty
        |FROM g CROSS JOIN gl CROSS JOIN dc
        |ORDER BY g.bin""".stripMargin) { (s, d) =>
      val sc = Tables.lineitem(s, d)
        .select((lit(1.0) / (lit(1.0) + exp(-zCol))).as("p"), yCol.as("y"))
      val b = sc.select(least(floor(col("p") * 10).cast("int"), lit(9)).as("bin"),
        col("p"), col("y"))
      val g = b.groupBy("bin").agg(count(lit(1)).as("n"),
        (dsum(col("p")) / count(lit(1))).as("avg_p"),
        (dsum(col("y")) / count(lit(1))).as("frac_pos"))
      val gl = b.agg(count(lit(1)).cast("double").as("nn"),
        (dsum(col("y")) / count(lit(1))).as("ybar"),
        (dsum((col("p") - col("y")) * (col("p") - col("y"))) / count(lit(1))).as("brier"))
      val dc = g.crossJoin(broadcast(gl))
        .agg(
          (dsum(col("n") * (col("avg_p") - col("frac_pos")) *
            (col("avg_p") - col("frac_pos"))) / max(col("nn"))).as("rel"),
          (dsum(col("n") * (col("frac_pos") - col("ybar")) *
            (col("frac_pos") - col("ybar"))) / max(col("nn"))).as("res"))
      g.crossJoin(broadcast(gl)).crossJoin(broadcast(dc))
        .select(col("bin"), col("n").cast("long").as("n"),
          r6(col("avg_p")).as("avg_p"), r6(col("frac_pos")).as("frac_pos"),
          r6(col("brier")).as("brier"),
          r6(col("rel")).as("reliability"),
          r6(col("res")).as("resolution"),
          r6(col("ybar") * (lit(1) - col("ybar"))).as("uncertainty"))
        .orderBy("bin")
    }
  )

  /** q281's building blocks, factored out (the conformalFromGrid
    * pattern) so q310's streaming refresh shares the IDENTICAL binning
    * and readout expression trees with the batch query. */
  private[graft] def typedEvents(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(col("event_type").as("et"),
      col("value").as("v"),
      (col("ts") < lit("2024-01-16").cast("timestamp")).as("is_ref"))

  /** Reference-period exact deciles per type — the fixed "training
    * snapshot" bin boundaries a production drift monitor pins before
    * the live period starts. */
  private[graft] def refDeciles(s: SparkSession, d: String): DataFrame =
    // PlanCache (round 17): the exact-percentile pass over the reference
    // period is recomputed by SIX consumers per session (batch
    // q281/q333/q345 via binnedCounts, streaming q310/q339/q347 as the
    // pinned-boundary broadcast) and is identical for all of them —
    // the boundaries are a training-snapshot artifact by design, so one
    // materialization per (session, sf-dir) is the production shape,
    // not result caching: each query still derives everything else
    // from the raw inputs.
    graft.PlanCache.cached(s, s"drift_refdec|$d") {
      typedEvents(s, d).where(col("is_ref")).groupBy(col("et").as("qet"))
        .agg(expr("percentile(v, 0.1)").as("q1"),
          (2 to 9).map(k => expr(s"percentile(v, 0.$k)").as(s"q$k")): _*)
    }

  /** Round-9 boundary-chain binning of a typed event set against the
    * broadcast deciles, reduced to per-(type, bin) ref/current counts. */
  private[graft] def binnedCounts(s: SparkSession, d: String): DataFrame =
    binnedCountsWith(typedEvents(s, d), refDeciles(s, d))

  private[graft] def binnedCountsWith(e: DataFrame, qs: DataFrame): DataFrame =
    e.join(broadcast(qs), col("et") === col("qet"))
      .select(col("et"), col("is_ref"),
        (lit(1) + (1 to 9).map(k =>
          when(round(col("v"), 9) > round(col(s"q$k"), 9), 1).otherwise(0))
          .reduce(_ + _)).as("bin"))
      .groupBy("et", "bin")
      .agg(count_if(col("is_ref")).as("nr"), count_if(!col("is_ref")).as("nc"))

  /** q333's W1 readout from (et, bin, nr, nc) count rows: densify to
    * the full 1-10 bin grid, cumulate per type (a 10-row window), and
    * decimal-sum the |ΔCDF| / ΔCDF terms. Counts are exact ⇒ identical
    * doubles on both engines. */
  private[graft] def w1FromCounts(s: SparkSession, c: DataFrame): DataFrame = {
    import s.implicits._
    val bins10 = (1 to 10).toDF("gbin")
    val dense = c.select(col("et")).distinct().crossJoin(broadcast(bins10))
      .join(c.withColumnRenamed("et", "cet").withColumnRenamed("bin", "cbin"),
        col("cet") === col("et") && col("cbin") === col("gbin"), "left")
      .select(col("et"), col("gbin").as("bin"),
        coalesce(col("nr"), lit(0L)).as("nr"), coalesce(col("nc"), lit(0L)).as("nc"))
    val t = dense.groupBy(col("et").as("tet"))
      .agg(sum(col("nr")).as("tr"), sum(col("nc")).as("tc"))
    val w = Window.partitionBy(col("et")).orderBy(col("bin"))
    val cu = dense.join(t, col("tet") === col("et"))
      .select(col("et"), col("bin"),
        (sum(col("nr")).over(w).cast("double") / col("tr")).as("cr"),
        (sum(col("nc")).over(w).cast("double") / col("tc")).as("cc"))
    cu.groupBy(col("et").as("event_type"))
      .agg(count(lit(1)).cast("long").as("n_bins"),
        r6(dsum(abs(col("cr") - col("cc")))).as("w1_bins"),
        r6(dsum(col("cc") - col("cr"))).as("signed_shift"))
      .orderBy("event_type")
  }

  /** PSI/JSD readout from (et, bin, nr, nc) count rows — the shared
    * expression tree of q281 and q310 (bit-identical doubles from
    * identical counts). */
  private[graft] def psiFromCounts(c: DataFrame): DataFrame = {
    val t = c.groupBy(col("et").as("tet"))
      .agg(sum(col("nr")).as("tr"), sum(col("nc")).as("tc"))
    val f = c.join(t, col("tet") === col("et"))
      .select(col("et"),
        greatest(col("nr").cast("double") / col("tr"), lit(1e-6)).as("rf"),
        greatest(col("nc").cast("double") / col("tc"), lit(1e-6)).as("cf"))
    f.groupBy(col("et").as("event_type"))
      .agg(count(lit(1)).as("n_bins"),
        r6(dsum((col("cf") - col("rf")) * log(col("cf") / col("rf")))).as("psi"),
        r6(dsum(lit(0.5) * (col("rf") * log(lit(2.0) * col("rf") / (col("rf") + col("cf")))) +
          lit(0.5) * (col("cf") * log(lit(2.0) * col("cf") / (col("rf") + col("cf"))))))
          .as("jsd"))
      .orderBy("event_type")
  }
}
