package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 time-series structure operators on the shared causal
  * (element, day) grid: the Theil–Sen robust trend estimator and the
  * partial autocorrelation function (Durbin–Levinson to lag 3 — the
  * companion of q266's ACF that separates direct lag-k memory from
  * carried-over lag-1 memory). Both run entirely on the PlanCache'd
  * O(P·T) grid: day count T is calendar-bounded at any data volume, so
  * the per-element O(T²) slope enumeration is a constant-factor compute
  * step after the one fact-table reduction, embarrassingly parallel in
  * the element key.
  */
object SeriesOps {
  import CausalOps.{daily, dailySql, dsum, r6}

  /** Global-mean deviations, their lag-0..3 autocovariance sums and
    * the lag-1..3 autocorrelations r1..r3 (`m`, `dv`, `c0`, `ck`, `r`):
    * q283, q348; `extraCols` adds `r` columns. */
  private def acfSql(extraCols: String): String =
    s"""m AS (
      |  SELECT el, CAST(sum(CAST(v AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS vb
      |  FROM daily GROUP BY 1),
      |dv AS (
      |  SELECT d.el, d.di, d.v - m.vb AS dev
      |  FROM daily d JOIN m ON m.el = d.el),
      |c0 AS (
      |  SELECT el, count(*) AS n_days,
      |    CAST(sum(CAST(dev * dev AS DECIMAL(38,12))) AS DOUBLE) AS c0
      |  FROM dv GROUP BY 1),
      |ck AS (
      |  SELECT a.el, l.k,
      |    CAST(sum(CAST(a.dev * b.dev AS DECIMAL(38,12))) AS DOUBLE) AS ck
      |  FROM dv a
      |  CROSS JOIN (VALUES (1), (2), (3)) l(k)
      |  JOIN dv b ON b.el = a.el AND b.di = a.di + l.k
      |  GROUP BY 1, 2),
      |r AS (
      |  SELECT c0.el, max(c0.n_days) AS n_days,$extraCols
      |    max(CASE WHEN k = 1 THEN ck / c0 END) AS r1,
      |    max(CASE WHEN k = 2 THEN ck / c0 END) AS r2,
      |    max(CASE WHEN k = 3 THEN ck / c0 END) AS r3
      |  FROM ck JOIN c0 ON ck.el = c0.el GROUP BY 1)""".stripMargin

  /** [[acfSql]]'s deviations and autocovariance sums in engine form,
    * over any (el, di, v) grid → (c0(cel, n_days, c0), ck(el, k, ck)). */
  private def acov(g: DataFrame): (DataFrame, DataFrame) = {
    val m = g.groupBy(col("el").as("mel"))
      .agg((dsum(col("v")) / count(lit(1))).as("vb"))
    val dv = g.join(broadcast(m), col("mel") === col("el"))
      .select(col("el"), col("di"), (col("v") - col("vb")).as("dev"))
    val c0 = dv.groupBy(col("el").as("cel"))
      .agg(count(lit(1)).as("n_days"), dsum(col("dev") * col("dev")).as("c0"))
    val s = g.sparkSession
    import s.implicits._
    val lags = Seq(1, 2, 3).toDF("k")
    val b = dv.select(col("el").as("elb"), col("di").as("dib"), col("dev").as("devb"))
    val ck = dv.crossJoin(broadcast(lags))
      .join(b, col("elb") === col("el") && col("dib") === col("di") + col("k"))
      .groupBy("el", "k")
      .agg(dsum(col("dev") * col("devb")).as("ck"))
    (c0, ck)
  }

  /** Each grid row's (el, v) with its 1-based day position p and the
    * element's day count n: q308, q312. */
  private def positions(g: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    g.select(col("el"), col("v"),
      row_number().over(Window.partitionBy(col("el")).orderBy(col("di"))).as("p"),
      count(lit(1)).over(Window.partitionBy(col("el"))).as("n"))
  }

  /** The banded-DTW dynamic program as a LINEAR fold over the row-major
    * cell index k = i·ly + j, carrying only the last ly+1 DP values —
    * O(ly) state instead of the O(lx·ly) matrix, which is what lets the
    * whole recursion run as one constant-size kernel expression per
    * pair (the q284 fold-kernel pattern; no UDF, no driver loop). The
    * recurrence uses only abs/+/least, so both engines produce
    * bit-identical doubles from the same recursion — no decimal
    * accumulation needed. Cells outside the Sakoe-Chiba band |i−j| >
    * 3+|lx−ly| cost 1e18, which min-propagation never selects while a
    * feasible path exists.
    */
  private val Inf = "cast(1e18 as double)"

  /** Spark-dialect fold: xv/yv/lx/ly are outer columns in scope. */
  private[graft] val dtwFoldSpark: String = {
    val i = "(k div ly)"
    val j = "(k % ly)"
    s"""element_at(aggregate(sequence(0, lx * ly - 1),
       |  cast(array() as array<double>),
       |  (acc, k) -> slice(
       |    concat(acc, array(
       |      (CASE WHEN abs($i - $j) > 3 + abs(lx - ly) THEN $Inf
       |            ELSE abs(element_at(xv, cast($i + 1 as int))
       |                     - element_at(yv, cast($j + 1 as int))) END)
       |      + (CASE WHEN k = 0 THEN cast(0.0 as double) ELSE least(
       |          CASE WHEN $j > 0 THEN element_at(acc, size(acc)) ELSE $Inf END,
       |          CASE WHEN $i > 0 THEN element_at(acc, size(acc) - ly + 1) ELSE $Inf END,
       |          CASE WHEN $i > 0 AND $j > 0 THEN element_at(acc, size(acc) - ly) ELSE $Inf END) END)
       |    )),
       |    greatest(1, size(acc) + 1 - ly), ly + 1)), -1)""".stripMargin
  }

  /** q294's Holt-Winters fold (Spark dialect): 9-value state
    * [l, b, s0..s6] over series positions 7..lx-1; binary-fraction
    * coefficients keep every product exact-representable. sv/lx are
    * outer columns. Exposed for the Round9Spec constant-series toy. */
  private[graft] val hwFoldSpark: String = {
    val init = "array(" +
      ("(" + (1 to 7).map(i => s"element_at(sv, $i)").mkString(" + ") + ") / 7") +
      ", cast(0.0 as double), " + (1 to 7).map(i =>
        s"element_at(sv, $i) - (${(1 to 7).map(j => s"element_at(sv, $j)").mkString(" + ")}) / 7")
        .mkString(", ") + ")"
    val y = "element_at(sv, cast(k + 1 as int))"
    val m = "(k % 7)"
    val lnew = s"0.5 * ($y - element_at(acc, cast(3 + $m as int))) + 0.5 * (element_at(acc, 1) + element_at(acc, 2))"
    val bnew = s"0.25 * (($lnew) - element_at(acc, 1)) + 0.75 * element_at(acc, 2)"
    val snew = s"0.25 * ($y - ($lnew)) + 0.75 * element_at(acc, cast(3 + $m as int))"
    val accNew = s"array($lnew, $bnew, " + (0 to 6).map(j =>
      s"CASE WHEN $m = $j THEN $snew ELSE element_at(acc, ${3 + j}) END").mkString(", ") + ")"
    s"aggregate(sequence(7, lx - 1), $init, (acc, k) -> $accNew)"
  }

  /** DuckDB-dialect fold: same recurrence; 1.0's two-arg reduce takes
    * the init accumulator as the list head, and list_slice is
    * begin:end. */
  private[operators] val dtwFoldDuck: String = {
    val k = "CAST(xk[1] AS BIGINT)"
    val i = s"($k // ly)"
    val j = s"($k % ly)"
    val inf = "CAST(1e18 AS DOUBLE)"
    s"""list_reduce(
       |    [[]::DOUBLE[]] || [[CAST(kk AS DOUBLE)] FOR kk IN range(0, lx * ly)],
       |    (acc, xk) -> list_slice(
       |      acc || [
       |        (CASE WHEN abs($i - $j) > 3 + abs(lx - ly) THEN $inf
       |              ELSE abs(xv[$i + 1] - yv[$j + 1]) END)
       |        + (CASE WHEN $k = 0 THEN 0.0 ELSE least(
       |            CASE WHEN $j > 0 THEN acc[len(acc)] ELSE $inf END,
       |            CASE WHEN $i > 0 THEN acc[len(acc) - ly + 1] ELSE $inf END,
       |            CASE WHEN $i > 0 AND $j > 0 THEN acc[len(acc) - ly] ELSE $inf END) END)
       |      ],
       |      greatest(1, len(acc) + 2 - (ly + 1)), len(acc) + 1))[-1]""".stripMargin
  }


  /** Per-(element, day) EVENT-COUNT grid — q307's input (the causal
    * `daily` grid carries the day MEAN; bursts are about volume).
    * PlanCache'd per (session, sf-dir) like its sibling. */
  private[operators] def dailyCounts(s: SparkSession, d: String): DataFrame =
    graft.PlanCache.cached(s, s"causal_daily_counts|$d") {
      Tables.events(s, d)
        .groupBy(col("event_type").as("el"),
          datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")).as("di"))
        .agg(count(lit(1)).as("nt"))
    }

  private[operators] val dcSql =
    """dc AS (
      |  SELECT event_type AS el,
      |    datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS di,
      |    count(*) AS nt
      |  FROM events GROUP BY 1, 2)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    /** Theil–Sen trend per element: the MEDIAN of all pairwise slopes
      * (v_j − v_i)/(di_j − di_i), i < j — the classic 29%-breakdown
      * robust alternative to the OLS slope that one spiky day would
      * drag (exactly the contamination q268 flags). The intercept is
      * the median of (v − slope·di). Slopes are deterministic doubles;
      * the two medians are exact interpolated percentiles (the
      * q179/q268 parity idiom). Scale: pairs are per-element and
      * O(T²) with T calendar-bounded (~hundreds), so the pair join is
      * grid-local compute, never a fact-table self-join; one shuffle
      * on `el` no matter the raw volume.
      */
    QueryDef(
      "q282_theilsen_trend",
      s"""WITH $dailySql,
        |sl AS (
        |  SELECT a.el, (b.v - a.v) / (b.di - a.di) AS slope
        |  FROM daily a JOIN daily b ON b.el = a.el AND b.di > a.di),
        |se AS (
        |  SELECT el, count(*) AS n_pairs, median(slope) AS slope
        |  FROM sl GROUP BY 1),
        |ic AS (
        |  SELECT d.el, count(*) AS n_days,
        |    median(d.v - se.slope * d.di) AS intercept, max(se.slope) AS slope,
        |    max(se.n_pairs) AS n_pairs
        |  FROM daily d JOIN se ON se.el = d.el GROUP BY 1)
        |SELECT el, CAST(n_days AS BIGINT) AS n_days,
        |  CAST(n_pairs AS BIGINT) AS n_pairs,
        |  round(slope, 6) AS slope, round(intercept, 6) AS intercept
        |FROM ic ORDER BY el""".stripMargin) { (s, d) =>
      val g = daily(s, d)
      val a = g.select(col("el"), col("di"), col("v"))
      val b = g.select(col("el").as("elb"), col("di").as("dib"), col("v").as("vb"))
      val sl = a.join(b, col("elb") === col("el") && col("dib") > col("di"))
        .select(col("el"), ((col("vb") - col("v")) / (col("dib") - col("di"))).as("slope"))
      val se = sl.groupBy(col("el").as("sel"))
        .agg(count(lit(1)).as("n_pairs"), expr("percentile(slope, 0.5)").as("slope"))
      g.join(broadcast(se), col("sel") === col("el"))
        .groupBy("el")
        .agg(count(lit(1)).as("n_days"),
          expr("percentile(v - slope * di, 0.5)").as("intercept"),
          max(col("slope")).as("slope"), max(col("n_pairs")).as("n_pairs"))
        .select(col("el"), col("n_days"), col("n_pairs"),
          r6(col("slope")).as("slope"), r6(col("intercept")).as("intercept"))
        .orderBy("el")
    },

    /** Partial autocorrelation to lag 3 via Durbin–Levinson: the
      * classical sample ACF r_k = Σ(d_t·d_{t+k}) / Σd_t² (global-mean
      * deviations — a true autocovariance sequence, unlike q266's
      * per-overlap Pearson, which is the right input for the DL
      * recursion), then the closed-form unroll
      * φ11 = r1; φ22 = (r2 − r1²)/(1 − r1²);
      * φ33 = (r3 − φ21·r2 − φ22·r1)/(1 − φ21·r1 − φ22·r2).
      * PACF answers "does day t−k matter DIRECTLY once t−1..t−(k−1)
      * are accounted for" — the single-series analogue of q248's
      * partial correlation. All sums decimal-exact on the grid; the
      * final recursion is identical scalar IEEE arithmetic in both
      * engines over O(P) rows.
      */
    QueryDef(
      "q283_pacf",
      s"""WITH $dailySql,
        |${acfSql("")},
        |dl AS (
        |  SELECT el, n_days, r1, r2, r3,
        |    (r2 - r1 * r1) / (1 - r1 * r1) AS phi22
        |  FROM r),
        |dl2 AS (
        |  SELECT el, n_days, r1, r2, r3, phi22,
        |    r1 - phi22 * r1 AS phi21
        |  FROM dl)
        |SELECT el, CAST(n_days AS BIGINT) AS n_days,
        |  round(r1, 6) AS pacf1,
        |  round(phi22, 6) AS pacf2,
        |  round((r3 - phi21 * r2 - phi22 * r1)
        |    / (1 - phi21 * r1 - phi22 * r2), 6) AS pacf3,
        |  round(r2, 6) AS acf2, round(r3, 6) AS acf3
        |FROM dl2 ORDER BY el""".stripMargin) { (s, d) =>
      val (c0, ck) = acov(daily(s, d))
      val r = ck.join(broadcast(c0), col("cel") === col("el"))
        .groupBy("el")
        .agg(max(col("n_days")).as("n_days"),
          max(when(col("k") === 1, col("ck") / col("c0"))).as("r1"),
          max(when(col("k") === 2, col("ck") / col("c0"))).as("r2"),
          max(when(col("k") === 3, col("ck") / col("c0"))).as("r3"))
      val dl = r.withColumn("phi22",
        (col("r2") - col("r1") * col("r1")) / (lit(1) - col("r1") * col("r1")))
      val dl2 = dl.withColumn("phi21", col("r1") - col("phi22") * col("r1"))
      dl2.select(col("el"), col("n_days"),
          r6(col("r1")).as("pacf1"),
          r6(col("phi22")).as("pacf2"),
          r6((col("r3") - col("phi21") * col("r2") - col("phi22") * col("r1")) /
            (lit(1) - col("phi21") * col("r1") - col("phi22") * col("r2"))).as("pacf3"),
          r6(col("r2")).as("acf2"), r6(col("r3")).as("acf3"))
        .orderBy("el")
    },

    /** Automatic AR order selection by BIC — the missing step between
      * q283's PACF diagnostics and the AR-family models (q230/q300/
      * q325 all FIX their lag order): Durbin-Levinson's variance
      * recursion σ²_p = σ²_{p−1}(1 − φ²_pp) gives the exact in-sample
      * innovation variance of AR(p) for p = 1..3 straight from the
      * ACF — no per-order refits — and BIC_p = n·ln σ²_p + p·ln n
      * picks the order (ties → smaller p, compared on round-6 values
      * so the choice is engine-deterministic). Same grid-only cost as
      * q283: decimal ACF sums, then O(P) scalar arithmetic.
      */
    QueryDef(
      "q348_ar_order_bic",
      s"""WITH $dailySql,
        |${acfSql(" max(c0.c0) AS c0,")},
        |dl AS (
        |  SELECT *, (r2 - r1 * r1) / (1 - r1 * r1) AS phi22
        |  FROM r),
        |dl2 AS (
        |  SELECT *, r1 - phi22 * r1 AS phi21,
        |    c0 / n_days AS s0
        |  FROM dl),
        |dl3 AS (
        |  SELECT *,
        |    (r3 - phi21 * r2 - phi22 * r1) / (1 - phi21 * r1 - phi22 * r2) AS phi33,
        |    s0 * (1 - r1 * r1) AS v1
        |  FROM dl2),
        |dl4 AS (
        |  SELECT *, v1 * (1 - phi22 * phi22) AS v2 FROM dl3),
        |dl5 AS (
        |  SELECT *, v2 * (1 - phi33 * phi33) AS v3 FROM dl4),
        |bic AS (
        |  SELECT el, n_days,
        |    round(n_days * ln(v1) + 1 * ln(CAST(n_days AS DOUBLE)), 6) AS bic1,
        |    round(n_days * ln(v2) + 2 * ln(CAST(n_days AS DOUBLE)), 6) AS bic2,
        |    round(n_days * ln(v3) + 3 * ln(CAST(n_days AS DOUBLE)), 6) AS bic3
        |  FROM dl5)
        |SELECT el, CAST(n_days AS BIGINT) AS n_days, bic1, bic2, bic3,
        |  CAST(CASE WHEN bic1 <= bic2 AND bic1 <= bic3 THEN 1
        |            WHEN bic2 <= bic3 THEN 2 ELSE 3 END AS INT) AS best_p
        |FROM bic ORDER BY el""".stripMargin) { (s, d) =>
      val (c0, ck) = acov(daily(s, d))
      val r = ck.join(broadcast(c0), col("cel") === col("el"))
        .groupBy("el")
        .agg(max(col("n_days")).as("n_days"), max(col("c0")).as("c0"),
          max(when(col("k") === 1, col("ck") / col("c0"))).as("r1"),
          max(when(col("k") === 2, col("ck") / col("c0"))).as("r2"),
          max(when(col("k") === 3, col("ck") / col("c0"))).as("r3"))
      val out = r
        .withColumn("phi22",
          (col("r2") - col("r1") * col("r1")) / (lit(1) - col("r1") * col("r1")))
        .withColumn("phi21", col("r1") - col("phi22") * col("r1"))
        .withColumn("s0", col("c0") / col("n_days"))
        .withColumn("phi33",
          (col("r3") - col("phi21") * col("r2") - col("phi22") * col("r1")) /
            (lit(1) - col("phi21") * col("r1") - col("phi22") * col("r2")))
        .withColumn("v1", col("s0") * (lit(1) - col("r1") * col("r1")))
        .withColumn("v2", col("v1") * (lit(1) - col("phi22") * col("phi22")))
        .withColumn("v3", col("v2") * (lit(1) - col("phi33") * col("phi33")))
        .select(col("el"), col("n_days").cast("long").as("n_days"),
          round(col("n_days") * log(col("v1")) + lit(1) * log(col("n_days").cast("double")), 6).as("bic1"),
          round(col("n_days") * log(col("v2")) + lit(2) * log(col("n_days").cast("double")), 6).as("bic2"),
          round(col("n_days") * log(col("v3")) + lit(3) * log(col("n_days").cast("double")), 6).as("bic3"))
      out.select(col("el"), col("n_days"), col("bic1"), col("bic2"), col("bic3"),
          when(col("bic1") <= col("bic2") && col("bic1") <= col("bic3"), 1)
            .when(col("bic2") <= col("bic3"), 2).otherwise(3).cast("int").as("best_p"))
        .orderBy("el")
    },

    /** Banded dynamic-time-warping distance between element series, for
      * the pairs surviving the q251 causal screen — lag-tolerant shape
      * similarity where plain correlation (which the screen itself
      * uses) demands day-exact alignment. Series assemble per element
      * (sorted (di, v) collect — O(T) state, T calendar-bounded); each
      * surviving pair runs the [[dtwFoldSpark]] linear-state fold:
      * O(lx·ly) steps but only O(ly) carried values, one kernel
      * expression per pair, no UDF. Scale shape: the screen bounds
      * pairs to P·m (never P²), series travel as single arrays on the
      * pair row, and the fold is map-side compute after one broadcast
      * join of the tiny survivor list — the 100 TB cost remains the
      * shared grid aggregate.
      */
    QueryDef(
      "q288_dtw_band",
      s"""WITH $dailySql,
        |${CausalOps.screenSql},
        |xs AS (SELECT el, list(v ORDER BY di) AS sv FROM daily GROUP BY 1),
        |pp AS (
        |  SELECT sp.src, sp.dst, a.sv AS xv, b.sv AS yv,
        |    len(a.sv) AS lx, len(b.sv) AS ly
        |  FROM surv sp JOIN xs a ON a.el = sp.src JOIN xs b ON b.el = sp.dst),
        |dp AS (
        |  SELECT src, dst, lx, ly,
        |    ${dtwFoldDuck} AS dtw
        |  FROM pp)
        |SELECT src, dst, CAST(lx AS BIGINT) AS lx, CAST(ly AS BIGINT) AS ly,
        |  round(dtw, 6) AS dtw,
        |  round(dtw / (lx + ly), 6) AS dtw_norm
        |FROM dp ORDER BY src, dst""".stripMargin) { (s, d) =>
      val g = daily(s, d)
      val xs = g.groupBy("el")
        .agg(transform(array_sort(collect_list(struct(col("di"), col("v")))),
          p => p.getField("v")).as("sv"))
      val pr = CausalOps.screen(s, d).select(col("src"), col("dst"))
        .join(broadcast(xs.select(col("el").as("ea"), col("sv").as("xv"))),
          col("ea") === col("src"))
        .join(broadcast(xs.select(col("el").as("eb"), col("sv").as("yv"))),
          col("eb") === col("dst"))
        .select(col("src"), col("dst"), col("xv"), col("yv"),
          size(col("xv")).as("lx"), size(col("yv")).as("ly"))
      pr.withColumn("dtw", expr(dtwFoldSpark))
        .select(col("src"), col("dst"),
          col("lx").cast("long").as("lx"), col("ly").cast("long").as("ly"),
          r6(col("dtw")).as("dtw"),
          r6(col("dtw") / (col("lx") + col("ly"))).as("dtw_norm"))
        .orderBy("src", "dst")
    },

    /** Additive Holt-Winters (level + trend + weekly seasonality) per
      * element, with a 7-day-ahead forecast — the seasonal upgrade of
      * q199's Holt trend, run as the q288 fold-kernel pattern instead
      * of q199's typed mapGroups: the 9-value state [l, b, s0..s6]
      * folds over the series positions in ONE kernel expression per
      * element. Coefficients are binary fractions (α=0.5, β=0.25,
      * γ=0.25 — exactly representable, the q199 parity trick), the
      * init is a fixed-order 7-term mean, and the recurrence uses only
      * *, +, − — bit-identical across engines against the same
      * list_reduce DuckDB oracle shape q288 proved out. Elements with
      * under two full weeks are excluded identically on both sides.
      * Scale: one grid groupBy assembles O(T)-length arrays; the fold
      * is map-side; output O(P·7).
      */
    QueryDef(
      "q294_holt_winters", {
        val init = "[" + ("(" + (1 to 7).map(i => s"sv[$i]").mkString(" + ") + ") / 7") +
          ", 0.0, " + (1 to 7).map(i =>
            s"sv[$i] - (${(1 to 7).map(j => s"sv[$j]").mkString(" + ")}) / 7").mkString(", ") + "]"
        val k = "CAST(xk[1] AS BIGINT)"
        val y = s"sv[$k + 1]"
        val m = s"($k % 7)"
        val lnew = s"0.5 * ($y - acc[3 + $m]) + 0.5 * (acc[1] + acc[2])"
        val bnew = s"0.25 * (($lnew) - acc[1]) + 0.75 * acc[2]"
        val snew = s"0.25 * ($y - ($lnew)) + 0.75 * acc[3 + $m]"
        val accNew = s"[$lnew, $bnew, " + (0 to 6).map(j =>
          s"CASE WHEN $m = $j THEN $snew ELSE acc[${3 + j}] END").mkString(", ") + "]"
        val pad = ", 0.0" * 8
        s"""WITH ${dailySql},
           |xs AS (
           |  SELECT el, list(v ORDER BY di) AS sv, len(list(v)) AS lx
           |  FROM daily GROUP BY 1 HAVING len(list(v)) >= 14),
           |hw AS (
           |  SELECT el, lx,
           |    list_reduce(
           |      [$init] || [[CAST(kk AS DOUBLE)$pad] FOR kk IN range(7, lx)],
           |      (acc, xk) -> $accNew) AS st
           |  FROM xs)
           |SELECT el, h,
           |  round(st[1], 6) AS level, round(st[2], 6) AS trend,
           |  round(st[1] + h * st[2] + st[3 + ((lx + h - 1) % 7)], 6) AS forecast
           |FROM hw CROSS JOIN (VALUES (1),(2),(3),(4),(5),(6),(7)) t(h)
           |ORDER BY el, h""".stripMargin
      }) { (s, d) =>
      val g = daily(s, d)
      val xs = g.groupBy("el")
        .agg(transform(array_sort(collect_list(struct(col("di"), col("v")))),
          p => p.getField("v")).as("sv"))
        .withColumn("lx", size(col("sv")))
        .where(col("lx") >= 14)
      val hw = xs.withColumn("st", expr(hwFoldSpark))
      import s.implicits._
      hw.crossJoin(broadcast(Seq(1, 2, 3, 4, 5, 6, 7).toDF("h")))
        .select(col("el"), col("h"),
          r6(element_at(col("st"), 1)).as("level"),
          r6(element_at(col("st"), 2)).as("trend"),
          r6(element_at(col("st"), 1) + col("h") * element_at(col("st"), 2) +
            element_at(col("st"),
              (lit(3) + pmod(col("lx") + col("h") - 1, lit(7))).cast("int")))
            .as("forecast"))
        .orderBy("el", "h")
    },

    /** Kleinberg burst detection (Kleinberg, "Bursty and Hierarchical
      * Structure in Streams", KDD 2002) on each element's daily EVENT
      * COUNT series: a 2-state automaton (base rate λ₀ = mean count,
      * burst rate λ₁ = 2λ₀) with Poisson emission cost λ−n·ln λ (the
      * n!-term cancels across states) and an enter-burst transition
      * cost τ = ln T, solved by exact Viterbi. The whole forward pass
      * AND the backpointer backtrack run as two chained fold-kernel
      * expressions per element (the q288 pattern — the forward
      * accumulator carries [c0, c1] plus the backpointer pairs
      * prepended newest-first, which is exactly the order backtracking
      * consumes); burst-interval statistics then come from one
      * posexplode + an islands window over the O(P·T) state rows. Both
      * engines run the identical fold sequence — plain-double adds,
      * `<=` ties preferring base — so the state sequence is
      * deterministic; the score's base-path cost uses the SAME
      * sequential fold as the Viterbi c0 lane, making the no-burst
      * case an exact 0.0 on both engines (not a −0.0 from a
      * mixed-accumulation epsilon). Scale: one (el, day) count
      * aggregate — map-side combined — then element-grain kernel work;
      * nothing here grows with raw event volume.
      */
    QueryDef(
      "q307_burst_kleinberg",
      s"""WITH $dcSql,
        |ser AS (
        |  SELECT el, list(CAST(nt AS DOUBLE) ORDER BY di) AS nv,
        |    list(di ORDER BY di) AS dv,
        |    len(list(nt ORDER BY di)) AS n,
        |    CAST(sum(nt) AS DOUBLE) / count(*) AS lam0
        |  FROM dc GROUP BY 1),
        |par AS (
        |  SELECT el, nv, dv, n, lam0, 2.0 * lam0 AS lam1,
        |    ln(CAST(n AS DOUBLE)) AS tau
        |  FROM ser WHERE n >= 4),
        |fw AS (
        |  SELECT el, nv, dv, n, lam0,
        |    list_reduce(
        |      [[CAST(0.0 AS DOUBLE), tau]] || [[CAST(k AS DOUBLE)] FOR k IN range(1, n + 1)],
        |      (acc, xk) ->
        |        [ least(acc[1], acc[2]) + (lam0 - nv[CAST(xk[1] AS INT)] * ln(lam0)),
        |          least(acc[1] + tau, acc[2]) + (lam1 - nv[CAST(xk[1] AS INT)] * ln(lam1)),
        |          CASE WHEN acc[1] <= acc[2] THEN 0.0 ELSE 1.0 END,
        |          CASE WHEN acc[1] + tau <= acc[2] THEN 0.0 ELSE 1.0 END
        |        ] || list_slice(acc, 3, len(acc))) AS fwd,
        |    list_reduce([CAST(0.0 AS DOUBLE)] ||
        |      [lam0 - nv[CAST(k AS INT)] * ln(lam0) FOR k IN range(1, n + 1)],
        |      (a, b) -> a + b) AS base_cost
        |  FROM par),
        |bt AS (
        |  SELECT el, nv, dv, n, lam0, base_cost,
        |    least(fwd[1], fwd[2]) AS opt_cost,
        |    list_reduce(
        |      [[CASE WHEN fwd[1] <= fwd[2] THEN 0.0 ELSE 1.0 END]] ||
        |        [[CAST(j AS DOUBLE)] FOR j IN range(1, n)],
        |      (acc, xj) ->
        |        [fwd[CAST(3 + 2 * (xj[1] - 1) + acc[1] AS INT)]] || acc) AS st
        |  FROM fw),
        |ex AS (
        |  SELECT el, n, lam0, base_cost, opt_cost, CAST(i AS INT) AS pos,
        |    dv[CAST(i AS INT)] AS di, nv[CAST(i AS INT)] AS nt,
        |    st[CAST(i AS INT)] AS state
        |  FROM (SELECT el, n, lam0, base_cost, opt_cost, dv, nv, st,
        |          unnest(range(1, n + 1)) AS i FROM bt) z),
        |runs AS (
        |  SELECT el, grp, count(*) AS rl FROM (
        |    SELECT el, pos, pos - row_number() OVER (PARTITION BY el ORDER BY pos) AS grp
        |    FROM ex WHERE state = 1.0) g
        |  GROUP BY el, grp),
        |mr AS (SELECT el AS mel, max(rl) AS longest FROM runs GROUP BY 1)
        |SELECT e.el, CAST(max(e.n) AS BIGINT) AS n_days, round(max(e.lam0), 6) AS lam0,
        |  CAST(sum(CASE WHEN e.state = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_burst_days,
        |  CAST(coalesce(max(m.longest), 0) AS BIGINT) AS longest_burst,
        |  min(CASE WHEN e.state = 1.0 THEN e.di END) AS first_burst_di,
        |  max(CASE WHEN e.state = 1.0 THEN e.di END) AS last_burst_di,
        |  round(max(e.base_cost) - max(e.opt_cost), 6) AS burst_score
        |FROM ex e LEFT JOIN mr m ON m.mel = e.el
        |GROUP BY e.el ORDER BY e.el""".stripMargin) { (s, d) =>
      val ser = dailyCounts(s, d).groupBy("el")
        .agg(sort_array(collect_list(struct(col("di"), col("nt")))).as("a"))
        .select(col("el"),
          expr("transform(a, x -> cast(x.nt as double))").as("nv"),
          expr("transform(a, x -> x.di)").as("dv"),
          size(col("a")).as("n"))
        .where(col("n") >= 4)
        .withColumn("lam0", expr("aggregate(nv, cast(0.0 as double), (a, x) -> a + x) / n"))
        .withColumn("lam1", expr("2.0 * lam0"))
        .withColumn("tau", expr("ln(cast(n as double))"))
      val fw = ser
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
      val bt = fw
        .withColumn("opt_cost", expr("least(element_at(fwd, 1), element_at(fwd, 2))"))
        .withColumn("st", expr(
          """aggregate(sequence(1, n - 1),
            |  array(if(element_at(fwd, 1) <= element_at(fwd, 2), 0.0d, 1.0d)),
            |  (acc, j) -> concat(array(element_at(fwd,
            |    cast(3 + 2 * (j - 1) + element_at(acc, 1) as int))), acc))""".stripMargin))
      val ex = bt.select(col("el"), col("n"), col("lam0"), col("base_cost"),
          col("opt_cost"), col("dv"), col("nv"),
          posexplode(col("st")).as(Seq("p0", "state")))
        .select(col("el"), col("n"), col("lam0"), col("base_cost"), col("opt_cost"),
          (col("p0") + 1).as("pos"),
          expr("element_at(dv, p0 + 1)").as("di"),
          col("state"))
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("el")).orderBy(col("pos"))
      val runs = ex.where(col("state") === 1.0)
        .withColumn("grp", col("pos") - row_number().over(w))
        .groupBy("el", "grp").agg(count(lit(1)).as("rl"))
      val mr = runs.groupBy(col("el").as("mel")).agg(max(col("rl")).as("longest"))
      ex.join(mr, col("mel") === col("el"), "left")
        .groupBy(col("el"))
        .agg(max(col("n")).cast("long").as("n_days"),
          r6(max(col("lam0"))).as("lam0"),
          sum(when(col("state") === 1.0, 1).otherwise(0)).cast("long").as("n_burst_days"),
          coalesce(max(col("longest")), lit(0L)).cast("long").as("longest_burst"),
          min(when(col("state") === 1.0, col("di"))).as("first_burst_di"),
          max(when(col("state") === 1.0, col("di"))).as("last_burst_di"),
          r6(max(col("base_cost")) - max(col("opt_cost"))).as("burst_score"))
        .orderBy("el")
    },

    /** Hurst exponent by rescaled-range (R/S) analysis: per element,
      * blocks of w ∈ {4, 8, 16} consecutive days each yield
      * R/S = (max−min of within-block cumulative mean-deviations) /
      * (block population std); H is the log-log OLS slope of the
      * block-averaged R/S against w. H ≈ 0.5 is memoryless, H > 0.5
      * long-range persistent, H < 0.5 anti-persistent — the
      * long-memory readout the suite's short-lag ACF/PACF (q266/q283)
      * cannot see, and a direct quantitative complement to the causal
      * family (a high-H element's "trend" is self-memory, not a
      * partner's influence). All block statistics are exact decimal
      * moment sums; the only sequential piece is the within-block
      * cumulative sum — an (el, w, block)-partitioned window over the
      * O(P·T·3) grid crossed with the 3-row window-size table. Scale:
      * grid-local after the shared one-scan reduction.
      */
    QueryDef(
      "q308_hurst_rs",
      s"""WITH $dailySql,
        |pos AS (
        |  SELECT el, v, row_number() OVER (PARTITION BY el ORDER BY di) AS p,
        |    count(*) OVER (PARTITION BY el) AS n
        |  FROM daily),
        |ws AS (SELECT unnest([4, 8, 16]) AS w),
        |blk AS (
        |  SELECT el, w, CAST((p - 1) // w AS INT) AS b, p, v,
        |    count(*) OVER (PARTITION BY el, w, CAST((p - 1) // w AS INT)) AS bn
        |  FROM pos CROSS JOIN ws),
        |full_b AS (SELECT * FROM blk WHERE bn = w),
        |bm AS (
        |  SELECT el, w, b,
        |    CAST(sum(CAST(v AS DECIMAL(38,12))) AS DOUBLE) / w AS m,
        |    sqrt(CAST(sum(CAST(v * v AS DECIMAL(38,12))) AS DOUBLE) / w
        |         - (CAST(sum(CAST(v AS DECIMAL(38,12))) AS DOUBLE) / w)
        |           * (CAST(sum(CAST(v AS DECIMAL(38,12))) AS DOUBLE) / w)) AS sd
        |  FROM full_b GROUP BY 1, 2, 3),
        |cum AS (
        |  SELECT f.el, f.w, f.b, m.sd,
        |    sum(f.v - m.m) OVER (PARTITION BY f.el, f.w, f.b ORDER BY f.p) AS cs
        |  FROM full_b f JOIN bm m ON m.el = f.el AND m.w = f.w AND m.b = f.b),
        |rs AS (
        |  SELECT el, w, b, (max(cs) - min(cs)) / max(sd) AS rs1
        |  FROM cum GROUP BY el, w, b HAVING max(sd) > 0),
        |rw AS (
        |  SELECT el, w, CAST(sum(CAST(rs1 AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS mrs
        |  FROM rs GROUP BY 1, 2),
        |fit AS (
        |  SELECT el, count(*) AS npts,
        |    CAST(sum(CAST(ln(CAST(w AS DOUBLE)) AS DECIMAL(38,12))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(ln(mrs) AS DECIMAL(38,12))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(ln(CAST(w AS DOUBLE)) * ln(mrs) AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(ln(CAST(w AS DOUBLE)) * ln(CAST(w AS DOUBLE)) AS DECIMAL(38,12))) AS DOUBLE) AS sxx
        |  FROM rw GROUP BY 1 HAVING count(*) = 3)
        |SELECT f.el,
        |  round(max(CASE WHEN r.w = 4 THEN r.mrs END), 6) AS rs4,
        |  round(max(CASE WHEN r.w = 8 THEN r.mrs END), 6) AS rs8,
        |  round(max(CASE WHEN r.w = 16 THEN r.mrs END), 6) AS rs16,
        |  round(max((f.npts * f.sxy - f.sx * f.sy) / (f.npts * f.sxx - f.sx * f.sx)), 6) AS hurst
        |FROM fit f JOIN rw r ON r.el = f.el
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val pos = positions(daily(s, d))
      val blk = pos.crossJoin(broadcast(Seq(4, 8, 16).toDF("w")))
        .withColumn("b", expr("CAST((p - 1) DIV w AS INT)"))
        .withColumn("bn",
          count(lit(1)).over(Window.partitionBy(col("el"), col("w"), col("b"))))
        .where(col("bn") === col("w"))
      val bm = blk.groupBy(col("el").as("mel"), col("w").as("mw"), col("b").as("mb"))
        .agg(dsum(col("v")).as("sv"), dsum(col("v") * col("v")).as("svv"))
        .select(col("mel"), col("mw"), col("mb"),
          (col("sv") / col("mw")).as("m"),
          sqrt(col("svv") / col("mw") -
            (col("sv") / col("mw")) * (col("sv") / col("mw"))).as("sd"))
      val cum = blk.join(bm,
          col("mel") === col("el") && col("mw") === col("w") && col("mb") === col("b"))
        .withColumn("cs", sum(col("v") - col("m"))
          .over(Window.partitionBy(col("el"), col("w"), col("b")).orderBy(col("p"))
            .rowsBetween(Window.unboundedPreceding, 0)))
      val rs = cum.groupBy("el", "w", "b")
        .agg(((max(col("cs")) - min(col("cs"))) / max(col("sd"))).as("rs1"),
          max(col("sd")).as("msd"))
        .where(col("msd") > 0)
      val rw = rs.groupBy("el", "w")
        .agg((dsum(col("rs1")) / count(lit(1))).as("mrs"))
      val lw = log(col("w").cast("double"))
      val fit = rw.groupBy(col("el").as("fel"))
        .agg(count(lit(1)).as("npts"),
          dsum(lw).as("sx"), dsum(log(col("mrs"))).as("sy"),
          dsum(lw * log(col("mrs"))).as("sxy"), dsum(lw * lw).as("sxx"))
        .where(col("npts") === 3)
      fit.join(rw, col("fel") === col("el"))
        .groupBy(col("el"))
        .agg(r6(max(when(col("w") === 4, col("mrs")))).as("rs4"),
          r6(max(when(col("w") === 8, col("mrs")))).as("rs8"),
          r6(max(when(col("w") === 16, col("mrs")))).as("rs16"),
          r6(max((col("npts") * col("sxy") - col("sx") * col("sy")) /
            (col("npts") * col("sxx") - col("sx") * col("sx")))).as("hurst"))
        .orderBy("el")
    },

    /** Normalized spectral entropy over the first 8 Fourier
      * frequencies of each element's (mean-removed) daily series:
      * H = −Σ q_k ln q_k / ln 8 with q_k the normalized periodogram
      * power — the standard forecastability index (H → 0: one clean
      * cycle, H → 1: white noise), plus the dominant frequency and its
      * power share. Complements q263's three fixed calendar periods
      * with a full low-frequency scan, and ties into the causal
      * dashboard: a low-entropy element's future is predictable from
      * its OWN spectrum, so a high cross-map/Granger score there needs
      * the q283-style self-memory discount. Power sums are decimal
      * accumulations of (v−μ)·cos/sin terms with identical argument
      * expressions on both engines; the dominant-k cut is a
      * (power desc, k) row_number. Scale: grid × 8-row frequency
      * broadcast → one O(P·8) readout.
      */
    QueryDef(
      "q312_spectral_entropy",
      s"""WITH $dailySql,
        |pos AS (
        |  SELECT el, v, row_number() OVER (PARTITION BY el ORDER BY di) AS p,
        |    count(*) OVER (PARTITION BY el) AS n
        |  FROM daily),
        |mu AS (
        |  SELECT el AS mel, CAST(sum(CAST(v AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS m
        |  FROM pos GROUP BY 1),
        |ks AS (SELECT unnest(range(1, 9)) AS k),
        |tr AS (
        |  SELECT el, k, CAST(max(n) AS BIGINT) AS n,
        |    CAST(sum(CAST((v - m) * cos(2 * pi() * k * p / n) AS DECIMAL(38,12))) AS DOUBLE) AS sc,
        |    CAST(sum(CAST((v - m) * sin(2 * pi() * k * p / n) AS DECIMAL(38,12))) AS DOUBLE) AS ss
        |  FROM pos JOIN mu ON mel = el CROSS JOIN ks
        |  WHERE n >= 16 GROUP BY 1, 2),
        |pw AS (SELECT el, k, n, sc * sc + ss * ss AS pk FROM tr),
        |tp AS (SELECT el AS tel, CAST(sum(CAST(pk AS DECIMAL(38,12))) AS DOUBLE) AS tot
        |       FROM pw GROUP BY 1),
        |q AS (SELECT el, k, n, pk / tot AS qk FROM pw JOIN tp ON tel = el WHERE tot > 0),
        |h AS (
        |  SELECT el, CAST(max(n) AS BIGINT) AS n_days,
        |    round(CAST(sum(CAST(-qk * ln(qk) AS DECIMAL(38,12))) AS DOUBLE) / ln(8.0), 6) AS h_spectral
        |  FROM q WHERE qk > 0 GROUP BY 1),
        |pk1 AS (
        |  SELECT el, k, qk, row_number() OVER (PARTITION BY el ORDER BY qk DESC, k) AS r
        |  FROM q)
        |SELECT h.el, h.n_days, h.h_spectral,
        |  CAST(max(p1.k) AS BIGINT) AS peak_k, round(max(p1.qk), 6) AS peak_share
        |FROM h JOIN pk1 p1 ON p1.el = h.el AND p1.r = 1
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val pos = positions(daily(s, d)).where(col("n") >= 16)
      val mu = pos.groupBy(col("el").as("mel"))
        .agg((dsum(col("v")) / count(lit(1))).as("m"))
      val tr = pos.join(broadcast(mu), col("mel") === col("el"))
        .crossJoin(broadcast((1 to 8).toDF("k")))
        .groupBy("el", "k")
        .agg(max(col("n")).cast("long").as("n"),
          dsum((col("v") - col("m")) * expr("cos(2 * pi() * k * p / n)")).as("sc"),
          dsum((col("v") - col("m")) * expr("sin(2 * pi() * k * p / n)")).as("ss"))
      val pw = tr.select(col("el"), col("k"), col("n"),
        (col("sc") * col("sc") + col("ss") * col("ss")).as("pk"))
      val tp = pw.groupBy(col("el").as("tel")).agg(dsum(col("pk")).as("tot"))
      val q = pw.join(broadcast(tp), col("tel") === col("el"))
        .where(col("tot") > 0)
        .select(col("el"), col("k"), col("n"), (col("pk") / col("tot")).as("qk"))
      val h = q.where(col("qk") > 0).groupBy(col("el").as("hel"))
        .agg(max(col("n")).cast("long").as("n_days"),
          (round(dsum(-col("qk") * log(col("qk"))) / log(lit(8.0)), 6)).as("h_spectral"))
      val p1 = q.withColumn("r",
          row_number().over(Window.partitionBy(col("el")).orderBy(col("qk").desc, col("k"))))
        .where(col("r") === 1)
      h.join(p1, col("hel") === col("el"))
        .groupBy(col("el"))
        .agg(max(col("n_days")).as("n_days"), max(col("h_spectral")).as("h_spectral"),
          max(col("k")).cast("long").as("peak_k"), r6(max(col("qk"))).as("peak_share"))
        .orderBy("el")
    }
  )
}
