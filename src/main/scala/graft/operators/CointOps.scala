package graft.operators

import graft.QueryDef
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cointegration and pre-whitening — the two classical guards against
  * SPURIOUS causality readings that the suite's correlation layer
  * (q229 lead-lag, q230/q300 Granger) is exposed to when element
  * series share stochastic trends (Granger & Newbold 1974; Engle &
  * Granger, "Co-integration and Error Correction", Econometrica 55(2),
  * 1987). The reference reads causal strength out of a trained B
  * matrix over raw series (`run.py:33-45` feeds undifferenced daily
  * grids straight into training); these operators are the statistical
  * pre-checks a practitioner runs before trusting any such pairwise
  * readout:
  *
  *  - q314: Engle-Granger two-step — OLS y~x on the common-day axis,
  *    then a Dickey-Fuller t-test on the residual. A strongly negative
  *    t says the pair shares a genuine long-run equilibrium (the
  *    lead-lag signal is real); t near 0 says any high |corr| is the
  *    random-walk artifact.
  *  - q315: AR(1) pre-whitened cross-correlation (the Box-Jenkins
  *    transfer-function identification step): fit x's AR(1), filter
  *    BOTH series with it, and re-correlate at lags 0-3. Autocorrelated
  *    inputs inflate raw cross-correlations; the attenuation between
  *    rho_raw and rho_prew is the size of that inflation.
  *  - q316: permutation entropy (Bandt & Pompe, PRL 88:174102, 2002) —
  *    per-element ordinal-pattern complexity on the daily grid; the
  *    model-free "how predictable is this series at all" screen that
  *    calibrates how much signal the causal layer can even extract.
  *
  * Engine shape (the causal-family 100 TB discipline): everything runs
  * on the PlanCache'd O(P·T) (element, day) grid — one fact-table scan
  * per session. q314/q315 enumerate only the q251 screen's survivors
  * (never unguarded O(P²)); each pair is ONE row carrying two O(T)
  * common-day arrays, and the OLS fit, residual filter, DF fold, and
  * per-lag correlation folds are map-side kernel expressions over those
  * arrays (the q288/q306 fold-kernel pattern): no shuffle beyond the
  * screen's, no UDF, per-pair cost O(T) with T calendar-bounded. q316
  * is two grouped aggregates on the grid keyed by the high-cardinality
  * element column.
  *
  * Engine↔oracle parity: both dialects run the IDENTICAL operation
  * sequence — the same plain-double sequential folds in fixed position
  * order (the CcmOps convention), the same nullif-guarded divisions —
  * so unrounded values agree to the last ulp except libm-vs-Math
  * one-ulp slack in ln/sqrt, which the round-6 readout absorbs
  * (Round11Spec measures the actual flag-boundary margins).
  */
object CointOps {
  import CausalOps.{daily, dailySql, dsum, screenOf, screenSql, seriesMaps}

  /** Dickey-Fuller 5% critical value for the no-trend residual test.
    * (The Engle-Granger residual variant's exact critical value is
    * sample-size dependent; this fixed cut is the readout convention,
    * applied to round-6 values on both engines identically.) */
  private val DfCrit = -2.86

  // ---- shared fold kernels (Spark dialect / DuckDB dialect pairs) ----

  /** OLS moment fold over positions 1..n of (xv, yv): sequential
    * plain-double sums in index order — same fold order on both
    * engines by construction. */
  private[graft] val mom1Spark =
    """aggregate(sequence(1, n),
      |  named_struct('sx', cast(0.0 as double), 'sy', cast(0.0 as double),
      |               'sxy', cast(0.0 as double), 'sxx', cast(0.0 as double)),
      |  (a, i) -> named_struct(
      |    'sx', a.sx + element_at(xv, i),
      |    'sy', a.sy + element_at(yv, i),
      |    'sxy', a.sxy + element_at(xv, i) * element_at(yv, i),
      |    'sxx', a.sxx + element_at(xv, i) * element_at(xv, i)))""".stripMargin

  private val mom1Duck =
    """list_reduce(
      |  [{'sx': CAST(0.0 AS DOUBLE), 'sy': CAST(0.0 AS DOUBLE),
      |    'sxy': CAST(0.0 AS DOUBLE), 'sxx': CAST(0.0 AS DOUBLE)}] ||
      |  [{'sx': xv[i], 'sy': yv[i], 'sxy': xv[i] * yv[i], 'sxx': xv[i] * xv[i]}
      |   FOR i IN range(1, n + 1)],
      |  (a, b) -> {'sx': a.sx + b.sx, 'sy': a.sy + b.sy,
      |             'sxy': a.sxy + b.sxy, 'sxx': a.sxx + b.sxx})""".stripMargin

  /** Slope/intercept readouts from the mom1 struct — plain arithmetic,
    * the SAME string in both dialects. */
  private[graft] val betaExpr =
    """((cast(n as double) * m1.sxy - m1.sx * m1.sy)
      | / nullif(cast(n as double) * m1.sxx - m1.sx * m1.sx, cast(0.0 as double)))""".stripMargin
  private[graft] val alphaExpr = "((m1.sy - beta * m1.sx) / cast(n as double))"

  /** Cointegrating residual e_i = y_i − α − β·x_i. */
  private[graft] val residSpark =
    "transform(sequence(1, n), i -> element_at(yv, i) - alpha - beta * element_at(xv, i))"
  private val residDuck =
    "[yv[i] - alpha - beta * xv[i] FOR i IN range(1, n + 1)]"

  /** Dickey-Fuller fold over i = 2..n of the residual array ev:
    * s1 = Σ e_{i−1}·Δe_i, s2 = Σ e_{i−1}², sdd = Σ Δe_i². */
  private[graft] val dfSpark =
    """aggregate(sequence(2, n),
      |  named_struct('s1', cast(0.0 as double), 's2', cast(0.0 as double),
      |               'sdd', cast(0.0 as double)),
      |  (a, i) -> named_struct(
      |    's1', a.s1 + element_at(ev, i - 1) * (element_at(ev, i) - element_at(ev, i - 1)),
      |    's2', a.s2 + element_at(ev, i - 1) * element_at(ev, i - 1),
      |    'sdd', a.sdd + (element_at(ev, i) - element_at(ev, i - 1)) * (element_at(ev, i) - element_at(ev, i - 1))))""".stripMargin

  private val dfDuck =
    """list_reduce(
      |  [{'s1': CAST(0.0 AS DOUBLE), 's2': CAST(0.0 AS DOUBLE), 'sdd': CAST(0.0 AS DOUBLE)}] ||
      |  [{'s1': ev[i - 1] * (ev[i] - ev[i - 1]),
      |    's2': ev[i - 1] * ev[i - 1],
      |    'sdd': (ev[i] - ev[i - 1]) * (ev[i] - ev[i - 1])}
      |   FOR i IN range(2, n + 1)],
      |  (a, b) -> {'s1': a.s1 + b.s1, 's2': a.s2 + b.s2, 'sdd': a.sdd + b.sdd})""".stripMargin

  /** γ and its t-statistic from the DF struct md: γ = s1/s2,
    * SSR = sdd − s1²/s2 (floored at 0 against −ε rounding),
    * t = γ / sqrt((SSR/(n−2))/s2). Same string in both dialects. */
  private[graft] val gammaExpr = "(md.s1 / nullif(md.s2, cast(0.0 as double)))"
  private[graft] val dfTExpr =
    """((md.s1 / nullif(md.s2, cast(0.0 as double)))
      | / nullif(sqrt((greatest(md.sdd - md.s1 * md.s1 / nullif(md.s2, cast(0.0 as double)),
      |                         cast(0.0 as double)) / (cast(n as double) - 2.0))
      |               / nullif(md.s2, cast(0.0 as double))), cast(0.0 as double)))""".stripMargin

  /** AR(1) moment fold of x over i = 2..n: (x_{i−1}, x_i) pairs. */
  private[graft] val arSpark =
    """aggregate(sequence(2, n),
      |  named_struct('sa', cast(0.0 as double), 'sb', cast(0.0 as double),
      |               'sab', cast(0.0 as double), 'saa', cast(0.0 as double)),
      |  (a, i) -> named_struct(
      |    'sa', a.sa + element_at(xv, i - 1),
      |    'sb', a.sb + element_at(xv, i),
      |    'sab', a.sab + element_at(xv, i - 1) * element_at(xv, i),
      |    'saa', a.saa + element_at(xv, i - 1) * element_at(xv, i - 1)))""".stripMargin

  private val arDuck =
    """list_reduce(
      |  [{'sa': CAST(0.0 AS DOUBLE), 'sb': CAST(0.0 AS DOUBLE),
      |    'sab': CAST(0.0 AS DOUBLE), 'saa': CAST(0.0 AS DOUBLE)}] ||
      |  [{'sa': xv[i - 1], 'sb': xv[i], 'sab': xv[i - 1] * xv[i],
      |    'saa': xv[i - 1] * xv[i - 1]} FOR i IN range(2, n + 1)],
      |  (a, b) -> {'sa': a.sa + b.sa, 'sb': a.sb + b.sb,
      |             'sab': a.sab + b.sab, 'saa': a.saa + b.saa})""".stripMargin

  private[graft] val phiExpr =
    """((cast(n - 1 as double) * ma.sab - ma.sa * ma.sb)
      | / nullif(cast(n - 1 as double) * ma.saa - ma.sa * ma.sa, cast(0.0 as double)))""".stripMargin

  /** AR(1)-filtered series (length n−1, position j ↦ original i=j+1):
    * z'_j = z_{j+1} − φ·z_j, applied with x's φ to BOTH series. */
  private[graft] def filtSpark(z: String) =
    s"transform(sequence(2, n), i -> element_at($z, i) - phi * element_at($z, i - 1))"
  private def filtDuck(z: String) =
    s"[$z[i] - phi * $z[i - 1] FOR i IN range(2, n + 1)]"

  /** Pearson fold of (av[j], bv[j+lag]) over j = 1..len−lag, for a
    * per-row `lag` column; len is the expression for the array length. */
  private[graft] def corrLagSpark(av: String, bv: String, len: String) =
    s"""aggregate(sequence(1, $len - lag),
       |  named_struct('c', cast(0.0 as double), 'sx', cast(0.0 as double),
       |               'sy', cast(0.0 as double), 'sxy', cast(0.0 as double),
       |               'sxx', cast(0.0 as double), 'syy', cast(0.0 as double)),
       |  (a, j) -> named_struct(
       |    'c', a.c + 1.0d,
       |    'sx', a.sx + element_at($av, j),
       |    'sy', a.sy + element_at($bv, j + lag),
       |    'sxy', a.sxy + element_at($av, j) * element_at($bv, j + lag),
       |    'sxx', a.sxx + element_at($av, j) * element_at($av, j),
       |    'syy', a.syy + element_at($bv, j + lag) * element_at($bv, j + lag)))""".stripMargin

  private def corrLagDuck(av: String, bv: String, len: String) =
    s"""list_reduce(
       |  [{'c': CAST(0.0 AS DOUBLE), 'sx': CAST(0.0 AS DOUBLE), 'sy': CAST(0.0 AS DOUBLE),
       |    'sxy': CAST(0.0 AS DOUBLE), 'sxx': CAST(0.0 AS DOUBLE), 'syy': CAST(0.0 AS DOUBLE)}] ||
       |  [{'c': 1.0, 'sx': $av[j], 'sy': $bv[j + lag], 'sxy': $av[j] * $bv[j + lag],
       |    'sxx': $av[j] * $av[j], 'syy': $bv[j + lag] * $bv[j + lag]}
       |   FOR j IN range(1, $len - lag + 1)],
       |  (a, b) -> {'c': a.c + b.c, 'sx': a.sx + b.sx, 'sy': a.sy + b.sy,
       |             'sxy': a.sxy + b.sxy, 'sxx': a.sxx + b.sxx, 'syy': a.syy + b.syy})""".stripMargin

  private[graft] def rhoOf(m: String): String =
    s"""(($m.c * $m.sxy - $m.sx * $m.sy)
       | / nullif(sqrt(($m.c * $m.sxx - $m.sx * $m.sx) * ($m.c * $m.syy - $m.sy * $m.sy)),
       |          cast(0.0 as double)))""".stripMargin

  /** Screened pairs joined to their common-day position arrays (src's
    * series = xv, dst's = yv), n ≥ 10 — the shared front end of
    * q314/q315, grid-parameterized for the streaming refresh. */
  private[graft] def pairSeriesOf(s: SparkSession, grid: DataFrame): DataFrame = {
    val surv = screenOf(s, grid).select(col("src"), col("dst"))
    val sm = seriesMaps(grid)
    commonDays(surv
      .join(broadcast(sm.select(col("el").as("xel"), col("m").as("mx"))),
        col("src") === col("xel"))
      .join(broadcast(sm.select(col("el").as("yel"), col("m").as("my"))),
        col("dst") === col("yel")))
      .select(col("src"), col("dst"), col("n"), col("xv"), col("yv"))
  }

  /** The common days of a pair's compact series maps `mx`/`my`, as
    * day-ordered value arrays xv/yv of length n; pairs sharing fewer
    * than 10 days are dropped. Shared with q306's CCM pairs. */
  private[operators] def commonDays(pairs: DataFrame): DataFrame =
    pairs
      .withColumn("ks",
        sort_array(filter(map_keys(col("mx")),
          k => map_contains_key(col("my"), k))))
      .withColumn("xv", expr("transform(ks, k -> element_at(mx, k))"))
      .withColumn("yv", expr("transform(ks, k -> element_at(my, k))"))
      .withColumn("n", size(col("xv")))
      .where(col("n") >= 10)

  /** Oracle CTE chain producing the same (src, dst, n, xv, yv) rows
    * (composes after `daily` + `surv`). */
  private val pairSeriesSql =
    """comm AS (
      |  SELECT p.src, p.dst, a.di, a.v AS xa, b.v AS yb
      |  FROM surv p JOIN daily a ON a.el = p.src
      |              JOIN daily b ON b.el = p.dst AND b.di = a.di),
      |ser AS (
      |  SELECT src, dst, list(xa ORDER BY di) AS xv, list(yb ORDER BY di) AS yv
      |  FROM comm GROUP BY 1, 2),
      |sz AS (
      |  SELECT src, dst, CAST(len(xv) AS INT) AS n, xv, yv
      |  FROM ser WHERE len(xv) >= 10)""".stripMargin

  /** q314's full per-pair pipeline from any grid — shared by the batch
    * QueryDef and q317's streaming refresh (identical trees ⇒
    * bit-identical doubles). */
  private[graft] def cointFromGrid(s: SparkSession, grid: DataFrame): DataFrame =
    pairSeriesOf(s, grid)
      .withColumn("m1", expr(mom1Spark))
      .withColumn("beta", expr(betaExpr))
      .withColumn("alpha", expr(alphaExpr))
      .withColumn("ev", expr(residSpark))
      .withColumn("md", expr(dfSpark))
      .select(col("src"), col("dst"), col("n").cast("long").as("n_common"),
        round(col("beta"), 6).as("beta"),
        expr(s"round($gammaExpr, 6)").as("gamma"),
        expr(s"round($dfTExpr, 6)").as("df_t"),
        expr(s"cast(round($dfTExpr, 6) < $DfCrit as int)").as("cointegrated"))
      .orderBy("src", "dst")

  /** q315's per-pair-per-lag pipeline from any grid: the AR fit and the
    * filtered arrays are computed ONCE per pair, before the 4-row lag
    * fan-out — only the per-lag correlation folds run per (pair, lag). */
  private[graft] def prewhitenFromGrid(s: SparkSession, grid: DataFrame): DataFrame = {
    import s.implicits._
    val lags = Seq(0, 1, 2, 3).toDF("lag")
    pairSeriesOf(s, grid)
      .withColumn("ma", expr(arSpark))
      .withColumn("phi", expr(phiExpr))
      .withColumn("xr", expr(filtSpark("xv")))
      .withColumn("yr", expr(filtSpark("yv")))
      .crossJoin(broadcast(lags))
      .withColumn("mr", expr(corrLagSpark("xv", "yv", "n")))
      .withColumn("mp", expr(corrLagSpark("xr", "yr", "(n - 1)")))
      .select(col("src"), col("dst"), col("lag"),
        col("n").cast("long").as("n_common"),
        round(col("phi"), 6).as("phi"),
        expr(s"round(${rhoOf("mr")}, 6)").as("rho_raw"),
        expr(s"round(${rhoOf("mp")}, 6)").as("rho_prew"),
        expr(s"cast(abs(round(${rhoOf("mp")}, 6)) < abs(round(${rhoOf("mr")}, 6)) as int)")
          .as("attenuated"))
      .orderBy("src", "dst", "lag")
  }

  /** q316's per-element pipeline from any grid: ordinal triples via
    * window leads, pattern counts, decimal-summed entropy terms (the
    * grouped-sum order difference between engines cannot flip a bit). */
  private[graft] def permEntropyFromGrid(grid: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("el")).orderBy(col("di"))
    val tri = grid
      .withColumn("v1", lead(col("v"), 1).over(w))
      .withColumn("v2", lead(col("v"), 2).over(w))
      .where(col("v2").isNotNull)
      .select(col("el"),
        (expr("cast(v > v1 as int)") * 4 + expr("cast(v > v2 as int)") * 2 +
          expr("cast(v1 > v2 as int)")).as("pat"))
    val pcnt = tri.groupBy(col("el"), col("pat")).agg(count(lit(1)).as("c"))
    val wEl = org.apache.spark.sql.expressions.Window.partitionBy(col("el"))
    pcnt
      .withColumn("tot", sum(col("c")).over(wEl))
      .withColumn("term",
        -(col("c").cast("double") / col("tot")) *
          log(col("c").cast("double") / col("tot")))
      .groupBy(col("el"))
      .agg(sum(col("c")).cast("long").as("n_triples"),
        count(lit(1)).cast("long").as("n_patterns"),
        dsum(col("term")).as("h"))
      .select(col("el"), col("n_triples"), col("n_patterns"),
        round(col("h") / log(lit(6.0)), 6).as("perm_entropy"))
      .orderBy("el")
  }

  val defs: Seq[QueryDef] = Seq(

    /** Engle-Granger cointegration test per screened pair: OLS
      * dst ~ src on the common-day axis, then the Dickey-Fuller
      * t-statistic of the residual's unit root. `cointegrated` = 1
      * (t < −2.86) marks pairs whose co-movement is a genuine long-run
      * equilibrium rather than shared drift. */
    QueryDef(
      "q314_cointegration",
      s"""WITH $dailySql,
        |$screenSql,
        |$pairSeriesSql,
        |st1 AS (SELECT src, dst, n, xv, yv, $mom1Duck AS m1 FROM sz),
        |st2 AS (SELECT *, $betaExpr AS beta FROM st1),
        |st3 AS (SELECT *, $alphaExpr AS alpha FROM st2),
        |st4 AS (SELECT src, dst, n, beta, $residDuck AS ev FROM st3),
        |st5 AS (SELECT src, dst, n, beta, $dfDuck AS md FROM st4)
        |SELECT src, dst, CAST(n AS BIGINT) AS n_common,
        |  round(beta, 6) AS beta,
        |  round($gammaExpr, 6) AS gamma,
        |  round($dfTExpr, 6) AS df_t,
        |  CAST(round($dfTExpr, 6) < $DfCrit AS INT) AS cointegrated
        |FROM st5 ORDER BY src, dst""".stripMargin) { (s, d) =>
      cointFromGrid(s, daily(s, d))
    },

    /** AR(1) pre-whitened cross-correlogram per screened pair at lags
      * 0-3: rho_raw on the raw common-day series vs rho_prew after
      * filtering both series with src's AR(1) coefficient. The
      * `attenuated` flag marks lags where pre-whitening shrank the
      * apparent association — the autocorrelation-inflation signature. */
    QueryDef(
      "q315_prewhiten_xcorr",
      s"""WITH $dailySql,
        |$screenSql,
        |$pairSeriesSql,
        |pa AS (SELECT *, $arDuck AS ma FROM sz),
        |pb AS (SELECT *, $phiExpr AS phi FROM pa),
        |pf AS (SELECT src, dst, n, phi, xv, yv,
        |         ${filtDuck("xv")} AS xr, ${filtDuck("yv")} AS yr FROM pb),
        |lg AS (SELECT pf.*, l.lag FROM pf CROSS JOIN (VALUES (0), (1), (2), (3)) AS l(lag)),
        |pm AS (SELECT src, dst, lag, n, phi,
        |         ${corrLagDuck("xv", "yv", "n")} AS mr,
        |         ${corrLagDuck("xr", "yr", "(n - 1)")} AS mp FROM lg)
        |SELECT src, dst, lag, CAST(n AS BIGINT) AS n_common,
        |  round(phi, 6) AS phi,
        |  round(${rhoOf("mr")}, 6) AS rho_raw,
        |  round(${rhoOf("mp")}, 6) AS rho_prew,
        |  CAST(abs(round(${rhoOf("mp")}, 6)) < abs(round(${rhoOf("mr")}, 6)) AS INT) AS attenuated
        |FROM pm ORDER BY src, dst, lag""".stripMargin) { (s, d) =>
      prewhitenFromGrid(s, daily(s, d))
    },

    /** Permutation entropy (order m = 3) per element: ordinal patterns
      * of consecutive daily-mean triples, Shannon entropy normalized by
      * ln 6. Near 1 = noise-like (little extractable structure for the
      * causal layer); well below 1 = dynamically structured. Pattern
      * codes use strict > comparisons so ties map deterministically on
      * both engines; the per-element pattern-share sum is a
      * DECIMAL(38,12) accumulation — order-free, so the grouped sum
      * order difference between engines cannot flip a bit. */
    QueryDef(
      "q316_perm_entropy",
      s"""WITH $dailySql,
        |tri AS (
        |  SELECT el, v,
        |    lead(v, 1) OVER (PARTITION BY el ORDER BY di) AS v1,
        |    lead(v, 2) OVER (PARTITION BY el ORDER BY di) AS v2
        |  FROM daily),
        |pats AS (
        |  SELECT el,
        |    CAST(v > v1 AS INT) * 4 + CAST(v > v2 AS INT) * 2 + CAST(v1 > v2 AS INT) AS pat
        |  FROM tri WHERE v2 IS NOT NULL),
        |pcnt AS (SELECT el, pat, count(*) AS c FROM pats GROUP BY 1, 2),
        |shares AS (
        |  SELECT el, c, sum(c) OVER (PARTITION BY el) AS tot FROM pcnt),
        |terms AS (
        |  SELECT el, c,
        |    -(CAST(c AS DOUBLE) / tot) * ln(CAST(c AS DOUBLE) / tot) AS term
        |  FROM shares),
        |ent AS (
        |  SELECT el, CAST(sum(c) AS BIGINT) AS n_triples,
        |    CAST(count(*) AS BIGINT) AS n_patterns,
        |    CAST(sum(CAST(term AS DECIMAL(38,12))) AS DOUBLE) AS h
        |  FROM terms GROUP BY el)
        |SELECT el, n_triples, n_patterns, round(h / ln(6), 6) AS perm_entropy
        |FROM ent ORDER BY el""".stripMargin) { (s, d) =>
      permEntropyFromGrid(daily(s, d))
    }
  )
}
