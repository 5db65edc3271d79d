package graft.operators

import graft.{PlanCache, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-24 batch: variance-regime diagnostics, randomness tests,
  * extreme-value readouts, and multiple-testing control —
  *
  *  - q434 Inclán–Tiao CUSUM-of-squares (JASA 1994): the VARIANCE
  *    changepoint detector next to q233's mean-shift CUSUM — where did
  *    the volatility regime break;
  *  - q435 Wald–Wolfowitz runs test (1940) around the exact per-element
  *    median: "is the daily series even random" — the nonparametric
  *    gate below q429's Ljung–Box;
  *  - q436 Lo–MacKinlay variance-ratio diagnostic (1988) at horizons
  *    m ∈ {2,4,8}: VR < 1 mean reversion, VR > 1 trending — the random-
  *    walk test on daily differences;
  *  - q437 Gumbel block-maxima fit (EVT type-I): weekly block maxima,
  *    method-of-moments (μ̂, β̂), 30-day return level — the extreme-
  *    value companion of q398's Hill tail index;
  *  - q438 Benjamini–Hochberg FDR (1995) over the pairwise Fisher-z
  *    correlation tests: the multiple-comparisons control every
  *    causal-screen readout (q259) should pass through before anyone
  *    acts on a "discovered" edge. The normal tail probability uses
  *    the Abramowitz–Stegun 7.1.26 erf polynomial (|ε| < 1.5e-7) with
  *    digit-identical literals — a documented approximation evaluated
  *    as the SAME double tree in both engines, not an erf parity bet.
  *
  * Scale shapes: everything runs on the PlanCache'd O(P·T) daily grid
  * or its O(P²) pair reduction; q438's BH rank is a global window over
  * the screened pair grid (the cap-guarded grain GlobalWindowAuditSpec
  * already classifies); all folds exact decimal.
  */
object Round24Ops {
  import CausalOps.{dsum, dsumSql, r6}

  /** Inclán–Tiao from the (el, di, v) daily grid — shared by batch
    * q434 and the streaming refresh q439 (the causalRefresh contract).
    * Centered squares accumulate per element; D_k = C_k/C_n − k/n; the
    * statistic is √(n/2)·max|D_k| against the 1.358 KS critical value;
    * argmax resolved by the bounded per-element rank window (abs desc,
    * day asc) — the same deterministic idiom as cusumFromGrid.
    */
  private[graft] def inclanFromGrid(g: DataFrame): DataFrame = {
    val st = g.groupBy("el").agg((dsum(col("v")) / count(lit(1))).as("mu"),
      count(lit(1)).as("n"))
    val a = g.join(broadcast(st), "el")
      .select(col("el"), col("di"), col("n"),
        ((col("v") - col("mu")) * (col("v") - col("mu"))).as("a2"))
    val wc = Window.partitionBy(col("el")).orderBy(col("di"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ck = a.select(col("el"), col("di"), col("n"),
      sum(col("a2").cast("decimal(38,12)")).over(wc).cast("double").as("c"),
      count(lit(1)).over(wc).cast("double").as("k"))
    val cn = ck.groupBy("el").agg(max(col("c")).as("ctot"))
    val dd = ck.join(broadcast(cn), "el")
      .select(col("el"), col("di"), col("n"),
        (col("c") / col("ctot") - col("k") / col("n").cast("double")).as("d"))
    val wr = Window.partitionBy(col("el")).orderBy(abs(col("d")).desc, col("di"))
    dd.select(col("el"), col("di"), col("n"), col("d"),
        row_number().over(wr).as("rk"))
      .where(col("rk") === 1)
      .select(col("el"), col("n").cast("long").as("n_days"),
        r6(sqrt(col("n").cast("double") / 2.0) * abs(col("d"))).as("it_stat"),
        col("di").cast("int").as("cp_di"),
        when(sqrt(col("n").cast("double") / 2.0) * abs(col("d")) > 1.358, 1)
          .otherwise(0).as("variance_break"))
      .orderBy("el")
  }

  /** The matching oracle text over the shared `daily` CTE. */
  private[graft] val inclanSql: String =
    s"""WITH ${CausalOps.dailySql},
       |st AS (
       |  SELECT el, ${dsumSql("v")} / count(*) AS mu, count(*) AS n
       |  FROM daily GROUP BY 1),
       |ck AS (
       |  SELECT d.el, d.di, st.n,
       |    CAST(sum(CAST((d.v - st.mu) * (d.v - st.mu) AS DECIMAL(38,12)))
       |      OVER wcum AS DOUBLE) AS c,
       |    CAST(count(*) OVER wcum AS DOUBLE) AS k
       |  FROM daily d JOIN st ON st.el = d.el
       |  WINDOW wcum AS (PARTITION BY d.el ORDER BY d.di
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |cn AS (SELECT el, max(c) AS ctot FROM ck GROUP BY 1),
       |dd AS (
       |  SELECT ck.el, ck.di, ck.n,
       |    ck.c / cn.ctot - ck.k / CAST(ck.n AS DOUBLE) AS d
       |  FROM ck JOIN cn ON cn.el = ck.el),
       |rk AS (
       |  SELECT el, di, n, d,
       |    row_number() OVER (PARTITION BY el ORDER BY abs(d) DESC, di) AS rk
       |  FROM dd)
       |SELECT el, CAST(n AS BIGINT) AS n_days,
       |  round(sqrt(CAST(n AS DOUBLE) / 2.0) * abs(d), 6) AS it_stat,
       |  CAST(di AS INT) AS cp_di,
       |  CASE WHEN sqrt(CAST(n AS DOUBLE) / 2.0) * abs(d) > 1.358
       |    THEN 1 ELSE 0 END AS variance_break
       |FROM rk WHERE rk = 1 ORDER BY el""".stripMargin

  /** Each grid day's rank rk in its element's (v, di) order and the
    * element's day count n (`rn`): q435 and q471. */
  private[operators] val valueRankSql =
    """rn AS (
      |  SELECT el, di, v,
      |    row_number() OVER (PARTITION BY el ORDER BY v, di) AS rk,
      |    count(*) OVER (PARTITION BY el) AS n
      |  FROM daily)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    /** Inclán–Tiao variance changepoint per element — see
      * [[inclanFromGrid]]; q439 replays exactly this readout inside the
      * streaming refresh harness.
      */
    QueryDef("q434_inclan_tiao", inclanSql) { (s, d) =>
      inclanFromGrid(CausalOps.daily(s, d))
    },

    /** Wald–Wolfowitz runs test around the exact per-element median
      * (the ⌊(n+1)/2⌋ order statistic from a deterministic (v, di)
      * rank — no averaging, no engine quantile-interpolation bet):
      * R runs of above/at-or-below-median signs, z = (R − μ_R)/σ_R
      * with μ_R = 2n₁n₂/n + 1, rejected two-sided at the pinned
      * z₀.₉₇₅ = 1.959963984540054. Bounded per-element windows.
      */
    QueryDef(
      "q435_runs_test",
      s"""WITH ${CausalOps.dailySql},
         |$valueRankSql,
         |md AS (
         |  SELECT el, v AS med FROM rn WHERE rk = CAST(floor((n + 1) / 2.0) AS BIGINT)),
         |sg AS (
         |  SELECT rn.el, rn.di, rn.n,
         |    CASE WHEN rn.v > md.med THEN 1 ELSE 0 END AS s
         |  FROM rn JOIN md ON md.el = rn.el),
         |ch AS (
         |  SELECT el, di, n, s,
         |    CASE WHEN s <> lag(s) OVER (PARTITION BY el ORDER BY di)
         |      THEN 1 ELSE 0 END AS flip
         |  FROM sg)
         |SELECT el,
         |  CAST(sum(s) AS BIGINT) AS n_above,
         |  CAST(max(n) - sum(s) AS BIGINT) AS n_below,
         |  CAST(1 + sum(flip) AS BIGINT) AS runs,
         |  round((CAST(1 + sum(flip) AS DOUBLE)
         |      - (2.0 * sum(s) * (max(n) - sum(s)) / max(n) + 1.0))
         |    / sqrt(2.0 * sum(s) * (max(n) - sum(s))
         |        * (2.0 * sum(s) * (max(n) - sum(s)) - max(n))
         |      / (CAST(max(n) AS DOUBLE) * max(n) * (max(n) - 1))), 6) AS z,
         |  CASE WHEN abs((CAST(1 + sum(flip) AS DOUBLE)
         |      - (2.0 * sum(s) * (max(n) - sum(s)) / max(n) + 1.0))
         |    / sqrt(2.0 * sum(s) * (max(n) - sum(s))
         |        * (2.0 * sum(s) * (max(n) - sum(s)) - max(n))
         |      / (CAST(max(n) AS DOUBLE) * max(n) * (max(n) - 1))))
         |    > 1.959963984540054 THEN 1 ELSE 0 END AS reject_random
         |FROM ch GROUP BY el ORDER BY el""".stripMargin) { (s, d) =>
      val g = CausalOps.daily(s, d)
      val rn = g.select(col("el"), col("di"), col("v"),
        row_number().over(Window.partitionBy(col("el"))
          .orderBy(col("v"), col("di"))).as("rk"),
        count(lit(1)).over(Window.partitionBy(col("el"))).as("n"))
      val md = rn.where(col("rk") ===
          floor((col("n") + 1) / 2.0).cast("long"))
        .select(col("el").as("mel"), col("v").as("med"))
      val sg = rn.join(broadcast(md), col("mel") === col("el"))
        .select(col("el"), col("di"), col("n"),
          when(col("v") > col("med"), 1).otherwise(0).as("s"))
      val ch = sg.select(col("el"), col("di"), col("n"), col("s"),
        when(col("s") =!= lag(col("s"), 1)
          .over(Window.partitionBy(col("el")).orderBy(col("di"))), 1)
          .otherwise(0).as("flip"))
      val n1 = sum(col("s"))
      val n = max(col("n"))
      val n2 = n - n1
      val runs = lit(1) + sum(col("flip"))
      val muR = lit(2.0) * n1 * n2 / n + lit(1.0)
      val sigR = sqrt(lit(2.0) * n1 * n2 * (lit(2.0) * n1 * n2 - n) /
        (n.cast("double") * n * (n - 1)))
      val z = (runs.cast("double") - muR) / sigR
      ch.groupBy("el").agg(
          n1.cast("long").as("n_above"),
          n2.cast("long").as("n_below"),
          runs.cast("long").as("runs"),
          r6(z).as("z"),
          when(abs(z) > 1.959963984540054, 1).otherwise(0).as("reject_random"))
        .orderBy("el")
    },

    /** Lo–MacKinlay variance-ratio diagnostic at horizons m ∈ {2,4,8}
      * on daily differences: VR(m) = [Σ(S_m − mμ̂)²/(n−m+1)] /
      * (m·Σ(r−μ̂)²/n) with overlapping m-sums, z = (VR−1)/√φ(m),
      * φ(m) = 2(2m−1)(m−1)/(3mn) (iid form; the simplified estimator
      * without small-sample bias terms, spec-pinned scalar). The m-sum
      * convolution is a grid×offset join — position arithmetic, no
      * parameterized frames, identical shape in both engines.
      */
    QueryDef(
      "q436_variance_ratio",
      s"""WITH ${CausalOps.dailySql},
         |ix AS (
         |  SELECT el, di, v,
         |    row_number() OVER (PARTITION BY el ORDER BY di) AS idx
         |  FROM daily),
         |rt AS (
         |  SELECT a.el, a.idx - 1 AS t, a.v - b.v AS r
         |  FROM ix a JOIN ix b ON b.el = a.el AND b.idx = a.idx - 1),
         |st AS (
         |  SELECT el, ${dsumSql("r")} / count(*) AS mu,
         |    CAST(count(*) AS DOUBLE) AS n,
         |    ${dsumSql("r * r")} - ${dsumSql("r")} * ${dsumSql("r")} / count(*)
         |      AS ss
         |  FROM rt GROUP BY 1),
         |offs AS (
         |  SELECT m, unnest(generate_series(0, m - 1)) AS i
         |  FROM (SELECT unnest([2, 4, 8]) AS m)),
         |sm AS (
         |  SELECT rt.el, offs.m, rt.t + offs.i AS tt,
         |    ${dsumSql("r")} AS s, count(*) AS c
         |  FROM rt CROSS JOIN offs GROUP BY 1, 2, 3),
         |vr AS (
         |  SELECT sm.el, sm.m,
         |    (${dsumSql("(s - m * st.mu) * (s - m * st.mu)")} / count(*))
         |      / (sm.m * (max(st.ss) / max(st.n))) AS vr,
         |    max(st.n) AS n
         |  FROM sm JOIN st ON st.el = sm.el
         |  WHERE sm.c = sm.m GROUP BY 1, 2)
         |SELECT el, m, round(vr, 6) AS vr,
         |  round((vr - 1.0) / sqrt(2.0 * (2.0 * m - 1.0) * (m - 1.0)
         |    / (3.0 * m * n)), 6) AS z,
         |  CASE WHEN abs((vr - 1.0) / sqrt(2.0 * (2.0 * m - 1.0) * (m - 1.0)
         |    / (3.0 * m * n))) > 1.959963984540054 THEN 1 ELSE 0 END
         |    AS reject_rw
         |FROM vr ORDER BY el, m""".stripMargin) { (s, d) =>
      val g = CausalOps.daily(s, d)
      val ix = g.select(col("el"), col("di"), col("v"),
        row_number().over(Window.partitionBy(col("el")).orderBy(col("di")))
          .as("idx"))
      val b = ix.select(col("el").as("bel"), col("idx").as("bidx"),
        col("v").as("bv"))
      val rt = ix.join(b, col("bel") === col("el") &&
          col("bidx") === col("idx") - 1)
        .select(col("el"), (col("idx") - 1).as("t"), (col("v") - col("bv")).as("r"))
      val st = rt.groupBy("el").agg(
        (dsum(col("r")) / count(lit(1))).as("mu"),
        count(lit(1)).cast("double").as("n"),
        (dsum(col("r") * col("r")) -
          dsum(col("r")) * dsum(col("r")) / count(lit(1))).as("ss"))
      val offs = s.range(1)
        .select(explode(array(lit(2), lit(4), lit(8))).as("m"))
        .select(col("m"), explode(sequence(lit(0), col("m") - 1)).as("i"))
      val sm = rt.crossJoin(broadcast(offs))
        .groupBy(col("el"), col("m"), (col("t") + col("i")).as("tt"))
        .agg(dsum(col("r")).as("s"), count(lit(1)).as("c"))
      val vr = sm.join(broadcast(st.select(col("el").as("sel"), col("mu"),
          col("n"), col("ss"))), col("sel") === col("el"))
        .where(col("c") === col("m"))
        .groupBy("el", "m").agg(
          ((dsum((col("s") - col("m") * col("mu")) *
            (col("s") - col("m") * col("mu"))) / count(lit(1))) /
            (col("m") * (max(col("ss")) / max(col("n"))))).as("vr"),
          max(col("n")).as("n"))
      val phi = sqrt(lit(2.0) * (lit(2.0) * col("m") - 1.0) *
        (col("m") - 1.0) / (lit(3.0) * col("m") * col("n")))
      vr.select(col("el"), col("m"), r6(col("vr")).as("vr"),
          r6((col("vr") - 1.0) / phi).as("z"),
          when(abs((col("vr") - 1.0) / phi) > 1.959963984540054, 1)
            .otherwise(0).as("reject_rw"))
        .orderBy("el", "m")
    },

    /** Gumbel (EVT type-I) block-maxima fit per element: four complete
      * weekly blocks (days 0–27), method-of-moments β̂ = s√6/π and
      * μ̂ = m̄ − γβ̂ (Euler–Mascheroni pinned to its literal digits),
      * and the 30-day return level μ̂ − β̂·ln(−ln(1 − 1/30)) — "what
      * daily value do we exceed about once a month". The extreme-value
      * companion of q398's Hill index; one bounded block aggregate.
      */
    QueryDef(
      "q437_gumbel_blockmax",
      s"""WITH ${CausalOps.dailySql},
         |bm AS (
         |  SELECT el, CAST(floor(di / 7.0) AS INT) AS b, max(v) AS mx
         |  FROM daily WHERE di <= 27 GROUP BY 1, 2),
         |mo AS (
         |  SELECT el, count(*) AS nb,
         |    ${dsumSql("mx")} / count(*) AS m,
         |    (${dsumSql("mx * mx")} - ${dsumSql("mx")} * ${dsumSql("mx")}
         |      / count(*)) / (count(*) - 1) AS s2
         |  FROM bm GROUP BY 1)
         |SELECT el, CAST(nb AS BIGINT) AS n_blocks,
         |  round(m - 0.5772156649015329 * (sqrt(s2) * sqrt(6.0)
         |    / 3.141592653589793), 6) AS gum_mu,
         |  round(sqrt(s2) * sqrt(6.0) / 3.141592653589793, 6) AS gum_beta,
         |  round((m - 0.5772156649015329 * (sqrt(s2) * sqrt(6.0)
         |      / 3.141592653589793))
         |    - (sqrt(s2) * sqrt(6.0) / 3.141592653589793)
         |      * ln(-ln(1.0 - 1.0 / 30.0)), 6) AS ret_30d
         |FROM mo ORDER BY el""".stripMargin) { (s, d) =>
      val bm = CausalOps.daily(s, d).where(col("di") <= 27)
        .groupBy(col("el"), floor(col("di") / 7.0).cast("int").as("b"))
        .agg(max(col("v")).as("mx"))
      val mo = bm.groupBy("el").agg(
        count(lit(1)).as("nb"),
        (dsum(col("mx")) / count(lit(1))).as("m"),
        ((dsum(col("mx") * col("mx")) -
          dsum(col("mx")) * dsum(col("mx")) / count(lit(1))) /
          (count(lit(1)) - 1)).as("s2"))
      val beta = sqrt(col("s2")) * sqrt(lit(6.0)) / lit(3.141592653589793)
      val mu = col("m") - lit(0.5772156649015329) * beta
      mo.select(col("el"), col("nb").cast("long").as("n_blocks"),
          r6(mu).as("gum_mu"), r6(beta).as("gum_beta"),
          r6(mu - beta * log(-log(lit(1.0) - lit(1.0) / 30.0))).as("ret_30d"))
        .orderBy("el")
    },

    /** Benjamini–Hochberg FDR over the pairwise Fisher-z correlation
      * tests at α = 0.1: Pearson r per day-matched element pair,
      * z = ½ln((1+r)/(1−r))·√(n−3), two-sided p via the Abramowitz–
      * Stegun 7.1.26 erf polynomial (p = poly(t)·e^{−u²}, u = |z|/√2,
      * t = 1/(1+0.3275911u); |ε| < 1.5e-7, literals digit-identical in
      * both engines), then the step-up: k* = max{k : p₍ₖ₎ ≤ kα/mₜ},
      * discovered ⇔ rank ≤ k*. The global p-rank runs over the
      * screened O(P²) pair grid — the cap-guarded grain the global-
      * window governance already classifies; k* is a 1-row broadcast,
      * not a second global pass.
      */
    QueryDef(
      "q438_bh_fdr",
      s"""WITH ${CausalOps.dailySql},
         |m AS (
         |  SELECT a.el AS eli, b.el AS elj, a.v AS x, b.v AS y
         |  FROM daily a JOIN daily b ON b.di = a.di AND a.el < b.el),
         |cr AS (
         |  SELECT eli, elj, CAST(count(*) AS DOUBLE) AS n,
         |    (count(*) * ${dsumSql("x * y")} - ${dsumSql("x")} * ${dsumSql("y")})
         |      / sqrt((count(*) * ${dsumSql("x * x")} - ${dsumSql("x")} * ${dsumSql("x")})
         |        * (count(*) * ${dsumSql("y * y")} - ${dsumSql("y")} * ${dsumSql("y")}))
         |      AS r
         |  FROM m GROUP BY 1, 2),
         |zt AS (
         |  SELECT eli, elj, n, r,
         |    abs(0.5 * ln((1.0 + r) / (1.0 - r)) * sqrt(n - 3.0))
         |      / 1.4142135623730951 AS u
         |  FROM cr),
         |pv AS (
         |  SELECT eli, elj, n, r,
         |    u * 1.4142135623730951 AS az,
         |    (0.254829592 * (1.0 / (1.0 + 0.3275911 * u))
         |      - 0.284496736 * ((1.0 / (1.0 + 0.3275911 * u)) * (1.0 / (1.0 + 0.3275911 * u)))
         |      + 1.421413741 * ((1.0 / (1.0 + 0.3275911 * u)) * (1.0 / (1.0 + 0.3275911 * u)) * (1.0 / (1.0 + 0.3275911 * u)))
         |      - 1.453152027 * ((1.0 / (1.0 + 0.3275911 * u)) * (1.0 / (1.0 + 0.3275911 * u)) * (1.0 / (1.0 + 0.3275911 * u)) * (1.0 / (1.0 + 0.3275911 * u)))
         |      + 1.061405429 * ((1.0 / (1.0 + 0.3275911 * u)) * (1.0 / (1.0 + 0.3275911 * u)) * (1.0 / (1.0 + 0.3275911 * u)) * (1.0 / (1.0 + 0.3275911 * u)) * (1.0 / (1.0 + 0.3275911 * u))))
         |      * exp(-(u * u)) AS p
         |  FROM zt),
         |rk AS (
         |  SELECT eli, elj, r, az, p,
         |    row_number() OVER (ORDER BY p, eli, elj) AS rnk,
         |    count(*) OVER () AS mt
         |  FROM pv),
         |ks AS (
         |  SELECT max(CASE WHEN p <= rnk * 0.1 / mt THEN rnk ELSE 0 END) AS kstar
         |  FROM rk)
         |SELECT rk.eli, rk.elj, round(rk.r, 6) AS r, round(rk.az, 6) AS abs_z,
         |  round(rk.p, 6) AS p_value, CAST(rk.rnk AS BIGINT) AS p_rank,
         |  round(rk.rnk * 0.1 / rk.mt, 6) AS bh_crit,
         |  CASE WHEN rk.rnk <= ks.kstar THEN 1 ELSE 0 END AS discovered
         |FROM rk CROSS JOIN ks ORDER BY rk.rnk""".stripMargin) { (s, d) =>
      val g = CausalOps.daily(s, d)
      val a = g.select(col("el").as("eli"), col("di"), col("v").as("x"))
      val b = g.select(col("el").as("elj"), col("di").as("dj"), col("v").as("y"))
      val m = a.join(b, col("dj") === col("di") && col("eli") < col("elj"))
      val cr = m.groupBy("eli", "elj").agg(
        count(lit(1)).cast("double").as("n"),
        ((count(lit(1)) * dsum(col("x") * col("y")) -
          dsum(col("x")) * dsum(col("y"))) /
          sqrt((count(lit(1)) * dsum(col("x") * col("x")) -
            dsum(col("x")) * dsum(col("x"))) *
            (count(lit(1)) * dsum(col("y") * col("y")) -
              dsum(col("y")) * dsum(col("y"))))).as("r"))
      val u = abs(lit(0.5) * log((lit(1.0) + col("r")) / (lit(1.0) - col("r"))) *
        sqrt(col("n") - 3.0)) / lit(1.4142135623730951)
      val zt = cr.select(col("eli"), col("elj"), col("n"), col("r"), u.as("u"))
      val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * col("u"))
      val p = (lit(0.254829592) * t - lit(0.284496736) * (t * t)
        + lit(1.421413741) * (t * t * t)
        - lit(1.453152027) * (t * t * t * t)
        + lit(1.061405429) * (t * t * t * t * t)) * exp(-(col("u") * col("u")))
      val pv = zt.select(col("eli"), col("elj"), col("n"), col("r"),
        (col("u") * lit(1.4142135623730951)).as("az"), p.as("p"))
      val rk = PlanCache.cached(s, s"q438_rk|$d") {
        pv.select(col("eli"), col("elj"), col("r"), col("az"), col("p"),
          row_number().over(Window.orderBy(col("p"), col("eli"), col("elj")))
            .as("rnk"),
          count(lit(1)).over(Window.partitionBy()).as("mt"))
      }
      val ks = rk.agg(max(when(col("p") <= col("rnk") * 0.1 / col("mt"),
        col("rnk")).otherwise(0)).as("kstar"))
      rk.crossJoin(broadcast(ks))
        .select(col("eli"), col("elj"), r6(col("r")).as("r"),
          r6(col("az")).as("abs_z"), r6(col("p")).as("p_value"),
          col("rnk").cast("long").as("p_rank"),
          r6(col("rnk") * 0.1 / col("mt")).as("bh_crit"),
          when(col("rnk") <= col("kstar"), 1).otherwise(0).as("discovered"))
        .orderBy("p_rank")
    }
  )
}
