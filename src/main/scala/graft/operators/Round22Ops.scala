package graft.operators

import graft.{PlanCache, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-22 batch: sensitivity analysis, irregular-sampling spectra,
  * sketch planning, sequential drift, and overdispersed GLMs —
  *
  *  - q420 VanderWeele–Ding E-value (Ann Intern Med 2017): how strong
  *    an unmeasured confounder would have to be to explain away the
  *    observed risk ratio — the robustness number next to q292/q389's
  *    point estimates, with the Katz-CI bound E-value;
  *  - q421 Lomb–Scargle periodogram (Lomb 1976, Scargle 1982, via the
  *    Press–Rybicki trig-sum identities): spectral power at candidate
  *    periods from IRREGULARLY-sampled raw event times — the upgrade
  *    of q263's regular-grid periodogram that needs no daily binning;
  *  - q422 Bloom-filter planner: (m, k, actual-fpp, bits/key) for the
  *    q289 bloom-join key sets across a target-fpp grid — the q353-
  *    style parameter planner for the sketch family;
  *  - q423 Page–Hinkley drift test (Page 1954; Hinkley 1971) per
  *    element on the shared causal daily grid — the SEQUENTIAL
  *    change detector next to q233's retrospective CUSUM (running-mean
  *    deviations, running-min excursion, alarm ledger);
  *  - q424 negative-binomial GLM: q385's Poisson trend upgraded with
  *    the Cameron–Trivedi (1990) auxiliary-regression dispersion
  *    estimate and one NB2 IRLS step — the overdispersion-honest
  *    trend, sharing q385's PlanCache'd daily grid.
  *
  * Scale shapes: q420 one user-grain aggregate → 2×2 closed forms;
  * q421 ONE event-grain pass per (element, period) onto trig-sum rows
  * (the tau rotation happens in column math AFTER aggregation — the
  * Press–Rybicki identities mean no second scan); q422 three distinct-
  * count aggregates → a 9-row grid; q423 bounded per-element day
  * windows on the PlanCache'd grid; q424 grid-grain column math.
  */
object Round22Ops {
  import CausalOps.{dsum, dsumSql, r6}

  /** Page–Hinkley from the (el, di, v) daily grid — shared by batch
    * q423 and the streaming refresh q425 so the final stream refresh
    * hash-matches the batch oracle bit-for-bit (the causalRefresh
    * contract). Running mean is an exact decimal prefix fold / count;
    * the PH statistic folds quantized terms so both engines carry the
    * identical running values; alarms fire at excursion > λ.
    */
  private[graft] val PhDelta = 0.05
  private[graft] val PhLambda = 10.0
  private[graft] def pageHinkleyFromGrid(g: DataFrame): DataFrame = {
    val wc = Window.partitionBy(col("el")).orderBy(col("di"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rm = g.select(col("el"), col("di"), col("v"),
      (sum(col("v").cast("decimal(38,12)")).over(wc).cast("double") /
        count(lit(1)).over(wc)).as("rmean"))
    val mt = rm.select(col("el"), col("di"),
      sum((col("v") - col("rmean") - lit(PhDelta)).cast("decimal(38,12)"))
        .over(wc).cast("double").as("m"))
    val exc = mt.select(col("el"), col("di"),
      (col("m") - least(min(col("m")).over(wc), lit(0.0))).as("exc"))
    exc.groupBy("el").agg(
        count(lit(1)).as("n_days"),
        r6(max(col("exc"))).as("ph_max"),
        count_if(col("exc") > PhLambda).as("n_alarms"),
        coalesce(min(when(col("exc") > PhLambda, col("di"))), lit(-1))
          .as("first_alarm_di"))
      .select(col("el"), col("n_days").cast("long").as("n_days"), col("ph_max"),
        col("n_alarms").cast("long").as("n_alarms"),
        col("first_alarm_di").cast("int").as("first_alarm_di"))
      .orderBy("el")
  }

  /** The matching oracle text over the shared `daily` CTE. */
  private[graft] val pageHinkleySql: String =
    s"""WITH ${CausalOps.dailySql},
       |rm AS (
       |  SELECT el, di, v,
       |    CAST(sum(CAST(v AS DECIMAL(38,12))) OVER wcum AS DOUBLE)
       |      / count(*) OVER wcum AS rmean
       |  FROM daily
       |  WINDOW wcum AS (PARTITION BY el ORDER BY di
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |mt AS (
       |  SELECT el, di,
       |    CAST(sum(CAST(v - rmean - $PhDelta AS DECIMAL(38,12))) OVER wcum
       |      AS DOUBLE) AS m
       |  FROM rm
       |  WINDOW wcum AS (PARTITION BY el ORDER BY di
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |exc AS (
       |  SELECT el, di,
       |    m - least(min(m) OVER (PARTITION BY el ORDER BY di
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0) AS exc
       |  FROM mt)
       |SELECT el, CAST(count(*) AS BIGINT) AS n_days,
       |  round(max(exc), 6) AS ph_max,
       |  CAST(count_if(exc > $PhLambda) AS BIGINT) AS n_alarms,
       |  CAST(coalesce(min(CASE WHEN exc > $PhLambda THEN di END), -1) AS INT)
       |    AS first_alarm_di
       |FROM exc GROUP BY el ORDER BY el""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    /** VanderWeele–Ding E-value for the heavy-clicker → high-value-
      * purchase risk ratio: E = RR* + √(RR*(RR*−1)) with RR* the
      * observed RR (inverted below 1), plus the E-value of the Katz
      * log-CI bound nearer the null (1 when the CI crosses 1) — the
      * "how much confounding would it take" robustness readout every
      * observational estimate (q292 IPW, q389 AIPW) should ship with.
      * One user-grain aggregate → a 2×2 → scalar closed forms.
      */
    QueryDef(
      "q420_evalue_sensitivity",
      """WITH u AS (
        |  SELECT user_id,
        |    CASE WHEN count_if(event_type = 'click') > 13 THEN 1 ELSE 0 END AS t,
        |    CASE WHEN count_if(event_type = 'purchase' AND value > 95) > 0
        |      THEN 1 ELSE 0 END AS y
        |  FROM events GROUP BY 1),
        |c2 AS (
        |  SELECT CAST(count_if(t = 1 AND y = 1) AS DOUBLE) AS a,
        |    CAST(count_if(t = 1 AND y = 0) AS DOUBLE) AS b,
        |    CAST(count_if(t = 0 AND y = 1) AS DOUBLE) AS c,
        |    CAST(count_if(t = 0 AND y = 0) AS DOUBLE) AS d
        |  FROM u),
        |rr AS (
        |  SELECT a, b, c, d,
        |    (a / (a + b)) / (c / (c + d)) AS rr,
        |    sqrt(1 / a - 1 / (a + b) + 1 / c - 1 / (c + d)) AS se
        |  FROM c2),
        |ev AS (
        |  SELECT a, b, c, d, rr,
        |    exp(ln(rr) - 1.96 * se) AS lcl, exp(ln(rr) + 1.96 * se) AS ucl,
        |    CASE WHEN rr >= 1 THEN rr ELSE 1 / rr END AS rs
        |  FROM rr),
        |ev2 AS (
        |  SELECT a, b, c, d, rr, lcl, ucl, rs,
        |    CASE WHEN rr >= 1 THEN (CASE WHEN lcl <= 1 THEN 1.0 ELSE lcl END)
        |         ELSE (CASE WHEN ucl >= 1 THEN 1.0 ELSE 1 / ucl END) END AS cs
        |  FROM ev)
        |SELECT CAST(a AS BIGINT) AS n11, CAST(b AS BIGINT) AS n10,
        |  CAST(c AS BIGINT) AS n01, CAST(d AS BIGINT) AS n00,
        |  round(rr, 6) AS risk_ratio, round(lcl, 6) AS rr_lcl,
        |  round(ucl, 6) AS rr_ucl,
        |  round(rs + sqrt(rs * (rs - 1)), 6) AS evalue_point,
        |  round(CASE WHEN cs <= 1 THEN 1.0
        |    ELSE cs + sqrt(cs * (cs - 1)) END, 6) AS evalue_ci
        |FROM ev2""".stripMargin) { (s, d) =>
      val u = Tables.events(s, d).groupBy("user_id").agg(
        when(count_if(col("event_type") === "click") > 13, 1).otherwise(0).as("t"),
        when(count_if(col("event_type") === "purchase" && col("value") > 95) > 0, 1)
          .otherwise(0).as("y"))
      val c2 = u.agg(
        count_if(col("t") === 1 && col("y") === 1).cast("double").as("a"),
        count_if(col("t") === 1 && col("y") === 0).cast("double").as("b"),
        count_if(col("t") === 0 && col("y") === 1).cast("double").as("c"),
        count_if(col("t") === 0 && col("y") === 0).cast("double").as("d"))
      val rr = (col("a") / (col("a") + col("b"))) / (col("c") / (col("c") + col("d")))
      val se = sqrt(lit(1) / col("a") - lit(1) / (col("a") + col("b")) +
        lit(1) / col("c") - lit(1) / (col("c") + col("d")))
      val ev = c2.select(col("a"), col("b"), col("c"), col("d"), rr.as("rr"),
        exp(log(rr) - lit(1.96) * se).as("lcl"), exp(log(rr) + lit(1.96) * se).as("ucl"))
        .withColumn("rs", when(col("rr") >= 1, col("rr")).otherwise(lit(1) / col("rr")))
        .withColumn("cs",
          when(col("rr") >= 1, when(col("lcl") <= 1, lit(1.0)).otherwise(col("lcl")))
            .otherwise(when(col("ucl") >= 1, lit(1.0)).otherwise(lit(1) / col("ucl"))))
      ev.select(col("a").cast("long").as("n11"), col("b").cast("long").as("n10"),
        col("c").cast("long").as("n01"), col("d").cast("long").as("n00"),
        r6(col("rr")).as("risk_ratio"), r6(col("lcl")).as("rr_lcl"),
        r6(col("ucl")).as("rr_ucl"),
        r6(col("rs") + sqrt(col("rs") * (col("rs") - 1))).as("evalue_point"),
        r6(when(col("cs") <= 1, lit(1.0))
          .otherwise(col("cs") + sqrt(col("cs") * (col("cs") - 1)))).as("evalue_ci"))
    },

    /** Lomb–Scargle periodogram at periods {3.5, 7, 14} days over the
      * RAW irregular event times (day fraction from the hh:mm:ss
      * fields — no daily binning, the whole point vs q263). One
      * event-grain aggregate per (element, period) computes the five
      * Press–Rybicki trig sums (Σỹcosωt, Σỹsinωt, Σcos2ωt, Σsin2ωt, n
      * with ỹ = y − ȳ); the τ phase rotation and the two quadrature
      * powers are column math over those sums — the identities
      * Σcos²ω(t−τ) = n/2 + (cos2ωτ·Σcos2ωt + sin2ωτ·Σsin2ωt)/2 mean NO
      * second scan. Normalized by the per-element variance (Scargle's
      * convention). Trig parity is the standing libm contract
      * (q73/q178/q263); ω literals are written digit-identical.
      */
    QueryDef(
      "q421_lomb_scargle",
      s"""WITH ym AS (
        |  SELECT event_type AS mel,
        |    ${dsumSql("value")} / count(*) AS ybar,
        |    (${dsumSql("value * value")} - ${dsumSql("value")} * ${dsumSql("value")}
        |      / count(*)) / (count(*) - 1) AS yvar
        |  FROM events GROUP BY 1),
        |tt AS (
        |  SELECT e.event_type AS el,
        |    CAST(datediff('day', DATE '2024-01-01', CAST(e.ts AS DATE)) AS DOUBLE)
        |      + (date_part('hour', e.ts) * 3600.0 + date_part('minute', e.ts) * 60.0
        |        + date_part('second', e.ts)) / 86400.0 AS t,
        |    e.value - ym.ybar AS yt, ym.yvar
        |  FROM events e JOIN ym ON ym.mel = e.event_type),
        |pg AS (SELECT unnest([3.5, 7.0, 14.0]) AS period),
        |tr AS (
        |  SELECT el, period, max(yvar) AS yvar, count(*) AS n,
        |    ${dsumSql("yt * cos(2.0 * 3.141592653589793 / period * t)")} AS yc,
        |    ${dsumSql("yt * sin(2.0 * 3.141592653589793 / period * t)")} AS ys,
        |    ${dsumSql("cos(2.0 * (2.0 * 3.141592653589793 / period) * t)")} AS c2,
        |    ${dsumSql("sin(2.0 * (2.0 * 3.141592653589793 / period) * t)")} AS s2
        |  FROM tt CROSS JOIN pg GROUP BY 1, 2),
        |ph AS (
        |  SELECT el, period, yvar, n, yc, ys, c2, s2,
        |    atan2(s2, c2) / 2.0 AS wt,
        |    cos(atan2(s2, c2) / 2.0) AS ct, sin(atan2(s2, c2) / 2.0) AS st,
        |    cos(atan2(s2, c2)) AS c2t, sin(atan2(s2, c2)) AS s2t
        |  FROM tr)
        |SELECT el, period,
        |  round(0.5 * ((ct * yc + st * ys) * (ct * yc + st * ys)
        |      / (n / 2.0 + (c2t * c2 + s2t * s2) / 2.0)
        |    + (ct * ys - st * yc) * (ct * ys - st * yc)
        |      / (n / 2.0 - (c2t * c2 + s2t * s2) / 2.0)) / yvar, 6) AS power
        |FROM ph ORDER BY el, period""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val ym = ev.groupBy(col("event_type").as("mel")).agg(
        (dsum(col("value")) / count(lit(1))).as("ybar"),
        ((dsum(col("value") * col("value")) -
          dsum(col("value")) * dsum(col("value")) / count(lit(1))) /
          (count(lit(1)) - 1)).as("yvar"))
      val tt = ev.join(broadcast(ym), col("mel") === col("event_type"))
        .select(col("event_type").as("el"),
          (datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
            .cast("double") +
            (hour(col("ts")) * 3600.0 + minute(col("ts")) * 60.0 +
              second(col("ts"))) / 86400.0).as("t"),
          (col("value") - col("ybar")).as("yt"), col("yvar"))
      val pg = s.range(1)
        .select(explode(array(lit(3.5), lit(7.0), lit(14.0))).as("period"))
      val om = lit(2.0) * lit(3.141592653589793) / col("period")
      val tr = tt.crossJoin(broadcast(pg)).groupBy("el", "period").agg(
        max(col("yvar")).as("yvar"), count(lit(1)).as("n"),
        dsum(col("yt") * cos(om * col("t"))).as("yc"),
        dsum(col("yt") * sin(om * col("t"))).as("ys"),
        dsum(cos(lit(2.0) * om * col("t"))).as("c2"),
        dsum(sin(lit(2.0) * om * col("t"))).as("s2"))
      val a2 = atan2(col("s2"), col("c2"))
      val ph = tr.select(col("el"), col("period"), col("yvar"), col("n"),
        col("yc"), col("ys"), col("c2"), col("s2"),
        cos(a2 / 2.0).as("ct"), sin(a2 / 2.0).as("st"),
        cos(a2).as("c2t"), sin(a2).as("s2t"))
      val even = (col("ct") * col("yc") + col("st") * col("ys"))
      val odd = (col("ct") * col("ys") - col("st") * col("yc"))
      val dEven = col("n") / lit(2.0) + (col("c2t") * col("c2") + col("s2t") * col("s2")) / 2.0
      val dOdd = col("n") / lit(2.0) - (col("c2t") * col("c2") + col("s2t") * col("s2")) / 2.0
      ph.select(col("el"), col("period"),
          r6(lit(0.5) * (even * even / dEven + odd * odd / dOdd) / col("yvar"))
            .as("power"))
        .orderBy("el", "period")
    },

    /** Bloom-filter planner for the q289 bloom-join key sets: for each
      * (key set, target fpp) the optimal bit count m = ⌈−n·ln p/ln²2⌉,
      * hash count k = max(1, round(ln2·m/n)), the ACTUAL fpp
      * (1−e^{−kn/m})^k at those integer parameters, and bits/key — the
      * q353-style parameter planner that turns "add a bloom filter"
      * into sized numbers. Three distinct-count aggregates → 9 grid
      * rows of closed-form column math. The ⌈·⌉/round boundaries sit on
      * transcendental values (margin pinned in Round22Spec), so the
      * integers cannot flip cross-engine.
      */
    QueryDef(
      "q422_bloom_planner",
      """WITH ks AS (
        |  SELECT 'lineitem.l_partkey' AS key_set,
        |    CAST(count(DISTINCT l_partkey) AS DOUBLE) AS n FROM lineitem
        |  UNION ALL
        |  SELECT 'orders.o_custkey', CAST(count(DISTINCT o_custkey) AS DOUBLE)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'events.user_id', CAST(count(DISTINCT user_id) AS DOUBLE)
        |  FROM events),
        |pg AS (SELECT unnest([0.01, 0.001, 0.0001]) AS fpp),
        |pl AS (
        |  SELECT key_set, n, fpp,
        |    ceil(-n * ln(fpp) / (ln(2) * ln(2))) AS m
        |  FROM ks CROSS JOIN pg),
        |kk AS (
        |  SELECT key_set, n, fpp, m,
        |    greatest(1, round(ln(2) * m / n)) AS k
        |  FROM pl)
        |SELECT key_set, CAST(n AS BIGINT) AS n_keys, fpp AS target_fpp,
        |  CAST(m AS BIGINT) AS m_bits, CAST(k AS INT) AS k_hashes,
        |  round(pow(1 - exp(-k * n / m), k), 6) AS actual_fpp,
        |  round(m / n, 6) AS bits_per_key
        |FROM kk ORDER BY key_set, fpp""".stripMargin) { (s, d) =>
      val ks = Tables.lineitem(s, d)
        .agg(countDistinct(col("l_partkey")).cast("double").as("n"))
        .select(lit("lineitem.l_partkey").as("key_set"), col("n"))
        .unionAll(Tables.orders(s, d)
          .agg(countDistinct(col("o_custkey")).cast("double").as("n"))
          .select(lit("orders.o_custkey").as("key_set"), col("n")))
        .unionAll(Tables.events(s, d)
          .agg(countDistinct(col("user_id")).cast("double").as("n"))
          .select(lit("events.user_id").as("key_set"), col("n")))
      val pg = s.range(1)
        .select(explode(array(lit(0.01), lit(0.001), lit(0.0001))).as("fpp"))
      val m = ceil(-col("n") * log(col("fpp")) / (log(lit(2.0)) * log(lit(2.0))))
      val pl = ks.crossJoin(broadcast(pg))
        .select(col("key_set"), col("n"), col("fpp"), m.as("m"))
      val k = greatest(lit(1.0), round(log(lit(2.0)) * col("m") / col("n")))
      pl.select(col("key_set"), col("n").cast("long").as("n_keys"),
          col("fpp").as("target_fpp"), col("m").cast("long").as("m_bits"),
          k.cast("int").as("k_hashes"),
          r6(pow(lit(1.0) - exp(-k * col("n") / col("m")), k)).as("actual_fpp"),
          r6(col("m") / col("n")).as("bits_per_key"))
        .orderBy("key_set", "fpp")
    },

    /** Page–Hinkley sequential drift per element on the shared causal
      * daily grid (δ = 0.05, λ = 10): running-mean deviations
      * accumulate, the excursion above the running minimum is the
      * evidence, alarms fire past λ. The ONLINE companion of q233's
      * retrospective CUSUM — q425 replays exactly this readout inside
      * the streaming refresh harness. Bounded per-element day windows
      * over the PlanCache'd grid; exact decimal prefix folds.
      */
    QueryDef("q423_page_hinkley", pageHinkleySql) { (s, d) =>
      pageHinkleyFromGrid(CausalOps.daily(s, d))
    },

    /** Negative-binomial GLM trend per element: q385's two-step Poisson
      * fit, then the Cameron–Trivedi auxiliary regression-through-
      * origin α̂ = Σ[(y−μ)²−y]/Σμ² (the overdispersion test statistic
      * AND the NB2 dispersion estimate), then ONE NB2 IRLS step with
      * weights μ/(1+αμ). Where q385 assumes Var = μ, this fits
      * Var = μ(1+αμ) — the honest trend when counts are clumpy.
      * Shares q385's PlanCache'd daily grid; every stage grid-grain
      * column math + per-element decimal folds.
      */
    QueryDef(
      "q424_negbin_glm", {
        def step(tag: String, prev: String, w: String) =
          s"""m$tag AS (
             |  SELECT c.el,
             |    ${dsumSql(w)} AS sw, ${dsumSql(s"($w)*u")} AS swu,
             |    ${dsumSql(s"($w)*u*u")} AS swuu,
             |    ${dsumSql(s"($w)*eta + (cnt - mu)*(($w)/mu)")} AS swz,
             |    ${dsumSql(s"(($w)*eta + (cnt - mu)*(($w)/mu))*u")} AS swuz
             |  FROM (
             |    SELECT cd.el, cd.u, cd.cnt, p.a + p.b*cd.u AS eta,
             |      exp(p.a + p.b*cd.u) AS mu${if (w.contains("alpha")) ", p.alpha" else ""}
             |    FROM cd JOIN $prev p ON p.el = cd.el) c
             |  GROUP BY 1),
             |${Round16Ops.wlsSolveSql(tag)}""".stripMargin
        s"""WITH ${Round16Ops.countCellsSql},
           |${step("1", "p0", "mu")},
           |${step("2", "p1", "mu")},
           |al AS (
           |  SELECT cd.el,
           |    ${dsumSql("(cnt - exp(p.a + p.b*u))*(cnt - exp(p.a + p.b*u)) - cnt")}
           |      / ${dsumSql("exp(p.a + p.b*u)*exp(p.a + p.b*u)")} AS alpha
           |  FROM cd JOIN p2 p ON p.el = cd.el GROUP BY 1),
           |p2a AS (
           |  SELECT p2.el, p2.a, p2.b, greatest(al.alpha, 0.0) AS alpha
           |  FROM p2 JOIN al ON al.el = p2.el),
           |${step("3", "p2a", "mu/(1.0 + alpha*mu)")}
           |SELECT p3.el AS el, round(p2a.alpha, 6) AS alpha,
           |  round(p3.a, 6) AS a_nb, round(p3.b, 6) AS b_nb,
           |  round(exp(p3.b), 6) AS trend_ratio,
           |  CASE WHEN p2a.alpha > 0 THEN 1 ELSE 0 END AS overdispersed
           |FROM p3 JOIN p2a ON p2a.el = p3.el ORDER BY el""".stripMargin
      }) { (s, d) =>
      val cd = Round16Ops.countCells(s, d)
      val p0 = cd.groupBy("el").agg(
        log(dsum(col("cnt")) / count(lit(1))).as("a")).withColumn("b", lit(0.0))
      def step(prev: DataFrame, wOf: Column => Column): DataFrame = {
        val eta = col("a") + col("b") * col("u")
        val mu = exp(eta)
        val w = wOf(mu)
        val vz = w * eta + (col("cnt") - mu) * (w / mu)
        val m = cd.join(broadcast(prev), "el").groupBy("el").agg(
          dsum(w).as("sw"), dsum(w * col("u")).as("swu"),
          dsum(w * col("u") * col("u")).as("swuu"),
          dsum(vz).as("swz"), dsum(vz * col("u")).as("swuz"))
        val b = (col("sw") * col("swuz") - col("swu") * col("swz")) /
          (col("sw") * col("swuu") - col("swu") * col("swu"))
        m.select(col("el"), ((col("swz") - b * col("swu")) / col("sw")).as("a"), b.as("b"))
      }
      val p2 = step(step(p0, mu => mu), mu => mu)
      val mu2 = exp(col("a") + col("b") * col("u"))
      val al = cd.join(broadcast(p2), "el").groupBy("el").agg(
        (dsum((col("cnt") - mu2) * (col("cnt") - mu2) - col("cnt")) /
          dsum(mu2 * mu2)).as("alpha"))
      val p2a = p2.join(al.select(col("el").as("ael"),
          greatest(col("alpha"), lit(0.0)).as("alpha")), col("ael") === col("el"))
        .select(col("el"), col("a"), col("b"), col("alpha"))
      // NB2 step carrying alpha through the broadcast parameter row
      val p3 = step(p2a, mu => mu / (lit(1.0) + col("alpha") * mu))
      p3.join(p2a.select(col("el").as("pel"), col("alpha")), col("pel") === col("el"))
        .select(col("el"), r6(col("alpha")).as("alpha"), r6(col("a")).as("a_nb"),
          r6(col("b")).as("b_nb"), r6(exp(col("b"))).as("trend_ratio"),
          when(col("alpha") > 0, 1).otherwise(0).as("overdispersed"))
        .orderBy("el")
    }
  )
}
