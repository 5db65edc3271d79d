package graft.operators

import graft.{PlanCache, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-23 batch: point-process causality, spectral dependence, and
  * nonlinear/robust dependence measures between elements —
  *
  *  - q426 discretized Hawkes cross-excitation (Hawkes 1971; one EM
  *    step per Lewis–Mohler 2011): the branching matrix α̂(src→dst)
  *    estimating how many dst events each src event excites through an
  *    exponential kernel — THE point-process causality readout the
  *    reference's correlation-grid family (lead-lag, Granger) cannot
  *    express, computed on an hour-binned grid so the lag join is
  *    grid-bounded, never event-pair-grain;
  *  - q427 magnitude-squared coherence (Welch 1967 segment averaging):
  *    per element pair at periods {7,14}d from three 14-day segments —
  *    the frequency-domain companion of q231's cross-correlation;
  *  - q428 distance correlation (Székely–Rizzo–Bakirov 2007): the
  *    zero-iff-independent dependence measure per pair over the
  *    day-matched grid — catches nonlinear coupling Pearson misses;
  *  - q429 Ljung–Box portmanteau test (1978) at h=7 lags per element:
  *    "is this series white noise at all" — the autocorrelation gate
  *    that should precede every Granger/lead-lag readout;
  *  - q430 binary-segmentation changepoints (Scott–Knott style, depth
  *    2): exact SSE cost from prefix sums, the multi-changepoint
  *    upgrade of q400's single-point Pettitt;
  *  - q431 two-component 1-D Gaussian-mixture EM (3 exact iterations,
  *    moment init) on event values per element — the distributional
  *    "is this element bimodal" readout;
  *  - q432 empirical upper-tail dependence (the copula λ_U estimator)
  *    per pair at u ∈ {0.7,0.8,0.9} — co-crash probability that
  *    correlation understates.
  *
  * Scale shapes: every query runs on bounded derived grids (hour grid
  * O(P·T·24), daily grid O(P·T), pair-day O(P²·T), day-pair O(P²·T²)
  * with T=30) — the only fact-table scans are q426/q431's single
  * aggregates; q431's EM re-scans a PlanCache'd (el, value) projection
  * three times with O(P)-row broadcast parameter tables.
  */
object Round23Ops {
  private def r6(c: Column) = round(c, 6)
  private def dsum(c: Column): Column = sum(c.cast("decimal(38,12)")).cast("double")
  private def dsumSql(x: String) = s"CAST(sum(CAST($x AS DECIMAL(38,12))) AS DOUBLE)"

  private[graft] val HawkesBeta = 0.1   // kernel decay per hour
  private[graft] val HawkesAlpha0 = 0.2 // initial branching ratio
  private[graft] val HawkesLags = 36    // kernel truncation (e^-3.6)
  private[graft] val HawkesHours = 720.0

  /** Every unordered element pair's same-day values (eli < elj, di, x,
    * y) from any (el, di, v) grid: q428's distance correlation and
    * q444's HSIC. */
  private[operators] def sameDayPairs(g: DataFrame): DataFrame = {
    val a = g.select(col("el").as("eli"), col("di"), col("v").as("x"))
    val b = g.select(col("el").as("elj"), col("di").as("dj"), col("v").as("y"))
    a.join(b, col("dj") === col("di") && col("eli") < col("elj"))
      .select(col("eli"), col("elj"), col("di"), col("x"), col("y"))
  }

  /** Event counts per (element, hour since 2024-01-01) (`hg`): q426,
    * q447, q454. */
  private[operators] val hourGridSql =
    """hg AS (
      |  SELECT event_type AS el,
      |    datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) * 24
      |      + date_part('hour', ts) AS h,
      |    CAST(count(*) AS DOUBLE) AS n
      |  FROM events GROUP BY 1, 2)""".stripMargin

  /** [[hourGridSql]]'s engine form: (el, h, n). */
  private[operators] def hourGrid(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).groupBy(col("event_type").as("el"),
        (datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")) * 24
          + hour(col("ts"))).as("h"))
      .agg(count(lit(1)).cast("double").as("n"))

  /** Welch-averaged magnitude-squared coherence from the (el, di, v)
    * daily grid — shared by batch q427 and the streaming refresh q433
    * (the causalRefresh contract: final stream refresh == batch oracle
    * bit-for-bit). Three 14-day segments at offsets {0,7,14}, per-
    * segment demeaning, DFT sums at periods {7,14}d, cross/auto
    * spectra averaged over segments before the ratio — without the
    * averaging a single-segment coherence is identically 1.
    */
  private[graft] def coherenceFromGrid(g: DataFrame): DataFrame = {
    val segs = g.sparkSession.range(1)
      .select(explode(array(lit(0), lit(1), lit(2))).as("s"))
    val mem = g.join(broadcast(segs),
      col("di") >= col("s") * 7 && col("di") <= col("s") * 7 + 13)
    val sm = mem.groupBy("el", "s")
      .agg((dsum(col("v")) / count(lit(1))).as("sbar"))
    val per = g.sparkSession.range(1)
      .select(explode(array(lit(7.0), lit(14.0))).as("period"))
    val om = lit(2.0) * lit(3.141592653589793) / col("period")
    val co = mem.join(broadcast(sm), Seq("el", "s"))
      .crossJoin(broadcast(per))
      .groupBy("el", "s", "period").agg(
        dsum((col("v") - col("sbar")) * cos(om * col("di").cast("double"))).as("c"),
        dsum((col("v") - col("sbar")) * sin(om * col("di").cast("double"))).as("sn"))
    val a = co.select(col("el").as("eli"), col("s"), col("period"),
      col("c").as("ci"), col("sn").as("si"))
    val b = co.select(col("el").as("elj"), col("s").as("sj"),
      col("period").as("pj"), col("c").as("cj"), col("sn").as("sj2"))
    a.join(b, col("s") === col("sj") && col("period") === col("pj") &&
        col("eli") < col("elj"))
      .groupBy("eli", "elj", "period").agg(
        dsum(col("ci") * col("cj") + col("si") * col("sj2")).as("xre"),
        dsum(col("si") * col("cj") - col("ci") * col("sj2")).as("xim"),
        dsum(col("ci") * col("ci") + col("si") * col("si")).as("pxx"),
        dsum(col("cj") * col("cj") + col("sj2") * col("sj2")).as("pyy"))
      .select(col("eli"), col("elj"), col("period"),
        r6((col("xre") * col("xre") + col("xim") * col("xim")) /
          (col("pxx") * col("pyy"))).as("coherence"))
      .orderBy("eli", "elj", "period")
  }

  /** The matching oracle text over the shared `daily` CTE. */
  private[graft] val coherenceSql: String =
    s"""WITH ${CausalOps.dailySql},
       |segs AS (SELECT unnest([0, 1, 2]) AS s),
       |mem AS (
       |  SELECT d.el, segs.s, d.di, d.v
       |  FROM daily d JOIN segs ON d.di >= segs.s * 7 AND d.di <= segs.s * 7 + 13),
       |sm AS (
       |  SELECT el, s, ${dsumSql("v")} / count(*) AS sbar
       |  FROM mem GROUP BY 1, 2),
       |per AS (SELECT unnest([7.0, 14.0]) AS period),
       |co AS (
       |  SELECT mem.el, mem.s, per.period,
       |    ${dsumSql("(v - sbar) * cos(2.0 * 3.141592653589793 / period * CAST(di AS DOUBLE))")} AS c,
       |    ${dsumSql("(v - sbar) * sin(2.0 * 3.141592653589793 / period * CAST(di AS DOUBLE))")} AS sn
       |  FROM mem JOIN sm ON sm.el = mem.el AND sm.s = mem.s
       |  CROSS JOIN per GROUP BY 1, 2, 3)
       |SELECT a.el AS eli, b.el AS elj, a.period,
       |  round((${dsumSql("a.c * b.c + a.sn * b.sn")} * ${dsumSql("a.c * b.c + a.sn * b.sn")}
       |      + ${dsumSql("a.sn * b.c - a.c * b.sn")} * ${dsumSql("a.sn * b.c - a.c * b.sn")})
       |    / (${dsumSql("a.c * a.c + a.sn * a.sn")} * ${dsumSql("b.c * b.c + b.sn * b.sn")}), 6)
       |    AS coherence
       |FROM co a JOIN co b ON a.s = b.s AND a.period = b.period AND a.el < b.el
       |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    /** Discretized Hawkes cross-excitation matrix: hour-binned counts
      * n(el, h), exponential kernel βe^{−βΔ} truncated at 36 h, initial
      * branching α₀ = 0.2, background μ_i = N_i/720. One EM
      * responsibility step attributes each (dst, h) event mass to each
      * exciting src through r = n_dst(h)·α₀E_src(h)/(μ_dst+α₀ΣE(h)),
      * and α̂(src→dst) = Σ_h r / N_src — expected children per src
      * event. The kernel convolution is a grid×lag join (O(P·T·24·36)
      * rows), never an event-pair join; all folds exact decimal.
      */
    QueryDef(
      "q426_hawkes_cross",
      s"""WITH $hourGridSql,
         |tot AS (
         |  SELECT el, ${dsumSql("n")} AS nn, ${dsumSql("n")} / $HawkesHours AS mu
         |  FROM hg GROUP BY 1),
         |lag AS (SELECT unnest(generate_series(1, $HawkesLags)) AS dl),
         |exc AS (
         |  SELECT hg.el AS src, hg.h + lag.dl AS h,
         |    ${dsumSql(s"n * ($HawkesBeta * exp(-$HawkesBeta * CAST(dl AS DOUBLE)))")} AS e
         |  FROM hg CROSS JOIN lag GROUP BY 1, 2),
         |etot AS (SELECT h, ${dsumSql("e")} AS et FROM exc GROUP BY 1),
         |resp AS (
         |  SELECT hg.el AS dst, exc.src,
         |    ${dsumSql(s"hg.n * ($HawkesAlpha0 * exc.e) / (tot.mu + $HawkesAlpha0 * etot.et)")}
         |      AS sr
         |  FROM hg
         |  JOIN exc ON exc.h = hg.h
         |  JOIN etot ON etot.h = hg.h
         |  JOIN tot ON tot.el = hg.el
         |  GROUP BY 1, 2)
         |SELECT r.dst, r.src, round(r.sr / t.nn, 6) AS alpha_hat,
         |  round(r.sr, 6) AS resp_mass, CAST(t.nn AS BIGINT) AS n_src
         |FROM resp r JOIN tot t ON t.el = r.src
         |ORDER BY dst, src""".stripMargin) { (s, d) =>
      val hg = hourGrid(s, d)
      val tot = hg.groupBy("el").agg(dsum(col("n")).as("nn"),
        (dsum(col("n")) / lit(HawkesHours)).as("mu"))
      val lagT = s.range(1)
        .select(explode(sequence(lit(1), lit(HawkesLags))).as("dl"))
      val exc = hg.crossJoin(broadcast(lagT))
        .groupBy(col("el").as("src"), (col("h") + col("dl")).as("h"))
        .agg(dsum(col("n") * (lit(HawkesBeta) *
          exp(lit(-HawkesBeta) * col("dl").cast("double")))).as("e"))
      val etot = exc.groupBy("h").agg(dsum(col("e")).as("et"))
      val resp = hg
        .join(exc, "h")
        .join(etot, "h")
        .join(broadcast(tot.select(col("el"), col("mu"))), "el")
        .groupBy(col("el").as("dst"), col("src"))
        .agg(dsum(col("n") * (lit(HawkesAlpha0) * col("e")) /
          (col("mu") + lit(HawkesAlpha0) * col("et"))).as("sr"))
      resp.join(broadcast(tot.select(col("el").as("src"), col("nn"))), "src")
        .select(col("dst"), col("src"), r6(col("sr") / col("nn")).as("alpha_hat"),
          r6(col("sr")).as("resp_mass"), col("nn").cast("long").as("n_src"))
        .orderBy("dst", "src")
    },

    /** Welch-averaged coherence per element pair at periods {7,14}d —
      * see [[coherenceFromGrid]]; q433 replays exactly this readout
      * inside the streaming refresh harness.
      */
    QueryDef("q427_coherence", coherenceSql) { (s, d) =>
      coherenceFromGrid(CausalOps.daily(s, d))
    },

    /** Distance correlation per element pair over the day-matched
      * daily grid: |Δx| distance matrices over day pairs (O(T²) = 900
      * rows per pair), U-less double centering A = a − ā_k − ā_l + ā,
      * dCor = √(⟨AB⟩ / √(⟨A²⟩⟨B²⟩)). Zero iff independent — the
      * nonlinear-coupling readout next to q17 Pearson / q337 Spearman /
      * q372 Kendall. Row means computed once and joined back (two
      * bounded shuffles); folds exact decimal.
      */
    QueryDef(
      "q428_distance_corr",
      s"""WITH ${CausalOps.dailySql},
         |m AS (
         |  SELECT a.el AS eli, b.el AS elj, a.di, a.v AS x, b.v AS y
         |  FROM daily a JOIN daily b ON b.di = a.di AND a.el < b.el),
         |dm AS (
         |  SELECT k.eli, k.elj, k.di AS dk, l.di AS dl,
         |    abs(k.x - l.x) AS ax, abs(k.y - l.y) AS ay
         |  FROM m k JOIN m l ON l.eli = k.eli AND l.elj = k.elj),
         |rowm AS (
         |  SELECT eli, elj, dk, ${dsumSql("ax")} / count(*) AS amk,
         |    ${dsumSql("ay")} / count(*) AS bmk
         |  FROM dm GROUP BY 1, 2, 3),
         |gm AS (
         |  SELECT eli, elj, ${dsumSql("ax")} / count(*) AS am,
         |    ${dsumSql("ay")} / count(*) AS bm, count(*) AS n2
         |  FROM dm GROUP BY 1, 2),
         |cen AS (
         |  SELECT dm.eli, dm.elj,
         |    dm.ax - rk.amk - rl.amk + gm.am AS ac,
         |    dm.ay - rk.bmk - rl.bmk + gm.bm AS bc
         |  FROM dm
         |  JOIN rowm rk ON rk.eli = dm.eli AND rk.elj = dm.elj AND rk.dk = dm.dk
         |  JOIN rowm rl ON rl.eli = dm.eli AND rl.elj = dm.elj AND rl.dk = dm.dl
         |  JOIN gm ON gm.eli = dm.eli AND gm.elj = dm.elj)
         |SELECT eli, elj,
         |  round(sqrt(greatest(${dsumSql("ac * bc")} / count(*), 0.0)
         |    / sqrt((${dsumSql("ac * ac")} / count(*))
         |      * (${dsumSql("bc * bc")} / count(*)))), 6) AS dcor,
         |  round(sqrt(greatest(${dsumSql("ac * bc")} / count(*), 0.0)), 6) AS dcov
         |FROM cen GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val m = sameDayPairs(CausalOps.daily(s, d))
      val k = m.select(col("eli"), col("elj"), col("di").as("dk"),
        col("x").as("xk"), col("y").as("yk"))
      val l = m.select(col("eli").as("e2i"), col("elj").as("e2j"),
        col("di").as("dl"), col("x").as("xl"), col("y").as("yl"))
      val dm = k.join(l, col("e2i") === col("eli") && col("e2j") === col("elj"))
        .select(col("eli"), col("elj"), col("dk"), col("dl"),
          abs(col("xk") - col("xl")).as("ax"), abs(col("yk") - col("yl")).as("ay"))
      val rowm = dm.groupBy("eli", "elj", "dk").agg(
        (dsum(col("ax")) / count(lit(1))).as("amk"),
        (dsum(col("ay")) / count(lit(1))).as("bmk"))
      val gm = dm.groupBy("eli", "elj").agg(
        (dsum(col("ax")) / count(lit(1))).as("am"),
        (dsum(col("ay")) / count(lit(1))).as("bm"))
      val rk = rowm.select(col("eli").as("ki"), col("elj").as("kj"),
        col("dk").as("kk"), col("amk").as("amkK"), col("bmk").as("bmkK"))
      val rl = rowm.select(col("eli").as("li"), col("elj").as("lj"),
        col("dk").as("ll"), col("amk").as("amkL"), col("bmk").as("bmkL"))
      val cen = dm
        .join(rk, col("ki") === col("eli") && col("kj") === col("elj") &&
          col("kk") === col("dk"))
        .join(rl, col("li") === col("eli") && col("lj") === col("elj") &&
          col("ll") === col("dl"))
        .join(broadcast(gm.select(col("eli").as("gi"), col("elj").as("gj"),
          col("am"), col("bm"))),
          col("gi") === col("eli") && col("gj") === col("elj"))
        .select(col("eli"), col("elj"),
          (col("ax") - col("amkK") - col("amkL") + col("am")).as("ac"),
          (col("ay") - col("bmkK") - col("bmkL") + col("bm")).as("bc"))
      cen.groupBy("eli", "elj").agg(
          (dsum(col("ac") * col("bc")) / count(lit(1))).as("vxy"),
          (dsum(col("ac") * col("ac")) / count(lit(1))).as("vxx"),
          (dsum(col("bc") * col("bc")) / count(lit(1))).as("vyy"))
        .select(col("eli"), col("elj"),
          r6(sqrt(greatest(col("vxy"), lit(0.0)) /
            sqrt(col("vxx") * col("vyy")))).as("dcor"),
          r6(sqrt(greatest(col("vxy"), lit(0.0)))).as("dcov"))
        .orderBy("eli", "elj")
    },

    /** Ljung–Box portmanteau Q at h = 7 lags per element on the daily
      * grid: ρ̂_k from the mean-centered lag-k cross products over the
      * full-series sum of squares, Q = n(n+2)Σρ̂²/(n−k), rejected
      * against the χ²₀.₉₅(7) = 14.067140449340169 critical value — the
      * "is there any autocorrelation to model" gate before the Granger
      * family. Bounded lag join on the O(P·T) grid.
      */
    QueryDef(
      "q429_ljung_box",
      s"""WITH ${CausalOps.dailySql},
         |st AS (
         |  SELECT el, ${dsumSql("v")} / count(*) AS mu, count(*) AS n
         |  FROM daily GROUP BY 1),
         |cx AS (
         |  SELECT d.el, d.di, d.v - st.mu AS x, st.n
         |  FROM daily d JOIN st ON st.el = d.el),
         |den AS (SELECT el, ${dsumSql("x * x")} AS ss, max(n) AS n FROM cx GROUP BY 1),
         |lag AS (SELECT unnest(generate_series(1, 7)) AS k),
         |rho AS (
         |  SELECT a.el, lag.k, ${dsumSql("a.x * b.x")} AS num
         |  FROM cx a JOIN lag ON true
         |  JOIN cx b ON b.el = a.el AND b.di = a.di - lag.k
         |  GROUP BY 1, 2)
         |SELECT rho.el,
         |  CAST(max(den.n) AS BIGINT) AS n_days,
         |  round(${dsumSql("(num / ss) * (num / ss) / CAST(den.n - k AS DOUBLE)")}
         |    * max(den.n) * (max(den.n) + 2.0), 6) AS lb_q,
         |  7 AS df,
         |  CASE WHEN ${dsumSql("(num / ss) * (num / ss) / CAST(den.n - k AS DOUBLE)")}
         |    * max(den.n) * (max(den.n) + 2.0) > 14.067140449340169
         |    THEN 1 ELSE 0 END AS reject_white
         |FROM rho JOIN den ON den.el = rho.el
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val g = CausalOps.daily(s, d)
      val st = g.groupBy("el").agg((dsum(col("v")) / count(lit(1))).as("mu"),
        count(lit(1)).as("n"))
      val cx = g.join(broadcast(st), "el")
        .select(col("el"), col("di"), (col("v") - col("mu")).as("x"), col("n"))
      val den = cx.groupBy("el").agg(dsum(col("x") * col("x")).as("ss"),
        max(col("n")).as("n"))
      val lagT = s.range(1).select(explode(sequence(lit(1), lit(7))).as("k"))
      val bSide = cx.select(col("el").as("bel"), col("di").as("bdi"),
        col("x").as("bx"))
      val rho = cx.crossJoin(broadcast(lagT))
        .join(bSide, col("bel") === col("el") && col("bdi") === col("di") - col("k"))
        .groupBy("el", "k").agg(dsum(col("x") * col("bx")).as("num"))
      val rr = (col("num") / col("ss")) * (col("num") / col("ss")) /
        (col("n") - col("k")).cast("double")
      val qStat = dsum(rr) * max(col("n")) * (max(col("n")) + lit(2.0))
      rho.join(broadcast(den.select(col("el").as("del"), col("ss"), col("n"))),
          col("del") === col("el"))
        .groupBy("el").agg(
          max(col("n")).cast("long").as("n_days"),
          r6(qStat).as("lb_q"),
          lit(7).as("df"),
          when(qStat > 14.067140449340169, 1).otherwise(0).as("reject_white"))
        .orderBy("el")
    },

    /** Binary-segmentation changepoints (depth 2) per element: exact
      * segment SSEs from one prefix-sum window pass (S, Q cumulative),
      * level-1 split τ₁ = argmin SSE_L + SSE_R (ties → earliest day),
      * level-2 split τ₂ = the best second cut on either side holding
      * τ₁ fixed. The multi-changepoint upgrade of q400's Pettitt —
      * same grid, pure column math over O(T) candidates per element,
      * argmin via the two-phase min+equality idiom (no struct min_by,
      * DuckDB parity).
      */
    QueryDef(
      "q430_binseg_changepoints",
      s"""WITH ${CausalOps.dailySql},
         |pf AS (
         |  SELECT el, di,
         |    CAST(row_number() OVER (PARTITION BY el ORDER BY di) AS DOUBLE) AS r,
         |    CAST(sum(CAST(v AS DECIMAL(38,12))) OVER w AS DOUBLE) AS s,
         |    CAST(sum(CAST(v * v AS DECIMAL(38,12))) OVER w AS DOUBLE) AS q
         |  FROM daily
         |  WINDOW w AS (PARTITION BY el ORDER BY di
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |tt AS (
         |  SELECT el, max(r) AS n, max_by(s, r) AS st, max_by(q, r) AS qt
         |  FROM pf GROUP BY 1),
         |c1 AS (
         |  SELECT pf.el, pf.di, pf.r,
         |    (pf.q - pf.s * pf.s / pf.r)
         |      + ((tt.qt - pf.q) - (tt.st - pf.s) * (tt.st - pf.s) / (tt.n - pf.r))
         |      AS cost
         |  FROM pf JOIN tt ON tt.el = pf.el WHERE pf.r < tt.n),
         |b1 AS (SELECT el, min(cost) AS mc FROM c1 GROUP BY 1),
         |t1 AS (
         |  SELECT c1.el, min(c1.di) AS cp1, min(c1.r) AS r1, max(c1.cost) AS cost1
         |  FROM c1 JOIN b1 ON b1.el = c1.el AND c1.cost = b1.mc GROUP BY 1),
         |p1 AS (
         |  SELECT pf.el, pf.s AS s1, pf.q AS q1, t1.cp1, t1.r1, t1.cost1
         |  FROM pf JOIN t1 ON t1.el = pf.el AND pf.r = t1.r1),
         |c2 AS (
         |  SELECT pf.el, pf.di, pf.r,
         |    CASE WHEN pf.r < p1.r1 THEN
         |      (pf.q - pf.s * pf.s / pf.r)
         |        + ((p1.q1 - pf.q) - (p1.s1 - pf.s) * (p1.s1 - pf.s) / (p1.r1 - pf.r))
         |        + ((tt.qt - p1.q1) - (tt.st - p1.s1) * (tt.st - p1.s1) / (tt.n - p1.r1))
         |    ELSE
         |      (p1.q1 - p1.s1 * p1.s1 / p1.r1)
         |        + ((pf.q - p1.q1) - (pf.s - p1.s1) * (pf.s - p1.s1) / (pf.r - p1.r1))
         |        + ((tt.qt - pf.q) - (tt.st - pf.s) * (tt.st - pf.s) / (tt.n - pf.r))
         |    END AS cost
         |  FROM pf
         |  JOIN p1 ON p1.el = pf.el
         |  JOIN tt ON tt.el = pf.el
         |  WHERE pf.r < tt.n AND pf.r <> p1.r1),
         |b2 AS (SELECT el, min(cost) AS mc FROM c2 GROUP BY 1),
         |t2 AS (
         |  SELECT c2.el, min(c2.di) AS cp2, max(c2.cost) AS cost2
         |  FROM c2 JOIN b2 ON b2.el = c2.el AND c2.cost = b2.mc GROUP BY 1)
         |SELECT tt.el AS el, CAST(tt.n AS BIGINT) AS n_days,
         |  round(tt.qt - tt.st * tt.st / tt.n, 6) AS sse0,
         |  CAST(t1.cp1 AS INT) AS cp1, round(t1.cost1, 6) AS sse1,
         |  CAST(t2.cp2 AS INT) AS cp2, round(t2.cost2, 6) AS sse2
         |FROM tt JOIN t1 ON t1.el = tt.el JOIN t2 ON t2.el = tt.el
         |ORDER BY el""".stripMargin) { (s, d) =>
      val wc = Window.partitionBy(col("el")).orderBy(col("di"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pf = CausalOps.daily(s, d).select(col("el"), col("di"),
        row_number().over(Window.partitionBy(col("el")).orderBy(col("di")))
          .cast("double").as("r"),
        sum(col("v").cast("decimal(38,12)")).over(wc).cast("double").as("s"),
        sum((col("v") * col("v")).cast("decimal(38,12)")).over(wc)
          .cast("double").as("q"))
      val tt = pf.groupBy("el").agg(max(col("r")).as("n"),
        max_by(col("s"), col("r")).as("st"), max_by(col("q"), col("r")).as("qt"))
      val ttB = broadcast(tt.select(col("el").as("tel"), col("n"), col("st"),
        col("qt")))
      // c1/c2 are persisted before their argmin equality joins: the
      // min+equality self-join otherwise re-derives the cost column on
      // both sides and ANSI mode trips a DIVIDE_BY_ZERO in the
      // re-planned join-condition evaluation (the r<n guard no longer
      // dominates the division). Persisting is also the right plan: one
      // window pass feeds both the min and the tie-break join.
      val c1 = PlanCache.cached(s, s"q430_c1|$d") {
        pf.join(ttB, col("tel") === col("el"))
          .where(col("r") < col("n"))
          .select(col("el"), col("di"), col("r"),
            ((col("q") - col("s") * col("s") / col("r"))
              + ((col("qt") - col("q")) - (col("st") - col("s")) *
                (col("st") - col("s")) / (col("n") - col("r")))).as("cost"))
      }
      val b1 = c1.groupBy("el").agg(min(col("cost")).as("mc"))
      val t1 = c1.join(broadcast(b1.select(col("el").as("bel"), col("mc"))),
          col("bel") === col("el") && col("cost") === col("mc"))
        .groupBy("el").agg(min(col("di")).as("cp1"), min(col("r")).as("r1"),
          max(col("cost")).as("cost1"))
      val p1 = pf.join(broadcast(t1.select(col("el").as("pel"), col("cp1"),
          col("r1"), col("cost1"))),
          col("pel") === col("el") && col("r") === col("r1"))
        .select(col("el").as("qel"), col("s").as("s1"), col("q").as("q1"),
          col("cp1"), col("r1"), col("cost1"))
      val c2 = PlanCache.cached(s, s"q430_c2|$d") {
        pf.join(broadcast(p1), col("qel") === col("el"))
        .join(ttB, col("tel") === col("el"))
        .where(col("r") < col("n") && col("r") =!= col("r1"))
        .select(col("el"), col("di"), col("r"),
          when(col("r") < col("r1"),
            (col("q") - col("s") * col("s") / col("r"))
              + ((col("q1") - col("q")) - (col("s1") - col("s")) *
                (col("s1") - col("s")) / (col("r1") - col("r")))
              + ((col("qt") - col("q1")) - (col("st") - col("s1")) *
                (col("st") - col("s1")) / (col("n") - col("r1"))))
          .otherwise(
            (col("q1") - col("s1") * col("s1") / col("r1"))
              + ((col("q") - col("q1")) - (col("s") - col("s1")) *
                (col("s") - col("s1")) / (col("r") - col("r1")))
              + ((col("qt") - col("q")) - (col("st") - col("s")) *
                (col("st") - col("s")) / (col("n") - col("r")))).as("cost"))
      }
      val b2 = c2.groupBy("el").agg(min(col("cost")).as("mc"))
      val t2 = c2.join(broadcast(b2.select(col("el").as("bel"), col("mc"))),
          col("bel") === col("el") && col("cost") === col("mc"))
        .groupBy("el").agg(min(col("di")).as("cp2"), max(col("cost")).as("cost2"))
      tt.join(t1.select(col("el").as("ae"), col("cp1"), col("cost1")),
          col("ae") === col("el"))
        .join(t2.select(col("el").as("be"), col("cp2"), col("cost2")),
          col("be") === col("el"))
        .select(col("el"), col("n").cast("long").as("n_days"),
          r6(col("qt") - col("st") * col("st") / col("n")).as("sse0"),
          col("cp1").cast("int").as("cp1"), r6(col("cost1")).as("sse1"),
          col("cp2").cast("int").as("cp2"), r6(col("cost2")).as("sse2"))
        .orderBy("el")
    },

    /** Two-component 1-D Gaussian mixture per element on raw event
      * values: moment init (μ ± σ, shared variance, π = ½), three
      * exact EM iterations — responsibilities as column math under an
      * O(P)-row broadcast parameter table, M-step aggregates as exact
      * decimal folds, variance floored at 1e-6. The "is this element's
      * value distribution bimodal" readout; separation d = (μ₂−μ₁)/σ̄
      * is the standard bimodality effect size. Three scans of a
      * PlanCache'd (el, value) projection.
      */
    QueryDef(
      "q431_gmm_em", {
        def step(tag: String, prev: String) =
          s"""g$tag AS (
             |  SELECT e.el, e.v, e.sx, e.sxx, e.n,
             |    p.pi * (exp(-(e.v - p.mu2) * (e.v - p.mu2) / (2.0 * p.s2)) / sqrt(p.s2))
             |    / ((1.0 - p.pi) * (exp(-(e.v - p.mu1) * (e.v - p.mu1) / (2.0 * p.s1)) / sqrt(p.s1))
             |      + p.pi * (exp(-(e.v - p.mu2) * (e.v - p.mu2) / (2.0 * p.s2)) / sqrt(p.s2)))
             |      AS gam
             |  FROM ev e JOIN $prev p ON p.el = e.el),
             |p$tag AS (
             |  SELECT el, max(sx) AS sx, max(sxx) AS sxx, max(n) AS n,
             |    ${dsumSql("gam")} / max(n) AS pi,
             |    (max(sx) - ${dsumSql("gam * v")}) / (max(n) - ${dsumSql("gam")}) AS mu1,
             |    ${dsumSql("gam * v")} / ${dsumSql("gam")} AS mu2,
             |    greatest((max(sxx) - ${dsumSql("gam * v * v")}) / (max(n) - ${dsumSql("gam")})
             |      - ((max(sx) - ${dsumSql("gam * v")}) / (max(n) - ${dsumSql("gam")}))
             |        * ((max(sx) - ${dsumSql("gam * v")}) / (max(n) - ${dsumSql("gam")})), 1e-6) AS s1,
             |    greatest(${dsumSql("gam * v * v")} / ${dsumSql("gam")}
             |      - (${dsumSql("gam * v")} / ${dsumSql("gam")})
             |        * (${dsumSql("gam * v")} / ${dsumSql("gam")}), 1e-6) AS s2
             |  FROM g$tag GROUP BY el)""".stripMargin
        s"""WITH ev0 AS (
           |  SELECT event_type AS el, CAST(value AS DOUBLE) AS v FROM events),
           |mo AS (
           |  SELECT el, ${dsumSql("v")} AS sx, ${dsumSql("v * v")} AS sxx,
           |    CAST(count(*) AS DOUBLE) AS n
           |  FROM ev0 GROUP BY 1),
           |ev AS (
           |  SELECT ev0.el, ev0.v, mo.sx, mo.sxx, mo.n
           |  FROM ev0 JOIN mo ON mo.el = ev0.el),
           |p0 AS (
           |  SELECT el, sx, sxx, n, 0.5 AS pi,
           |    sx / n - sqrt(sxx / n - (sx / n) * (sx / n)) AS mu1,
           |    sx / n + sqrt(sxx / n - (sx / n) * (sx / n)) AS mu2,
           |    sxx / n - (sx / n) * (sx / n) AS s1,
           |    sxx / n - (sx / n) * (sx / n) AS s2
           |  FROM mo),
           |${step("1", "p0")},
           |${step("2", "p1")},
           |${step("3", "p2")}
           |SELECT el, round(pi, 6) AS pi2, round(mu1, 6) AS mu1,
           |  round(mu2, 6) AS mu2, round(sqrt(s1), 6) AS sd1,
           |  round(sqrt(s2), 6) AS sd2,
           |  round((mu2 - mu1) / sqrt((s1 + s2) / 2.0), 6) AS separation
           |FROM p3 ORDER BY el""".stripMargin
      }) { (s, d) =>
      val ev0 = PlanCache.cached(s, s"q431_ev|$d") {
        Tables.events(s, d).select(col("event_type").as("el"),
          col("value").cast("double").as("v"))
      }
      val mo = ev0.groupBy("el").agg(dsum(col("v")).as("sx"),
        dsum(col("v") * col("v")).as("sxx"),
        count(lit(1)).cast("double").as("n"))
      val ev = ev0.join(broadcast(mo), "el")
      val mAvg = col("sx") / col("n")
      val vAvg = col("sxx") / col("n") - mAvg * mAvg
      val p0 = mo.select(col("el"), col("sx"), col("sxx"), col("n"),
        lit(0.5).as("pi"), (mAvg - sqrt(vAvg)).as("mu1"),
        (mAvg + sqrt(vAvg)).as("mu2"), vAvg.as("s1"), vAvg.as("s2"))
      def step(prev: DataFrame): DataFrame = {
        val phi1 = exp(-(col("v") - col("mu1")) * (col("v") - col("mu1")) /
          (lit(2.0) * col("s1"))) / sqrt(col("s1"))
        val phi2 = exp(-(col("v") - col("mu2")) * (col("v") - col("mu2")) /
          (lit(2.0) * col("s2"))) / sqrt(col("s2"))
        val gam = col("pi") * phi2 /
          ((lit(1.0) - col("pi")) * phi1 + col("pi") * phi2)
        val g = ev.join(broadcast(prev.select(col("el").as("pel"), col("pi"),
            col("mu1"), col("mu2"), col("s1"), col("s2"))),
            col("pel") === col("el"))
          .select(col("el"), col("v"), col("sx"), col("sxx"), col("n"),
            gam.as("gam"))
        val sg = dsum(col("gam"))
        val sgx = dsum(col("gam") * col("v"))
        val sgxx = dsum(col("gam") * col("v") * col("v"))
        val mu1 = (max(col("sx")) - sgx) / (max(col("n")) - sg)
        val mu2 = sgx / sg
        g.groupBy("el").agg(
          max(col("sx")).as("sx"), max(col("sxx")).as("sxx"),
          max(col("n")).as("n"),
          (sg / max(col("n"))).as("pi"), mu1.as("mu1"), mu2.as("mu2"),
          greatest((max(col("sxx")) - sgxx) / (max(col("n")) - sg) - mu1 * mu1,
            lit(1e-6)).as("s1"),
          greatest(sgxx / sg - mu2 * mu2, lit(1e-6)).as("s2"))
      }
      val p3 = step(step(step(p0)))
      p3.select(col("el"), r6(col("pi")).as("pi2"), r6(col("mu1")).as("mu1"),
          r6(col("mu2")).as("mu2"), r6(sqrt(col("s1"))).as("sd1"),
          r6(sqrt(col("s2"))).as("sd2"),
          r6((col("mu2") - col("mu1")) /
            sqrt((col("s1") + col("s2")) / lit(2.0))).as("separation"))
        .orderBy("el")
    },

    /** Empirical upper-tail dependence per element pair: pseudo-
      * observations u = ECDF(v) per element on the daily grid
      * (cume_dist), joint exceedance P(Uᵢ > u₀, Uⱼ > u₀)/(1−u₀) at
      * u₀ ∈ {0.7, 0.8, 0.9} — the copula λ_U estimator: do the two
      * elements crash/spike TOGETHER more than their correlation says.
      * Day-matched pair join on the bounded grid.
      */
    QueryDef(
      "q432_tail_dependence",
      s"""WITH ${CausalOps.dailySql},
         |u AS (
         |  SELECT el, di, cume_dist() OVER (PARTITION BY el ORDER BY v) AS u
         |  FROM daily),
         |pr AS (
         |  SELECT a.el AS eli, b.el AS elj, a.di, a.u AS ui, b.u AS uj
         |  FROM u a JOIN u b ON b.di = a.di AND a.el < b.el),
         |th AS (SELECT unnest([0.7, 0.8, 0.9]) AS u0)
         |SELECT eli, elj, u0,
         |  CAST(count_if(ui > u0 AND uj > u0) AS BIGINT) AS n_joint,
         |  CAST(count(*) AS BIGINT) AS n_days,
         |  round((CAST(count_if(ui > u0 AND uj > u0) AS DOUBLE) / count(*))
         |    / (1.0 - u0), 6) AS lambda_u
         |FROM pr CROSS JOIN th
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin) { (s, d) =>
      val g = CausalOps.daily(s, d)
      val u = g.select(col("el"), col("di"),
        cume_dist().over(Window.partitionBy(col("el")).orderBy(col("v"))).as("u"))
      val a = u.select(col("el").as("eli"), col("di"), col("u").as("ui"))
      val b = u.select(col("el").as("elj"), col("di").as("dj"), col("u").as("uj"))
      val th = s.range(1)
        .select(explode(array(lit(0.7), lit(0.8), lit(0.9))).as("u0"))
      a.join(b, col("dj") === col("di") && col("eli") < col("elj"))
        .crossJoin(broadcast(th))
        .groupBy("eli", "elj", "u0").agg(
          count_if(col("ui") > col("u0") && col("uj") > col("u0"))
            .cast("long").as("n_joint"),
          count(lit(1)).cast("long").as("n_days"),
          r6((count_if(col("ui") > col("u0") && col("uj") > col("u0"))
            .cast("double") / count(lit(1))) / (lit(1.0) - col("u0")))
            .as("lambda_u"))
        .orderBy("eli", "elj", "u0")
    }
  )
}
