package graft.operators

import graft.{PlanCache, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-19 batch: survival-curve extensions and the two-sample
  * distribution-comparison family —
  *
  *  - q402 Breslow baseline cumulative hazard / survival at the fitted
  *    Cox β (the curve q384's scalar fit implies);
  *  - q403 restricted mean survival time from the Kaplan–Meier curve —
  *    the clinically-preferred effect scale when hazards are not
  *    proportional;
  *  - q404 seasonal Mann–Kendall (Hirsch & Slack 1984) — q399 made
  *    season-proof;
  *  - q405 two-sample Anderson–Darling (Scholz–Stephens 1987 discrete
  *    form), q406 energy distance (Székely–Rizzo 2004) by exact
  *    gap-counting, and q407 Cramér–von Mises — all three on the same
  *    shared cumulative histogram grid as q273/q274, completing the
  *    location(U)/sup(KS)/tail(AD)/integrated(CvM)/metric(energy)
  *    two-sample family.
  *
  * All hash-verified against DuckDB on the same parquet tables.
  */
object Round19Ops {
  private def r6(c: Column) = round(c, 6)
  private def dsum(c: Column): Column = sum(c.cast("decimal(38,12)")).cast("double")
  private def dsumSql(x: String) = s"CAST(sum(CAST($x AS DECIMAL(38,12))) AS DOUBLE)"

  /** The q384 Cox subject table (user_id, t, ev, x), one PlanCache
    * entry per session shared by q384 and q402.
    */
  private[operators] def coxDur(s: SparkSession, d: String): DataFrame =
    PlanCache.cached(s, s"q384_dur|$d") {
      val ev = Tables.events(s, d).select(col("user_id"), col("event_type"),
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")).as("di"))
      val h = ev.agg(max(col("di")).as("hh"))
      val st = ev.where(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("di")).as("t0"))
      val p1 = ev.where(col("event_type") === "purchase")
        .join(st, "user_id").where(col("di") >= col("t0"))
        .groupBy(col("user_id").as("pu")).agg(min(col("di")).as("t1"))
      val xc = ev.where(col("event_type") === "click")
        .groupBy(col("user_id").as("xu")).agg(count(lit(1)).as("nc"))
      st.join(p1, col("pu") === col("user_id"), "left")
        .join(xc, col("xu") === col("user_id"), "left")
        .crossJoin(h)
        .select(col("user_id"),
          when(col("t1").isNull, col("hh") - col("t0"))
            .otherwise(col("t1") - col("t0")).as("t"),
          when(col("t1").isNull, 0).otherwise(1).as("ev"),
          coalesce(col("nc"), lit(0L)).cast("double").as("x"))
    }

  /** One Cox Newton pass at the 1-row β table → 1-row (u, i): the
    * decimal folds into the unique-time grid, the suffix risk windows
    * and the score/information sums. Shared by q384 and q402.
    */
  private[operators] def coxPass(dur: DataFrame, bDf: DataFrame): DataFrame = {
    // suffix risk windows over the bounded (≤ horizon+1 row) time grid
    val wSuf = Window.orderBy("t").rowsBetween(Window.currentRow, Window.unboundedFollowing)
    def dsumW(c: Column): Column = sum(c.cast("decimal(38,12)")).over(wSuf).cast("double")
    val g = dur.crossJoin(broadcast(bDf)).groupBy("t").agg(
      dsum(col("ev")).as("d"), dsum(col("ev") * col("x")).as("sxd"),
      dsum(exp(col("b") * col("x"))).as("e0"),
      dsum(col("x") * exp(col("b") * col("x"))).as("e1"),
      dsum(col("x") * col("x") * exp(col("b") * col("x"))).as("e2"))
    val rk = g.select(col("t"), col("d"), col("sxd"),
      dsumW(col("e0")).as("s0"), dsumW(col("e1")).as("s1"), dsumW(col("e2")).as("s2"))
    rk.where(col("d") > 0).agg(
      dsum(col("sxd") - col("d") * (col("s1") / col("s0"))).as("u"),
      dsum(col("d") * ((col("s2") / col("s0")) -
        (col("s1") / col("s0")) * (col("s1") / col("s0")))).as("i"))
  }

  /** The two Newton steps from β = 0 → the 1-row β tables (b1, b2).
    * Shared by q384 and q402.
    */
  private[operators] def coxFit(s: SparkSession, dur: DataFrame): (DataFrame, DataFrame) = {
    val b0 = s.range(1).select(lit(0.0).as("b"))
    val ui0 = coxPass(dur, b0)
    val b1 = b0.crossJoin(broadcast(ui0))
      .select((col("b") + col("u") / col("i")).as("b")).localCheckpoint(true)
    val ui1 = coxPass(dur, b1)
    val b2 = b1.crossJoin(broadcast(ui1))
      .select((col("b") + col("u") / col("i")).as("b")).localCheckpoint(true)
    (b1, b2)
  }

  /** Oracle of [[coxPass]] at the β held in CTE `bIn` → 1-row (u, i) CTE
    * `ui<tag>`. */
  private[operators] def coxPassSql(tag: String, bIn: String) =
    s"""g$tag AS (
       |  SELECT t, ${dsumSql("ev")} AS d, ${dsumSql("ev*x")} AS sxd,
       |    ${dsumSql(s"exp(($bIn.b)*x)")} AS e0,
       |    ${dsumSql(s"x*exp(($bIn.b)*x)")} AS e1,
       |    ${dsumSql(s"x*x*exp(($bIn.b)*x)")} AS e2
       |  FROM dur CROSS JOIN $bIn GROUP BY 1),
       |r$tag AS (
       |  SELECT t, d, sxd,
       |    CAST(sum(CAST(e0 AS DECIMAL(38,12))) OVER (ORDER BY t
       |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS DOUBLE) AS s0,
       |    CAST(sum(CAST(e1 AS DECIMAL(38,12))) OVER (ORDER BY t
       |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS DOUBLE) AS s1,
       |    CAST(sum(CAST(e2 AS DECIMAL(38,12))) OVER (ORDER BY t
       |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS DOUBLE) AS s2
       |  FROM g$tag),
       |ui$tag AS (
       |  SELECT ${dsumSql("sxd - d*(s1/s0)")} AS u,
       |    ${dsumSql("d*((s2/s0) - (s1/s0)*(s1/s0))")} AS i
       |  FROM r$tag WHERE d > 0)""".stripMargin

  /** Signup day t0 and first purchase day t1 per user (`di`, `h`, `s0`,
    * `p1`): the Cox fit and q403. */
  private val signupSql =
    s"""${InferenceOps.eventDaysSql},
       |s0 AS (SELECT user_id, min(di) AS t0 FROM di
       |  WHERE event_type = 'signup' GROUP BY 1),
       |${InferenceOps.firstPurchaseSql}""".stripMargin

  /** Oracle of [[coxDur]] and [[coxFit]]: the CTE chain through the
    * step-2 β (b2), shared by the q384 and q402 oracles.
    */
  private[operators] val coxSqlThroughB2: String =
    s"""$signupSql,
       |xc AS (SELECT user_id, count(*) AS nc FROM di
       |  WHERE event_type = 'click' GROUP BY 1),
       |dur AS MATERIALIZED (
       |  SELECT s0.user_id,
       |    CASE WHEN p1.t1 IS NULL THEN h.hh - s0.t0 ELSE p1.t1 - s0.t0 END AS t,
       |    CASE WHEN p1.t1 IS NULL THEN 0 ELSE 1 END AS ev,
       |    CAST(coalesce(xc.nc, 0) AS DOUBLE) AS x
       |  FROM s0 LEFT JOIN p1 ON p1.user_id = s0.user_id
       |  LEFT JOIN xc ON xc.user_id = s0.user_id CROSS JOIN h),
       |b0 AS (SELECT CAST(0 AS DOUBLE) AS b),
       |${coxPassSql("0", "b0")},
       |b1 AS (SELECT b + (SELECT u/i FROM ui0) AS b FROM b0),
       |${coxPassSql("1", "b1")},
       |b2 AS (SELECT b + (SELECT u/i FROM ui1) AS b FROM b1)""".stripMargin

  /** Shared two-sample pair grid over the cumulative histogram: one row
    * per (src < dst element pair, distinct pooled value) with
    * inclusive cumulatives and per-pair totals.
    */
  private val pairGridSql: String =
    s"""pg AS (
       |  SELECT a.el AS src, b.el AS dst, a.v,
       |    a.cnt AS ca, a.cl + a.cnt AS ma, b.cnt AS cb, b.cl + b.cnt AS mb
       |  FROM grid a JOIN grid b ON b.v = a.v AND a.el < b.el
       |  WHERE a.cnt + b.cnt > 0),
       |tot AS (
       |  SELECT src, dst, max(ma) AS na, max(mb) AS nb FROM pg GROUP BY 1, 2)"""
      .stripMargin

  private def pairGrid(s: SparkSession, d: String): DataFrame =
    // PlanCache (round 17): q405/q406/q407 each re-derived the same
    // guarded O(V·P²) pair grid (cumGrid self-join on the value key);
    // one materialization per (session, dir) serves all three.
    graft.PlanCache.cached(s, s"inference_pairgrid|$d") {
      val g = InferenceOps.cumGrid(s, d)
      val a = g.select(col("el").as("src"), col("v"), col("cnt").as("ca"),
        (col("cl") + col("cnt")).as("ma"))
      val b = g.select(col("el").as("dst"), col("v").as("vb"), col("cnt").as("cb"),
        (col("cl") + col("cnt")).as("mb"))
      a.join(b, col("vb") === col("v") && col("src") < col("dst"))
        .where(col("ca") + col("cb") > 0)
        .select(col("src"), col("dst"), col("v"), col("ca"), col("ma"),
          col("cb"), col("mb"))
    }

  val defs: Seq[QueryDef] = Seq(

    /** Breslow (1972) baseline cumulative hazard and survival at the
      * q384-fitted Cox β: H₀(t) = Σ_{tᵢ ≤ t} dᵢ/S₀(β, tᵢ),
      * S₀(t) = exp(−H₀(t)) — the CURVE the scalar hazard ratio implies,
      * i.e. what q277's Kaplan–Meier becomes once the covariate is
      * modeled. Reuses q384's subject table (same PlanCache entry) and
      * refits the same two Newton steps, then one more per-time pass at
      * β̂: the increment d/S₀, its running decimal sum, and the
      * baseline survival per event time.
      *
      * Scale shape: identical to q384 — subject-grain scans into the
      * horizon-bounded unique-time grid; the cumulative is a prefix
      * window over ≤31 rows.
      */
    QueryDef(
      "q402_breslow_baseline",
      s"""WITH ${coxSqlThroughB2},
         |gf AS (
         |  SELECT t, ${dsumSql("ev")} AS d,
         |    ${dsumSql("exp((b2.b)*x)")} AS e0
         |  FROM dur CROSS JOIN b2 GROUP BY 1),
         |rf AS (
         |  SELECT t, d,
         |    CAST(sum(CAST(e0 AS DECIMAL(38,12))) OVER (ORDER BY t
         |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS DOUBLE) AS s0
         |  FROM gf),
         |hz AS (
         |  SELECT t, d, s0, d/s0 AS hinc,
         |    CAST(sum(CAST(d/s0 AS DECIMAL(38,12))) OVER (ORDER BY t
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS ch
         |  FROM rf WHERE d > 0)
         |SELECT CAST(t AS INT) AS duration_days, CAST(d AS BIGINT) AS n_events,
         |  round(hinc, 6) AS hazard_increment,
         |  round(ch, 6) AS cum_hazard,
         |  round(exp(-ch), 6) AS baseline_survival,
         |  round((SELECT b FROM b2), 6) AS beta
         |FROM hz ORDER BY duration_days""".stripMargin) { (s, d) =>
      val dur = coxDur(s, d)
      val (_, b2) = coxFit(s, dur)
      val gf = dur.crossJoin(broadcast(b2)).groupBy("t").agg(
        dsum(col("ev")).as("d"), dsum(exp(col("b") * col("x"))).as("e0"))
      val wSuf = Window.orderBy("t").rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val wPre = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val rf = gf.select(col("t"), col("d"),
        sum(col("e0").cast("decimal(38,12)")).over(wSuf).cast("double").as("s0"))
      val hz = rf.where(col("d") > 0).select(col("t"), col("d"), col("s0"),
        (col("d") / col("s0")).as("hinc"),
        sum((col("d") / col("s0")).cast("decimal(38,12)")).over(wPre)
          .cast("double").as("ch"))
      hz.crossJoin(broadcast(b2))
        .select(col("t").cast("int").as("duration_days"),
          col("d").cast("long").as("n_events"),
          r6(col("hinc")).as("hazard_increment"), r6(col("ch")).as("cum_hazard"),
          r6(exp(-col("ch"))).as("baseline_survival"), r6(col("b")).as("beta"))
        .orderBy("duration_days")
    },

    /** Restricted mean survival time (Royston & Parmar 2013 as the
      * modern reference; the estimator is the area under Kaplan–Meier
      * up to τ) at τ ∈ {10, 21} days — the effect scale clinical
      * guidance prefers when the proportional-hazards assumption behind
      * q384 fails: "expected days survived in the first τ". Exact
      * step-function integration of q277's KM curve: per event time,
      * the PREVIOUS survival level spans [t_{i−1}, t_i), plus the tail
      * term after the last event — lag windows over the bounded time
      * grid, decimal area folds.
      *
      * Scale shape: everything after the q277-shaped duration aggregate
      * is ≤31-row grid math; the two τ's are a literal broadcast.
      */
    QueryDef(
      "q403_rmst",
      s"""WITH $signupSql,
         |dur AS (
         |  SELECT CASE WHEN p1.t1 IS NULL THEN h.hh - s0.t0 ELSE p1.t1 - s0.t0 END AS t,
         |    CASE WHEN p1.t1 IS NULL THEN 0 ELSE 1 END AS ev
         |  FROM s0 LEFT JOIN p1 ON p1.user_id = s0.user_id CROSS JOIN h),
         |${InferenceOps.kmSql},
         |ks AS (
         |  SELECT t, CASE WHEN dead = 1 THEN CAST(0 AS DOUBLE) ELSE surv END AS sv,
         |    lag(CASE WHEN dead = 1 THEN CAST(0 AS DOUBLE) ELSE surv END,
         |      1, CAST(1 AS DOUBLE)) OVER (ORDER BY t) AS sprev,
         |    lag(t, 1, 0) OVER (ORDER BY t) AS tprev
         |  FROM km),
         |taus AS (SELECT CAST(tau AS DOUBLE) AS tau FROM (VALUES (10), (21)) z(tau)),
         |area AS (
         |  SELECT tau,
         |    ${dsumSql("sprev * (least(CAST(t AS DOUBLE), tau) - least(CAST(tprev AS DOUBLE), tau))")} AS body,
         |    max(t) AS tlast,
         |    max_by(sv, t) AS slast,
         |    count(*) AS nev
         |  FROM ks CROSS JOIN taus GROUP BY 1)
         |SELECT CAST(tau AS INT) AS tau,
         |  round(body + slast * greatest(tau - CAST(tlast AS DOUBLE), CAST(0 AS DOUBLE)), 6) AS rmst,
         |  CAST(nev AS BIGINT) AS n_event_times
         |FROM area ORDER BY tau""".stripMargin) { (s, d) =>
      val km = InferenceOps.kmCurve(coxDur(s, d).select(col("t"), col("ev")))
      val sv = when(col("dead") === 1, lit(0.0)).otherwise(col("surv"))
      val wLag = Window.orderBy(col("t"))
      val ks = km.select(col("t"), sv.as("sv"),
        lag(sv, 1, 1.0).over(wLag).as("sprev"),
        lag(col("t"), 1, 0).over(wLag).as("tprev"))
      val taus = s.range(1).select(explode(array(lit(10.0), lit(21.0))).as("tau"))
      val area = ks.crossJoin(broadcast(taus)).groupBy("tau").agg(
        dsum(col("sprev") * (least(col("t").cast("double"), col("tau")) -
          least(col("tprev").cast("double"), col("tau")))).as("body"),
        max(col("t")).as("tlast"),
        max_by(col("sv"), col("t")).as("slast"),
        count(lit(1)).as("nev"))
      area.select(col("tau").cast("int").as("tau"),
          r6(col("body") + col("slast") *
            greatest(col("tau") - col("tlast").cast("double"), lit(0.0))).as("rmst"),
          col("nev").cast("long").as("n_event_times"))
        .orderBy("tau")
    },

    /** Seasonal Mann–Kendall (Hirsch & Slack 1984, independent-seasons
      * form): q399's trend test computed WITHIN each weekday
      * (season = di mod 7) and summed — S = Σ_w S_w,
      * Var = Σ_w Var_w(tie-corrected) — so a strong weekly cycle
      * cannot masquerade as (or mask) a monotone trend; the standard
      * hydrology fix applied to the shared daily grid. All counts stay
      * exact integers per season.
      *
      * Scale shape: the within-season pair join is O(P·7·(T/7)²) on
      * the bounded grid — 7× cheaper than q399's full pair join.
      */
    QueryDef(
      "q404_seasonal_mk",
      s"""WITH ${CausalOps.dailySql},
         |sg AS (SELECT el, di, di % 7 AS season, v FROM daily),
         |pp AS (
         |  SELECT a.el, a.season, sum(CASE WHEN b.v > a.v THEN 1
         |    WHEN b.v < a.v THEN -1 ELSE 0 END) AS s
         |  FROM sg a JOIN sg b ON b.el = a.el AND b.season = a.season AND b.di > a.di
         |  GROUP BY 1, 2),
         |ntw AS (SELECT el, season, count(*) AS t FROM sg GROUP BY 1, 2),
         |ties AS (
         |  SELECT el, season, coalesce(sum(tc*(tc - 1)*(2*tc + 5)), 0) AS tcorr
         |  FROM (SELECT el, season, v, count(*) AS tc FROM sg GROUP BY 1, 2, 3)
         |  WHERE tc > 1 GROUP BY 1, 2),
         |pw AS (
         |  SELECT pp.el, pp.s,
         |    (CAST(ntw.t AS DOUBLE)*(ntw.t - 1)*(2*ntw.t + 5)
         |      - coalesce(ties.tcorr, 0)) / CAST(18 AS DOUBLE) AS vs
         |  FROM pp JOIN ntw ON ntw.el = pp.el AND ntw.season = pp.season
         |  LEFT JOIN ties ON ties.el = pp.el AND ties.season = pp.season),
         |ag AS (
         |  SELECT el, sum(s) AS s, count(*) AS n_seasons, ${dsumSql("vs")} AS vs
         |  FROM pw GROUP BY 1)
         |SELECT el, CAST(n_seasons AS INT) AS n_seasons, CAST(s AS BIGINT) AS s_stat,
         |  round(vs, 6) AS var_s,
         |  round(CASE WHEN s > 0 THEN (s - 1)/sqrt(vs)
         |    WHEN s < 0 THEN (s + 1)/sqrt(vs)
         |    ELSE CAST(0 AS DOUBLE) END, 6) AS z
         |FROM ag ORDER BY el""".stripMargin) { (s, d) =>
      val g = CausalOps.daily(s, d).select(col("el"), col("di"),
        (col("di") % 7).as("season"), col("v"))
      val b = g.select(col("el").as("elb"), col("di").as("dib"),
        col("season").as("seb"), col("v").as("vb"))
      val pp = g.join(b, col("elb") === col("el") && col("seb") === col("season") &&
          col("dib") > col("di"))
        .groupBy("el", "season").agg(
          sum(when(col("vb") > col("v"), 1)
            .when(col("vb") < col("v"), -1).otherwise(0)).as("s"))
      val ntw = g.groupBy("el", "season").agg(count(lit(1)).as("t"))
      val ties = g.groupBy("el", "season", "v").agg(count(lit(1)).as("tc"))
        .where(col("tc") > 1)
        .groupBy("el", "season").agg(coalesce(sum(col("tc") * (col("tc") - 1) *
          (lit(2) * col("tc") + 5)), lit(0L)).as("tcorr"))
      val pw = pp.join(ntw, Seq("el", "season"))
        .join(ties, Seq("el", "season"), "left")
        .select(col("el"), col("s"),
          ((col("t").cast("double") * (col("t") - 1) * (lit(2) * col("t") + 5) -
            coalesce(col("tcorr"), lit(0L))) / lit(18.0)).as("vs"))
      val ag = pw.groupBy("el").agg(sum(col("s")).as("s"),
        count(lit(1)).as("n_seasons"), dsum(col("vs")).as("vs"))
      ag.select(col("el"), col("n_seasons").cast("int").as("n_seasons"),
          col("s").cast("long").as("s_stat"), r6(col("vs")).as("var_s"),
          r6(when(col("s") > 0, (col("s") - 1) / sqrt(col("vs")))
            .when(col("s") < 0, (col("s") + 1) / sqrt(col("vs")))
            .otherwise(lit(0.0))).as("z"))
        .orderBy("el")
    },

    /** Two-sample Anderson–Darling statistic per element pair, in the
      * Scholz–Stephens (1987) right-continuous discrete form:
      * A² = (1/N)·Σ_a (1/n_a)·Σ_{j: B_j<N} l_j·(N·M_aj − n_a·B_j)² /
      * (B_j·(N−B_j)) — the TAIL-sensitive member of the two-sample
      * family (q273 tests location, q274 the sup-distance, q407 the
      * integrated square): the (B(N−B))⁻¹ weight blows up in the tails
      * exactly where KS underweights. Every numerator is an exact
      * integer in both engines; only the per-value ratio and fold are
      * float.
      *
      * Scale shape: one pass over the shared q273/q274 cumulative
      * histogram pair grid (guarded O(V·P²)); per-pair scalar output.
      */
    QueryDef(
      "q405_anderson_darling",
      s"""WITH ${InferenceOps.cumGridSql},
         |$pairGridSql,
         |tm AS (
         |  SELECT pg.src, pg.dst, tot.na, tot.nb,
         |    ${dsumSql("CASE WHEN pg.ma + pg.mb < tot.na + tot.nb THEN (pg.ca + pg.cb) * CAST(((tot.na + tot.nb)*pg.ma - tot.na*(pg.ma + pg.mb)) AS DOUBLE) * (((tot.na + tot.nb)*pg.ma - tot.na*(pg.ma + pg.mb))) / (CAST((pg.ma + pg.mb) AS DOUBLE) * ((tot.na + tot.nb) - (pg.ma + pg.mb))) END")} AS ta,
         |    ${dsumSql("CASE WHEN pg.ma + pg.mb < tot.na + tot.nb THEN (pg.ca + pg.cb) * CAST(((tot.na + tot.nb)*pg.mb - tot.nb*(pg.ma + pg.mb)) AS DOUBLE) * (((tot.na + tot.nb)*pg.mb - tot.nb*(pg.ma + pg.mb))) / (CAST((pg.ma + pg.mb) AS DOUBLE) * ((tot.na + tot.nb) - (pg.ma + pg.mb))) END")} AS tb
         |  FROM pg JOIN tot ON tot.src = pg.src AND tot.dst = pg.dst
         |  GROUP BY 1, 2, 3, 4)
         |SELECT src, dst, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
         |  round((ta/na + tb/nb) / (na + nb), 6) AS ad_stat
         |FROM tm ORDER BY src, dst""".stripMargin) { (s, d) =>
      InferenceOps.guardElements(s, d, "q405_anderson_darling")
      val pg = pairGrid(s, d)
      val tot = pg.groupBy("src", "dst")
        .agg(max(col("ma")).as("na"), max(col("mb")).as("nb"))
      val j = pg.join(tot, Seq("src", "dst"))
      val nN = col("na") + col("nb")
      val bj = col("ma") + col("mb")
      val l = col("ca") + col("cb")
      def term(mCol: Column, nCol: Column): Column = {
        val num = nN * mCol - nCol * bj
        when(bj < nN,
          l * num.cast("double") * num / (bj.cast("double") * (nN - bj)))
      }
      val tm = j.groupBy(col("src"), col("dst"), col("na"), col("nb"))
        .agg(dsum(term(col("ma"), col("na"))).as("ta"),
          dsum(term(col("mb"), col("nb"))).as("tb"))
      tm.select(col("src"), col("dst"),
          col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
          r6((col("ta") / col("na") + col("tb") / col("nb")) /
            (col("na") + col("nb"))).as("ad_stat"))
        .orderBy("src", "dst")
    },

    /** Energy distance between element value distributions (Székely &
      * Rizzo 2004): D² = 2·E|X−Y| − E|X−X′| − E|Y−Y′|, computed EXACTLY
      * by gap counting — between consecutive distinct pooled values,
      * every cross pair straddling the gap contributes its width:
      * Σᵢⱼ|xᵢ−yⱼ| = Σ_gaps gap·(Mₐ(n_b−M_b) + M_b(nₐ−Mₐ)) — integer
      * straddle counts × exact value gaps, no O(n²) pair join anywhere.
      * The METRIC member of the two-sample family: zero iff the
      * distributions are equal, characteristic-function-based, and the
      * T = (nm/N)·D² statistic is the permutation-test effect size.
      *
      * Scale shape: one lead-window over the per-pair value grid
      * (partitioned by pair — never global), three straddle folds.
      */
    QueryDef(
      "q406_energy_distance",
      s"""WITH ${InferenceOps.cumGridSql},
         |$pairGridSql,
         |gp AS (
         |  SELECT pg.src, pg.dst, tot.na, tot.nb, pg.ma, pg.mb,
         |    lead(pg.v) OVER (PARTITION BY pg.src, pg.dst ORDER BY pg.v) - pg.v AS gap
         |  FROM pg JOIN tot ON tot.src = pg.src AND tot.dst = pg.dst),
         |sm AS (
         |  SELECT src, dst, na, nb,
         |    ${dsumSql("gap * CAST(ma*(nb - mb) + mb*(na - ma) AS DOUBLE)")} AS sxy,
         |    ${dsumSql("gap * CAST(2*ma*(na - ma) AS DOUBLE)")} AS sxx,
         |    ${dsumSql("gap * CAST(2*mb*(nb - mb) AS DOUBLE)")} AS syy
         |  FROM gp WHERE gap IS NOT NULL GROUP BY 1, 2, 3, 4)
         |SELECT src, dst, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
         |  round(2*sxy/(CAST(na AS DOUBLE)*nb) - sxx/(CAST(na AS DOUBLE)*na)
         |    - syy/(CAST(nb AS DOUBLE)*nb), 6) AS energy_dist_sq,
         |  round((CAST(na AS DOUBLE)*nb/(na + nb)) *
         |    (2*sxy/(CAST(na AS DOUBLE)*nb) - sxx/(CAST(na AS DOUBLE)*na)
         |      - syy/(CAST(nb AS DOUBLE)*nb)), 6) AS t_stat
         |FROM sm ORDER BY src, dst""".stripMargin) { (s, d) =>
      InferenceOps.guardElements(s, d, "q406_energy_distance")
      val pg = pairGrid(s, d)
      val tot = pg.groupBy("src", "dst")
        .agg(max(col("ma")).as("na"), max(col("mb")).as("nb"))
      val wLead = Window.partitionBy("src", "dst").orderBy("v")
      val gp = pg.join(tot, Seq("src", "dst"))
        .select(col("src"), col("dst"), col("na"), col("nb"), col("ma"), col("mb"),
          (lead(col("v"), 1).over(wLead) - col("v")).as("gap"))
      val sm = gp.where(col("gap").isNotNull)
        .groupBy("src", "dst", "na", "nb").agg(
          dsum(col("gap") * (col("ma") * (col("nb") - col("mb")) +
            col("mb") * (col("na") - col("ma"))).cast("double")).as("sxy"),
          dsum(col("gap") * (lit(2) * col("ma") * (col("na") - col("ma")))
            .cast("double")).as("sxx"),
          dsum(col("gap") * (lit(2) * col("mb") * (col("nb") - col("mb")))
            .cast("double")).as("syy"))
      val d2 = lit(2) * col("sxy") / (col("na").cast("double") * col("nb")) -
        col("sxx") / (col("na").cast("double") * col("na")) -
        col("syy") / (col("nb").cast("double") * col("nb"))
      sm.select(col("src"), col("dst"),
          col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
          r6(d2).as("energy_dist_sq"),
          r6((col("na").cast("double") * col("nb") / (col("na") + col("nb"))) * d2)
            .as("t_stat"))
        .orderBy("src", "dst")
    },

    /** Two-sample Cramér–von Mises statistic per element pair, in the
      * right-continuous discrete form T = (n·m/N²)·Σ_j l_j·(F_aj −
      * F_bj)² — the INTEGRATED squared ECDF distance completing the
      * family: q274's KS reacts to the single worst point, this to the
      * whole curve. ECDF values are exact integer-count ratios at every
      * distinct pooled value.
      *
      * Scale shape: one fold over the shared pair grid; per-pair scalar.
      */
    QueryDef(
      "q407_cramer_von_mises",
      s"""WITH ${InferenceOps.cumGridSql},
         |$pairGridSql,
         |sm AS (
         |  SELECT pg.src, pg.dst, tot.na, tot.nb,
         |    ${dsumSql("(pg.ca + pg.cb) * (CAST(pg.ma AS DOUBLE)/tot.na - CAST(pg.mb AS DOUBLE)/tot.nb) * (CAST(pg.ma AS DOUBLE)/tot.na - CAST(pg.mb AS DOUBLE)/tot.nb)")} AS s2
         |  FROM pg JOIN tot ON tot.src = pg.src AND tot.dst = pg.dst
         |  GROUP BY 1, 2, 3, 4)
         |SELECT src, dst, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
         |  round((CAST(na AS DOUBLE)*nb/(CAST(na + nb AS DOUBLE)*(na + nb))) * s2, 6) AS cvm_stat
         |FROM sm ORDER BY src, dst""".stripMargin) { (s, d) =>
      InferenceOps.guardElements(s, d, "q407_cramer_von_mises")
      val pg = pairGrid(s, d)
      val tot = pg.groupBy("src", "dst")
        .agg(max(col("ma")).as("na"), max(col("mb")).as("nb"))
      val fDiff = col("ma").cast("double") / col("na") -
        col("mb").cast("double") / col("nb")
      val sm = pg.join(tot, Seq("src", "dst"))
        .groupBy("src", "dst", "na", "nb")
        .agg(dsum((col("ca") + col("cb")) * fDiff * fDiff).as("s2"))
      sm.select(col("src"), col("dst"),
          col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
          r6((col("na").cast("double") * col("nb") /
            ((col("na") + col("nb")).cast("double") * (col("na") + col("nb")))) *
            col("s2")).as("cvm_stat"))
        .orderBy("src", "dst")
    }
  )
}
