package graft.operators

import graft.{PlanCache, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 batch 4: classical hypothesis-test statistics, shaped for
  * scale — the inference layer a user runs over the causal family's
  * evidence (is the association real? did the value DISTRIBUTION shift,
  * not just the mean q163 tests?).
  *
  *  - q272: chi-square independence of element activity vs day-of-week
  *    (categorical contingency + Cramér's V effect size).
  *  - q273: Mann-Whitney U between every element pair's value
  *    distributions — computed on the per-(element, value) HISTOGRAM
  *    with closed-form average-rank and tie-corrected variance, never a
  *    per-pair re-ranking of raw rows.
  *  - q274: two-sample Kolmogorov-Smirnov statistic per element pair,
  *    from the same cumulative histogram grid.
  *
  * Scale shape shared by q273/q274: ONE aggregate reduces raw events to
  * the (element, value) count histogram — O(P·V) rows however many raw
  * events — then a value-ordered window per element yields cumulative
  * counts, and every pairwise statistic is column math over the
  * value-keyed pair join: O(V·P²) bounded rows, guarded loudly by
  * [[MaxInferenceElements]]. Counts are exact longs; the only doubles
  * are final closed-form expressions written identically on both
  * engines; decimal sums for the rank accumulations.
  */
object InferenceOps {
  private def r6(c: Column) = round(c, 6)
  private def dsum(c: Column): Column = sum(c.cast("decimal(38,12)")).cast("double")

  /** Loud ceiling for the O(V·P²) pair grids (q273/q274). */
  private[graft] val MaxInferenceElements = 64L

  /** The per-(element, value) count histogram — the ONE reduction of the
    * fact table the whole q273/q274 family runs on. PlanCached per
    * (session, dir): the guard, the value/element domains, and the
    * cumulative grid all derive from these O(P·V) rows, so the 100 TB
    * fact table is scanned exactly once however many inference queries
    * run (the causal daily-grid discipline).
    */
  private def hist(s: SparkSession, d: String): DataFrame =
    PlanCache.cached(s, s"inference_ht|$d") {
      Tables.events(s, d)
        .groupBy(col("event_type").as("hel"), col("value").as("hv"))
        .agg(count(lit(1)).as("hcnt"))
    }

  /** Per user: the q163 ':ab1' hash arm (A/B) and whether any purchase
    * exceeded 250 (`conv`): q303 and q305. */
  private val abConvSql =
    """conv AS (
      |  SELECT user_id,
      |    CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':ab1'), 1, 15))::BIGINT % 2 = 0
      |         THEN 'A' ELSE 'B' END AS variant,
      |    max(CASE WHEN event_type = 'purchase' AND value > 250 THEN 1 ELSE 0 END) AS y
      |  FROM events GROUP BY 1)""".stripMargin

  /** Day-indexed events (`di`) and the horizon day (`h`): the oracle
    * head of the signup → first-purchase duration family. */
  private[operators] val eventDaysSql =
    """di AS (
      |  SELECT user_id, event_type,
      |    datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS di
      |  FROM events),
      |h AS (SELECT max(di) AS hh FROM di)""".stripMargin

  /** First purchase day on or after signup per user (`p1`), after
    * [[eventDaysSql]] and an `s0` (user_id, t0) CTE. */
  private[operators] val firstPurchaseSql =
    """p1 AS (
      |  SELECT d.user_id, min(d.di) AS t1
      |  FROM di d JOIN s0 ON s0.user_id = d.user_id
      |  WHERE d.event_type = 'purchase' AND d.di >= s0.t0 GROUP BY 1)""".stripMargin

  /** Oracle of [[signupPurchase]] (`di`, `h`, `s0`, `p1`): q277, q278. */
  private val signupPurchaseSql =
    s"""$eventDaysSql,
      |s0 AS (
      |  SELECT user_id, min(di) AS t0 FROM di
      |  WHERE event_type = 'signup' GROUP BY 1),
      |$firstPurchaseSql""".stripMargin

  /** Oracle of [[kmCurve]] over a `dur` (t, ev) CTE (`nt`, `byt`, `rk`,
    * `km`): q277, q403. */
  private[operators] val kmSql =
    """nt AS (SELECT count(*) AS n FROM dur),
      |byt AS (SELECT t, count(*) AS c, sum(ev) AS d FROM dur GROUP BY 1),
      |rk AS (
      |  SELECT t, d,
      |    nt.n - coalesce(sum(c) OVER (ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
      |  FROM byt CROSS JOIN nt),
      |km AS (
      |  SELECT t, d, n_risk,
      |    exp(sum(ln(CASE WHEN d >= n_risk THEN 1
      |      ELSE 1 - CAST(d AS DOUBLE) / n_risk END)) OVER (ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS surv,
      |    max(CASE WHEN d >= n_risk THEN 1 ELSE 0 END) OVER (ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead
      |  FROM rk WHERE d > 0)""".stripMargin

  /** Each signup's (user_id, t0) left-joined to its first purchase day
    * t1 (null if none) and the horizon day hh: q277, q278. */
  private def signupPurchase(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"), col("event_type"),
      datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")).as("di"))
    val h = ev.agg(max(col("di")).as("hh"))
    val s0 = ev.where(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("di")).as("t0"))
    val p1 = ev.where(col("event_type") === "purchase")
      .join(s0.select(col("user_id").as("su"), col("t0")),
        col("su") === col("user_id") && col("di") >= col("t0"))
      .groupBy(col("user_id").as("pu")).agg(min(col("di")).as("t1"))
    s0.join(p1, col("pu") === col("user_id"), "left")
      .crossJoin(broadcast(h))
  }

  /** Duration to first purchase, censored at the horizon. */
  private val durT = when(col("t1").isNull, col("hh") - col("t0"))
    .otherwise(col("t1") - col("t0")).as("t")
  /** 1 when the purchase happened, 0 when censored. */
  private val durEv = when(col("t1").isNull, lit(0)).otherwise(lit(1)).as("ev")

  /** Kaplan-Meier curve (t, d, n_risk, surv, dead) per event time from
    * any (t, ev) duration table: q277, q403. */
  private[operators] def kmCurve(dur: DataFrame): DataFrame = {
    val nt = dur.agg(count(lit(1)).as("n"))
    val byt = dur.groupBy(col("t"))
      .agg(count(lit(1)).as("c"), sum(col("ev")).as("d"))
    val wPrev = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val rk = byt.crossJoin(broadcast(nt))
      .select(col("t"), col("d"),
        (col("n") - coalesce(sum(col("c")).over(wPrev), lit(0L))).as("n_risk"))
    val wCum = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // a curve-terminating event (d == n_risk) would be ln(0): Spark's
    // log yields NULL there while DuckDB raises — so the terminal term
    // contributes ln(1) and a cumulative `dead` flag pins survival to
    // exactly 0.0 from that event on, identically in both engines
    rk.where(col("d") > 0)
      .select(col("t"), col("d"), col("n_risk"),
        exp(sum(log(when(col("d") >= col("n_risk"), lit(1.0))
          .otherwise(lit(1) - col("d").cast("double") / col("n_risk"))))
          .over(wCum)).as("surv"),
        max(when(col("d") >= col("n_risk"), lit(1)).otherwise(lit(0)))
          .over(wCum).as("dead"))
  }

  private[operators] def guardElements(s: SparkSession, d: String, qname: String): Unit = {
    val p = hist(s, d).agg(countDistinct(col("hel"))).head.getLong(0)
    if (p > MaxInferenceElements)
      throw new IllegalStateException(
        s"$qname builds an O(V*P^2) pairwise histogram grid and P=$p exceeds " +
          s"MaxInferenceElements=$MaxInferenceElements; screen the element " +
          "pairs first (q251/q260) and restrict the input")
  }

  /** The shared (element, value) cumulative histogram grid: for every
    * (element, distinct value) cell, the element's count at the value
    * (`cnt`, 0 if absent) and its count strictly below it (`cl`).
    * Domains come from the cached [[hist]], not fresh fact scans.
    */
  private[operators] def cumGrid(s: SparkSession, d: String): DataFrame =
    // PlanCache (round 17): six queries across the two-sample family
    // (q273/q274/q405/q406/q407/q414) re-derived this identical
    // O(P·V) grid — domain cross-join, left join, prefix window — per
    // invocation; one materialization per (session, dir) serves all,
    // the same discipline as [[hist]] itself.
    PlanCache.cached(s, s"inference_cumgrid|$d") {
      val ht = hist(s, d)
      val vals = ht.select(col("hv").as("v")).distinct()
      val types = ht.select(col("hel").as("el")).distinct()
      val w = Window.partitionBy(col("el")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, -1)
      vals.crossJoin(types)
        .join(ht, col("hel") === col("el") && col("hv") === col("v"), "left")
        .select(col("el"), col("v"), coalesce(col("hcnt"), lit(0L)).as("cnt"))
        .withColumn("cl", coalesce(sum(col("cnt")).over(w), lit(0L)))
    }

  private[operators] val cumGridSql =
    """vals AS (SELECT DISTINCT value AS v FROM events),
      |types AS (SELECT DISTINCT event_type AS el FROM events),
      |ht AS (
      |  SELECT event_type AS hel, value AS hv, count(*) AS hcnt
      |  FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT t.el, vals.v, coalesce(ht.hcnt, 0) AS cnt,
      |    coalesce(sum(coalesce(ht.hcnt, 0)) OVER (PARTITION BY t.el ORDER BY vals.v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cl
      |  FROM vals CROSS JOIN types t
      |  LEFT JOIN ht ON ht.hel = t.el AND ht.hv = vals.v)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    /** Chi-square test of independence between element and day-of-week
      * on the event-count contingency table, with Cramér's V effect
      * size. One grouped aggregate produces the P×7 cell counts; row
      * and column totals are window sums over those O(P·7) cells; the
      * (o−e)²/e contributions are decimal-summed. At 100 TB the
      * contingency table is still P×7 rows — the test is free relative
      * to the scan.
      */
    QueryDef(
      "q272_chi2_independence",
      """WITH cells AS (
        |  SELECT event_type AS el,
        |    datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7 AS dow,
        |    count(*) AS o
        |  FROM events GROUP BY 1, 2),
        |tot AS (
        |  SELECT el, dow, o,
        |    sum(o) OVER (PARTITION BY el) AS rt,
        |    sum(o) OVER (PARTITION BY dow) AS ct,
        |    sum(o) OVER () AS n
        |  FROM cells),
        |ag AS (
        |  SELECT max(n) AS n, count(DISTINCT el) AS r, count(DISTINCT dow) AS c,
        |    CAST(sum(CAST((o - rt * ct / n) * (o - rt * ct / n) / (rt * ct / n)
        |      AS DECIMAL(38,12))) AS DOUBLE) AS chi2
        |  FROM tot)
        |SELECT CAST(n AS BIGINT) AS n_events, CAST(r AS INT) AS n_types,
        |  CAST(c AS INT) AS n_dows, round(chi2, 6) AS chi2,
        |  CAST((r - 1) * (c - 1) AS INT) AS dof,
        |  round(sqrt(chi2 / (n * least(r - 1, c - 1))), 6) AS cramers_v
        |FROM ag""".stripMargin) { (s, d) =>
      val cells = Tables.events(s, d)
        .groupBy(col("event_type").as("el"),
          (datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")) % 7)
            .as("dow"))
        .agg(count(lit(1)).as("o"))
      val tot = cells.select(col("el"), col("dow"), col("o"),
        sum(col("o")).over(Window.partitionBy(col("el"))).as("rt"),
        sum(col("o")).over(Window.partitionBy(col("dow"))).as("ct"),
        sum(col("o")).over(Window.partitionBy()).as("n"))
      val e = col("rt") * col("ct") / col("n")
      val ag = tot.agg(max(col("n")).as("n"),
        countDistinct(col("el")).as("r"), countDistinct(col("dow")).as("c"),
        dsum((col("o") - e) * (col("o") - e) / e).as("chi2"))
      ag.select(col("n").cast("long").as("n_events"),
        col("r").cast("int").as("n_types"), col("c").cast("int").as("n_dows"),
        r6(col("chi2")).as("chi2"),
        ((col("r") - 1) * (col("c") - 1)).cast("int").as("dof"),
        r6(sqrt(col("chi2") / (col("n") * least(col("r") - 1, col("c") - 1))))
          .as("cramers_v"))
    },

    /** Mann-Whitney U (two-sided normal approximation, tie-corrected)
      * between every element pair's value distributions. Rank sums come
      * from the histogram identity: within the pair's union, a tied
      * block at value v has average rank cl_a+cl_b + (cnt_a+cnt_b+1)/2,
      * so R_a accumulates cnt_a times that — no per-pair re-sort of raw
      * data, ever. Tie variance correction Σ(t³−t) runs over the same
      * grid. U, z and the tie-corrected variance are closed forms over
      * exact integer counts.
      */
    QueryDef(
      "q273_mann_whitney",
      s"""WITH $cumGridSql,
        |pg AS (
        |  SELECT a.el AS src, b.el AS dst, a.v,
        |    a.cnt AS ca, a.cl AS cla, b.cnt AS cb, b.cl AS clb
        |  FROM grid a JOIN grid b ON b.v = a.v AND a.el < b.el),
        |ag AS (
        |  SELECT src, dst,
        |    sum(ca) AS na, sum(cb) AS nb,
        |    CAST(sum(CAST(ca * (cla + clb + (ca + cb + 1) / 2.0)
        |      AS DECIMAL(38,12))) AS DOUBLE) AS ra,
        |    sum(CASE WHEN ca + cb > 0
        |      THEN (ca + cb) * (ca + cb) * (ca + cb) - (ca + cb) ELSE 0 END) AS tcorr
        |  FROM pg GROUP BY 1, 2),
        |st AS (
        |  SELECT src, dst, na, nb,
        |    ra - na * (na + 1) / 2.0 AS u,
        |    na * nb / 2.0 AS mu,
        |    na * nb / 12.0 * ((na + nb + 1.0)
        |      - tcorr / ((na + nb) * (na + nb - 1.0))) AS varu
        |  FROM ag)
        |SELECT src, dst, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  round(u, 2) AS u_stat,
        |  round((u - mu) / nullif(sqrt(varu), 0), 6) AS z_score
        |FROM st ORDER BY src, dst""".stripMargin) { (s, d) =>
      guardElements(s, d, "q273_mann_whitney")
      val g = cumGrid(s, d)
      val a = g.select(col("el").as("src"), col("v"), col("cnt").as("ca"), col("cl").as("cla"))
      val b = g.select(col("el").as("dst"), col("v").as("vb"), col("cnt").as("cb"), col("cl").as("clb"))
      val pg = a.join(b, col("vb") === col("v") && col("src") < col("dst"))
      val t = col("ca") + col("cb")
      val ag = pg.groupBy("src", "dst").agg(
        sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
        dsum(col("ca") * (col("cla") + col("clb") + (col("ca") + col("cb") + 1) / lit(2.0)))
          .as("ra"),
        sum(when(t > 0, t * t * t - t).otherwise(lit(0L))).as("tcorr"))
      val st = ag.select(col("src"), col("dst"), col("na"), col("nb"),
        (col("ra") - col("na") * (col("na") + 1) / lit(2.0)).as("u"),
        (col("na") * col("nb") / lit(2.0)).as("mu"),
        (col("na") * col("nb") / lit(12.0) * ((col("na") + col("nb") + lit(1.0)) -
          col("tcorr") / ((col("na") + col("nb")) * (col("na") + col("nb") - lit(1.0)))))
          .as("varu"))
      st.select(col("src"), col("dst"),
          col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
          round(col("u"), 2).as("u_stat"),
          r6((col("u") - col("mu")) / nullif(sqrt(col("varu")), lit(0.0))).as("z_score"))
        .orderBy("src", "dst")
    },

    /** Two-sample Kolmogorov-Smirnov statistic per element pair: the
      * max |ECDF_a − ECDF_b| over the value union, read directly off the
      * same cumulative histogram grid as q273 (inclusive cumulatives
      * cl+cnt over exact counts; the ECDF difference is an identical
      * closed form both engines). The distribution-shape counterpart of
      * q273's location test.
      */
    QueryDef(
      "q274_ks_test",
      s"""WITH $cumGridSql,
        |nt AS (SELECT el AS nel, sum(cnt) AS n FROM grid GROUP BY 1),
        |pg AS (
        |  SELECT a.el AS src, b.el AS dst,
        |    abs((a.cl + a.cnt) / CAST(sa.n AS DOUBLE)
        |      - (b.cl + b.cnt) / CAST(sb.n AS DOUBLE)) AS dd
        |  FROM grid a
        |  JOIN grid b ON b.v = a.v AND a.el < b.el
        |  JOIN nt sa ON sa.nel = a.el
        |  JOIN nt sb ON sb.nel = b.el)
        |SELECT src, dst, round(max(dd), 6) AS ks_stat
        |FROM pg GROUP BY 1, 2 ORDER BY src, dst""".stripMargin) { (s, d) =>
      guardElements(s, d, "q274_ks_test")
      val g = cumGrid(s, d)
      val nt = g.groupBy(col("el").as("nel")).agg(sum(col("cnt")).as("n"))
      val a = g.join(nt, col("nel") === col("el"))
        .select(col("el").as("src"), col("v"),
          ((col("cl") + col("cnt")) / col("n").cast("double")).as("ea"))
      val b = g.join(nt, col("nel") === col("el"))
        .select(col("el").as("dst"), col("v").as("vb"),
          ((col("cl") + col("cnt")) / col("n").cast("double")).as("eb"))
      a.join(b, col("vb") === col("v") && col("src") < col("dst"))
        .groupBy("src", "dst")
        .agg(r6(max(abs(col("ea") - col("eb")))).as("ks_stat"))
        .orderBy("src", "dst")
    },

    /** CUPED variance reduction for the deterministic-arm experiment:
      * users hash into treat/control (portable md5 arm, the q220 idiom),
      * the metric is each user's post-period value total, the covariate
      * their pre-period total, and θ = cov(X,Y)/var(X) from pooled
      * decimal moment sums adjusts the metric
      * (Y′ = Y − θ·(X − X̄), Deng et al., WSDM'13). Reports the raw vs
      * CUPED arm difference and the pooled variance reduction. Scale
      * shape: one user-grain aggregate (the only data-sized shuffle),
      * one O(1) moment row broadcast back, one final fold — the 100 TB
      * experimentation readout.
      */
    QueryDef(
      "q275_cuped",
      """WITH u AS (
        |  SELECT user_id,
        |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 AS arm,
        |    CAST(sum(CASE WHEN datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) < 50
        |      THEN CAST(value AS DECIMAL(18,3)) ELSE CAST(0 AS DECIMAL(18,3)) END) AS DOUBLE) AS x,
        |    CAST(sum(CASE WHEN datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) >= 50
        |      THEN CAST(value AS DECIMAL(18,3)) ELSE CAST(0 AS DECIMAL(18,3)) END) AS DOUBLE) AS y
        |  FROM events GROUP BY 1),
        |m AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(x*x AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(x*y AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(y*y AS DECIMAL(38,12))) AS DOUBLE) AS syy
        |  FROM u),
        |j AS (
        |  SELECT u.arm, u.y, u.x,
        |    u.y - ((m.n*m.sxy - m.sx*m.sy) / nullif(m.n*m.sxx - m.sx*m.sx, 0))
        |      * (u.x - m.sx / m.n) AS yadj
        |  FROM u CROSS JOIN m),
        |f AS (
        |  SELECT count(*) AS n,
        |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS nt,
        |    CAST(sum(CASE WHEN arm = 1 THEN CAST(y AS DECIMAL(38,12)) END) AS DOUBLE) AS syt,
        |    CAST(sum(CASE WHEN arm = 0 THEN CAST(y AS DECIMAL(38,12)) END) AS DOUBLE) AS syc,
        |    CAST(sum(CASE WHEN arm = 1 THEN CAST(yadj AS DECIMAL(38,12)) END) AS DOUBLE) AS sat,
        |    CAST(sum(CASE WHEN arm = 0 THEN CAST(yadj AS DECIMAL(38,12)) END) AS DOUBLE) AS sac,
        |    CAST(sum(CAST(yadj AS DECIMAL(38,12))) AS DOUBLE) AS sa,
        |    CAST(sum(CAST(yadj*yadj AS DECIMAL(38,12))) AS DOUBLE) AS saa
        |  FROM j),
        |o AS (SELECT f.*, m.sy AS msy, m.syy AS msyy, m.sx, m.sxx, m.sxy FROM f CROSS JOIN m)
        |SELECT CAST(n AS BIGINT) AS n_users, CAST(nt AS BIGINT) AS n_treat,
        |  CAST(n - nt AS BIGINT) AS n_ctrl,
        |  round((n*sxy - sx*msy) / nullif(n*sxx - sx*sx, 0), 6) AS theta,
        |  round(syt / nt - syc / (n - nt), 6) AS diff_raw,
        |  round(sat / nt - sac / (n - nt), 6) AS diff_cuped,
        |  round(1 - (saa - sa*sa/n) / nullif(msyy - msy*msy/n, 0), 6) AS var_reduction
        |FROM o""".stripMargin) { (s, d) =>
      val di = datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
      def periodSum(cond: Column) =
        sum(when(cond, col("value").cast("decimal(18,3)"))
          .otherwise(lit(0).cast("decimal(18,3)"))).cast("double")
      val u = Tables.events(s, d).groupBy(col("user_id"))
        .agg(periodSum(di < 50).as("x"), periodSum(di >= 50).as("y"))
        .withColumn("arm",
          conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
            .cast("long") % 2)
      val m = u.agg(count(lit(1)).as("n"),
        dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
        dsum(col("x") * col("x")).as("sxx"),
        dsum(col("x") * col("y")).as("sxy"),
        dsum(col("y") * col("y")).as("syy"))
      val theta = (col("n") * col("sxy") - col("sx") * col("sy")) /
        nullif(col("n") * col("sxx") - col("sx") * col("sx"), lit(0.0))
      val j = u.crossJoin(broadcast(m))
        .select(col("arm"), col("y"),
          (col("y") - theta * (col("x") - col("sx") / col("n"))).as("yadj"))
      def armSum(c: Column, arm: Int) =
        sum(when(col("arm") === arm, c.cast("decimal(38,12)"))).cast("double")
      val f = j.agg(count(lit(1)).as("fn"),
        sum(when(col("arm") === 1, 1).otherwise(0)).as("nt"),
        armSum(col("y"), 1).as("syt"), armSum(col("y"), 0).as("syc"),
        armSum(col("yadj"), 1).as("sat"), armSum(col("yadj"), 0).as("sac"),
        dsum(col("yadj")).as("sa"),
        dsum(col("yadj") * col("yadj")).as("saa"))
      f.crossJoin(broadcast(m))
        .select(col("fn").cast("long").as("n_users"),
          col("nt").cast("long").as("n_treat"),
          (col("fn") - col("nt")).cast("long").as("n_ctrl"),
          r6(theta).as("theta"),
          r6(col("syt") / col("nt") - col("syc") / (col("fn") - col("nt"))).as("diff_raw"),
          r6(col("sat") / col("nt") - col("sac") / (col("fn") - col("nt"))).as("diff_cuped"),
          r6(lit(1) - (col("saa") - col("sa") * col("sa") / col("fn")) /
            nullif(col("syy") - col("sy") * col("sy") / col("fn"), lit(0.0)))
            .as("var_reduction"))
    },

    /** Difference-in-differences on the same deterministic arms: the
      * 2×2 (arm × pre/post) panel of per-user period totals — users
      * missing a period count as zero via the user×period scaffold, the
      * honest panel — and the DiD estimate
      * (ȳ_t,post − ȳ_t,pre) − (ȳ_c,post − ȳ_c,pre). One user-grain
      * aggregate, O(1) readout; cell means from decimal sums.
      */
    QueryDef(
      "q276_diff_in_diff",
      """WITH u AS (
        |  SELECT user_id,
        |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 AS arm,
        |    CAST(sum(CASE WHEN datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) < 50
        |      THEN CAST(value AS DECIMAL(18,3)) ELSE CAST(0 AS DECIMAL(18,3)) END) AS DOUBLE) AS pre,
        |    CAST(sum(CASE WHEN datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) >= 50
        |      THEN CAST(value AS DECIMAL(18,3)) ELSE CAST(0 AS DECIMAL(18,3)) END) AS DOUBLE) AS post
        |  FROM events GROUP BY 1),
        |f AS (
        |  SELECT sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS nt,
        |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS nc,
        |    CAST(sum(CASE WHEN arm = 1 THEN CAST(pre AS DECIMAL(38,12)) END) AS DOUBLE) AS stp,
        |    CAST(sum(CASE WHEN arm = 1 THEN CAST(post AS DECIMAL(38,12)) END) AS DOUBLE) AS sto,
        |    CAST(sum(CASE WHEN arm = 0 THEN CAST(pre AS DECIMAL(38,12)) END) AS DOUBLE) AS scp,
        |    CAST(sum(CASE WHEN arm = 0 THEN CAST(post AS DECIMAL(38,12)) END) AS DOUBLE) AS sco
        |  FROM u)
        |SELECT CAST(nt AS BIGINT) AS n_treat, CAST(nc AS BIGINT) AS n_ctrl,
        |  round(stp / nt, 6) AS mean_t_pre, round(sto / nt, 6) AS mean_t_post,
        |  round(scp / nc, 6) AS mean_c_pre, round(sco / nc, 6) AS mean_c_post,
        |  round((sto / nt - stp / nt) - (sco / nc - scp / nc), 6) AS did
        |FROM f""".stripMargin) { (s, d) =>
      val di = datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
      def periodSum(cond: Column) =
        sum(when(cond, col("value").cast("decimal(18,3)"))
          .otherwise(lit(0).cast("decimal(18,3)"))).cast("double")
      val u = Tables.events(s, d).groupBy(col("user_id"))
        .agg(periodSum(di < 50).as("pre"), periodSum(di >= 50).as("post"))
        .withColumn("arm",
          conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
            .cast("long") % 2)
      def armSum(c: Column, arm: Int) =
        sum(when(col("arm") === arm, c.cast("decimal(38,12)"))).cast("double")
      val f = u.agg(
        sum(when(col("arm") === 1, 1).otherwise(0)).as("nt"),
        sum(when(col("arm") === 0, 1).otherwise(0)).as("nc"),
        armSum(col("pre"), 1).as("stp"), armSum(col("post"), 1).as("sto"),
        armSum(col("pre"), 0).as("scp"), armSum(col("post"), 0).as("sco"))
      f.select(col("nt").cast("long").as("n_treat"),
        col("nc").cast("long").as("n_ctrl"),
        r6(col("stp") / col("nt")).as("mean_t_pre"),
        r6(col("sto") / col("nt")).as("mean_t_post"),
        r6(col("scp") / col("nc")).as("mean_c_pre"),
        r6(col("sco") / col("nc")).as("mean_c_post"),
        r6((col("sto") / col("nt") - col("stp") / col("nt")) -
          (col("sco") / col("nc") - col("scp") / col("nc"))).as("did"))
    },

    /** Kaplan-Meier survival of signup → first purchase, right-censored
      * at the observation horizon (global max day) — the censoring-aware
      * counterpart of q245's conversion-delay quantiles, which silently
      * drop never-converters. Durations reduce per user (one shuffle);
      * the KM curve itself is O(distinct durations) rows: risk sets from
      * a cumulative count window, S(t) = Π(1 − d/n) evaluated as
      * exp(Σ ln(1 − d/n)) over the duration-ORDERED window — ordered
      * running sums are sequential by definition, so the double
      * accumulation order is engine-identical without the decimal detour
      * (which ln(0) = −∞ at a curve-terminating event would break).
      * The windows are global but run on the tiny duration table, never
      * on user-grain data.
      */
    QueryDef(
      "q277_survival_km",
      s"""WITH $signupPurchaseSql,
        |dur AS (
        |  SELECT s0.user_id,
        |    CASE WHEN p1.t1 IS NULL THEN h.hh - s0.t0 ELSE p1.t1 - s0.t0 END AS t,
        |    CASE WHEN p1.t1 IS NULL THEN 0 ELSE 1 END AS ev
        |  FROM s0 LEFT JOIN p1 ON p1.user_id = s0.user_id CROSS JOIN h),
        |$kmSql
        |SELECT t AS duration_days, CAST(n_risk AS BIGINT) AS n_risk,
        |  CAST(d AS BIGINT) AS n_events,
        |  round(CASE WHEN dead = 1 THEN 0.0 ELSE surv END, 6) AS survival
        |FROM km ORDER BY duration_days""".stripMargin) { (s, d) =>
      kmCurve(signupPurchase(s, d).select(durT, durEv))
        .select(col("t").as("duration_days"),
          col("n_risk").cast("long").as("n_risk"),
          col("d").cast("long").as("n_events"),
          r6(when(col("dead") === 1, lit(0.0)).otherwise(col("surv")))
            .as("survival"))
        .orderBy("duration_days")
    },

    /** Log-rank test between the two deterministic hash arms' conversion
      * survival curves — the inference companion of q277 and the
      * censoring-aware counterpart of q163's mean test. At every event
      * time the treatment arm's observed events are compared to the
      * hypergeometric expectation d·n₁/n with variance
      * d·(n₁/n)·(n₂/n)·(n−d)/(n−1); χ² = (O−E)²/ΣV. Same scale shape as
      * q277: one user-grain reduction, per-arm risk sets from cumulative
      * windows over the O(event times × 2) scaffold, decimal-exact O−E
      * and variance sums.
      */
    QueryDef(
      "q278_logrank_test",
      s"""WITH $signupPurchaseSql,
        |dur AS (
        |  SELECT s0.user_id,
        |    ('0x' || substr(md5(CAST(s0.user_id AS VARCHAR)), 1, 15))::BIGINT % 2 AS arm,
        |    CASE WHEN p1.t1 IS NULL THEN h.hh - s0.t0 ELSE p1.t1 - s0.t0 END AS t,
        |    CASE WHEN p1.t1 IS NULL THEN 0 ELSE 1 END AS ev
        |  FROM s0 LEFT JOIN p1 ON p1.user_id = s0.user_id CROSS JOIN h),
        |na AS (
        |  SELECT sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1t,
        |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n0t
        |  FROM dur),
        |byarm AS (
        |  SELECT t, arm, count(*) AS c, sum(ev) AS d FROM dur GROUP BY 1, 2),
        |evt AS (SELECT DISTINCT t FROM byarm WHERE d > 0),
        |sc AS (
        |  SELECT e.t, a.arm, coalesce(b.c, 0) AS c, coalesce(b.d, 0) AS d
        |  FROM evt e CROSS JOIN (VALUES (0), (1)) a(arm)
        |  LEFT JOIN byarm b ON b.t = e.t AND b.arm = a.arm),
        |rk AS (
        |  SELECT t, arm, d,
        |    (CASE WHEN arm = 1 THEN na.n1t ELSE na.n0t END)
        |      - coalesce(sum(c) OVER (PARTITION BY arm ORDER BY t
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nr
        |  FROM sc CROSS JOIN na),
        |w AS (
        |  SELECT t,
        |    sum(CASE WHEN arm = 1 THEN d ELSE 0 END) AS d1,
        |    sum(d) AS d, sum(CASE WHEN arm = 1 THEN nr ELSE 0 END) AS n1,
        |    sum(nr) AS n
        |  FROM rk GROUP BY 1),
        |ag AS (
        |  SELECT sum(d1) AS o1,
        |    CAST(sum(CAST(d * (CAST(n1 AS DOUBLE) / n) AS DECIMAL(38,12))) AS DOUBLE) AS e1,
        |    CAST(sum(CAST(d * (CAST(n1 AS DOUBLE) / n) * (CAST(n - n1 AS DOUBLE) / n)
        |      * (CAST(n - d AS DOUBLE) / nullif(n - 1, 0)) AS DECIMAL(38,12))) AS DOUBLE) AS v
        |  FROM w WHERE n > 1),
        |o AS (SELECT na.n1t, na.n0t, ag.o1, ag.e1, ag.v FROM ag CROSS JOIN na)
        |SELECT CAST(n1t AS BIGINT) AS n_treat, CAST(n0t AS BIGINT) AS n_ctrl,
        |  CAST(o1 AS BIGINT) AS o_treat, round(e1, 6) AS e_treat,
        |  round((o1 - e1) * (o1 - e1) / nullif(v, 0), 6) AS logrank_chi2
        |FROM o""".stripMargin) { (s, d) =>
      import s.implicits._
      val dur = signupPurchase(s, d).select(
        (conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
          .cast("long") % 2).as("arm"),
        durT, durEv)
      val na = dur.agg(
        sum(when(col("arm") === 1, 1).otherwise(0)).as("n1t"),
        sum(when(col("arm") === 0, 1).otherwise(0)).as("n0t"))
      val byarm = dur.groupBy(col("t"), col("arm"))
        .agg(count(lit(1)).as("c"), sum(col("ev")).as("d"))
      val evtT = byarm.where(col("d") > 0).select(col("t")).distinct()
      val arms = Seq(0, 1).toDF("sarm")
      val sc = evtT.crossJoin(broadcast(arms))
        .join(byarm.select(col("t").as("bt"), col("arm"), col("c"), col("d")),
          col("bt") === col("t") && col("arm") === col("sarm"), "left")
        .select(col("t"), col("sarm").as("aarm"),
          coalesce(col("c"), lit(0L)).as("c"), coalesce(col("d"), lit(0L)).as("d"))
      val wPrev = Window.partitionBy(col("aarm")).orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val rk = sc.crossJoin(broadcast(na))
        .select(col("t"), col("aarm"), col("d"),
          (when(col("aarm") === 1, col("n1t")).otherwise(col("n0t"))
            - coalesce(sum(col("c")).over(wPrev), lit(0L))).as("nr"))
      val w = rk.groupBy(col("t")).agg(
        sum(when(col("aarm") === 1, col("d")).otherwise(lit(0L))).as("d1"),
        sum(col("d")).as("d"),
        sum(when(col("aarm") === 1, col("nr")).otherwise(lit(0L))).as("n1"),
        sum(col("nr")).as("n"))
      val ag = w.where(col("n") > 1).agg(
        sum(col("d1")).as("o1"),
        dsum(col("d") * (col("n1").cast("double") / col("n"))).as("e1"),
        dsum(col("d") * (col("n1").cast("double") / col("n")) *
          ((col("n") - col("n1")).cast("double") / col("n")) *
          ((col("n") - col("d")).cast("double") / nullif(col("n") - 1, lit(0L))))
          .as("v"))
      ag.crossJoin(broadcast(na))
        .select(col("n1t").cast("long").as("n_treat"),
          col("n0t").cast("long").as("n_ctrl"),
          col("o1").cast("long").as("o_treat"),
          r6(col("e1")).as("e_treat"),
          r6((col("o1") - col("e1")) * (col("o1") - col("e1")) /
            nullif(col("v"), lit(0.0))).as("logrank_chi2"))
    },

    /** Mergeable histogram quantiles with a MEASURED error readout — the
      * quantile member of the sketch family (HLL q106, count-min q231,
      * Misra-Gries q196): a 64-bin fixed-width histogram over the
      * broadcast [min, max] range is a pure counts vector, so partial
      * aggregation IS the sketch merge and the result is independent of
      * partitioning/merge order (unlike GK/t-digest, whose merge order
      * leaks into the estimate — that's why approx_percentile stays
      * rows-only while THIS oracles). p50/p90/p99 are read off the
      * cumulative histogram by linear interpolation inside the crossing
      * bin and compared against the exact percentile (q179's parity
      * idiom) per event element — the estimator ships WITH its measured
      * error, the honest-sketch discipline.
      */
    QueryDef(
      "q279_histogram_quantiles",
      """WITH rng AS (
        |  SELECT min(value) AS lo, max(value) AS hi FROM events),
        |b AS (
        |  SELECT event_type AS el,
        |    least(63, CAST(floor((value - rng.lo) / nullif(rng.hi - rng.lo, 0) * 64)
        |      AS INT)) AS bin
        |  FROM events CROSS JOIN rng),
        |hist AS (SELECT el, bin, count(*) AS c FROM b GROUP BY 1, 2),
        |cum AS (
        |  SELECT el, bin, c,
        |    sum(c) OVER (PARTITION BY el ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cl,
        |    sum(c) OVER (PARTITION BY el) AS n
        |  FROM hist),
        |qs AS (
        |  SELECT cum.el, q.q, cum.bin, cum.c, coalesce(cum.cl, 0) AS cl, cum.n,
        |    row_number() OVER (PARTITION BY cum.el, q.q ORDER BY cum.bin) AS rn
        |  FROM cum CROSS JOIN (VALUES (0.5), (0.9), (0.99)) q(q)
        |  WHERE coalesce(cum.cl, 0) + cum.c >= q.q * cum.n),
        |est AS (
        |  SELECT qs.el, qs.q,
        |    rng.lo + (rng.hi - rng.lo) / 64 *
        |      (qs.bin + (qs.q * qs.n - qs.cl) / qs.c) AS approx
        |  FROM qs CROSS JOIN rng WHERE rn = 1),
        |ex AS (
        |  SELECT event_type AS el,
        |    quantile_cont(value, 0.5) AS e50,
        |    quantile_cont(value, 0.9) AS e90,
        |    quantile_cont(value, 0.99) AS e99
        |  FROM events GROUP BY 1),
        |j AS (
        |  SELECT est.el, est.q, est.approx,
        |    CASE WHEN est.q = 0.5 THEN ex.e50
        |         WHEN est.q = 0.9 THEN ex.e90 ELSE ex.e99 END AS exact
        |  FROM est JOIN ex ON ex.el = est.el)
        |SELECT el, round(CAST(q AS DOUBLE), 2) AS q, round(approx, 6) AS approx,
        |  round(exact, 6) AS exact, round(abs(approx - exact), 6) AS abs_err
        |FROM j ORDER BY el, q""".stripMargin) { (s, d) =>
      import s.implicits._
      val ev = Tables.events(s, d)
      val rng = ev.agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
      val b = ev.crossJoin(broadcast(rng))
        .select(col("event_type").as("el"),
          least(lit(63), floor((col("value") - col("lo")) /
            nullif(col("hi") - col("lo"), lit(0.0)) * 64).cast("int")).as("bin"))
      val hist = b.groupBy(col("el"), col("bin")).agg(count(lit(1)).as("c"))
      val wPrev = Window.partitionBy(col("el")).orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val cum = hist.select(col("el"), col("bin"), col("c"),
        coalesce(sum(col("c")).over(wPrev), lit(0L)).as("cl"),
        sum(col("c")).over(Window.partitionBy(col("el"))).as("n"))
      val qsv = Seq(0.5, 0.9, 0.99).toDF("q")
      val wq = Window.partitionBy(col("el"), col("q")).orderBy(col("bin"))
      val qs = cum.crossJoin(broadcast(qsv))
        .where(col("cl") + col("c") >= col("q") * col("n"))
        .withColumn("rn", row_number().over(wq))
        .where(col("rn") === 1)
      val est = qs.crossJoin(broadcast(rng))
        .select(col("el"), col("q"),
          (col("lo") + (col("hi") - col("lo")) / 64 *
            (col("bin") + (col("q") * col("n") - col("cl")) / col("c")))
            .as("approx"))
      val ex = ev.groupBy(col("event_type").as("exl")).agg(
        expr("percentile(value, 0.5)").as("e50"),
        expr("percentile(value, 0.9)").as("e90"),
        expr("percentile(value, 0.99)").as("e99"))
      est.join(ex, col("exl") === col("el"))
        .select(col("el"), round(col("q"), 2).as("q"),
          r6(col("approx")).as("approx"),
          r6(when(col("q") === 0.5, col("e50"))
            .when(col("q") === 0.9, col("e90")).otherwise(col("e99")))
            .as("exact"),
          r6(abs(col("approx") - when(col("q") === 0.5, col("e50"))
            .when(col("q") === 0.9, col("e90")).otherwise(col("e99"))))
            .as("abs_err"))
        .orderBy("el", "q")
    },

    /** Stratified-propensity / IPW treatment-effect estimation (round
      * 9): the OBSERVATIONAL companion of q163's randomized z-test —
      * here "treatment" (heavy signup engagement in the first half,
      * ≥ 7 signup events) is self-selected and confounded by overall
      * activity, so the naive treated-vs-control outcome gap is biased.
      * Users stratify into activity quintiles (deterministic ntile);
      * within a stratum treatment is as-good-as-random, giving the
      * classic two estimators: the n-weighted stratified difference and
      * the inverse-propensity-weighted mean with stratum propensities
      * ê_s. Strata violating positivity (ê ∈ {0,1}) are EXCLUDED — the
      * loud-guard discipline, visible in the output. One user-level
      * aggregate (two half-month passes fused into conditional aggs),
      * one ntile over O(users) rows, decimal effect sums: the 100 TB
      * cost is the per-user reduction. The ntile is the exact form and
      * its global sort is O(users); at 10⁹ users the same-shape drop-in
      * is width_bucket over approx_percentile activity boundaries
      * (q128/q147's pattern) — strata stay deterministic, no total
      * order needed.
      */
    QueryDef(
      "q292_ipw_ate",
      """WITH fh AS (
        |  SELECT user_id,
        |    count_if(ts < TIMESTAMP '2024-01-16') AS n_acts,
        |    CASE WHEN count_if(event_type = 'signup'
        |                       AND ts < TIMESTAMP '2024-01-16') >= 7
        |         THEN 1 ELSE 0 END AS t,
        |    max(CASE WHEN event_type = 'purchase' AND value > 250
        |             AND ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS y
        |  FROM events GROUP BY 1),
        |u AS (
        |  SELECT user_id, t, y,
        |    ntile(5) OVER (ORDER BY n_acts, user_id) AS stratum
        |  FROM fh WHERE n_acts > 0),
        |st AS (
        |  SELECT stratum, count(*) AS n,
        |    CAST(sum(t) AS DOUBLE) / count(*) AS e_hat,
        |    CAST(sum(CASE WHEN t = 1 THEN y END) AS DOUBLE)
        |      / nullif(sum(t), 0) AS y1,
        |    CAST(sum(CASE WHEN t = 0 THEN y END) AS DOUBLE)
        |      / nullif(count(*) - sum(t), 0) AS y0
        |  FROM u GROUP BY 1),
        |ok AS (SELECT * FROM st WHERE e_hat > 0 AND e_hat < 1),
        |gs AS (
        |  SELECT CAST(sum(CAST(n * (y1 - y0) AS DECIMAL(38,12))) AS DOUBLE)
        |           / sum(n) AS ate_strat,
        |         CAST(sum(n) AS BIGINT) AS n_ok
        |  FROM ok),
        |iw AS (
        |  SELECT CAST(sum(CAST(CASE WHEN u.t = 1 THEN u.y / ok.e_hat
        |                            ELSE -u.y / (1 - ok.e_hat) END
        |    AS DECIMAL(38,12))) AS DOUBLE) AS s_ipw
        |  FROM u JOIN ok ON ok.stratum = u.stratum),
        |nv AS (
        |  SELECT CAST(sum(CASE WHEN t = 1 THEN y END) AS DOUBLE) / sum(t)
        |       - CAST(sum(CASE WHEN t = 0 THEN y END) AS DOUBLE)
        |         / (count(*) - sum(t)) AS ate_naive
        |  FROM u)
        |SELECT ok.stratum, CAST(ok.n AS BIGINT) AS n,
        |  round(ok.e_hat, 6) AS e_hat,
        |  round(ok.y1, 6) AS y1, round(ok.y0, 6) AS y0,
        |  round(ok.y1 - ok.y0, 6) AS diff,
        |  round(gs.ate_strat, 6) AS ate_strat,
        |  round(iw.s_ipw / gs.n_ok, 6) AS ate_ipw,
        |  round(nv.ate_naive, 6) AS ate_naive
        |FROM ok CROSS JOIN gs CROSS JOIN iw CROSS JOIN nv
        |ORDER BY ok.stratum""".stripMargin) { (s, d) =>
      val split = lit("2024-01-16").cast("timestamp")
      val fh = Tables.events(s, d).groupBy("user_id").agg(
        count_if(col("ts") < split).as("n_acts"),
        when(count_if(col("event_type") === "signup" && col("ts") < split) >= 7, 1)
          .otherwise(0).as("t"),
        max(when(col("event_type") === "purchase" && col("value") > 250 &&
          col("ts") >= split, 1).otherwise(0)).as("y"))
      // stratification WITHOUT the user-grain global ntile (round 10,
      // VERDICT r9 #3): a single `Window.orderBy` here serializes every
      // user through one partition at scale. The two-phase form —
      // range-partitioned local row_numbers + driver offsets, then
      // ntile's exact bucket-boundary arithmetic from the global rn —
      // assigns bit-identical strata (the (n_acts, user_id) order is
      // total, so rn and therefore every bucket edge is the same
      // integer), and the oracle keeps the plain ntile.
      val (ranked, nUsers) = TwoPhase.globalRowNumber(s,
        fh.where(col("n_acts") > 0), s"ipw_users_ranked|$d",
        Seq(col("n_acts"), col("user_id")))
      val u = PlanCache.cached(s, s"ipw_users|$d") {
        ranked.select(col("user_id"), col("t"), col("y"),
          TwoPhase.ntileFromRn(nUsers, 5).as("stratum"))
      }
      val st = u.groupBy("stratum").agg(count(lit(1)).as("n"),
        (sum(col("t")).cast("double") / count(lit(1))).as("e_hat"),
        (sum(when(col("t") === 1, col("y"))).cast("double") /
          nullif(sum(col("t")), lit(0L))).as("y1"),
        (sum(when(col("t") === 0, col("y"))).cast("double") /
          nullif(count(lit(1)) - sum(col("t")), lit(0L))).as("y0"))
      val ok = st.where(col("e_hat") > 0 && col("e_hat") < 1)
      val gs = ok.agg(
        (dsum(col("n") * (col("y1") - col("y0"))) / sum(col("n"))).as("ate_strat"),
        sum(col("n")).cast("long").as("n_ok"))
      val iw = u.join(ok.select(col("stratum").as("oks"), col("e_hat")),
          col("oks") === col("stratum"))
        .agg(dsum(when(col("t") === 1, col("y") / col("e_hat"))
          .otherwise(-col("y") / (lit(1) - col("e_hat")))).as("s_ipw"))
      val nv = u.agg(
        (sum(when(col("t") === 1, col("y"))).cast("double") / sum(col("t")) -
          sum(when(col("t") === 0, col("y"))).cast("double") /
            (count(lit(1)) - sum(col("t")))).as("ate_naive"))
      ok.crossJoin(broadcast(gs)).crossJoin(broadcast(iw)).crossJoin(broadcast(nv))
        .select(col("stratum"), col("n").cast("long").as("n"),
          r6(col("e_hat")).as("e_hat"),
          r6(col("y1")).as("y1"), r6(col("y0")).as("y0"),
          r6(col("y1") - col("y0")).as("diff"),
          r6(col("ate_strat")).as("ate_strat"),
          r6(col("s_ipw") / col("n_ok")).as("ate_ipw"),
          r6(col("ate_naive")).as("ate_naive"))
        .orderBy("stratum")
    },

    /** Event-study (dynamic difference-in-differences) around the
      * day-15 midpoint (round 9): the LEAD/LAG completion of q276's
      * two-period DiD — per relative day k ∈ [−7, +7], the
      * treated-minus-control purchase-value gap net of the pre-period
      * baseline gap (days 8–14). Flat pre-period effects ≈ 0 are the
      * parallel-trends diagnostic the two-period design simply assumes.
      * Arms are the q163 salted-hash split (deterministic, hashable);
      * the arm-day grid is ONE fused aggregate (O(2·T) rows) and
      * everything after is column math over it — at 100 TB the cost is
      * the per-(arm, day) reduction, not the event volume.
      */
    QueryDef(
      "q293_event_study",
      """WITH assign AS (
        |  SELECT user_id,
        |    CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':ab1'), 1, 15))::BIGINT % 2 = 0
        |         THEN 1 ELSE 0 END AS treated
        |  FROM (SELECT DISTINCT user_id FROM events)),
        |ad AS (
        |  SELECT a.treated,
        |    datediff('day', DATE '2024-01-01', CAST(e.ts AS DATE)) AS di,
        |    CAST(sum(CAST(e.value AS DECIMAL(18,3))) AS DOUBLE) / count(*) AS v
        |  FROM events e JOIN assign a ON a.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' GROUP BY 1, 2),
        |gap AS (
        |  SELECT t.di, t.v - c.v AS g
        |  FROM ad t JOIN ad c ON c.di = t.di AND t.treated = 1 AND c.treated = 0),
        |base AS (
        |  SELECT CAST(sum(CAST(g AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS pre_gap
        |  FROM gap WHERE di BETWEEN 8 AND 14)
        |SELECT gap.di - 15 AS rel_day, round(gap.g, 6) AS gap,
        |  round(base.pre_gap, 6) AS pre_gap,
        |  round(gap.g - base.pre_gap, 6) AS effect
        |FROM gap CROSS JOIN base
        |WHERE gap.di BETWEEN 8 AND 22
        |ORDER BY rel_day""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
      val assign = e.select(col("user_id")).distinct()
        .withColumn("treated",
          when(conv(substring(md5(concat(col("user_id").cast("string"), lit(":ab1"))),
            1, 15), 16, 10).cast("long") % 2 === 0, 1).otherwise(0))
      // assign is USER-grain (grows with the fact table) — no forced
      // broadcast (round-10 sweep): the purchase side shuffles on
      // user_id either way and AQE owns the broadcast decision
      val ad = e.where(col("event_type") === "purchase")
        .join(assign, Seq("user_id"))
        .groupBy(col("treated"),
          datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")).as("di"))
        .agg((sum(col("value").cast("decimal(18,3)")).cast("double") /
          count(lit(1))).as("v"))
      val gap = PlanCache.cached(s, s"event_study_gap|$d") {
        ad.where(col("treated") === 1)
          .select(col("di"), col("v").as("tv"))
          .join(ad.where(col("treated") === 0)
            .select(col("di").as("dic"), col("v").as("cv")), col("dic") === col("di"))
          .select(col("di"), (col("tv") - col("cv")).as("g"))
      }
      val base = gap.where(col("di").between(8, 14))
        .agg((dsum(col("g")) / count(lit(1))).as("pre_gap"))
      gap.where(col("di").between(8, 22))
        .crossJoin(broadcast(base))
        .select((col("di") - 15).as("rel_day"), r6(col("g")).as("gap"),
          r6(col("pre_gap")).as("pre_gap"),
          r6(col("g") - col("pre_gap")).as("effect"))
        .orderBy("rel_day")
    },

    /** Sample-ratio-mismatch guardrail (round 9): before any A/B
      * readout (q163/q275/q276) is trusted, the assignment itself must
      * pass the 50/50 chi-square check — a skewed split means broken
      * bucketing, not a treatment effect, and invalidates every
      * downstream metric. One distinct-user aggregate; χ² against the
      * expected half-split for two assignments — the q163 ':ab1' salt
      * (healthy, must PASS) and a deliberately broken hash%3 split
      * (':bad', must FLAG) — at the 1-dof 0.05 critical value 3.841.
      * The guardrail a 100 TB experimentation platform runs on every
      * assignment-table write, with both outcomes exercised.
      */
    QueryDef(
      "q302_srm_check",
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |arms AS (
        |  SELECT s.salt,
        |    count_if(('0x' || substr(md5(CAST(user_id AS VARCHAR) || s.salt), 1, 15))::BIGINT % s.md = 0) AS na,
        |    count_if(('0x' || substr(md5(CAST(user_id AS VARCHAR) || s.salt), 1, 15))::BIGINT % s.md != 0) AS nb
        |  FROM u CROSS JOIN (VALUES (':ab1', 2), (':bad', 3)) s(salt, md)
        |  GROUP BY 1)
        |SELECT salt, CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
        |  round((na - (na + nb) / 2.0) * (na - (na + nb) / 2.0) / ((na + nb) / 2.0)
        |      + (nb - (na + nb) / 2.0) * (nb - (na + nb) / 2.0) / ((na + nb) / 2.0), 6) AS chi2,
        |  CAST((na - (na + nb) / 2.0) * (na - (na + nb) / 2.0) / ((na + nb) / 2.0)
        |      + (nb - (na + nb) / 2.0) * (nb - (na + nb) / 2.0) / ((na + nb) / 2.0)
        |      > 3.841 AS INT) AS srm_flag
        |FROM arms ORDER BY salt""".stripMargin) { (s, d) =>
      import s.implicits._
      val u = Tables.events(s, d).select(col("user_id")).distinct()
      val salts = Seq((":ab1", 2), (":bad", 3)).toDF("salt", "md")
      val armOf = pmod(conv(substring(md5(concat(col("user_id").cast("string"),
        col("salt"))), 1, 15), 16, 10).cast("long"), col("md").cast("long"))
      val arms = u.crossJoin(broadcast(salts))
        .groupBy("salt")
        .agg(count_if(armOf === 0).as("na"), count_if(armOf =!= 0).as("nb"))
      val e = (col("na") + col("nb")) / 2.0
      val chi2 = (col("na") - e) * (col("na") - e) / e +
        (col("nb") - e) * (col("nb") - e) / e
      arms.select(col("salt"), col("na").cast("long").as("na"),
          col("nb").cast("long").as("nb"),
          r6(chi2).as("chi2"),
          when(chi2 > 3.841, 1).otherwise(0).as("srm_flag"))
        .orderBy("salt")
    },

    /** Deterministic Bayesian-bootstrap CI for the A/B conversion lift
      * (round 9): 200 replicates weight every user by an Exponential(1)
      * draw derived from the salted md5 hash of (user, replicate) — the
      * q166 RNG-free uniform through −ln(u) — so the whole resampling
      * distribution is reproducible AND hash-verifiable, which no
      * rng-seeded bootstrap is across engines. Each replicate's lift is
      * a weighted-mean difference over decimal sums; the 95% CI is the
      * exact (5th, 196th) order statistics of the 200 replicate lifts.
      * Scale: replicates fan out as a broadcast 200-row cross join and
      * collapse in ONE map-side-combined aggregate to 200·2 rows — the
      * classic "resample without reshuffling" shape; B is the only
      * knob.
      */
    QueryDef(
      "q303_bootstrap_ci", {
        val hs = "1152921504606846977.0"
        s"""WITH $abConvSql,
           |reps AS (SELECT unnest(range(1, 201)) AS b),
           |wts AS (
           |  SELECT c.variant, r.b, c.y,
           |    -ln((('0x' || substr(md5(CAST(c.user_id AS VARCHAR) || ':bs' || r.b), 1, 15))::BIGINT + 1.0)
           |        / $hs) AS w
           |  FROM conv c CROSS JOIN reps r),
           |eff AS (
           |  SELECT b,
           |    CAST(sum(CAST(CASE WHEN variant = 'A' THEN w * y ELSE 0 END AS DECIMAL(38,12))) AS DOUBLE)
           |      / CAST(sum(CAST(CASE WHEN variant = 'A' THEN w ELSE 0 END AS DECIMAL(38,12))) AS DOUBLE)
           |    - CAST(sum(CAST(CASE WHEN variant = 'B' THEN w * y ELSE 0 END AS DECIMAL(38,12))) AS DOUBLE)
           |      / CAST(sum(CAST(CASE WHEN variant = 'B' THEN w ELSE 0 END AS DECIMAL(38,12))) AS DOUBLE) AS lift
           |  FROM wts GROUP BY 1),
           |rk AS (SELECT lift, row_number() OVER (ORDER BY lift, b) AS rn FROM eff),
           |pt AS (
           |  SELECT CAST(sum(CASE WHEN variant = 'A' THEN y END) AS DOUBLE)
           |           / count_if(variant = 'A')
           |       - CAST(sum(CASE WHEN variant = 'B' THEN y END) AS DOUBLE)
           |           / count_if(variant = 'B') AS lift_hat,
           |    CAST(count(*) AS BIGINT) AS n_users
           |  FROM conv)
           |SELECT pt.n_users, 200 AS n_replicates,
           |  round(pt.lift_hat, 6) AS lift_hat,
           |  round((SELECT lift FROM rk WHERE rn = 5), 6) AS ci_lo,
           |  round((SELECT lift FROM rk WHERE rn = 196), 6) AS ci_hi,
           |  CAST((SELECT lift FROM rk WHERE rn = 5) <= 0
           |       AND 0 <= (SELECT lift FROM rk WHERE rn = 196) AS INT) AS ci_covers_zero
           |FROM pt""".stripMargin
      }) { (s, d) =>
      import s.implicits._
      val hs = 1152921504606846977.0
      val users = Tables.events(s, d).groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase" && col("value") > 250, 1)
          .otherwise(0)).as("y"))
        .withColumn("variant",
          when(conv(substring(md5(concat(col("user_id").cast("string"), lit(":ab1"))),
            1, 15), 16, 10).cast("long") % 2 === 0, "A").otherwise("B"))
      val reps = (1 to 200).toDF("b")
      val u = (conv(substring(md5(concat(col("user_id").cast("string"), lit(":bs"),
        col("b").cast("string"))), 1, 15), 16, 10).cast("double") + 1.0) / hs
      // repartition BEFORE the ×200 fan-out (round 12, measured at sf1:
      // 11.0 s → 1.7 s, bit-identical): AQE coalesces the tiny user-grain
      // shuffle to ~1 partition, which would serialize all N×200 md5 +
      // decimal-sum work onto one task — the q395 single-split defect.
      // Decimal sums are order-free, so the split changes nothing.
      val wts = users.repartition(32).crossJoin(broadcast(reps))
        .select(col("variant"), col("b"), col("y"), (-log(u)).as("w"))
      def dside(v: String, c: Column) =
        sum(when(col("variant") === v, c).otherwise(0.0).cast("decimal(38,12)"))
          .cast("double")
      val eff = wts.groupBy("b").agg(
        (dside("A", col("w") * col("y")) / dside("A", col("w")) -
          dside("B", col("w") * col("y")) / dside("B", col("w"))).as("lift"))
      val rk = eff.select(col("lift"),
        row_number().over(Window.orderBy(col("lift"), col("b"))).as("rn"))
      // both order statistics in ONE pass over rk (round 12): separate
      // rn=5 / rn=196 filters were two plan branches re-deriving the
      // 200-row window (and its upstream) once each
      val band = rk.where(col("rn") === 5 || col("rn") === 196)
        .agg(max(when(col("rn") === 5, col("lift"))).as("lo"),
          max(when(col("rn") === 196, col("lift"))).as("hi"))
      val pt = users.agg(
        (sum(when(col("variant") === "A", col("y"))).cast("double") /
          count_if(col("variant") === "A") -
          sum(when(col("variant") === "B", col("y"))).cast("double") /
            count_if(col("variant") === "B")).as("lift_hat"),
        count(lit(1)).as("n_users"))
      pt.crossJoin(broadcast(band))
        .select(col("n_users"), lit(200).as("n_replicates"),
          r6(col("lift_hat")).as("lift_hat"),
          r6(col("lo")).as("ci_lo"), r6(col("hi")).as("ci_hi"),
          (col("lo") <= 0 && lit(0) <= col("hi")).cast("int").as("ci_covers_zero"))
    },

    /** Quantile treatment effects (round 9): the DISTRIBUTIONAL A/B
      * readout — per decile p ∈ {0.1..0.9}, Q_A(p) − Q_B(p) over the
      * purchase-value distribution, where the mean test (q163) sees
      * nothing when a treatment shifts the tails in opposite
      * directions. Exact interpolated per-arm percentiles (q179
      * parity idiom) over one arm-assigned scan; output is O(9) rows
      * at any scale (approx_percentile is the same-shape drop-in).
      */
    QueryDef(
      "q304_quantile_effects", {
        val ps = (1 to 9).map(k => s"0.$k")
        s"""WITH pv AS (
           |  SELECT CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':ab1'), 1, 15))::BIGINT % 2 = 0
           |              THEN 'A' ELSE 'B' END AS variant,
           |    value AS v
           |  FROM events WHERE event_type = 'purchase'),
           |q AS (
           |  SELECT variant,
           |    ${ps.zipWithIndex.map { case (p, i) =>
              s"quantile_cont(v, $p) AS q${i + 1}" }.mkString(", ")}
           |  FROM pv GROUP BY 1)
           |SELECT p.p,
           |  round(${ps.indices.map(i =>
            s"CASE WHEN p.p = ${i + 1} THEN a.q${i + 1} - b.q${i + 1} ELSE 0 END")
            .mkString(" + \n    ")}, 6) AS qte,
           |  round(${ps.indices.map(i =>
            s"CASE WHEN p.p = ${i + 1} THEN a.q${i + 1} ELSE 0 END").mkString(" + \n    ")}, 6) AS q_a,
           |  round(${ps.indices.map(i =>
            s"CASE WHEN p.p = ${i + 1} THEN b.q${i + 1} ELSE 0 END").mkString(" + \n    ")}, 6) AS q_b
           |FROM (SELECT unnest(range(1, 10)) AS p) p
           |CROSS JOIN (SELECT * FROM q WHERE variant = 'A') a
           |CROSS JOIN (SELECT * FROM q WHERE variant = 'B') b
           |ORDER BY p.p""".stripMargin
      }) { (s, d) =>
      import s.implicits._
      val pv = Tables.events(s, d).where(col("event_type") === "purchase")
        .select(when(conv(substring(md5(concat(col("user_id").cast("string"),
          lit(":ab1"))), 1, 15), 16, 10).cast("long") % 2 === 0, "A")
          .otherwise("B").as("variant"), col("value").as("v"))
      val q = pv.groupBy("variant").agg(
        expr("percentile(v, 0.1)").as("q1"),
        (2 to 9).map(k => expr(s"percentile(v, 0.$k)").as(s"q$k")): _*)
      val a = q.where(col("variant") === "A")
        .select((1 to 9).map(i => col(s"q$i").as(s"a$i")): _*)
      val b = q.where(col("variant") === "B")
        .select((1 to 9).map(i => col(s"q$i").as(s"b$i")): _*)
      val ps = (1 to 9).toDF("p")
      def pick(pref: String) = (1 to 9).map(i =>
        when(col("p") === i, col(s"$pref$i")).otherwise(0.0)).reduce(_ + _)
      ps.crossJoin(broadcast(a)).crossJoin(broadcast(b))
        .select(col("p"),
          r6(pick("a") - pick("b")).as("qte"),
          r6(pick("a")).as("q_a"), r6(pick("b")).as("q_b"))
        .orderBy("p")
    },

    /** Minimum-detectable-effect / power calculator (round 9): the
      * design-side companion of q163 — given the realized arm sizes and
      * pooled conversion rate, the smallest absolute lift detectable at
      * α = 0.05 two-sided with 80% power:
      * MDE = (z_{0.975} + z_{0.8})·√(p(1−p)(1/n_a + 1/n_b)), with the
      * normal quantiles as shared literals (no engine erf parity bet).
      * One distinct-user aggregate; the readout every experiment review
      * starts from ("could this test even have seen the effect it
      * claims to rule out?").
      */
    QueryDef(
      "q305_power_mde",
      s"""WITH $abConvSql,
        |w AS (
        |  SELECT CAST(count_if(variant = 'A') AS BIGINT) AS na,
        |    CAST(count_if(variant = 'B') AS BIGINT) AS nb,
        |    CAST(sum(y) AS DOUBLE) / count(*) AS p
        |  FROM conv)
        |SELECT na, nb, round(p, 6) AS pooled_rate,
        |  round((1.959964 + 0.841621) * sqrt(p * (1 - p) * (1.0 / na + 1.0 / nb)), 6) AS mde_abs,
        |  round((1.959964 + 0.841621) * sqrt(p * (1 - p) * (1.0 / na + 1.0 / nb))
        |    / nullif(p, 0), 6) AS mde_rel
        |FROM w""".stripMargin) { (s, d) =>
      val convd = Tables.events(s, d).groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase" && col("value") > 250, 1)
          .otherwise(0)).as("y"))
        .withColumn("variant",
          when(conv(substring(md5(concat(col("user_id").cast("string"), lit(":ab1"))),
            1, 15), 16, 10).cast("long") % 2 === 0, "A").otherwise("B"))
      val w = convd.agg(
        count_if(col("variant") === "A").as("na"),
        count_if(col("variant") === "B").as("nb"),
        (sum(col("y")).cast("double") / count(lit(1))).as("p"))
      val z = lit(1.959964 + 0.841621)
      val mde = z * sqrt(col("p") * (lit(1) - col("p")) *
        (lit(1.0) / col("na") + lit(1.0) / col("nb")))
      w.select(col("na").cast("long").as("na"), col("nb").cast("long").as("nb"),
        r6(col("p")).as("pooled_rate"),
        r6(mde).as("mde_abs"),
        r6(mde / nullif(col("p"), lit(0.0))).as("mde_rel"))
    },

    /** mSPRT always-valid sequential A/B monitor (Johari, Pekelis &
      * Walsh, "Always Valid Inference", 2015/2022 — the method behind
      * continuously-peeked dashboards): per calendar day, the mixture
      * likelihood ratio Λ_n = √(V/(V+τ²))·exp(θ̂²τ²/(2V(V+τ²))) of the
      * cumulative arm conversion-rate gap θ̂ under a N(0, τ²=0.01)
      * effect prior, and the always-valid p-value p_n = running min of
      * min(1, 1/Λ) — valid at EVERY peek, unlike q163's fixed-horizon
      * z-test (peeking that daily would inflate its false-positive rate
      * ~5×). Completes the experimentation shelf: design (q305 MDE),
      * health (q302 SRM), fixed-horizon (q163), variance-reduced
      * (q275), distributional (q304), uncertainty (q303), and now
      * CONTINUOUS monitoring. Scale: one (day, arm) fact aggregate —
      * map-side combined — then O(days) window math; the running min is
      * a sequential frame over already-tiny data. exp/sqrt args are
      * identical on both engines (libm margin absorbed by round-6; the
      * Round10Spec margin test covers the family).
      */
    QueryDef(
      "q309_msprt",
      """WITH e AS (
        |  SELECT datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS di,
        |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 AS arm,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events),
        |g AS (
        |  SELECT di,
        |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS nad,
        |    sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS cad,
        |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS nbd,
        |    sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS cbd
        |  FROM e GROUP BY 1),
        |cum AS (
        |  SELECT di,
        |    sum(nad) OVER w AS na, sum(cad) OVER w AS ca,
        |    sum(nbd) OVER w AS nb, sum(cbd) OVER w AS cb
        |  FROM g WINDOW w AS (ORDER BY di ROWS UNBOUNDED PRECEDING)),
        |st AS (
        |  SELECT di, na, nb,
        |    CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb AS theta,
        |    (CAST(ca + cb AS DOUBLE) / (na + nb)) * (1 - CAST(ca + cb AS DOUBLE) / (na + nb))
        |      * (1.0 / na + 1.0 / nb) AS vn
        |  FROM cum WHERE na > 0 AND nb > 0),
        |lam AS (
        |  SELECT di, na, nb, theta,
        |    sqrt(vn / (vn + 0.01)) * exp((theta * theta * 0.01) / (2 * vn * (vn + 0.01))) AS lambda
        |  FROM st),
        |pv AS (
        |  SELECT di, na, nb, theta, lambda,
        |    min(least(1.0, 1.0 / lambda)) OVER (ORDER BY di ROWS UNBOUNDED PRECEDING) AS p_seq
        |  FROM lam)
        |SELECT di, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  round(theta, 6) AS theta, round(lambda, 6) AS lambda,
        |  round(p_seq, 6) AS p_always_valid,
        |  CAST(p_seq < 0.05 AS INT) AS signif
        |FROM pv ORDER BY di""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val e = Tables.events(s, d).select(
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")).as("di"),
        (conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
          .cast("long") % 2).as("arm"),
        when(col("event_type") === "purchase", 1).otherwise(0).as("y"))
      val g = e.groupBy("di").agg(
        sum(when(col("arm") === 1, 1).otherwise(0)).as("nad"),
        sum(when(col("arm") === 1, col("y")).otherwise(0)).as("cad"),
        sum(when(col("arm") === 0, 1).otherwise(0)).as("nbd"),
        sum(when(col("arm") === 0, col("y")).otherwise(0)).as("cbd"))
      val w = Window.orderBy(col("di")).rowsBetween(Window.unboundedPreceding, 0)
      val cum = g.select(col("di"),
        sum(col("nad")).over(w).as("na"), sum(col("cad")).over(w).as("ca"),
        sum(col("nbd")).over(w).as("nb"), sum(col("cbd")).over(w).as("cb"))
      val pooled = col("ca").cast("double").plus(col("cb")) / (col("na") + col("nb"))
      val st = cum.where(col("na") > 0 && col("nb") > 0)
        .select(col("di"), col("na"), col("nb"),
          (col("ca").cast("double") / col("na") - col("cb").cast("double") / col("nb")).as("theta"),
          (pooled * (lit(1) - pooled) * (lit(1.0) / col("na") + lit(1.0) / col("nb"))).as("vn"))
      val lam = st.select(col("di"), col("na"), col("nb"), col("theta"),
        (sqrt(col("vn") / (col("vn") + 0.01)) *
          exp((col("theta") * col("theta") * 0.01) /
            (lit(2) * col("vn") * (col("vn") + 0.01)))).as("lambda"))
      lam.withColumn("p_seq",
          min(least(lit(1.0), lit(1.0) / col("lambda"))).over(w))
        .select(col("di"), col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
          r6(col("theta")).as("theta"), r6(col("lambda")).as("lambda"),
          r6(col("p_seq")).as("p_always_valid"),
          (col("p_seq") < 0.05).cast("int").as("signif"))
        .orderBy("di")
    },

    /** Intraclass correlation ICC(1) via one-way random-effects ANOVA
      * (Shrout & Fleiss 1979) — how much of the value variance is
      * BETWEEN users vs within: the clustering diagnostic that decides
      * whether per-user modeling (and clustered standard errors in the
      * A/B shelf q163/q275) is warranted at all. Unbalanced-design
      * form: MSB/MSW from per-user decimal moments, n₀ the standard
      * unbalanced group-size correction. One user-grain aggregate +
      * one global fold — nothing wider than the user key shuffles.
      */
    QueryDef(
      "q352_icc",
      """WITH u AS (
        |  SELECT user_id, count(*) AS ni,
        |    CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE) AS sxx
        |  FROM events GROUP BY 1),
        |g AS (
        |  SELECT count(*) AS k,
        |    CAST(sum(ni) AS DOUBLE) AS nt,
        |    CAST(sum(CAST(sx AS DECIMAL(38,12))) AS DOUBLE) AS gx,
        |    CAST(sum(CAST(sxx AS DECIMAL(38,12))) AS DOUBLE) AS gxx,
        |    CAST(sum(CAST(sx * sx / ni AS DECIMAL(38,12))) AS DOUBLE) AS ssb_raw,
        |    CAST(sum(CAST(CAST(ni AS DOUBLE) * ni AS DECIMAL(38,12))) AS DOUBLE) AS sn2
        |  FROM u),
        |f AS (
        |  SELECT k, nt,
        |    (ssb_raw - gx * gx / nt) / (k - 1) AS msb,
        |    (gxx - ssb_raw) / (nt - k) AS msw,
        |    (nt - sn2 / nt) / (k - 1) AS n0
        |  FROM g)
        |SELECT CAST(k AS BIGINT) AS n_users, CAST(nt AS BIGINT) AS n_obs,
        |  round(msb, 6) AS msb, round(msw, 6) AS msw, round(n0, 6) AS n0,
        |  round((msb - msw) / (msb + (n0 - 1) * msw), 6) AS icc1
        |FROM f""".stripMargin) { (s, d) =>
      val u = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("ni"),
          sum(col("value").cast("decimal(38,12)")).cast("double").as("sx"),
          sum((col("value") * col("value")).cast("decimal(38,12)")).cast("double").as("sxx"))
      val g = u.agg(count(lit(1)).as("k"),
        sum(col("ni")).cast("double").as("nt"),
        sum(col("sx").cast("decimal(38,12)")).cast("double").as("gx"),
        sum(col("sxx").cast("decimal(38,12)")).cast("double").as("gxx"),
        sum((col("sx") * col("sx") / col("ni")).cast("decimal(38,12)")).cast("double").as("ssb_raw"),
        sum((col("ni").cast("double") * col("ni")).cast("decimal(38,12)")).cast("double").as("sn2"))
      g.select(col("k"), col("nt"),
          ((col("ssb_raw") - col("gx") * col("gx") / col("nt")) / (col("k") - 1)).as("msb"),
          ((col("gxx") - col("ssb_raw")) / (col("nt") - col("k"))).as("msw"),
          ((col("nt") - col("sn2") / col("nt")) / (col("k") - 1)).as("n0"))
        .select(col("k").cast("long").as("n_users"), col("nt").cast("long").as("n_obs"),
          round(col("msb"), 6).as("msb"), round(col("msw"), 6).as("msw"),
          round(col("n0"), 6).as("n0"),
          round((col("msb") - col("msw")) /
            (col("msb") + (col("n0") - 1) * col("msw")), 6).as("icc1"))
    }
  )
}
