package graft.operators

import graft.{PlanCache, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-16 batch: the survival / GLM / classical-testing / smoothing /
  * doubly-robust operators a 100 TB analytics stack still lacked after
  * round 15 —
  *
  *  - q384 Cox proportional hazards (Cox 1972; Breslow ties), two
  *    unrolled Newton steps on the partial likelihood with risk-set
  *    sums as suffix windows over the bounded duration grid;
  *  - q385 Poisson GLM trend per element, two unrolled IRLS steps,
  *    closed-form weighted least squares from decimal moments;
  *  - q386 one-way ANOVA F + effect size + Levene's homogeneity test;
  *  - q387 the standardized effect-size family (Cohen's d, Hedges' g,
  *    Cliff's δ / CLES from two-phase exact mid-ranks);
  *  - q388 Good–Turing frequency smoothing (Good 1953) — all-integer
  *    count-of-count ratios;
  *  - q389 AIPW doubly-robust ATE (Robins-Rotnitzky-Zhao 1994) with a
  *    two-step-IRLS logistic propensity and per-arm OLS outcome models,
  *    every solve a shared-stage 3×3 Cramer (the q320/q378 discipline).
  *
  * All hash-verified against DuckDB on the same parquet tables.
  */
object Round16Ops {
  import CausalOps.{dsum, dsumSql, r6}

  /** Shared 3×3 normal-equation Cramer stages over generically named
    * matrix entries (a11..a33 symmetric, b1..b3) → coefficients c0..c2.
    * Same strings feed Spark `selectExpr` and the DuckDB oracle.
    */
  private val neA = Array(
    Array("a11", "a12", "a13"), Array("a12", "a22", "a23"), Array("a13", "a23", "a33"))
  private val neB = Array("b1", "b2", "b3")
  private[operators] def neDtStage(carry: Seq[String]): Array[String] = (carry ++ Seq(
    s"${Round15Ops.det3(neA)} AS dt",
    s"${Round15Ops.det3(Round15Ops.replCol(neA, 0, neB))} AS dt1",
    s"${Round15Ops.det3(Round15Ops.replCol(neA, 1, neB))} AS dt2",
    s"${Round15Ops.det3(Round15Ops.replCol(neA, 2, neB))} AS dt3")).toArray
  private[operators] def neWStage(carry: Seq[String]): Array[String] = (carry ++ Seq(
    "dt1/dt AS c0", "dt2/dt AS c1", "dt3/dt AS c2")).toArray

  /** One arm's outcome-OLS moments a12..b3 over `fx` (x1, x2, y, t),
    * as SELECT-list lines; a11 (the arm's count) is the caller's:
    * q389 and q391. */
  private[operators] def armMomentsSql(arm: String): String =
    s"""    ${dsumSql(s"CASE WHEN t = $arm THEN x1 END")} AS a12,
       |    ${dsumSql(s"CASE WHEN t = $arm THEN x2 END")} AS a13,
       |    ${dsumSql(s"CASE WHEN t = $arm THEN x1*x1 END")} AS a22,
       |    ${dsumSql(s"CASE WHEN t = $arm THEN x1*x2 END")} AS a23,
       |    ${dsumSql(s"CASE WHEN t = $arm THEN x2*x2 END")} AS a33,
       |    ${dsumSql(s"CASE WHEN t = $arm THEN y END")} AS b1,
       |    ${dsumSql(s"CASE WHEN t = $arm THEN y*x1 END")} AS b2,
       |    ${dsumSql(s"CASE WHEN t = $arm THEN y*x2 END")} AS b3""".stripMargin

  /** The logistic propensity start over `fx` (`pb`, `p0`: c0 = the
    * logit of the treated share, c1 = c2 = 0): q389 and q395. */
  private[operators] val logitStartSql =
    s"""pb AS (SELECT ${dsumSql("t")} / count(*) AS pbar FROM fx),
       |p0 AS (SELECT ln(pbar/(CAST(1 AS DOUBLE) - pbar)) AS c0,
       |  CAST(0 AS DOUBLE) AS c1, CAST(0 AS DOUBLE) AS c2 FROM pb)""".stripMargin

  /** The FROM clause of a logistic IRLS step: per `fx` row the weight
    * v = p(1−p) and working response vz at the coefficients held in
    * CTE `prev`: q389 and q395. */
  private[operators] def logitWorkSql(prev: String): String =
    s"""  FROM (
       |    SELECT x1, x2, p*(CAST(1 AS DOUBLE) - p) AS v,
       |      p*(CAST(1 AS DOUBLE) - p)*eta + (t - p) AS vz
       |    FROM (
       |      SELECT fx.t, fx.x1, fx.x2, q.c0 + q.c1*fx.x1 + q.c2*fx.x2 AS eta,
       |        CAST(1 AS DOUBLE)/(CAST(1 AS DOUBLE)
       |          + exp(-(q.c0 + q.c1*fx.x1 + q.c2*fx.x2))) AS p
       |      FROM fx CROSS JOIN $prev q) z1) z2)""".stripMargin

  /** The closed-form weighted least-squares solve (a, b) per element
    * from the moments of CTE `m<tag>`, as CTE `p<tag>`: the IRLS steps
    * of q385 and q424. */
  private[operators] def wlsSolveSql(tag: String): String =
    s"""p$tag AS (
       |  SELECT el,
       |    (swz - ((sw*swuz - swu*swz)/(sw*swuu - swu*swu))*swu)/sw AS a,
       |    (sw*swuz - swu*swz)/(sw*swuu - swu*swu) AS b
       |  FROM m$tag)""".stripMargin

  /** The count-GLM cells (el, u = day/29, cnt) — one PlanCache entry per
    * session, shared by q385's Poisson fit and q424's negative binomial.
    */
  private[operators] def countCells(s: SparkSession, d: String): DataFrame =
    PlanCache.cached(s, s"q385_cd|$d") {
      Tables.events(s, d).groupBy(col("event_type").as("el"),
          (datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
            .cast("double") / lit(29.0)).as("u"))
        .agg(count(lit(1)).cast("double").as("cnt"))
    }

  /** Oracle of [[countCells]] (`cd`) and the null-model start `p0`
    * (a = ln mean count, b = 0) of the count GLMs q385 and q424. */
  private[operators] val countCellsSql =
    s"""cd AS MATERIALIZED (
       |  SELECT event_type AS el,
       |    CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS DOUBLE)
       |      / CAST(29 AS DOUBLE) AS u,
       |    CAST(count(*) AS DOUBLE) AS cnt
       |  FROM events GROUP BY 1, 2),
       |p0 AS (
       |  SELECT el, ln(${dsumSql("cnt")} / count(*)) AS a, CAST(0 AS DOUBLE) AS b
       |  FROM cd GROUP BY el)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    /** Cox proportional hazards on the q277 signup→purchase durations
      * (right-censored at the horizon), covariate x = the user's click
      * count (baseline activity): two unrolled Newton–Raphson steps on
      * the Breslow partial likelihood from β = 0, plus a third
      * evaluation pass at the final β whose score U(β₂) IS the
      * convergence readout (near 0 = converged), with se = 1/√I(β₂),
      * hazard ratio exp(β₂) and Wald z. At β = 0 the risk sums are
      * plain counts; each later pass re-exponentiates per subject
      * against the broadcast 1-row β.
      *
      * Scale shape: durations aggregate to the ≤31-row unique-time
      * grid; risk-set sums S₀/S₁/S₂ are suffix windows over THAT grid
      * (bounded by the event horizon, never subject-grain); each Newton
      * step is one subject-grain scan + one grid window + one 1-row
      * fold. Subject table built once (PlanCache), three passes total.
      */
    QueryDef(
      "q384_cox_ph",
      s"""WITH ${Round19Ops.coxSqlThroughB2},
        |${Round19Ops.coxPassSql("2", "b2")},
        |nn AS (SELECT count(*) AS n, sum(ev) AS nev FROM dur)
        |SELECT CAST(n AS BIGINT) AS n, CAST(nev AS BIGINT) AS n_events,
        |  round((SELECT b FROM b1), 6) AS beta1,
        |  round((SELECT b FROM b2), 6) AS beta,
        |  round(exp((SELECT b FROM b2)), 6) AS hazard_ratio,
        |  round(CAST(1 AS DOUBLE)/sqrt((SELECT i FROM ui2)), 6) AS se,
        |  round((SELECT b FROM b2) * sqrt((SELECT i FROM ui2)), 6) AS wald_z,
        |  round((SELECT u FROM ui2), 6) + CAST(0 AS DOUBLE) AS score_final
        |FROM nn""".stripMargin) { (s, d) =>
      val dur = Round19Ops.coxDur(s, d)
      val (b1, b2) = Round19Ops.coxFit(s, dur)
      val ui2 = Round19Ops.coxPass(dur, b2)
      val nn = dur.agg(count(lit(1)).as("n"), sum(col("ev")).as("nev"))
      nn.crossJoin(broadcast(b1.select(col("b").as("bb1"))))
        .crossJoin(broadcast(b2.select(col("b").as("bb2"))))
        .crossJoin(broadcast(ui2))
        .select(col("n").cast("long").as("n"), col("nev").cast("long").as("n_events"),
          r6(col("bb1")).as("beta1"), r6(col("bb2")).as("beta"),
          r6(exp(col("bb2"))).as("hazard_ratio"),
          r6(lit(1.0) / sqrt(col("i"))).as("se"),
          r6(col("bb2") * sqrt(col("i"))).as("wald_z"),
          (r6(col("u")) + lit(0.0)).as("score_final"))
    },

    /** Poisson log-linear trend per element: daily event counts
      * cnt ~ Poisson(exp(a + b·u)) with u = di/29 ∈ [0,1], two unrolled
      * IRLS steps (McCullagh & Nelder §2.5) from the exact MLE-of-the-
      * null start a₀ = ln(mean), b₀ = 0. Each step is closed-form
      * weighted least squares — five decimal-fold moments per element,
      * the working response folded as μz = μη + (cnt − μ) so no
      * per-row division — and the readout includes the step-2 deviance
      * 2Σ[cnt·ln(cnt/μ) − (cnt − μ)]: the GLM complement of q199/q294's
      * Gaussian trends and q230's lag regressions.
      *
      * Scale shape: counts aggregate once to the PlanCache'd daily grid
      * (element × ≤31 days); both IRLS steps and the deviance are
      * grid-grain column math + per-element folds — fact bytes touched
      * once, by the shared grid build.
      */
    QueryDef(
      "q385_poisson_glm", {
        def step(tag: String, prev: String) =
          s"""m$tag AS (
             |  SELECT c.el,
             |    ${dsumSql("mu")} AS sw, ${dsumSql("mu*u")} AS swu,
             |    ${dsumSql("mu*u*u")} AS swuu,
             |    ${dsumSql("mu*eta + (cnt - mu)")} AS swz,
             |    ${dsumSql("(mu*eta + (cnt - mu))*u")} AS swuz
             |  FROM (
             |    SELECT cd.el, cd.u, cd.cnt, p.a + p.b*cd.u AS eta,
             |      exp(p.a + p.b*cd.u) AS mu
             |    FROM cd JOIN $prev p ON p.el = cd.el) c
             |  GROUP BY 1),
             |${wlsSolveSql(tag)}""".stripMargin
        s"""WITH $countCellsSql,
           |${step("1", "p0")},
           |${step("2", "p1")},
           |dv AS (
           |  SELECT cd.el,
           |    ${dsumSql("cnt*ln(cnt/exp(p.a + p.b*u)) - (cnt - exp(p.a + p.b*u))")} AS hdev,
           |    count(*) AS nd
           |  FROM cd JOIN p2 p ON p.el = cd.el GROUP BY 1)
           |SELECT p2.el AS el, CAST(nd AS BIGINT) AS n_days,
           |  round(p2.a, 6) AS a, round(p2.b, 6) AS b,
           |  round(exp(p2.b), 6) AS trend_ratio,
           |  round(CAST(2 AS DOUBLE) * hdev, 6) AS deviance
           |FROM p2 JOIN dv ON dv.el = p2.el ORDER BY el""".stripMargin
      }) { (s, d) =>
      val cd = countCells(s, d)
      val p0 = cd.groupBy("el").agg(
        log(dsum(col("cnt")) / count(lit(1))).as("a")).withColumn("b", lit(0.0))
      def step(prev: DataFrame): DataFrame = {
        val eta = col("a") + col("b") * col("u")
        val mu = exp(eta)
        val vz = mu * eta + (col("cnt") - mu)
        val m = cd.join(broadcast(prev), "el").groupBy("el").agg(
          dsum(mu).as("sw"), dsum(mu * col("u")).as("swu"),
          dsum(mu * col("u") * col("u")).as("swuu"),
          dsum(vz).as("swz"), dsum(vz * col("u")).as("swuz"))
        val b = (col("sw") * col("swuz") - col("swu") * col("swz")) /
          (col("sw") * col("swuu") - col("swu") * col("swu"))
        m.select(col("el"), ((col("swz") - b * col("swu")) / col("sw")).as("a"), b.as("b"))
      }
      val p2 = step(step(p0))
      val mu2 = exp(col("a") + col("b") * col("u"))
      val dv = cd.join(broadcast(p2), "el").groupBy("el").agg(
        dsum(col("cnt") * log(col("cnt") / mu2) - (col("cnt") - mu2)).as("hdev"),
        count(lit(1)).as("nd"))
      p2.join(dv, "el")
        .select(col("el"), col("nd").cast("long").as("n_days"),
          r6(col("a")).as("a"), r6(col("b")).as("b"),
          r6(exp(col("b"))).as("trend_ratio"),
          r6(lit(2.0) * col("hdev")).as("deviance"))
        .orderBy("el")
    },

    /** One-way ANOVA of o_totalprice across the five order priorities —
      * F, its degrees of freedom, and η² effect size — PLUS Levene's
      * homogeneity-of-variance test (mean-centered form) whose
      * significance is the classic warning that the ANOVA F's equal-
      * variance assumption is itself violated. Both Fs are closed form
      * from decimal-exact group moments: SSB = Σs_j²/n_j − S²/N,
      * SSW = Σ(ss_j − s_j²/n_j); Levene reruns the identical formula on
      * z = |y − ȳ_group| with the group means broadcast back.
      *
      * Scale shape: two fact scans (moments; then z-moments against the
      * broadcast 5-row mean table), each ONE map-side-combined grouped
      * aggregate onto the priority domain; everything after is 5-row
      * column math.
      */
    QueryDef(
      "q386_anova_levene",
      s"""WITH gm AS (
         |  SELECT o_orderpriority AS g, count(*) AS n,
         |    ${dsumSql("o_totalprice")} AS s, ${dsumSql("o_totalprice*o_totalprice")} AS ss
         |  FROM orders GROUP BY 1),
         |zm AS (
         |  SELECT o.o_orderpriority AS g, count(*) AS n,
         |    ${dsumSql("abs(o.o_totalprice - gm.s/gm.n)")} AS s,
         |    ${dsumSql("abs(o.o_totalprice - gm.s/gm.n)*abs(o.o_totalprice - gm.s/gm.n)")} AS ss
         |  FROM orders o JOIN gm ON gm.g = o.o_orderpriority GROUP BY 1),
         |f AS (
         |  SELECT count(*) AS k, sum(n) AS nt,
         |    ${dsumSql("s*s/n")} AS sb, ${dsumSql("s")} AS st,
         |    ${dsumSql("ss - s*s/n")} AS ssw, ${dsumSql("ss")} AS sst
         |  FROM gm),
         |fz AS (
         |  SELECT ${dsumSql("s*s/n")} AS sb, ${dsumSql("s")} AS st,
         |    ${dsumSql("ss - s*s/n")} AS ssw
         |  FROM zm)
         |SELECT CAST(f.k AS INT) AS k, CAST(f.nt AS BIGINT) AS n,
         |  CAST(f.k - 1 AS BIGINT) AS df1, CAST(f.nt - f.k AS BIGINT) AS df2,
         |  round(((f.sb - f.st*f.st/f.nt)/(f.k - 1)) / (f.ssw/(f.nt - f.k)), 6) AS f_anova,
         |  round((f.sb - f.st*f.st/f.nt) / (f.sst - f.st*f.st/f.nt), 6) AS eta_sq,
         |  round(((fz.sb - fz.st*fz.st/f.nt)/(f.k - 1)) / (fz.ssw/(f.nt - f.k)), 6) AS f_levene
         |FROM f CROSS JOIN fz""".stripMargin) { (s, d) =>
      val gm = Tables.orders(s, d).groupBy(col("o_orderpriority").as("g")).agg(
        count(lit(1)).as("n"), dsum(col("o_totalprice")).as("s"),
        dsum(col("o_totalprice") * col("o_totalprice")).as("ss"))
      val zv = abs(col("o_totalprice") - col("s") / col("n"))
      val zm = Tables.orders(s, d)
        .join(broadcast(gm), col("g") === col("o_orderpriority"))
        .groupBy(col("o_orderpriority").as("zg")).agg(
          count(lit(1)).as("n"), dsum(zv).as("s"), dsum(zv * zv).as("ss"))
      val f = gm.agg(count(lit(1)).as("k"), sum(col("n")).as("nt"),
        dsum(col("s") * col("s") / col("n")).as("sb"), dsum(col("s")).as("st"),
        dsum(col("ss") - col("s") * col("s") / col("n")).as("ssw"),
        dsum(col("ss")).as("sst"))
      val fz = zm.agg(
        dsum(col("s") * col("s") / col("n")).as("zsb"), dsum(col("s")).as("zst"),
        dsum(col("ss") - col("s") * col("s") / col("n")).as("zssw"))
      f.crossJoin(broadcast(fz)).select(
        col("k").cast("int").as("k"), col("nt").cast("long").as("n"),
        (col("k") - 1).cast("long").as("df1"), (col("nt") - col("k")).cast("long").as("df2"),
        r6(((col("sb") - col("st") * col("st") / col("nt")) / (col("k") - 1)) /
          (col("ssw") / (col("nt") - col("k")))).as("f_anova"),
        r6((col("sb") - col("st") * col("st") / col("nt")) /
          (col("sst") - col("st") * col("st") / col("nt"))).as("eta_sq"),
        r6(((col("zsb") - col("zst") * col("zst") / col("nt")) / (col("k") - 1)) /
          (col("zssw") / (col("nt") - col("k")))).as("f_levene"))
    },

    /** The standardized effect-size family for the urgent-vs-low
      * priority contrast on o_totalprice: Cohen's d (pooled-sd mean
      * difference), Hedges' g (the small-sample bias correction
      * J = 1 − 3/(4N−9)), and the rank-based pair — Cliff's δ and the
      * common-language effect size P(X_A > X_B) + ½P(=) — computed
      * EXACTLY from mid-ranks: U = R_A − n_A(n_A+1)/2 with mid-ranks
      * from the two-phase global row number (q174 idiom) averaged per
      * tied value, the same machinery q273's U-test uses. Moments give
      * d/g; ranks give δ/CLES; reporting them together is the point —
      * they disagree exactly when the distributions are non-normal.
      *
      * Scale shape: ONE two-phase range-partitioned rank pass (no
      * single-partition funnel), one value-grain mid-rank aggregate,
      * one moment aggregate; all readout math on a 1-row table.
      */
    QueryDef(
      "q387_effect_sizes",
      s"""WITH po AS (
         |  SELECT o_totalprice AS y,
         |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS arm,
         |    o_orderkey AS okey
         |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
         |rn AS (
         |  SELECT y, arm, row_number() OVER (ORDER BY y, arm, okey) AS rn
         |  FROM po),
         |mr AS (
         |  SELECT y, ${dsumSql("rn")} / count(*) AS midrank,
         |    sum(arm) AS ca, count(*) - sum(arm) AS cb
         |  FROM rn GROUP BY y),
         |ag AS (
         |  SELECT ${dsumSql("ca * midrank")} AS ra,
         |    sum(ca) AS na, sum(cb) AS nb
         |  FROM mr),
         |mo AS (
         |  SELECT sum(arm) AS na, count(*) - sum(arm) AS nb,
         |    ${dsumSql("CASE WHEN arm = 1 THEN y END")} AS sa,
         |    ${dsumSql("CASE WHEN arm = 1 THEN y*y END")} AS ssa,
         |    ${dsumSql("CASE WHEN arm = 0 THEN y END")} AS sb,
         |    ${dsumSql("CASE WHEN arm = 0 THEN y*y END")} AS ssb
         |  FROM po),
         |st AS (
         |  SELECT mo.na, mo.nb,
         |    mo.sa/mo.na AS ma, mo.sb/mo.nb AS mb,
         |    (mo.ssa - mo.sa*mo.sa/mo.na)/(mo.na - 1) AS va,
         |    (mo.ssb - mo.sb*mo.sb/mo.nb)/(mo.nb - 1) AS vb,
         |    ag.ra - mo.na*(mo.na + CAST(1 AS DOUBLE))/CAST(2 AS DOUBLE) AS u
         |  FROM mo CROSS JOIN ag)
         |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
         |  round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
         |  round((ma - mb) / sqrt(((na - 1)*va + (nb - 1)*vb)/(na + nb - 2)), 6) AS cohen_d,
         |  round(((ma - mb) / sqrt(((na - 1)*va + (nb - 1)*vb)/(na + nb - 2)))
         |    * (CAST(1 AS DOUBLE) - CAST(3 AS DOUBLE)/(CAST(4 AS DOUBLE)*(na + nb) - CAST(9 AS DOUBLE))), 6) AS hedges_g,
         |  round(CAST(2 AS DOUBLE)*u/(na*nb) - CAST(1 AS DOUBLE), 6) AS cliff_delta,
         |  round(u/(na*nb), 6) AS cles,
         |  round(va/vb, 6) AS var_ratio
         |FROM st""".stripMargin) { (s, d) =>
      val po = Tables.orders(s, d)
        .where(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(col("o_totalprice").as("y"),
          when(col("o_orderpriority") === "1-URGENT", 1).otherwise(0).as("arm"),
          col("o_orderkey").as("okey"))
      val (rn, _) = TwoPhase.globalRowNumber(s, po, s"q387_rn|$d",
        Seq(col("y").asc, col("arm").asc, col("okey").asc))
      val mr = rn.groupBy("y").agg(
        (dsum(col("rn")) / count(lit(1))).as("midrank"),
        sum(col("arm")).as("ca"), (count(lit(1)) - sum(col("arm"))).as("cb"))
      val ag = mr.agg(dsum(col("ca") * col("midrank")).as("ra"),
        sum(col("ca")).as("na2"), sum(col("cb")).as("nb2"))
      val mo = po.agg(
        sum(col("arm")).as("na"), (count(lit(1)) - sum(col("arm"))).as("nb"),
        dsum(when(col("arm") === 1, col("y"))).as("sa"),
        dsum(when(col("arm") === 1, col("y") * col("y"))).as("ssa"),
        dsum(when(col("arm") === 0, col("y"))).as("sb"),
        dsum(when(col("arm") === 0, col("y") * col("y"))).as("ssb"))
      val st = mo.crossJoin(broadcast(ag)).select(
        col("na"), col("nb"),
        (col("sa") / col("na")).as("ma"), (col("sb") / col("nb")).as("mb"),
        ((col("ssa") - col("sa") * col("sa") / col("na")) / (col("na") - 1)).as("va"),
        ((col("ssb") - col("sb") * col("sb") / col("nb")) / (col("nb") - 1)).as("vb"),
        (col("ra") - col("na") * (col("na") + lit(1.0)) / lit(2.0)).as("u"))
      val dCol = (col("ma") - col("mb")) /
        sqrt(((col("na") - 1) * col("va") + (col("nb") - 1) * col("vb")) /
          (col("na") + col("nb") - 2))
      st.select(col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
        r6(col("ma")).as("mean_a"), r6(col("mb")).as("mean_b"),
        r6(dCol).as("cohen_d"),
        r6(dCol * (lit(1.0) - lit(3.0) /
          (lit(4.0) * (col("na") + col("nb")) - lit(9.0)))).as("hedges_g"),
        r6(lit(2.0) * col("u") / (col("na") * col("nb")) - lit(1.0)).as("cliff_delta"),
        r6(col("u") / (col("na") * col("nb"))).as("cles"),
        r6(col("va") / col("vb")).as("var_ratio"))
    },

    /** Good–Turing frequency smoothing (Good 1953; the Gale & Sampson
      * 1995 presentation) over the document BIGRAM vocabulary — the
      * unigram vocabulary of this synthetic corpus has no rare mass
      * (minimum word count 26), so the bigram grain is where
      * Good–Turing has something to smooth: for
      * r = 1..10, the count-of-counts N_r, the adjusted count
      * rStar = (r+1)·N_{r+1}/N_r, the smoothed probability rStar/N,
      * and the unseen-mass estimate P₀ = N₁/N — every input an INTEGER
      * (word counts, counts-of-counts, total tokens), so the readout is
      * exact integer ratios in both engines; the raw (unsmoothed-N_r)
      * estimator is the operator, per the classical definition.
      *
      * Scale shape: bigram explode → bigram-grain count → count-of-counts
      * (≤ max-frequency rows) → a 10-row grid left-join; the heavy
      * grain is the one vocabulary aggregate every text query shares.
      */
    QueryDef(
      "q388_good_turing",
      s"""WITH w AS (
         |  SELECT list_filter(string_split(text, ' '), x -> x != '') AS ws
         |  FROM documents),
         |bg AS (
         |  SELECT u.w1 || ' ' || u.w2 AS tok
         |  FROM (SELECT unnest([{'w1': ws[i], 'w2': ws[i + 1]}
         |          FOR i IN range(1, len(ws))]) AS u
         |        FROM w WHERE len(ws) >= 2) z),
         |wc AS (SELECT tok, count(*) AS r FROM bg GROUP BY 1),
         |coc AS (SELECT r, count(*) AS nr FROM wc GROUP BY 1),
         |nt AS (SELECT sum(r * nr) AS n FROM coc),
         |n1 AS (SELECT nr AS nr1 FROM coc WHERE r = 1),
         |grid AS (SELECT r FROM range(1, 11) t(r))
         |SELECT CAST(grid.r AS INT) AS r,
         |  CAST(coalesce(c1.nr, 0) AS BIGINT) AS n_r,
         |  round((grid.r + CAST(1 AS DOUBLE)) * coalesce(c2.nr, 0) / c1.nr, 6) AS r_star,
         |  round((grid.r + CAST(1 AS DOUBLE)) * coalesce(c2.nr, 0) / c1.nr / nt.n, 6) AS p_gt,
         |  round(CAST(n1.nr1 AS DOUBLE) / nt.n, 6) AS p0_mass
         |FROM grid JOIN coc c1 ON c1.r = grid.r
         |LEFT JOIN coc c2 ON c2.r = grid.r + 1
         |CROSS JOIN nt CROSS JOIN n1
         |ORDER BY r""".stripMargin) { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(graft.functions.Text.wordsCol(col("text")).as("ws"))
        .where(size(col("ws")) >= 2)
        .select(explode(expr(
          """transform(sequence(1, size(ws) - 1),
            |  i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))""".stripMargin))
          .as("w"))
      val wc = tok.groupBy("w").agg(count(lit(1)).as("r"))
      val coc = PlanCache.cached(s, s"q388_coc|$d") {
        wc.groupBy("r").agg(count(lit(1)).as("nr"))
      }
      val nt = coc.agg(sum(col("r") * col("nr")).as("n"))
      val n1 = coc.where(col("r") === 1).select(col("nr").as("nr1"))
      val grid = s.range(1, 11).select(col("id").as("gr"))
      grid.join(coc.select(col("r").as("gr"), col("nr")), "gr")
        .join(coc.select((col("r") - 1).as("gr"), col("nr").as("nr2")), Seq("gr"), "left")
        .crossJoin(broadcast(nt)).crossJoin(broadcast(n1))
        .select(col("gr").cast("int").as("r"),
          coalesce(col("nr"), lit(0L)).cast("long").as("n_r"),
          r6((col("gr") + lit(1.0)) * coalesce(col("nr2"), lit(0L)) / col("nr")).as("r_star"),
          r6((col("gr") + lit(1.0)) * coalesce(col("nr2"), lit(0L)) / col("nr") / col("n")).as("p_gt"),
          r6(col("nr1").cast("double") / col("n")).as("p0_mass"))
        .orderBy("r")
    },

    /** Doubly-robust AIPW average treatment effect (Robins, Rotnitzky &
      * Zhao 1994; the "double machine learning" moment in its classical
      * form) of discounting (l_discount ≥ 0.05) on net revenue:
      * propensity e(x) from a two-step-IRLS logistic on (quantity, tax),
      * per-arm OLS outcome models m₁/m₀, both solved by the SHARED
      * 3×3 Cramer stages (q320/q378 discipline), then the augmented
      * estimator ψ = m₁−m₀ + T(y−m₁)/e − (1−T)(y−m₀)/(1−e) with e
      * clipped to [0.01, 0.99], reported NEXT TO the naive difference
      * and the pure IPW estimate — the three-way comparison IS the
      * robustness readout. The working response folds as vz = vη+(T−p)
      * so no per-row division enters the moments.
      *
      * Scale shape: the projected fact (T, y, x₁, x₂) is PlanCache'd
      * once; each IRLS step, the outcome-moment pass and the final ψ
      * pass are ONE map-side-combined aggregate against broadcast 1-row
      * parameters; all solves are 1-row column math.
      */
    QueryDef(
      "q389_aipw_dr", {
        val dt = neDtStage(Seq.empty).mkString(", ")
        val wS = neWStage(Seq.empty).mkString(", ")
        def irls(tag: String, prev: String) =
          s"""m$tag AS (
             |  SELECT ${dsumSql("v")} AS a11, ${dsumSql("v*x1")} AS a12,
             |    ${dsumSql("v*x2")} AS a13, ${dsumSql("v*x1*x1")} AS a22,
             |    ${dsumSql("v*x1*x2")} AS a23, ${dsumSql("v*x2*x2")} AS a33,
             |    ${dsumSql("vz")} AS b1, ${dsumSql("vz*x1")} AS b2,
             |    ${dsumSql("vz*x2")} AS b3
             |${logitWorkSql(prev)},
             |d$tag AS (SELECT $dt FROM m$tag),
             |p$tag AS (SELECT $wS FROM d$tag)""".stripMargin
        def outcome(tag: String, arm: String) =
          s"""mo$tag AS (
             |  SELECT CAST(count(*) FILTER (WHERE t = $arm) AS DOUBLE) AS a11,
             |${armMomentsSql(arm)}
             |  FROM fx),
             |do$tag AS (SELECT $dt FROM mo$tag),
             |po$tag AS (SELECT $wS FROM do$tag)""".stripMargin
        s"""WITH fx AS MATERIALIZED (
           |  SELECT CASE WHEN l_discount >= CAST(0.05 AS DOUBLE)
           |      THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS t,
           |    l_extendedprice * (CAST(1 AS DOUBLE) - l_discount) AS y,
           |    l_quantity AS x1, l_tax AS x2
           |  FROM lineitem),
           |$logitStartSql,
           |${irls("1", "p0")},
           |${irls("2", "p1")},
           |${outcome("1", "1")},
           |${outcome("0", "0")},
           |fin AS (
           |  SELECT count(*) AS n, sum(CAST(t AS BIGINT)) AS ntr,
           |    ${dsumSql("m1 - m0 + t*(y - m1)/ec - (CAST(1 AS DOUBLE) - t)*(y - m0)/(CAST(1 AS DOUBLE) - ec)")} AS spsi,
           |    ${dsumSql("t*y/ec - (CAST(1 AS DOUBLE) - t)*y/(CAST(1 AS DOUBLE) - ec)")} AS sipw,
           |    ${dsumSql("ec")} AS se,
           |    ${dsumSql("CASE WHEN t = 1 THEN y END")} AS sy1,
           |    ${dsumSql("CASE WHEN t = 0 THEN y END")} AS sy0,
           |    sum(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS n1,
           |    sum(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS n0
           |  FROM (
           |    SELECT t, y,
           |      po1.c0 + po1.c1*x1 + po1.c2*x2 AS m1,
           |      po0.c0 + po0.c1*x1 + po0.c2*x2 AS m0,
           |      least(greatest(CAST(1 AS DOUBLE)/(CAST(1 AS DOUBLE)
           |          + exp(-(p2.c0 + p2.c1*x1 + p2.c2*x2))), CAST(0.01 AS DOUBLE)),
           |        CAST(0.99 AS DOUBLE)) AS ec
           |    FROM fx CROSS JOIN p2 CROSS JOIN po1 CROSS JOIN po0) z)
           |SELECT CAST(n AS BIGINT) AS n, CAST(ntr AS BIGINT) AS n_treated,
           |  round(sy1/n1 - sy0/n0, 6) AS ate_naive,
           |  round(sipw/n, 6) AS ate_ipw,
           |  round(spsi/n, 6) AS ate_aipw,
           |  round(se/n, 6) AS mean_propensity,
           |  round((SELECT c1 FROM p2), 6) AS prop_coef_qty,
           |  round((SELECT c2 FROM p2), 6) AS prop_coef_tax
           |FROM fin""".stripMargin
      }) { (s, d) =>
      val fx = PlanCache.cached(s, s"q389_fx|$d") {
        Tables.lineitem(s, d).select(
          when(col("l_discount") >= lit(0.05), lit(1.0)).otherwise(lit(0.0)).as("t"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("y"),
          col("l_quantity").as("x1"), col("l_tax").as("x2"))
      }
      val pb = fx.agg((dsum(col("t")) / count(lit(1))).as("pbar"))
      val p0 = pb.select(log(col("pbar") / (lit(1.0) - col("pbar"))).as("c0"),
        lit(0.0).as("c1"), lit(0.0).as("c2"))
      def irls(prev: DataFrame): DataFrame = {
        val eta = col("c0") + col("c1") * col("x1") + col("c2") * col("x2")
        val p = lit(1.0) / (lit(1.0) + exp(-eta))
        val v = p * (lit(1.0) - p)
        val vz = v * eta + (col("t") - p)
        fx.crossJoin(broadcast(prev)).agg(
            dsum(v).as("a11"), dsum(v * col("x1")).as("a12"),
            dsum(v * col("x2")).as("a13"), dsum(v * col("x1") * col("x1")).as("a22"),
            dsum(v * col("x1") * col("x2")).as("a23"),
            dsum(v * col("x2") * col("x2")).as("a33"),
            dsum(vz).as("b1"), dsum(vz * col("x1")).as("b2"), dsum(vz * col("x2")).as("b3"))
          .selectExpr(neDtStage(Seq.empty): _*).selectExpr(neWStage(Seq.empty): _*)
      }
      val p2 = irls(irls(p0))
      def outcome(arm: Int): DataFrame = {
        val c = col("t") === lit(arm.toDouble)
        fx.agg(
            count(when(c, lit(1))).cast("double").as("a11"),
            dsum(when(c, col("x1"))).as("a12"), dsum(when(c, col("x2"))).as("a13"),
            dsum(when(c, col("x1") * col("x1"))).as("a22"),
            dsum(when(c, col("x1") * col("x2"))).as("a23"),
            dsum(when(c, col("x2") * col("x2"))).as("a33"),
            dsum(when(c, col("y"))).as("b1"), dsum(when(c, col("y") * col("x1"))).as("b2"),
            dsum(when(c, col("y") * col("x2"))).as("b3"))
          .selectExpr(neDtStage(Seq.empty): _*).selectExpr(neWStage(Seq.empty): _*)
      }
      val po1 = outcome(1).select(col("c0").as("o1c0"), col("c1").as("o1c1"), col("c2").as("o1c2"))
      val po0 = outcome(0).select(col("c0").as("o0c0"), col("c1").as("o0c1"), col("c2").as("o0c2"))
      val p2r = p2.select(col("c0").as("pc0"), col("c1").as("pc1"), col("c2").as("pc2"))
      val m1 = col("o1c0") + col("o1c1") * col("x1") + col("o1c2") * col("x2")
      val m0 = col("o0c0") + col("o0c1") * col("x1") + col("o0c2") * col("x2")
      val ec = least(greatest(lit(1.0) / (lit(1.0) +
        exp(-(col("pc0") + col("pc1") * col("x1") + col("pc2") * col("x2")))),
        lit(0.01)), lit(0.99))
      val fin = fx.crossJoin(broadcast(p2r)).crossJoin(broadcast(po1)).crossJoin(broadcast(po0))
        .select(col("t"), col("y"), m1.as("m1"), m0.as("m0"), ec.as("ec"))
        .agg(count(lit(1)).as("n"), sum(col("t").cast("bigint")).as("ntr"),
          dsum(col("m1") - col("m0") + col("t") * (col("y") - col("m1")) / col("ec") -
            (lit(1.0) - col("t")) * (col("y") - col("m0")) / (lit(1.0) - col("ec"))).as("spsi"),
          dsum(col("t") * col("y") / col("ec") -
            (lit(1.0) - col("t")) * col("y") / (lit(1.0) - col("ec"))).as("sipw"),
          dsum(col("ec")).as("se"),
          dsum(when(col("t") === 1.0, col("y"))).as("sy1"),
          dsum(when(col("t") === 0.0, col("y"))).as("sy0"),
          sum(when(col("t") === 1.0, 1L).otherwise(0L)).as("n1"),
          sum(when(col("t") === 0.0, 1L).otherwise(0L)).as("n0"))
      fin.crossJoin(broadcast(p2r))
        .select(col("n").cast("long").as("n"), col("ntr").cast("long").as("n_treated"),
          r6(col("sy1") / col("n1") - col("sy0") / col("n0")).as("ate_naive"),
          r6(col("sipw") / col("n")).as("ate_ipw"),
          r6(col("spsi") / col("n")).as("ate_aipw"),
          r6(col("se") / col("n")).as("mean_propensity"),
          r6(col("pc1")).as("prop_coef_qty"),
          r6(col("pc2")).as("prop_coef_tax"))
    }
  )
}
