package graft.operators

import graft.{PlanCache, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-25 batch: robust trends, honest cross-correlation inference,
  * complexity measures, and kernel dependence —
  *
  *  - q440 EXACT quantile-regression trend (Koenker–Bassett 1978) at
  *    τ ∈ {0.5, 0.9} per element: the LP optimum passes through two
  *    data points, so enumerating all two-point candidate lines and
  *    minimizing the pinball loss IS the exact solution on the
  *    calendar-bounded grid — the median/upper-decile trend q16's OLS
  *    slope cannot see;
  *  - q441 Bartlett-corrected lead-lag significance (Box–Jenkins):
  *    var(r̂_xy) ≈ (1 + 2Σρ̂xx(k)ρ̂yy(k))/n — the honest z for q229's
  *    cross-correlations, which autocorrelation otherwise inflates;
  *  - q442 sample entropy (Richman–Moorman 2000, m=2, r=0.2σ) per
  *    element — the regularity/complexity readout;
  *  - q443 cross-sample entropy per pair on z-scored series — pattern
  *    synchrony between elements, the complexity companion of q427's
  *    coherence;
  *  - q444 RBF-kernel HSIC (Gretton 2005) per pair with the CKA
  *    normalization — kernel dependence that catches what both Pearson
  *    AND q428's distance correlation can miss at small shifts;
  *  - q445 rank-transformed Granger: q230's Granger-lite on per-element
  *    ECDF ranks — outlier-robust lead detection, literally
  *    grangerFromGrid over a cume_dist grid.
  *
  * Scale shapes: all on the PlanCache'd O(P·T) daily grid and its
  * bounded O(T²)/O(T³) per-element expansions (T calendar-bounded —
  * q440's candidate×day join is 13k rows per element at ANY data
  * volume); pair joins are day-matched, never all-pairs-of-rows.
  */
object Round25Ops {
  private def r6(c: Column) = round(c, 6)
  private def dsum(c: Column): Column = sum(c.cast("decimal(38,12)")).cast("double")
  private def dsumSql(x: String) = s"CAST(sum(CAST($x AS DECIMAL(38,12))) AS DOUBLE)"

  /** Unrounded lead-lag r and Bartlett SE at lags 0–3 from the daily
    * grid — shared by q441's readout and q452's consensus scoreboard
    * (one tree ⇒ identical doubles in both consumers). Columns:
    * (src, dst, lag, n, r, se).
    */
  private[graft] def bartlettLags(s: SparkSession, g: DataFrame): DataFrame = {
    val st = g.groupBy("el").agg((dsum(col("v")) / count(lit(1))).as("mu"))
    val cx = g.join(broadcast(st), "el")
      .select(col("el"), col("di"), (col("v") - col("mu")).as("x"))
    val den = cx.groupBy("el").agg(dsum(col("x") * col("x")).as("ss"))
    val lg = s.range(1).select(explode(sequence(lit(1), lit(5))).as("k"))
    val bSide = cx.select(col("el").as("bel"), col("di").as("bdi"),
      col("x").as("bx"))
    val acf = cx.crossJoin(broadcast(lg))
      .join(bSide, col("bel") === col("el") && col("bdi") === col("di") - col("k"))
      .join(broadcast(den.select(col("el").as("del"), col("ss"))),
        col("del") === col("el"))
      .groupBy("el", "k")
      .agg((dsum(col("x") * col("bx")) / max(col("ss"))).as("rho"))
    val acfB = acf.select(col("el").as("el2"), col("k").as("k2"),
      col("rho").as("rho2"))
    val bart = acf.join(acfB, col("k2") === col("k") && col("el2") =!= col("el"))
      .groupBy(col("el").as("src"), col("el2").as("dst"))
      .agg((lit(1.0) + lit(2.0) * dsum(col("rho") * col("rho2"))).as("bsum"))
    val lag4 = s.range(1)
      .select(explode(array(lit(0), lit(1), lit(2), lit(3))).as("lag"))
    val y = g.select(col("el").as("yel"), col("di").as("ydi"), col("v").as("yv"))
    val m = g.crossJoin(broadcast(lag4))
      .join(y, col("yel") =!= col("el") && col("ydi") === col("di") + col("lag"))
      .groupBy(col("el").as("msrc"), col("yel").as("mdst"), col("lag"))
      .agg(count(lit(1)).as("n"),
        dsum(col("v")).as("sx"), dsum(col("yv")).as("sy"),
        dsum(col("v") * col("yv")).as("sxy"),
        dsum(col("v") * col("v")).as("sxx"),
        dsum(col("yv") * col("yv")).as("syy"))
    val r = (col("n") * col("sxy") - col("sx") * col("sy")) /
      sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
        (col("n") * col("syy") - col("sy") * col("sy")))
    val se = sqrt(col("bsum") / col("n"))
    m.join(broadcast(bart), col("src") === col("msrc") && col("dst") === col("mdst"))
      .select(col("msrc").as("src"), col("mdst").as("dst"), col("lag"),
        col("n"), r.as("r"), se.as("se"))
  }

  val defs: Seq[QueryDef] = Seq(

    /** Exact quantile-regression trend per element at τ ∈ {0.5, 0.9}:
      * candidate lines through every day pair (the LP vertex set),
      * pinball loss Σρ_τ(y − a − bx) folded exactly per candidate,
      * argmin by the bounded per-(element, τ) rank window with (loss,
      * b, a) tie-break. O(T²) candidates × O(T) days = O(T³) per
      * element — calendar-bounded constants, embarrassingly parallel
      * across elements.
      */
    QueryDef(
      "q440_quantile_trend",
      s"""WITH ${CausalOps.dailySql},
         |pt AS (SELECT el, CAST(di AS DOUBLE) AS x, v AS y FROM daily),
         |cand AS (
         |  SELECT a.el, (b.y - a.y) / (b.x - a.x) AS b,
         |    a.y - ((b.y - a.y) / (b.x - a.x)) * a.x AS a
         |  FROM pt a JOIN pt b ON b.el = a.el AND a.x < b.x),
         |tau AS (SELECT unnest([0.5, 0.9]) AS tau),
         |ls AS (
         |  SELECT cand.el, tau.tau, cand.b, cand.a,
         |    ${dsumSql("(pt.y - (cand.a + cand.b * pt.x)) * (tau.tau - (CASE WHEN (pt.y - (cand.a + cand.b * pt.x)) < 0 THEN 1.0 ELSE 0.0 END))")}
         |      AS loss
         |  FROM cand CROSS JOIN tau
         |  JOIN pt ON pt.el = cand.el
         |  GROUP BY 1, 2, 3, 4),
         |rk AS (
         |  SELECT el, tau, b, a, loss,
         |    row_number() OVER (PARTITION BY el, tau ORDER BY loss, b, a) AS rk
         |  FROM ls)
         |SELECT el, tau, round(b, 6) AS slope, round(a, 6) AS intercept,
         |  round(loss, 6) AS pinball_loss,
         |  CASE WHEN b > 0 THEN 1 WHEN b < 0 THEN -1 ELSE 0 END AS trend_sign
         |FROM rk WHERE rk = 1 ORDER BY el, tau""".stripMargin) { (s, d) =>
      val pt = CausalOps.daily(s, d)
        .select(col("el"), col("di").cast("double").as("x"), col("v").as("y"))
      val b2 = pt.select(col("el").as("bel"), col("x").as("bx"), col("y").as("by"))
      val slope = (col("by") - col("y")) / (col("bx") - col("x"))
      val cand = pt.join(b2, col("bel") === col("el") && col("x") < col("bx"))
        .select(col("el"), slope.as("b"), (col("y") - slope * col("x")).as("a"))
      val tau = s.range(1).select(explode(array(lit(0.5), lit(0.9))).as("tau"))
      val p2 = pt.select(col("el").as("pel"), col("x"), col("y"))
      val u = col("y") - (col("a") + col("b") * col("x"))
      val ls = cand.crossJoin(broadcast(tau))
        .join(p2, col("pel") === col("el"))
        .groupBy("el", "tau", "b", "a")
        .agg(dsum(u * (col("tau") -
          when(u < 0, 1.0).otherwise(0.0))).as("loss"))
      val rk = ls.select(col("el"), col("tau"), col("b"), col("a"), col("loss"),
        row_number().over(Window.partitionBy(col("el"), col("tau"))
          .orderBy(col("loss"), col("b"), col("a"))).as("rk"))
      rk.where(col("rk") === 1)
        .select(col("el"), col("tau"), r6(col("b")).as("slope"),
          r6(col("a")).as("intercept"), r6(col("loss")).as("pinball_loss"),
          when(col("b") > 0, 1).when(col("b") < 0, -1).otherwise(0)
            .as("trend_sign"))
        .orderBy("el", "tau")
    },

    /** Lead-lag cross-correlation with Bartlett-corrected significance:
      * r_xy at lags 0–3 per directed pair (q229's readout), but the
      * variance under independence is (1 + 2Σ_{k≤5} ρ̂xx(k)ρ̂yy(k))/n —
      * two autocorrelated series produce spuriously large plain
      * cross-correlations, and the Bartlett term is the correction
      * every lead-lag "discovery" should clear. ACFs from a bounded
      * lag join; pair significance as column math.
      */
    QueryDef(
      "q441_bartlett_xcorr",
      s"""WITH ${CausalOps.dailySql},
         |st AS (
         |  SELECT el, ${dsumSql("v")} / count(*) AS mu FROM daily GROUP BY 1),
         |cx AS (
         |  SELECT d.el, d.di, d.v - st.mu AS x
         |  FROM daily d JOIN st ON st.el = d.el),
         |den AS (SELECT el, ${dsumSql("x * x")} AS ss FROM cx GROUP BY 1),
         |lg AS (SELECT unnest(generate_series(1, 5)) AS k),
         |acf AS (
         |  SELECT a.el, lg.k, ${dsumSql("a.x * b.x")} / max(den.ss) AS rho
         |  FROM cx a JOIN lg ON true
         |  JOIN cx b ON b.el = a.el AND b.di = a.di - lg.k
         |  JOIN den ON den.el = a.el
         |  GROUP BY 1, 2),
         |bart AS (
         |  SELECT a.el AS src, b.el AS dst,
         |    1.0 + 2.0 * ${dsumSql("a.rho * b.rho")} AS bsum
         |  FROM acf a JOIN acf b ON b.k = a.k AND b.el <> a.el
         |  GROUP BY 1, 2),
         |lag4 AS (SELECT unnest([0, 1, 2, 3]) AS lag),
         |m AS (
         |  SELECT x.el AS src, y.el AS dst, lag4.lag, count(*) AS n,
         |    ${dsumSql("x.v")} AS sx, ${dsumSql("y.v")} AS sy,
         |    ${dsumSql("x.v * y.v")} AS sxy,
         |    ${dsumSql("x.v * x.v")} AS sxx, ${dsumSql("y.v * y.v")} AS syy
         |  FROM daily x CROSS JOIN lag4
         |  JOIN daily y ON y.el <> x.el AND y.di = x.di + lag4.lag
         |  GROUP BY 1, 2, 3),
         |rr AS (
         |  SELECT m.src, m.dst, m.lag, m.n,
         |    (m.n * m.sxy - m.sx * m.sy)
         |      / sqrt((m.n * m.sxx - m.sx * m.sx) * (m.n * m.syy - m.sy * m.sy))
         |      AS r,
         |    sqrt(bart.bsum / m.n) AS se
         |  FROM m JOIN bart ON bart.src = m.src AND bart.dst = m.dst)
         |SELECT src, dst, lag, CAST(n AS BIGINT) AS n_days,
         |  round(r, 6) AS xcorr, round(se, 6) AS bartlett_se,
         |  round(r / se, 6) AS z,
         |  CASE WHEN abs(r / se) > 1.959963984540054 THEN 1 ELSE 0 END
         |    AS significant
         |FROM rr ORDER BY src, dst, lag""".stripMargin) { (s, d) =>
      bartlettLags(s, CausalOps.daily(s, d))
        .select(col("src"), col("dst"), col("lag"),
          col("n").cast("long").as("n_days"),
          r6(col("r")).as("xcorr"), r6(col("se")).as("bartlett_se"),
          r6(col("r") / col("se")).as("z"),
          when(abs(col("r") / col("se")) > 1.959963984540054, 1).otherwise(0)
            .as("significant"))
        .orderBy("src", "dst", "lag")
    },

    /** Sample entropy per element (m = 2, r = 0.2·s): B counts template
      * pairs of length 2 within tolerance, A of length 3; SampEn =
      * −ln(A/B) — low values mean the daily series repeats its own
      * patterns. Templates via two lead columns; the i<j pair join is
      * O(T²) per element, calendar-bounded. B runs over all n−1
      * length-2 templates (the variant without the equal-template-count
      * restriction — spec-pinned). A = 0 (no length-3 matches) yields
      * NULL — reported, not papered over.
      */
    QueryDef(
      "q442_sample_entropy",
      s"""WITH ${CausalOps.dailySql},
         |sd AS (
         |  SELECT el,
         |    sqrt((${dsumSql("v * v")} - ${dsumSql("v")} * ${dsumSql("v")}
         |      / count(*)) / (count(*) - 1)) AS sig,
         |    count(*) AS n
         |  FROM daily GROUP BY 1),
         |ix AS (
         |  SELECT el, row_number() OVER (PARTITION BY el ORDER BY di) AS i, v
         |  FROM daily),
         |tp AS (
         |  SELECT a.el, a.i, a.v AS x0, b.v AS x1, c.v AS x2
         |  FROM ix a
         |  JOIN ix b ON b.el = a.el AND b.i = a.i + 1
         |  LEFT JOIN ix c ON c.el = a.el AND c.i = a.i + 2),
         |pr AS (
         |  SELECT p.el, sd.n,
         |    count_if(greatest(abs(p.x0 - q.x0), abs(p.x1 - q.x1))
         |      <= 0.2 * sd.sig) AS bb,
         |    count_if(p.x2 IS NOT NULL AND q.x2 IS NOT NULL
         |      AND greatest(abs(p.x0 - q.x0), abs(p.x1 - q.x1), abs(p.x2 - q.x2))
         |      <= 0.2 * sd.sig) AS aa
         |  FROM tp p
         |  JOIN tp q ON q.el = p.el AND p.i < q.i
         |  JOIN sd ON sd.el = p.el
         |  GROUP BY 1, 2)
         |SELECT el, CAST(n AS BIGINT) AS n_days,
         |  CAST(bb AS BIGINT) AS b_matches, CAST(aa AS BIGINT) AS a_matches,
         |  CASE WHEN aa > 0 AND bb > 0
         |    THEN round(-ln(CAST(aa AS DOUBLE) / bb), 6) END AS sampen
         |FROM pr ORDER BY el""".stripMargin) { (s, d) =>
      val g = CausalOps.daily(s, d)
      val sd = g.groupBy("el").agg(
        sqrt((dsum(col("v") * col("v")) -
          dsum(col("v")) * dsum(col("v")) / count(lit(1))) /
          (count(lit(1)) - 1)).as("sig"),
        count(lit(1)).as("n"))
      val ix = g.select(col("el"),
        row_number().over(Window.partitionBy(col("el")).orderBy(col("di"))).as("i"),
        col("v"))
      val b = ix.select(col("el").as("bel"), col("i").as("bi"), col("v").as("bv"))
      val c = ix.select(col("el").as("cel"), col("i").as("ci"), col("v").as("cv"))
      val tp = ix
        .join(b, col("bel") === col("el") && col("bi") === col("i") + 1)
        .join(c, col("cel") === col("el") && col("ci") === col("i") + 2, "left")
        .select(col("el"), col("i"), col("v").as("x0"), col("bv").as("x1"),
          col("cv").as("x2"))
      val q = tp.select(col("el").as("qel"), col("i").as("qi"),
        col("x0").as("q0"), col("x1").as("q1"), col("x2").as("q2"))
      val pr = tp.join(q, col("qel") === col("el") && col("i") < col("qi"))
        .join(broadcast(sd), "el")
        .groupBy("el")
        .agg(max(col("n")).as("n"),
          count_if(greatest(abs(col("x0") - col("q0")), abs(col("x1") - col("q1")))
            <= lit(0.2) * col("sig")).as("bb"),
          count_if(col("x2").isNotNull && col("q2").isNotNull &&
            greatest(abs(col("x0") - col("q0")), abs(col("x1") - col("q1")),
              abs(col("x2") - col("q2"))) <= lit(0.2) * col("sig")).as("aa"))
      pr.select(col("el"), col("n").cast("long").as("n_days"),
          col("bb").cast("long").as("b_matches"),
          col("aa").cast("long").as("a_matches"),
          when(col("aa") > 0 && col("bb") > 0,
            r6(-log(col("aa").cast("double") / col("bb")))).as("sampen"))
        .orderBy("el")
    },

    /** Cross-sample entropy per pair on z-scored series (r = 0.2 on
      * the z scale): how often does one element's 2-pattern reappear
      * in the other — pattern synchrony, the complexity companion of
      * q427's spectral coherence. Day-aligned templates, all (i, j)
      * template pairs across the two series, O(T²) per pair.
      */
    QueryDef(
      "q443_cross_sample_entropy",
      s"""WITH ${CausalOps.dailySql},
         |sd AS (
         |  SELECT el, ${dsumSql("v")} / count(*) AS mu,
         |    sqrt((${dsumSql("v * v")} - ${dsumSql("v")} * ${dsumSql("v")}
         |      / count(*)) / (count(*) - 1)) AS sig
         |  FROM daily GROUP BY 1),
         |zs AS (
         |  SELECT d.el, d.di, (d.v - sd.mu) / sd.sig AS z
         |  FROM daily d JOIN sd ON sd.el = d.el),
         |ix AS (
         |  SELECT el, row_number() OVER (PARTITION BY el ORDER BY di) AS i, z
         |  FROM zs),
         |tp AS (
         |  SELECT a.el, a.i, a.z AS x0, b.z AS x1, c.z AS x2
         |  FROM ix a
         |  JOIN ix b ON b.el = a.el AND b.i = a.i + 1
         |  LEFT JOIN ix c ON c.el = a.el AND c.i = a.i + 2),
         |pr AS (
         |  SELECT p.el AS eli, q.el AS elj,
         |    count_if(greatest(abs(p.x0 - q.x0), abs(p.x1 - q.x1)) <= 0.2) AS bb,
         |    count_if(p.x2 IS NOT NULL AND q.x2 IS NOT NULL
         |      AND greatest(abs(p.x0 - q.x0), abs(p.x1 - q.x1), abs(p.x2 - q.x2))
         |      <= 0.2) AS aa
         |  FROM tp p JOIN tp q ON p.el < q.el
         |  GROUP BY 1, 2)
         |SELECT eli, elj, CAST(bb AS BIGINT) AS b_matches,
         |  CAST(aa AS BIGINT) AS a_matches,
         |  CASE WHEN aa > 0 AND bb > 0
         |    THEN round(-ln(CAST(aa AS DOUBLE) / bb), 6) END AS cross_sampen
         |FROM pr ORDER BY eli, elj""".stripMargin) { (s, d) =>
      val g = CausalOps.daily(s, d)
      val sd = g.groupBy("el").agg(
        (dsum(col("v")) / count(lit(1))).as("mu"),
        sqrt((dsum(col("v") * col("v")) -
          dsum(col("v")) * dsum(col("v")) / count(lit(1))) /
          (count(lit(1)) - 1)).as("sig"))
      val zs = g.join(broadcast(sd), "el")
        .select(col("el"), col("di"), ((col("v") - col("mu")) / col("sig")).as("z"))
      val ix = zs.select(col("el"),
        row_number().over(Window.partitionBy(col("el")).orderBy(col("di"))).as("i"),
        col("z"))
      val b = ix.select(col("el").as("bel"), col("i").as("bi"), col("z").as("bz"))
      val c = ix.select(col("el").as("cel"), col("i").as("ci"), col("z").as("cz"))
      val tp = ix
        .join(b, col("bel") === col("el") && col("bi") === col("i") + 1)
        .join(c, col("cel") === col("el") && col("ci") === col("i") + 2, "left")
        .select(col("el"), col("i"), col("z").as("x0"), col("bz").as("x1"),
          col("cz").as("x2"))
      val q = tp.select(col("el").as("qel"), col("i").as("qi"),
        col("x0").as("q0"), col("x1").as("q1"), col("x2").as("q2"))
      val pr = tp.join(q, col("el") < col("qel"))
        .groupBy(col("el").as("eli"), col("qel").as("elj"))
        .agg(
          count_if(greatest(abs(col("x0") - col("q0")), abs(col("x1") - col("q1")))
            <= 0.2).as("bb"),
          count_if(col("x2").isNotNull && col("q2").isNotNull &&
            greatest(abs(col("x0") - col("q0")), abs(col("x1") - col("q1")),
              abs(col("x2") - col("q2"))) <= 0.2).as("aa"))
      pr.select(col("eli"), col("elj"),
          col("bb").cast("long").as("b_matches"),
          col("aa").cast("long").as("a_matches"),
          when(col("aa") > 0 && col("bb") > 0,
            r6(-log(col("aa").cast("double") / col("bb")))).as("cross_sampen"))
        .orderBy("eli", "elj")
    },

    /** RBF-kernel HSIC per pair with the CKA normalization: Gaussian
      * kernels at per-element bandwidth σ (the sample std over matched
      * days — a DOCUMENTED fixed choice, not the median heuristic),
      * double-centered exactly like q428's distance matrices, biased
      * V-statistic HSIC = ⟨K̃L̃⟩ and CKA = ⟨K̃L̃⟩/√(⟨K̃K̃⟩⟨L̃L̃⟩) ∈ [0,1].
      * O(T²) day pairs per pair of elements.
      */
    QueryDef(
      "q444_hsic_cka",
      s"""WITH ${CausalOps.dailySql},
         |m AS (
         |  SELECT a.el AS eli, b.el AS elj, a.di, a.v AS x, b.v AS y
         |  FROM daily a JOIN daily b ON b.di = a.di AND a.el < b.el),
         |sd AS (
         |  SELECT eli, elj,
         |    sqrt((${dsumSql("x * x")} - ${dsumSql("x")} * ${dsumSql("x")}
         |      / count(*)) / (count(*) - 1)) AS sx,
         |    sqrt((${dsumSql("y * y")} - ${dsumSql("y")} * ${dsumSql("y")}
         |      / count(*)) / (count(*) - 1)) AS sy
         |  FROM m GROUP BY 1, 2),
         |km AS (
         |  SELECT k.eli, k.elj, k.di AS dk, l.di AS dl,
         |    exp(-((k.x - l.x) * (k.x - l.x)) / (2.0 * sd.sx * sd.sx)) AS kk,
         |    exp(-((k.y - l.y) * (k.y - l.y)) / (2.0 * sd.sy * sd.sy)) AS ll
         |  FROM m k
         |  JOIN m l ON l.eli = k.eli AND l.elj = k.elj
         |  JOIN sd ON sd.eli = k.eli AND sd.elj = k.elj),
         |rowm AS (
         |  SELECT eli, elj, dk, ${dsumSql("kk")} / count(*) AS kmk,
         |    ${dsumSql("ll")} / count(*) AS lmk
         |  FROM km GROUP BY 1, 2, 3),
         |gm AS (
         |  SELECT eli, elj, ${dsumSql("kk")} / count(*) AS km,
         |    ${dsumSql("ll")} / count(*) AS lm
         |  FROM km GROUP BY 1, 2),
         |cen AS (
         |  SELECT km.eli, km.elj,
         |    km.kk - rk.kmk - rl.kmk + gm.km AS kc,
         |    km.ll - rk.lmk - rl.lmk + gm.lm AS lc
         |  FROM km
         |  JOIN rowm rk ON rk.eli = km.eli AND rk.elj = km.elj AND rk.dk = km.dk
         |  JOIN rowm rl ON rl.eli = km.eli AND rl.elj = km.elj AND rl.dk = km.dl
         |  JOIN gm ON gm.eli = km.eli AND gm.elj = km.elj)
         |SELECT eli, elj,
         |  round(${dsumSql("kc * lc")} / count(*), 6) AS hsic,
         |  round((${dsumSql("kc * lc")} / count(*))
         |    / sqrt((${dsumSql("kc * kc")} / count(*))
         |      * (${dsumSql("lc * lc")} / count(*))), 6) AS cka
         |FROM cen GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val m = Round23Ops.sameDayPairs(CausalOps.daily(s, d))
      val sd = m.groupBy("eli", "elj").agg(
        sqrt((dsum(col("x") * col("x")) -
          dsum(col("x")) * dsum(col("x")) / count(lit(1))) /
          (count(lit(1)) - 1)).as("sx"),
        sqrt((dsum(col("y") * col("y")) -
          dsum(col("y")) * dsum(col("y")) / count(lit(1))) /
          (count(lit(1)) - 1)).as("sy"))
      val k = m.select(col("eli"), col("elj"), col("di").as("dk"),
        col("x").as("xk"), col("y").as("yk"))
      val l = m.select(col("eli").as("e2i"), col("elj").as("e2j"),
        col("di").as("dl"), col("x").as("xl"), col("y").as("yl"))
      val km = k.join(l, col("e2i") === col("eli") && col("e2j") === col("elj"))
        .join(broadcast(sd.select(col("eli").as("sdi"), col("elj").as("sdj"),
          col("sx"), col("sy"))),
          col("sdi") === col("eli") && col("sdj") === col("elj"))
        .select(col("eli"), col("elj"), col("dk"), col("dl"),
          exp(-((col("xk") - col("xl")) * (col("xk") - col("xl"))) /
            (lit(2.0) * col("sx") * col("sx"))).as("kk"),
          exp(-((col("yk") - col("yl")) * (col("yk") - col("yl"))) /
            (lit(2.0) * col("sy") * col("sy"))).as("ll"))
      val rowm = km.groupBy("eli", "elj", "dk").agg(
        (dsum(col("kk")) / count(lit(1))).as("kmk"),
        (dsum(col("ll")) / count(lit(1))).as("lmk"))
      val gm = km.groupBy("eli", "elj").agg(
        (dsum(col("kk")) / count(lit(1))).as("km"),
        (dsum(col("ll")) / count(lit(1))).as("lm"))
      val rk = rowm.select(col("eli").as("ki"), col("elj").as("kj"),
        col("dk").as("kkk"), col("kmk").as("kmkK"), col("lmk").as("lmkK"))
      val rl = rowm.select(col("eli").as("li"), col("elj").as("lj"),
        col("dk").as("lll"), col("kmk").as("kmkL"), col("lmk").as("lmkL"))
      val cen = km
        .join(rk, col("ki") === col("eli") && col("kj") === col("elj") &&
          col("kkk") === col("dk"))
        .join(rl, col("li") === col("eli") && col("lj") === col("elj") &&
          col("lll") === col("dl"))
        .join(broadcast(gm.select(col("eli").as("gi"), col("elj").as("gj"),
          col("km"), col("lm"))),
          col("gi") === col("eli") && col("gj") === col("elj"))
        .select(col("eli"), col("elj"),
          (col("kk") - col("kmkK") - col("kmkL") + col("km")).as("kc"),
          (col("ll") - col("lmkK") - col("lmkL") + col("lm")).as("lc"))
      cen.groupBy("eli", "elj").agg(
          (dsum(col("kc") * col("lc")) / count(lit(1))).as("vxy"),
          (dsum(col("kc") * col("kc")) / count(lit(1))).as("vxx"),
          (dsum(col("lc") * col("lc")) / count(lit(1))).as("vyy"))
        .select(col("eli"), col("elj"), r6(col("vxy")).as("hsic"),
          r6(col("vxy") / sqrt(col("vxx") * col("vyy"))).as("cka"))
        .orderBy("eli", "elj")
    },

    /** Rank-transformed Granger-lite: q230's two-regressor AR(1) F-gain
      * computed on per-element ECDF ranks (cume_dist over the daily
      * grid) — monotone-invariant, outlier-robust lead detection; the
      * Spearman of the Granger family. Engine side is LITERALLY
      * [[CausalOps.grangerFromGrid]] over the rank grid (shared tree ⇒
      * shared semantics); the oracle swaps the grid CTE.
      */
    QueryDef(
      "q445_rank_granger",
      s"""WITH ${CausalOps.dailySql},
        |rnk AS (
        |  SELECT el, di, cume_dist() OVER (PARTITION BY el ORDER BY v) AS v
        |  FROM daily),
        |${Round27Ops.grangerMomentsSql("rnk", "")},
        |${CausalOps.grangerFitSql}""".stripMargin) { (s, d) =>
      val g0 = CausalOps.daily(s, d)
      CausalOps.guardFullEnum(g0, "q445_rank_granger")
      val rnk = g0.select(col("el"), col("di"),
        cume_dist().over(Window.partitionBy(col("el")).orderBy(col("v"))).as("v"))
      CausalOps.grangerFromGrid(rnk)
    }
  )
}
