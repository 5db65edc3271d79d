package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-21 batch: k-sample nonparametrics, stratified 2×2
  * meta-analysis, and exact/Bayesian small-table inference —
  *
  *  - q414 Kruskal–Wallis H (tie-corrected) across ALL element value
  *    distributions at once — the k-sample generalization of q273's
  *    two-sample Mann–Whitney, on the SAME shared cumulative histogram
  *    grid (pooled ranks derived by summing the per-element
  *    cumulatives — no global window, no re-sort);
  *  - q415 Friedman test + Kendall's W over a (day-of-week block ×
  *    event-type treatment) design — the repeated-measures rank test;
  *  - q416 Mantel–Haenszel pooled odds ratio + continuity-corrected
  *    CMH chi² + Cochran's Q heterogeneity over per-nation 2×2 tables
  *    — the stratified-experiment aggregation readout;
  *  - q417 Fisher's exact test (two-sided, hypergeometric enumeration)
  *    on a bounded 2×2 — exact inference where q272's chi² is invalid;
  *  - q418 Beta-Bernoulli Bayesian A/B: exact closed-form P(B>A) via
  *    the finite sum over the integer posterior (Cook's identity),
  *    no simulation;
  *  - q419 empirical-Bayes beta-binomial shrinkage of per-user rates
  *    (method-of-moments prior) — the multiple-comparisons-safe
  *    leaderboard.
  *
  * Cross-engine exactness tool introduced here: the cumulative
  * LN-FACTORIAL table. Both q417 and q418 need ln n! at integer
  * arguments; a windowed running double sum would expose DuckDB's
  * segment-tree association order vs Spark's sequential fold, so the
  * per-i ln terms are quantized to DECIMAL(38,12) FIRST and the
  * cumulative sum runs in exact decimal — any association order gives
  * the identical table, and ln itself is the q178 parity contract.
  *
  * Scale shapes: q414 rides the PlanCache'd O(P·V) histogram (one fact
  * scan however many inference queries run); q415/q416 reduce to
  * calendar-/nation-bounded grids in one aggregate; q417/q418 are
  * driver-free closed forms over range()-generated integer grids
  * bounded by cohort counts (loudly data-dependent but filter-bounded);
  * q419 is one user-grain aggregate + a broadcast 1-row prior.
  */
object Round21Ops {
  import CausalOps.{dsum, dsumSql, r6}

  /** Loud ceiling for the exact-enumeration path: past ~1e6 cohort
    * members the lnFact grid (and q418's term sum) stops being the
    * right tool — the Gaussian posterior approximation is, and silently
    * materializing a 10⁹-row integer grid at 100 TB would hide that.
    */
  private[graft] val MaxExactCohort = 1000000L

  /** Exact-decimal cumulative ln-factorial 0..n over an already-built
    * 1-row DataFrame holding `nmax`. Returns (i, lf) with lf =
    * Σ_{j=2..i} round₁₂(ln j) — identical in both engines because the
    * fold is exact decimal over identically-quantized terms.
    */
  private def lnFact(nmaxDf: DataFrame): DataFrame = {
    val n = nmaxDf.select(col("nmax").cast("long")).head.getLong(0)
    if (n > MaxExactCohort)
      throw new IllegalStateException(
        s"exact enumeration needs a ln-factorial grid of $n rows > " +
          s"MaxExactCohort=$MaxExactCohort; restrict the cohort or switch to " +
          "the Gaussian approximation (q163/q305 family) at this scale")
    val w = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    nmaxDf.select(explode(sequence(lit(0), col("nmax"))).as("i"))
      .select(col("i"),
        coalesce(sum(when(col("i") >= 2, log(col("i").cast("double")))
          .otherwise(lit(0.0)).cast("decimal(38,12)")).over(w), lit(java.math.BigDecimal.ZERO))
          .cast("double").as("lf"))
  }

  /** The ln-factorial table folded into ONE list row (`lfl.l`, 1-based:
    * l[i+1] = ln i!) so consumers do O(1) list lookups instead of join
    * chains — nine separate lf equi-joins sent DuckDB's planner into a
    * spill-to-disk cross-product (found by ENOSPC at sf0.01). */
  private def lnFactArr(nmaxDf: DataFrame): DataFrame =
    lnFact(nmaxDf).agg(expr("transform(array_sort(collect_list(struct(i, lf))), x -> x.lf)").as("l"))

  /** The matching DuckDB text: `src` must expose a 1-row relation with
    * column nmax. Exposes `lfl.l` with l[i+1] = ln i!. */
  private def lnFactSql(src: String): String =
    s"""lfg AS (SELECT unnest(range(0, nmax + 1)) AS i FROM $src),
       |lf AS (
       |  SELECT i, CAST(coalesce(sum(CAST(CASE WHEN i >= 2
       |      THEN ln(CAST(i AS DOUBLE)) ELSE 0.0 END AS DECIMAL(38,12)))
       |    OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       |    0) AS DOUBLE) AS lf
       |  FROM lfg),
       |lfl AS (SELECT list(lf ORDER BY i) AS l FROM lf)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    /** Kruskal–Wallis H across all element value distributions:
      * pooled midranks come from the POOLED cumulative histogram,
      * itself derived by summing q273's per-element cumulative grid
      * over elements (Σ_el cl_el(v) = pooled count below v) — so the
      * k-sample rank test costs zero new windows and zero new fact
      * scans. Tie correction 1 − Σ(t³−t)/(N³−N) over the pooled tie
      * blocks; ε² effect size. Exact integer counts until the final
      * closed forms; rank sums are order-free decimal folds.
      */
    QueryDef(
      "q414_kruskal_wallis",
      s"""WITH ${InferenceOps.cumGridSql},
        |pool AS (SELECT v, sum(cnt) AS ct, sum(cl) AS clt FROM grid GROUP BY 1),
        |rs AS (
        |  SELECT g.el, sum(g.cnt) AS n_j,
        |    ${dsumSql("g.cnt * (p.clt + (p.ct + 1) / 2.0)")} AS r_j
        |  FROM grid g JOIN pool p ON p.v = g.v GROUP BY 1),
        |nt AS (SELECT CAST(sum(n_j) AS DOUBLE) AS n, CAST(count(*) AS DOUBLE) AS k
        |  FROM rs),
        |tie AS (SELECT CAST(sum(ct * ct * ct - ct) AS DOUBLE) AS tt
        |  FROM pool WHERE ct > 0),
        |s2 AS (SELECT ${dsumSql("r_j * r_j / n_j")} AS s FROM rs)
        |SELECT CAST(nt.n AS BIGINT) AS n_obs, CAST(nt.k AS INT) AS n_groups,
        |  round((12.0 / (nt.n * (nt.n + 1.0)) * s2.s - 3.0 * (nt.n + 1.0))
        |    / (1.0 - tie.tt / (nt.n * nt.n * nt.n - nt.n)), 6) AS h_stat,
        |  CAST(nt.k - 1 AS INT) AS dof,
        |  round(((12.0 / (nt.n * (nt.n + 1.0)) * s2.s - 3.0 * (nt.n + 1.0))
        |      / (1.0 - tie.tt / (nt.n * nt.n * nt.n - nt.n)) - nt.k + 1.0)
        |    / (nt.n - nt.k), 6) AS epsilon_sq
        |FROM nt CROSS JOIN tie CROSS JOIN s2""".stripMargin) { (s, d) =>
      InferenceOps.guardElements(s, d, "q414_kruskal_wallis")
      val g = InferenceOps.cumGrid(s, d)
      val pool = g.groupBy("v").agg(sum(col("cnt")).as("ct"), sum(col("cl")).as("clt"))
      val rs = g.join(pool.select(col("v").as("pv"), col("ct"), col("clt")),
          col("pv") === col("v"))
        .groupBy("el")
        .agg(sum(col("cnt")).as("n_j"),
          dsum(col("cnt") * (col("clt") + (col("ct") + 1) / lit(2.0))).as("r_j"))
      val nt = rs.agg(sum(col("n_j")).cast("double").as("n"),
        count(lit(1)).cast("double").as("k"))
      val tie = pool.where(col("ct") > 0)
        .agg(sum(col("ct") * col("ct") * col("ct") - col("ct")).cast("double").as("tt"))
      val s2 = rs.agg(dsum(col("r_j") * col("r_j") / col("n_j")).as("s"))
      val h = (lit(12.0) / (col("n") * (col("n") + 1.0)) * col("s") -
        lit(3.0) * (col("n") + 1.0)) /
        (lit(1.0) - col("tt") / (col("n") * col("n") * col("n") - col("n")))
      nt.crossJoin(broadcast(tie)).crossJoin(broadcast(s2))
        .select(col("n").cast("long").as("n_obs"), col("k").cast("int").as("n_groups"),
          r6(h).as("h_stat"), (col("k") - 1).cast("int").as("dof"),
          r6((h - col("k") + 1.0) / (col("n") - col("k"))).as("epsilon_sq"))
    },

    /** Friedman test over the (day-of-week block × event-type
      * treatment) cell-mean design, plus Kendall's W concordance.
      * Within-block midranks are computed by pair counting over the
      * k=O(element types) cells — bounded fan-out, no windows — on
      * round-6 cell means (the comparison-margin discipline), and cell
      * means themselves are order-free decimal folds. χ²_F =
      * 12/(bk(k+1))·ΣR_j² − 3b(k+1); W = χ²/(b(k−1)).
      */
    QueryDef(
      "q415_friedman",
      s"""WITH cell AS (
        |  SELECT datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7 AS blk,
        |    event_type AS trt,
        |    round(${dsumSql("value")} / count(*), 6) AS mv
        |  FROM events GROUP BY 1, 2),
        |rk AS (
        |  SELECT a.blk, a.trt, a.mv,
        |    sum(CASE WHEN b.mv < a.mv THEN 1 ELSE 0 END)
        |      + (sum(CASE WHEN b.mv = a.mv THEN 1 ELSE 0 END) + 1) / 2.0 AS r
        |  FROM cell a JOIN cell b ON b.blk = a.blk
        |  GROUP BY a.blk, a.trt, a.mv),
        |rj AS (
        |  SELECT trt, ${dsumSql("r")} AS rj, count(*) AS b FROM rk GROUP BY 1),
        |nt AS (SELECT CAST(max(b) AS DOUBLE) AS b, CAST(count(*) AS DOUBLE) AS k
        |  FROM rj),
        |st AS (SELECT ${dsumSql("rj * rj")} AS s FROM rj)
        |SELECT CAST(nt.b AS INT) AS n_blocks, CAST(nt.k AS INT) AS n_treatments,
        |  round(12.0 / (nt.b * nt.k * (nt.k + 1.0)) * st.s
        |    - 3.0 * nt.b * (nt.k + 1.0), 6) AS chi2_f,
        |  CAST(nt.k - 1 AS INT) AS dof,
        |  round((12.0 / (nt.b * nt.k * (nt.k + 1.0)) * st.s
        |    - 3.0 * nt.b * (nt.k + 1.0)) / (nt.b * (nt.k - 1.0)), 6) AS kendalls_w
        |FROM nt CROSS JOIN st""".stripMargin) { (s, d) =>
      val cell = Tables.events(s, d)
        .groupBy((datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")) % 7)
          .as("blk"), col("event_type").as("trt"))
        .agg(r6(dsum(col("value")) / count(lit(1))).as("mv"))
      val b2 = cell.select(col("blk").as("bblk"), col("mv").as("bmv"))
      val rk = cell.join(b2, col("bblk") === col("blk"))
        .groupBy("blk", "trt", "mv")
        .agg((sum(when(col("bmv") < col("mv"), 1).otherwise(0)) +
          (sum(when(col("bmv") === col("mv"), 1).otherwise(0)) + 1) / lit(2.0)).as("r"))
      val rj = rk.groupBy("trt").agg(dsum(col("r")).as("rj"), count(lit(1)).as("b"))
      val nt = rj.agg(max(col("b")).cast("double").as("b"),
        count(lit(1)).cast("double").as("k"))
      val st = rj.agg(dsum(col("rj") * col("rj")).as("s"))
      val chi2 = lit(12.0) / (col("b") * col("k") * (col("k") + 1.0)) * col("s") -
        lit(3.0) * col("b") * (col("k") + 1.0)
      nt.crossJoin(broadcast(st))
        .select(col("b").cast("int").as("n_blocks"), col("k").cast("int").as("n_treatments"),
          r6(chi2).as("chi2_f"), (col("k") - 1).cast("int").as("dof"),
          r6(chi2 / (col("b") * (col("k") - 1.0))).as("kendalls_w"))
    },

    /** Mantel–Haenszel pooled odds ratio over per-nation 2×2 tables
      * (exposure = BUILDING segment, outcome = positive balance), with
      * the continuity-corrected CMH chi² and Cochran's Q heterogeneity
      * over Haldane-corrected Woolf log-ORs — the canonical "combine
      * the experiment across strata" readout (Mantel & Haenszel 1959;
      * Cochran 1954). One customer scan → 25 stratum rows; every
      * statistic a decimal fold over those rows.
      */
    QueryDef(
      "q416_mantel_haenszel",
      s"""WITH t AS (
        |  SELECT c_nationkey AS nat,
        |    CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS expo,
        |    CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END AS outc
        |  FROM customer),
        |cells AS (
        |  SELECT nat,
        |    CAST(count_if(expo = 1 AND outc = 1) AS DOUBLE) AS a,
        |    CAST(count_if(expo = 1 AND outc = 0) AS DOUBLE) AS b,
        |    CAST(count_if(expo = 0 AND outc = 1) AS DOUBLE) AS c,
        |    CAST(count_if(expo = 0 AND outc = 0) AS DOUBLE) AS d
        |  FROM t GROUP BY 1),
        |m AS (
        |  SELECT nat, a, b, c, d, a + b + c + d AS n,
        |    a + b AS r1, c + d AS r0, a + c AS c1, b + d AS c0
        |  FROM cells),
        |ag AS (
        |  SELECT CAST(count(*) AS INT) AS n_strata,
        |    ${dsumSql("a * d / n")} AS num, ${dsumSql("b * c / n")} AS den,
        |    ${dsumSql("a")} AS sa, ${dsumSql("r1 * c1 / n")} AS se,
        |    ${dsumSql("r1 * r0 * c1 * c0 / (n * n * (n - 1))")} AS sv
        |  FROM m WHERE n > 1),
        |wq AS (
        |  SELECT ln(((a + 0.5) * (d + 0.5)) / ((b + 0.5) * (c + 0.5))) AS lor,
        |    1.0 / (1.0 / (a + 0.5) + 1.0 / (b + 0.5) + 1.0 / (c + 0.5)
        |      + 1.0 / (d + 0.5)) AS w
        |  FROM m),
        |qq AS (
        |  SELECT ${dsumSql("w * lor")} AS swl, ${dsumSql("w")} AS sw,
        |    ${dsumSql("w * lor * lor")} AS swll, CAST(count(*) AS INT) AS kq
        |  FROM wq)
        |SELECT ag.n_strata, round(ag.num / ag.den, 6) AS mh_or,
        |  round((abs(ag.sa - ag.se) - 0.5) * (abs(ag.sa - ag.se) - 0.5) / ag.sv, 6)
        |    AS cmh_chi2,
        |  round(qq.swll - qq.swl * qq.swl / qq.sw, 6) AS cochran_q,
        |  CAST(qq.kq - 1 AS INT) AS q_dof
        |FROM ag CROSS JOIN qq""".stripMargin) { (s, d) =>
      val t = Tables.customer(s, d).select(col("c_nationkey").as("nat"),
        when(col("c_mktsegment") === "BUILDING", 1).otherwise(0).as("expo"),
        when(col("c_acctbal") > 0, 1).otherwise(0).as("outc"))
      val cells = t.groupBy("nat").agg(
        count_if(col("expo") === 1 && col("outc") === 1).cast("double").as("a"),
        count_if(col("expo") === 1 && col("outc") === 0).cast("double").as("b"),
        count_if(col("expo") === 0 && col("outc") === 1).cast("double").as("c"),
        count_if(col("expo") === 0 && col("outc") === 0).cast("double").as("d"))
      val m = cells.select(col("nat"), col("a"), col("b"), col("c"), col("d"),
        (col("a") + col("b") + col("c") + col("d")).as("n"),
        (col("a") + col("b")).as("r1"), (col("c") + col("d")).as("r0"),
        (col("a") + col("c")).as("c1"), (col("b") + col("d")).as("c0"))
      val ag = m.where(col("n") > 1).agg(count(lit(1)).cast("int").as("n_strata"),
        dsum(col("a") * col("d") / col("n")).as("num"),
        dsum(col("b") * col("c") / col("n")).as("den"),
        dsum(col("a")).as("sa"),
        dsum(col("r1") * col("c1") / col("n")).as("se"),
        dsum(col("r1") * col("r0") * col("c1") * col("c0") /
          (col("n") * col("n") * (col("n") - 1))).as("sv"))
      val wq = m.select(
        log(((col("a") + 0.5) * (col("d") + 0.5)) /
          ((col("b") + 0.5) * (col("c") + 0.5))).as("lor"),
        (lit(1.0) / (lit(1.0) / (col("a") + 0.5) + lit(1.0) / (col("b") + 0.5) +
          lit(1.0) / (col("c") + 0.5) + lit(1.0) / (col("d") + 0.5))).as("w"))
      val qq = wq.agg(dsum(col("w") * col("lor")).as("swl"), dsum(col("w")).as("sw"),
        dsum(col("w") * col("lor") * col("lor")).as("swll"),
        count(lit(1)).cast("int").as("kq"))
      val dd = abs(col("sa") - col("se")) - 0.5
      ag.crossJoin(broadcast(qq))
        .select(col("n_strata"), r6(col("num") / col("den")).as("mh_or"),
          r6(dd * dd / col("sv")).as("cmh_chi2"),
          r6(col("swll") - col("swl") * col("swl") / col("sw")).as("cochran_q"),
          (col("kq") - 1).cast("int").as("q_dof"))
    },

    /** Fisher's exact test (two-sided) on the purchase-vs-error ×
      * high-value 2×2 over the first three days — the small-table
      * regime where q272's chi² approximation is invalid. The
      * hypergeometric enumeration runs over the a-support
      * [max(0,c1−r2), min(r1,c1)] with ln-probabilities from the
      * exact-decimal lnFact table; two-sided p sums all tables with
      * P ≤ P_obs·(1+1e−7) (the standard relative-tolerance convention;
      * term probabilities differ by ≥ percents here, so the tolerance
      * cannot flip membership — margin pinned in Round21Spec). Closed
      * form end-to-end: no driver loop, no simulation.
      */
    QueryDef(
      "q417_fisher_exact",
      s"""WITH t AS (
        |  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS expo,
        |    CASE WHEN value > 90 THEN 1 ELSE 0 END AS outc
        |  FROM events
        |  WHERE event_type IN ('purchase', 'error')
        |    AND ts < TIMESTAMP '2024-01-04'),
        |cl AS (
        |  SELECT CAST(count_if(expo = 1 AND outc = 1) AS BIGINT) AS a,
        |    CAST(count_if(expo = 1 AND outc = 0) AS BIGINT) AS b,
        |    CAST(count_if(expo = 0 AND outc = 1) AS BIGINT) AS c,
        |    CAST(count_if(expo = 0 AND outc = 0) AS BIGINT) AS d
        |  FROM t),
        |m AS (
        |  SELECT a, b, c, d, a + b AS r1, c + d AS r2, a + c AS c1,
        |    a + b + c + d AS nmax
        |  FROM cl),
        |${lnFactSql("m")},
        |cand AS (
        |  SELECT unnest(range(greatest(0, c1 - r2), least(r1, c1) + 1)) AS av
        |  FROM m),
        |pr AS (
        |  SELECT cand.av,
        |    exp((l[r1 + 1] - l[av + 1] - l[r1 - av + 1])
        |      + (l[r2 + 1] - l[c1 - av + 1] - l[r2 - c1 + av + 1])
        |      - (l[nmax + 1] - l[c1 + 1] - l[nmax - c1 + 1])) AS p
        |  FROM cand CROSS JOIN m CROSS JOIN lfl),
        |po AS (SELECT p AS pobs FROM pr CROSS JOIN m WHERE pr.av = m.a)
        |SELECT m.a, m.b, m.c, m.d,
        |  round(CASE WHEN m.b * m.c > 0 THEN (m.a * m.d) / CAST(m.b * m.c AS DOUBLE)
        |    ELSE 0.0 END, 6) AS odds_ratio,
        |  round(po.pobs, 6) AS p_obs,
        |  round(${dsumSql("CASE WHEN pr.p <= po.pobs * (1 + 1e-7) THEN pr.p ELSE 0 END")}, 6)
        |    AS p_two_sided
        |FROM pr CROSS JOIN po CROSS JOIN m
        |GROUP BY m.a, m.b, m.c, m.d, po.pobs""".stripMargin) { (s, d) =>
      val t = Tables.events(s, d)
        .where(col("event_type").isin("purchase", "error") &&
          col("ts") < lit("2024-01-04").cast("timestamp"))
        .select(when(col("event_type") === "purchase", 1).otherwise(0).as("expo"),
          when(col("value") > 90, 1).otherwise(0).as("outc"))
      val cl = t.agg(
        count_if(col("expo") === 1 && col("outc") === 1).as("a"),
        count_if(col("expo") === 1 && col("outc") === 0).as("b"),
        count_if(col("expo") === 0 && col("outc") === 1).as("c"),
        count_if(col("expo") === 0 && col("outc") === 0).as("d"))
      val m = cl.select(col("a"), col("b"), col("c"), col("d"),
        (col("a") + col("b")).as("r1"), (col("c") + col("d")).as("r2"),
        (col("a") + col("c")).as("c1"),
        (col("a") + col("b") + col("c") + col("d")).cast("int").as("nmax"))
      val lfl = lnFactArr(m)
      val cand = m.select(col("r1"), col("r2"), col("c1"), col("nmax"), col("a"),
          col("b"), col("c"), col("d"),
          explode(sequence(greatest(lit(0L), col("c1") - col("r2")),
            least(col("r1"), col("c1")))).as("av"))
      def lk(key: Column) = element_at(col("l"), (key + 1).cast("int"))
      val pr = cand.crossJoin(broadcast(lfl))
        .select(col("a"), col("b"), col("c"), col("d"), col("av"),
          exp((lk(col("r1")) - lk(col("av")) - lk(col("r1") - col("av"))) +
            (lk(col("r2")) - lk(col("c1") - col("av")) -
              lk(col("r2") - col("c1") + col("av"))) -
            (lk(col("nmax").cast("long")) - lk(col("c1")) -
              lk(col("nmax").cast("long") - col("c1")))).as("p"))
      val po = pr.where(col("av") === col("a")).select(col("p").as("pobs"))
      pr.crossJoin(broadcast(po))
        .groupBy(col("a"), col("b"), col("c"), col("d"), col("pobs"))
        .agg(dsum(when(col("p") <= col("pobs") * (1 + 1e-7), col("p"))
          .otherwise(lit(0.0))).as("p2"))
        .select(col("a"), col("b"), col("c"), col("d"),
          r6(when(col("b") * col("c") > 0,
            (col("a") * col("d")) / (col("b") * col("c")).cast("double"))
            .otherwise(lit(0.0))).as("odds_ratio"),
          r6(col("pobs")).as("p_obs"), r6(col("p2")).as("p_two_sided"))
    },

    /** Beta-Bernoulli Bayesian A/B on click-vs-view high-value
      * conversion, uniform priors: P(B > A) by the EXACT finite sum
      * Σ_{i<αB} B(αA+i, βA+βB)/((βB+i)·B(1+i, βB)·B(αA, βA)) (Cook
      * 2005) — integer posterior parameters make every ln-Beta a
      * three-lookup closed form in the exact-decimal lnFact table, and
      * the term sum is an order-free decimal fold. No simulation, no
      * driver loop; the term grid is range(0, αB), cohort-bounded.
      */
    QueryDef(
      "q418_bayes_ab",
      s"""WITH arms AS (
        |  SELECT
        |    CAST(count_if(event_type = 'view' AND value > 90) AS BIGINT) AS sa,
        |    CAST(count_if(event_type = 'view' AND value <= 90) AS BIGINT) AS fa,
        |    CAST(count_if(event_type = 'click' AND value > 90) AS BIGINT) AS sb,
        |    CAST(count_if(event_type = 'click' AND value <= 90) AS BIGINT) AS fb
        |  FROM events WHERE event_type IN ('view', 'click')),
        |pp AS (
        |  SELECT sa + 1 AS aa, fa + 1 AS ba, sb + 1 AS ab2, fb + 1 AS bb,
        |    sa, fa, sb, fb,
        |    CAST(sa + fa + sb + fb + 4 AS INT) AS nmax
        |  FROM arms),
        |${lnFactSql("pp")},
        |term AS (
        |  SELECT g.i AS ti,
        |    exp((l[aa + g.i] + l[ba + bb] - l[aa + g.i + ba + bb])
        |      - ln(CAST(pp.bb + g.i AS DOUBLE))
        |      - (l[g.i + 1] + l[bb] - l[g.i + bb + 1])
        |      - (l[aa] + l[ba] - l[aa + ba])) AS v
        |  FROM lfg g CROSS JOIN pp CROSS JOIN lfl
        |  WHERE g.i < pp.ab2)
        |SELECT pp.sa, pp.fa, pp.sb, pp.fb,
        |  round(CAST(pp.aa AS DOUBLE) / (pp.aa + pp.ba), 6) AS post_mean_a,
        |  round(CAST(pp.ab2 AS DOUBLE) / (pp.ab2 + pp.bb), 6) AS post_mean_b,
        |  round(${dsumSql("term.v")}, 6) AS p_b_gt_a
        |FROM term CROSS JOIN pp
        |GROUP BY pp.sa, pp.fa, pp.sb, pp.fb, pp.aa, pp.ba, pp.ab2, pp.bb""".stripMargin) { (s, d) =>
      val arms = Tables.events(s, d).where(col("event_type").isin("view", "click"))
        .agg(
          count_if(col("event_type") === "view" && col("value") > 90).as("sa"),
          count_if(col("event_type") === "view" && col("value") <= 90).as("fa"),
          count_if(col("event_type") === "click" && col("value") > 90).as("sb"),
          count_if(col("event_type") === "click" && col("value") <= 90).as("fb"))
      val pp = arms.select(col("sa"), col("fa"), col("sb"), col("fb"),
        (col("sa") + 1).as("aa"), (col("fa") + 1).as("ba"),
        (col("sb") + 1).as("ab2"), (col("fb") + 1).as("bb"),
        (col("sa") + col("fa") + col("sb") + col("fb") + 4).cast("int").as("nmax"))
      val lfl = lnFactArr(pp)
      val grid = pp.select(col("sa"), col("fa"), col("sb"), col("fb"), col("aa"),
        col("ba"), col("ab2"), col("bb"),
        explode(sequence(lit(0L), col("ab2") - 1)).as("ti"))
      def lk(key: Column) = element_at(col("l"), key.cast("int"))
      val term = grid.crossJoin(broadcast(lfl))
        .select(col("sa"), col("fa"), col("sb"), col("fb"),
          col("aa"), col("ba"), col("ab2"), col("bb"),
          exp((lk(col("aa") + col("ti")) + lk(col("ba") + col("bb")) -
            lk(col("aa") + col("ti") + col("ba") + col("bb"))) -
            log((col("bb") + col("ti")).cast("double")) -
            (lk(col("ti") + 1) + lk(col("bb")) - lk(col("ti") + col("bb") + 1)) -
            (lk(col("aa")) + lk(col("ba")) - lk(col("aa") + col("ba")))).as("v"))
      term.groupBy("sa", "fa", "sb", "fb", "aa", "ba", "ab2", "bb")
        .agg(dsum(col("v")).as("p"))
        .select(col("sa"), col("fa"), col("sb"), col("fb"),
          r6(col("aa").cast("double") / (col("aa") + col("ba"))).as("post_mean_a"),
          r6(col("ab2").cast("double") / (col("ab2") + col("bb"))).as("post_mean_b"),
          r6(col("p")).as("p_b_gt_a"))
    },

    /** Empirical-Bayes beta-binomial shrinkage of per-user click
      * success rates: method-of-moments prior (α, β) from the
      * unweighted rate mean/variance (the Robinson/eb-estimates
      * recipe; simplification documented), posterior rate
      * (x+α)/(n+α+β) — the leaderboard that stops 3-for-3 users
      * outranking 50-for-60 ones. One user-grain aggregate; the prior
      * is a broadcast 1-row table; decimal folds for the moment sums.
      */
    QueryDef(
      "q419_eb_shrinkage",
      s"""WITH u AS (
        |  SELECT user_id, CAST(count(*) AS DOUBLE) AS n,
        |    CAST(count_if(value > 60) AS DOUBLE) AS x
        |  FROM events WHERE event_type = 'click' GROUP BY 1),
        |r AS (SELECT user_id, n, x, x / n AS p FROM u),
        |st AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS k, ${dsumSql("p")} AS sp,
        |    ${dsumSql("p * p")} AS spp
        |  FROM r),
        |mo AS (
        |  SELECT k, sp / k AS m, (spp - sp * sp / k) / (k - 1) AS v FROM st),
        |pri AS (
        |  SELECT m, v,
        |    CASE WHEN v > 0 AND v < m * (1 - m) THEN m * (m * (1 - m) / v - 1)
        |         ELSE 1.0 END AS alpha,
        |    CASE WHEN v > 0 AND v < m * (1 - m) THEN (1 - m) * (m * (1 - m) / v - 1)
        |         ELSE 1.0 END AS beta
        |  FROM mo)
        |SELECT user_id, CAST(n AS BIGINT) AS n_trials, CAST(x AS BIGINT) AS n_succ,
        |  round(p, 6) AS p_raw,
        |  round((x + pri.alpha) / (n + pri.alpha + pri.beta), 6) AS p_shrunk,
        |  round(pri.alpha, 6) AS prior_alpha, round(pri.beta, 6) AS prior_beta
        |FROM r CROSS JOIN pri
        |ORDER BY round((x + pri.alpha) / (n + pri.alpha + pri.beta), 6) DESC, user_id
        |LIMIT 20""".stripMargin) { (s, d) =>
      val u = Tables.events(s, d).where(col("event_type") === "click")
        .groupBy("user_id")
        .agg(count(lit(1)).cast("double").as("n"),
          count_if(col("value") > 60).cast("double").as("x"))
      val r = u.select(col("user_id"), col("n"), col("x"), (col("x") / col("n")).as("p"))
      val st = r.agg(count(lit(1)).cast("double").as("k"), dsum(col("p")).as("sp"),
        dsum(col("p") * col("p")).as("spp"))
      val mo = st.select(col("k"), (col("sp") / col("k")).as("m"),
        ((col("spp") - col("sp") * col("sp") / col("k")) / (col("k") - 1)).as("v"))
      val ok = col("v") > 0 && col("v") < col("m") * (lit(1.0) - col("m"))
      val pri = mo.select(
        when(ok, col("m") * (col("m") * (lit(1.0) - col("m")) / col("v") - 1))
          .otherwise(lit(1.0)).as("alpha"),
        when(ok, (lit(1.0) - col("m")) * (col("m") * (lit(1.0) - col("m")) / col("v") - 1))
          .otherwise(lit(1.0)).as("beta"))
      val shr = r6((col("x") + col("alpha")) / (col("n") + col("alpha") + col("beta")))
      r.crossJoin(broadcast(pri))
        .select(col("user_id"), col("n").cast("long").as("n_trials"),
          col("x").cast("long").as("n_succ"), r6(col("p")).as("p_raw"),
          shr.as("p_shrunk"), r6(col("alpha")).as("prior_alpha"),
          r6(col("beta")).as("prior_beta"))
        .orderBy(shr.desc, col("user_id")).limit(20)
    }
  )
}
