package graft.operators

import graft.{PlanCache, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-27 batch: the consensus causal scoreboard plus fluctuation-
  * scaling diagnostics —
  *
  *  - q452 causal consensus: ONE edge table per directed element pair
  *    joining the four independent lead-detection families the engine
  *    already owns — linear lag-1 xcorr with Bartlett-honest z (q441),
  *    Granger gain (q230), rank-Granger gain (q445), and the
  *    distribution-free circular-shift surrogate p (q446) — with a
  *    vote count. Four tests, four different failure modes; an edge
  *    that survives all four is the engine's best causal claim. Engine
  *    side literally reuses the four shared grid functions (one tree
  *    each ⇒ bit-identical to their standalone queries);
  *  - q453 Taylor's law (fluctuation scaling): per element, log-var vs
  *    log-mean of within-day hourly counts across days — slope b = 1
  *    is Poisson, b → 2 is synchronized/clumpy, the population-level
  *    companion of q451's per-gap burstiness;
  *  - q454 Allan variance of the hourly rate at scales {1,2,4,8} h on
  *    the zero-filled hour grid, with the Poisson normalization
  *    τ·AVAR/λ̂ (≡ 1 for a Poisson stream) — WHICH timescale carries
  *    the excess variance;
  *  - q455 detrended fluctuation analysis (Peng 1994) at windows
  *    {5,10,15} days: per-window OLS-detrended RMS of the centered
  *    cumulative profile, α from the exact 3-point log-log fit — the
  *    long-memory readout complementing q308's R/S Hurst;
  *  - q456 break co-occurrence: do elements break TOGETHER — the
  *    mean-shift changepoints (q233's CUSUM) and variance changepoints
  *    (q434's Inclán–Tiao) joined per element pair with |Δday| ≤ 2
  *    co-break flags. Shared-driver evidence from the changepoint
  *    family, via the same cusumFromGrid / inclanFromGrid trees.
  *
  * Scale shapes: everything on the PlanCache'd daily grid, the bounded
  * hour grid (zero-filled by a literal 720-hour scaffold), or O(P²)
  * pair joins of per-element summary rows.
  */
object Round27Ops {
  private def r6(c: Column) = round(c, 6)
  private def dsum(c: Column): Column = sum(c.cast("decimal(38,12)")).cast("double")
  private def dsumSql(x: String) = s"CAST(sum(CAST($x AS DECIMAL(38,12))) AS DOUBLE)"

  /** The lag-1 Granger regression moments over a named (el, di, v)
    * table (`<p>g`, `<p>m`), prefixed to avoid collisions: q445 and
    * [[grangerCtes]]. */
  private[operators] def grangerMomentsSql(tbl: String, p: String): String =
    s"""${p}g AS (
       |  SELECT x.el AS src, y.el AS dst, y.v AS yt, yl.v AS yl1, x.v AS xl1
       |  FROM $tbl y
       |  JOIN $tbl yl ON yl.el = y.el AND yl.di = y.di - 1
       |  JOIN $tbl x ON x.el <> y.el AND x.di = y.di - 1),
       |${p}m AS (
       |  SELECT src, dst, count(*) AS n,
       |    ${dsumSql("yt")} AS sy, ${dsumSql("yl1")} AS s1, ${dsumSql("xl1")} AS s2,
       |    ${dsumSql("yt*yt")} AS syy, ${dsumSql("yl1*yl1")} AS s11,
       |    ${dsumSql("xl1*xl1")} AS s22, ${dsumSql("yl1*xl1")} AS s12,
       |    ${dsumSql("yl1*yt")} AS s1y, ${dsumSql("xl1*yt")} AS s2y
       |  FROM ${p}g GROUP BY 1, 2)""".stripMargin

  /** The q230/q445 Granger CTE chain over a named (el, di, v) table,
    * prefixed to avoid collisions; ends in `<p>o(src, dst, gain)`.
    */
  private[graft] def grangerCtes(tbl: String, p: String): String =
    s"""${grangerMomentsSql(tbl, p)},
       |${CausalOps.grangerFitCtes(p)},
       |${p}o AS (
       |  SELECT src, dst,
       |    round((sse_r - (cyy - b1*c1y - b2*c2y))/nullif(sse_r, 0), 6) AS gain
       |  FROM ${p}f)""".stripMargin

  /** The consensus scoreboard from any (el, di, v) grid — shared by
    * batch q452 and the streaming refresh q467 (the causalRefresh
    * contract: final stream refresh == batch oracle bit-for-bit).
    */
  private[graft] def consensusFromGrid(s: SparkSession, g: DataFrame): DataFrame = {
    val rnk = g.select(col("el"), col("di"),
      cume_dist().over(Window.partitionBy(col("el")).orderBy(col("v"))).as("v"))
    val bl = Round25Ops.bartlettLags(s, g).where(col("lag") === 1)
      .select(col("src"), col("dst"), r6(col("r")).as("r_lag1"),
        r6(col("r") / col("se")).as("z"))
    val gg = CausalOps.grangerFromGrid(g)
      .select(col("src").as("gsrc"), col("dst").as("gdst"),
        col("granger_gain"))
    val rg = CausalOps.grangerFromGrid(rnk)
      .select(col("src").as("rsrc"), col("dst").as("rdst"),
        col("granger_gain").as("rank_granger_gain"))
    val cn = Round26Ops.circularNull(s, g)
      .select(col("src").as("csrc"), col("dst").as("cdst"),
        r6(col("p")).as("p_surrogate"))
    bl
      .join(gg, col("gsrc") === col("src") && col("gdst") === col("dst"))
      .join(rg, col("rsrc") === col("src") && col("rdst") === col("dst"))
      .join(cn, col("csrc") === col("src") && col("cdst") === col("dst"))
      .select(col("src"), col("dst"), col("r_lag1"),
        col("z").as("bartlett_z"), col("granger_gain"),
        col("rank_granger_gain"), col("p_surrogate"),
        (when(abs(col("z")) > 1.959963984540054, 1).otherwise(0)
          + when(col("granger_gain") >= 0.05, 1).otherwise(0)
          + when(col("rank_granger_gain") >= 0.05, 1).otherwise(0)
          + when(col("p_surrogate") <= 0.1, 1).otherwise(0)).as("votes"))
      .orderBy("src", "dst")
  }

  /** q452's batch edge table over the session's daily grid, materialized
    * once per (session, sf-dir) and shared with q468's hub collapse; the
    * streaming q467 path derives from per-batch grids and never reads it.
    */
  private[operators] def consensusEdges(s: SparkSession, d: String): DataFrame =
    graft.PlanCache.cached(s, s"q452_edges|$d")(consensusFromGrid(s, CausalOps.daily(s, d)))

  /** The matching oracle text over the shared `daily` CTE. */
  private[graft] val consensusSql: String =
    s"""WITH ${CausalOps.dailySql},
         |rnk AS (
         |  SELECT el, di, cume_dist() OVER (PARTITION BY el ORDER BY v) AS v
         |  FROM daily),
         |${grangerCtes("daily", "gd")},
         |${grangerCtes("rnk", "gr")},
         |bst AS (
         |  SELECT el, ${dsumSql("v")} / count(*) AS mu FROM daily GROUP BY 1),
         |bcx AS (
         |  SELECT d.el, d.di, d.v - bst.mu AS x
         |  FROM daily d JOIN bst ON bst.el = d.el),
         |bden AS (SELECT el, ${dsumSql("x * x")} AS ss FROM bcx GROUP BY 1),
         |blg AS (SELECT unnest(generate_series(1, 5)) AS k),
         |bacf AS (
         |  SELECT a.el, blg.k, ${dsumSql("a.x * b.x")} / max(bden.ss) AS rho
         |  FROM bcx a JOIN blg ON true
         |  JOIN bcx b ON b.el = a.el AND b.di = a.di - blg.k
         |  JOIN bden ON bden.el = a.el
         |  GROUP BY 1, 2),
         |bart AS (
         |  SELECT a.el AS src, b.el AS dst,
         |    1.0 + 2.0 * ${dsumSql("a.rho * b.rho")} AS bsum
         |  FROM bacf a JOIN bacf b ON b.k = a.k AND b.el <> a.el
         |  GROUP BY 1, 2),
         |m1 AS (
         |  SELECT x.el AS src, y.el AS dst, count(*) AS n,
         |    ${dsumSql("x.v")} AS sx, ${dsumSql("y.v")} AS sy,
         |    ${dsumSql("x.v * y.v")} AS sxy,
         |    ${dsumSql("x.v * x.v")} AS sxx, ${dsumSql("y.v * y.v")} AS syy
         |  FROM daily x JOIN daily y ON y.el <> x.el AND y.di = x.di + 1
         |  GROUP BY 1, 2),
         |bz AS (
         |  SELECT m1.src, m1.dst,
         |    round((m1.n * m1.sxy - m1.sx * m1.sy)
         |      / sqrt((m1.n * m1.sxx - m1.sx * m1.sx)
         |        * (m1.n * m1.syy - m1.sy * m1.sy)), 6) AS r_lag1,
         |    round(((m1.n * m1.sxy - m1.sx * m1.sy)
         |      / sqrt((m1.n * m1.sxx - m1.sx * m1.sx)
         |        * (m1.n * m1.syy - m1.sy * m1.sy)))
         |      / sqrt(bart.bsum / m1.n), 6) AS z
         |  FROM m1 JOIN bart ON bart.src = m1.src AND bart.dst = m1.dst),
         |${Round26Ops.circularShiftSql("")},
         |sp AS (
         |  SELECT rs.src, rs.dst,
         |    round((1.0 + count_if(rs.s > 0 AND abs(rs.r) >= abs(ob.r_obs)))
         |      / count(*), 6) AS p
         |  FROM rs JOIN ob ON ob.src = rs.src AND ob.dst = rs.dst
         |  GROUP BY 1, 2)
         |SELECT bz.src AS src, bz.dst AS dst, bz.r_lag1, bz.z AS bartlett_z,
         |  gdo.gain AS granger_gain, gro.gain AS rank_granger_gain,
         |  sp.p AS p_surrogate,
         |  (CASE WHEN abs(bz.z) > 1.959963984540054 THEN 1 ELSE 0 END
         |   + CASE WHEN gdo.gain >= 0.05 THEN 1 ELSE 0 END
         |   + CASE WHEN gro.gain >= 0.05 THEN 1 ELSE 0 END
         |   + CASE WHEN sp.p <= 0.1 THEN 1 ELSE 0 END) AS votes
         |FROM bz
         |JOIN gdo ON gdo.src = bz.src AND gdo.dst = bz.dst
         |JOIN gro ON gro.src = bz.src AND gro.dst = bz.dst
         |JOIN sp ON sp.src = bz.src AND sp.dst = bz.dst
         |ORDER BY src, dst""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    /** The consensus edge scoreboard — four independent lead tests per
      * directed pair, each with its conventional significance reading
      * (|z| > z₀.₉₇₅, gain ≥ 0.05, surrogate p ≤ 0.1), and the vote
      * count. The flagship "which element causes which" deliverable:
      * every statistic is the SAME tree as its standalone query; q467
      * replays exactly this readout inside the streaming harness.
      */
    QueryDef("q452_causal_consensus", consensusSql) { (s, d) =>
      CausalOps.guardFullEnum(CausalOps.daily(s, d), "q452_causal_consensus")
      consensusEdges(s, d).orderBy("src", "dst")
    },

    /** Taylor's law per element: within each day, the mean and variance
      * of the 24 hourly counts (zero hours included via the day-total
      * identity); across days, the log-log regression slope b — b = 1
      * Poisson, b → 2 synchronized. The population-scaling companion
      * of q451's gap burstiness; one hour-grain aggregate, day- and
      * element-grain column math.
      */
    QueryDef(
      "q453_taylor_law",
      s"""WITH hc AS (
         |  SELECT event_type AS el,
         |    datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS di,
         |    date_part('hour', ts) AS hh, CAST(count(*) AS DOUBLE) AS n
         |  FROM events GROUP BY 1, 2, 3),
         |dy AS (
         |  SELECT el, di,
         |    ${dsumSql("n")} / 24.0 AS m,
         |    (${dsumSql("n * n")} - ${dsumSql("n")} * ${dsumSql("n")} / 24.0)
         |      / 23.0 AS v
         |  FROM hc GROUP BY 1, 2),
         |lv AS (
         |  SELECT el, ln(m) AS lx, ln(v) AS ly
         |  FROM dy WHERE m > 0 AND v > 0)
         |SELECT el, CAST(count(*) AS BIGINT) AS n_days,
         |  round((count(*) * ${dsumSql("lx * ly")} - ${dsumSql("lx")} * ${dsumSql("ly")})
         |    / (count(*) * ${dsumSql("lx * lx")} - ${dsumSql("lx")} * ${dsumSql("lx")}), 6)
         |    AS taylor_b,
         |  round((${dsumSql("ly")} - ((count(*) * ${dsumSql("lx * ly")} - ${dsumSql("lx")} * ${dsumSql("ly")})
         |    / (count(*) * ${dsumSql("lx * lx")} - ${dsumSql("lx")} * ${dsumSql("lx")})) * ${dsumSql("lx")})
         |    / count(*), 6) AS ln_a,
         |  round((count(*) * ${dsumSql("lx * ly")} - ${dsumSql("lx")} * ${dsumSql("ly")})
         |    / sqrt((count(*) * ${dsumSql("lx * lx")} - ${dsumSql("lx")} * ${dsumSql("lx")})
         |      * (count(*) * ${dsumSql("ly * ly")} - ${dsumSql("ly")} * ${dsumSql("ly")})), 6)
         |    AS loglog_corr
         |FROM lv GROUP BY el ORDER BY el""".stripMargin) { (s, d) =>
      val hc = Tables.events(s, d).groupBy(col("event_type").as("el"),
          datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")).as("di"),
          hour(col("ts")).as("hh"))
        .agg(count(lit(1)).cast("double").as("n"))
      val dy = hc.groupBy("el", "di").agg(
        (dsum(col("n")) / lit(24.0)).as("m"),
        ((dsum(col("n") * col("n")) -
          dsum(col("n")) * dsum(col("n")) / lit(24.0)) / lit(23.0)).as("v"))
      val lv = dy.where(col("m") > 0 && col("v") > 0)
        .select(col("el"), log(col("m")).as("lx"), log(col("v")).as("ly"))
      val b = (count(lit(1)) * dsum(col("lx") * col("ly")) -
        dsum(col("lx")) * dsum(col("ly"))) /
        (count(lit(1)) * dsum(col("lx") * col("lx")) -
          dsum(col("lx")) * dsum(col("lx")))
      val corr = (count(lit(1)) * dsum(col("lx") * col("ly")) -
        dsum(col("lx")) * dsum(col("ly"))) /
        sqrt((count(lit(1)) * dsum(col("lx") * col("lx")) -
          dsum(col("lx")) * dsum(col("lx"))) *
          (count(lit(1)) * dsum(col("ly") * col("ly")) -
            dsum(col("ly")) * dsum(col("ly"))))
      lv.groupBy("el").agg(
          count(lit(1)).cast("long").as("n_days"),
          r6(b).as("taylor_b"),
          r6((dsum(col("ly")) - b * dsum(col("lx"))) / count(lit(1))).as("ln_a"),
          r6(corr).as("loglog_corr"))
        .orderBy("el")
    },

    /** Allan variance of the hourly event rate at scales {1,2,4,8} h:
      * zero-filled 720-hour scaffold (literal cross join — the grid is
      * calendar-bounded), block means at each scale, AVAR(τ) =
      * ½·mean((Ā_{k+1}−Ā_k)²), and the Poisson normalization
      * τ·AVAR/λ̂ ≡ 1 for a memoryless stream — WHICH timescale carries
      * the excess variance.
      */
    QueryDef(
      "q454_allan_variance",
      s"""WITH ${Round23Ops.hourGridSql},
         |els AS (SELECT DISTINCT el FROM hg),
         |hrs AS (SELECT unnest(generate_series(0, 719)) AS h),
         |dn AS (
         |  SELECT els.el, hrs.h, coalesce(hg.n, 0.0) AS n
         |  FROM els CROSS JOIN hrs
         |  LEFT JOIN hg ON hg.el = els.el AND hg.h = hrs.h),
         |rate AS (SELECT el, ${dsumSql("n")} / 720.0 AS lam FROM dn GROUP BY 1),
         |tg AS (SELECT unnest([1, 2, 4, 8]) AS tau),
         |blk AS (
         |  SELECT dn.el, tg.tau, CAST(floor(dn.h / tg.tau) AS INT) AS b,
         |    ${dsumSql("n")} / tg.tau AS a
         |  FROM dn CROSS JOIN tg GROUP BY 1, 2, 3),
         |df AS (
         |  SELECT el, tau, b, a,
         |    lead(a) OVER (PARTITION BY el, tau ORDER BY b) AS a2
         |  FROM blk)
         |SELECT df.el AS el, df.tau,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  round(0.5 * ${dsumSql("(a2 - a) * (a2 - a)")} / count(*), 6) AS avar,
         |  round((0.5 * ${dsumSql("(a2 - a) * (a2 - a)")} / count(*))
         |    * df.tau / max(rate.lam), 6) AS poisson_ratio
         |FROM df JOIN rate ON rate.el = df.el
         |WHERE df.a2 IS NOT NULL
         |GROUP BY 1, 2 ORDER BY el, tau""".stripMargin) { (s, d) =>
      val hg = Round23Ops.hourGrid(s, d)
      val els = hg.select(col("el")).distinct()
      val hrs = s.range(1).select(explode(sequence(lit(0), lit(719))).as("hh"))
      val dense = broadcast(els).crossJoin(broadcast(hrs))
        .join(hg.select(col("el").as("hel"), col("h"), col("n")),
          col("hel") === col("el") && col("h") === col("hh"), "left")
        .select(col("el"), col("hh"), coalesce(col("n"), lit(0.0)).as("n"))
      val rate = dense.groupBy(col("el").as("rel"))
        .agg((dsum(col("n")) / lit(720.0)).as("lam"))
      val tg = s.range(1)
        .select(explode(array(lit(1), lit(2), lit(4), lit(8))).as("tau"))
      val blk = dense.crossJoin(broadcast(tg))
        .groupBy(col("el"), col("tau"),
          floor(col("hh") / col("tau")).cast("int").as("b"))
        .agg((dsum(col("n")) / col("tau")).as("a"))
      val df = blk.select(col("el"), col("tau"), col("b"), col("a"),
        lead(col("a"), 1).over(Window.partitionBy(col("el"), col("tau"))
          .orderBy(col("b"))).as("a2"))
      val avar = lit(0.5) * dsum((col("a2") - col("a")) * (col("a2") - col("a"))) /
        count(lit(1))
      df.where(col("a2").isNotNull)
        .join(broadcast(rate), col("rel") === col("el"))
        .groupBy("el", "tau")
        .agg(count(lit(1)).cast("long").as("n_pairs"),
          r6(avar).as("avar"),
          r6(avar * col("tau") / max(col("lam"))).as("poisson_ratio"))
        .orderBy("el", "tau")
    },

    /** Detrended fluctuation analysis at windows {5,10,15} days: the
      * centered cumulative profile, per-window OLS-detrended residual
      * RMS via closed-form centered sums (no per-window fitting loop),
      * F(w), and α from the exact 3-point log-log fit. α ≈ 0.5 is
      * uncorrelated; α > 0.5 persistent — the DFA companion of q308's
      * R/S Hurst (different estimator, same question, honest
      * cross-check).
      */
    QueryDef(
      "q455_dfa",
      s"""WITH ${CausalOps.dailySql},
         |st AS (SELECT el, ${dsumSql("v")} / count(*) AS mu FROM daily GROUP BY 1),
         |pf AS (
         |  SELECT d.el,
         |    row_number() OVER (PARTITION BY d.el ORDER BY d.di) AS t,
         |    CAST(sum(CAST(d.v - st.mu AS DECIMAL(38,12)))
         |      OVER (PARTITION BY d.el ORDER BY d.di) AS DOUBLE) AS y
         |  FROM daily d JOIN st ON st.el = d.el),
         |wg AS (SELECT unnest([5, 10, 15]) AS w),
         |seg AS (
         |  SELECT pf.el, wg.w, CAST(floor((pf.t - 1) / wg.w) AS INT) AS b,
         |    pf.t, pf.y
         |  FROM pf CROSS JOIN wg),
         |bs AS (
         |  SELECT el, w, b, count(*) AS c,
         |    ${dsumSql("t")} AS sx, ${dsumSql("y")} AS sy,
         |    ${dsumSql("t * y")} AS sxy, ${dsumSql("CAST(t AS DOUBLE) * t")} AS sxx,
         |    ${dsumSql("y * y")} AS syy
         |  FROM seg GROUP BY 1, 2, 3),
         |res AS (
         |  SELECT el, w, b,
         |    ((syy - sy * sy / c)
         |      - (sxy - sx * sy / c) * (sxy - sx * sy / c)
         |        / (sxx - sx * sx / c)) / c AS ms
         |  FROM bs WHERE c = w),
         |fw AS (
         |  SELECT el, w, sqrt(${dsumSql("ms")} / count(*)) AS f
         |  FROM res GROUP BY 1, 2),
         |ll AS (SELECT el, ln(CAST(w AS DOUBLE)) AS lx, ln(f) AS ly FROM fw)
         |SELECT el, CAST(count(*) AS BIGINT) AS n_scales,
         |  round((count(*) * ${dsumSql("lx * ly")} - ${dsumSql("lx")} * ${dsumSql("ly")})
         |    / (count(*) * ${dsumSql("lx * lx")} - ${dsumSql("lx")} * ${dsumSql("lx")}), 6)
         |    AS dfa_alpha,
         |  round(min(CASE WHEN lx = ln(CAST(5 AS DOUBLE)) THEN exp(ly) END), 6) AS f5,
         |  round(min(CASE WHEN lx = ln(CAST(15 AS DOUBLE)) THEN exp(ly) END), 6) AS f15
         |FROM ll GROUP BY el ORDER BY el""".stripMargin) { (s, d) =>
      val g = CausalOps.daily(s, d)
      val st = g.groupBy(col("el").as("sel"))
        .agg((dsum(col("v")) / count(lit(1))).as("mu"))
      val wc = Window.partitionBy(col("el")).orderBy(col("di"))
      val pf = g.join(broadcast(st), col("sel") === col("el"))
        .select(col("el"),
          row_number().over(wc).as("t"),
          sum((col("v") - col("mu")).cast("decimal(38,12)")).over(wc)
            .cast("double").as("y"))
      val wg = s.range(1)
        .select(explode(array(lit(5), lit(10), lit(15))).as("w"))
      val seg = pf.crossJoin(broadcast(wg))
        .select(col("el"), col("w"),
          floor((col("t") - 1) / col("w")).cast("int").as("b"),
          col("t"), col("y"))
      val bs = seg.groupBy("el", "w", "b").agg(
        count(lit(1)).as("c"),
        dsum(col("t")).as("sx"), dsum(col("y")).as("sy"),
        dsum(col("t") * col("y")).as("sxy"),
        dsum(col("t").cast("double") * col("t")).as("sxx"),
        dsum(col("y") * col("y")).as("syy"))
      val res = bs.where(col("c") === col("w"))
        .select(col("el"), col("w"),
          (((col("syy") - col("sy") * col("sy") / col("c"))
            - (col("sxy") - col("sx") * col("sy") / col("c")) *
              (col("sxy") - col("sx") * col("sy") / col("c")) /
              (col("sxx") - col("sx") * col("sx") / col("c"))) / col("c"))
            .as("ms"))
      val fw = res.groupBy("el", "w")
        .agg(sqrt(dsum(col("ms")) / count(lit(1))).as("f"))
      val ll = fw.select(col("el"), log(col("w").cast("double")).as("lx"),
        log(col("f")).as("ly"))
      val alpha = (count(lit(1)) * dsum(col("lx") * col("ly")) -
        dsum(col("lx")) * dsum(col("ly"))) /
        (count(lit(1)) * dsum(col("lx") * col("lx")) -
          dsum(col("lx")) * dsum(col("lx")))
      ll.groupBy("el").agg(
          count(lit(1)).cast("long").as("n_scales"),
          r6(alpha).as("dfa_alpha"),
          r6(min(when(col("lx") === log(lit(5).cast("double")), exp(col("ly")))))
            .as("f5"),
          r6(min(when(col("lx") === log(lit(15).cast("double")), exp(col("ly")))))
            .as("f15"))
        .orderBy("el")
    },

    /** Break co-occurrence per element pair: the mean-shift changepoint
      * (q233's CUSUM tree) and the variance changepoint (q434's
      * Inclán–Tiao tree) joined across elements — |Δday| ≤ 2 flags
      * common structural breaks, the shared-driver evidence a causal
      * edge claim should be checked against (a common break mimics
      * lead-lag). Pair joins of O(P) per-element summary rows.
      */
    QueryDef(
      "q456_break_cooccurrence",
      s"""WITH ${CausalOps.dailySql},
         |cst AS (
         |  SELECT el, count(*) AS n,
         |    ${dsumSql("v")} AS sv, ${dsumSql("v*v")} AS svv
         |  FROM daily GROUP BY 1),
         |cz AS (
         |  SELECT d.el, d.di,
         |    sum((d.v - s.sv/s.n) / sqrt(s.svv/s.n - (s.sv/s.n)*(s.sv/s.n)))
         |      OVER (PARTITION BY d.el ORDER BY d.di) AS cusum
         |  FROM daily d JOIN cst s ON d.el = s.el),
         |ccp AS (
         |  SELECT el, di AS cp_di FROM (
         |    SELECT el, di,
         |      row_number() OVER (PARTITION BY el ORDER BY abs(cusum) DESC, di) AS r
         |    FROM cz) WHERE r = 1),
         |ist AS (
         |  SELECT el, ${dsumSql("v")} / count(*) AS mu, count(*) AS n
         |  FROM daily GROUP BY 1),
         |ick AS (
         |  SELECT d.el, d.di, ist.n,
         |    CAST(sum(CAST((d.v - ist.mu) * (d.v - ist.mu) AS DECIMAL(38,12)))
         |      OVER wcum AS DOUBLE) AS c,
         |    CAST(count(*) OVER wcum AS DOUBLE) AS k
         |  FROM daily d JOIN ist ON ist.el = d.el
         |  WINDOW wcum AS (PARTITION BY d.el ORDER BY d.di
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |icn AS (SELECT el, max(c) AS ctot FROM ick GROUP BY 1),
         |icd AS (
         |  SELECT ick.el, ick.di,
         |    ick.c / icn.ctot - ick.k / CAST(ick.n AS DOUBLE) AS d
         |  FROM ick JOIN icn ON icn.el = ick.el),
         |icp AS (
         |  SELECT el, di AS cp_di FROM (
         |    SELECT el, di,
         |      row_number() OVER (PARTITION BY el ORDER BY abs(d) DESC, di) AS rk
         |    FROM icd) WHERE rk = 1),
         |uni AS (
         |  SELECT ccp.el, ccp.cp_di AS mean_cp, icp.cp_di AS var_cp
         |  FROM ccp JOIN icp ON icp.el = ccp.el)
         |SELECT a.el AS eli, b.el AS elj,
         |  CAST(a.mean_cp AS INT) AS mean_cp_i, CAST(b.mean_cp AS INT) AS mean_cp_j,
         |  CAST(abs(a.mean_cp - b.mean_cp) AS INT) AS mean_gap,
         |  CASE WHEN abs(a.mean_cp - b.mean_cp) <= 2 THEN 1 ELSE 0 END AS mean_cobreak,
         |  CAST(a.var_cp AS INT) AS var_cp_i, CAST(b.var_cp AS INT) AS var_cp_j,
         |  CAST(abs(a.var_cp - b.var_cp) AS INT) AS var_gap,
         |  CASE WHEN abs(a.var_cp - b.var_cp) <= 2 THEN 1 ELSE 0 END AS var_cobreak
         |FROM uni a JOIN uni b ON a.el < b.el
         |ORDER BY eli, elj""".stripMargin) { (s, d) =>
      val g = CausalOps.daily(s, d)
      val cc = CausalOps.cusumFromGrid(g)
        .select(col("el"), col("cp_di").as("mean_cp"))
      val iv = Round24Ops.inclanFromGrid(g)
        .select(col("el").as("iel"), col("cp_di").as("var_cp"))
      val uni = cc.join(iv, col("iel") === col("el"))
        .select(col("el"), col("mean_cp"), col("var_cp"))
      val b = uni.select(col("el").as("elj"), col("mean_cp").as("mcj"),
        col("var_cp").as("vcj"))
      uni.join(b, col("el") < col("elj"))
        .select(col("el").as("eli"), col("elj"),
          col("mean_cp").cast("int").as("mean_cp_i"),
          col("mcj").cast("int").as("mean_cp_j"),
          abs(col("mean_cp") - col("mcj")).cast("int").as("mean_gap"),
          when(abs(col("mean_cp") - col("mcj")) <= 2, 1).otherwise(0)
            .as("mean_cobreak"),
          col("var_cp").cast("int").as("var_cp_i"),
          col("vcj").cast("int").as("var_cp_j"),
          abs(col("var_cp") - col("vcj")).cast("int").as("var_gap"),
          when(abs(col("var_cp") - col("vcj")) <= 2, 1).otherwise(0)
            .as("var_cobreak"))
        .orderBy("eli", "elj")
    }
  )
}
