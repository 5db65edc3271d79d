package graft.operators

import graft.{PlanCache, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-18 batch: robust testing / privacy / tails / nonparametric
  * change detection / corpus-divergence operators —
  *
  *  - q396 Yuen's trimmed-mean t (Yuen 1974) with winsorized variances,
  *    order statistics from the two-phase per-arm rank;
  *  - q397 t-closeness (Li, Li & Venkatasubramanian 2007) via exact
  *    ordinal earth-mover distances — completing the q322/q377 privacy
  *    ladder;
  *  - q398 the Hill tail-index estimator (Hill 1975) at three k's —
  *    the stability-across-k readout IS the operator;
  *  - q399 Mann–Kendall trend test with exact tie-corrected variance
  *    per element;
  *  - q400 Pettitt's nonparametric change-point test per element — the
  *    rank-based complement of q161/q233's parametric CUSUM;
  *  - q401 pairwise Jensen–Shannon divergence between source unigram
  *    distributions — the mixture-design distance q141/q210 lacked.
  *
  * All hash-verified against DuckDB on the same parquet tables.
  */
object Round18Ops {
  import CausalOps.{dsum, dsumSql, r6}

  val defs: Seq[QueryDef] = Seq(

    /** Yuen's t test (1974) for trimmed means — the robust two-sample
      * location test that survives the heavy tails and outliers that
      * invalidate Student's t: 10% trimming per arm by EXACT order
      * statistics (two-phase per-arm global rank over the (value, key)
      * total order — deterministic under ties, no single-partition
      * funnel), winsorized variances (values clamped to the k+1-th and
      * n−k-th order statistics), Satterthwaite degrees of freedom. The
      * readout next to q387's effect sizes: when yuen_t and Student's t
      * disagree, the tails are doing the talking.
      *
      * Scale shape: two two-phase rank passes (one per arm), the two
      * boundary order statistics are 1-row broadcast anchors, then ONE
      * winsorized-moment scan per arm; all test math on a 1-row table.
      */
    QueryDef(
      "q396_yuen_trimmed", {
        def arm(tag: String, flag: String) =
          s"""r$tag AS (
             |  SELECT o_totalprice AS y,
             |    row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
             |    count(*) OVER () AS n
             |  FROM orders WHERE o_orderpriority = '$flag'),
             |k$tag AS (SELECT CAST(floor(n * CAST(0.1 AS DOUBLE)) AS BIGINT) AS k,
             |  n AS nn FROM r$tag LIMIT 1),
             |lo$tag AS (SELECT y AS lo FROM r$tag, k$tag WHERE rn = k + 1),
             |hi$tag AS (SELECT y AS hi FROM r$tag, k$tag WHERE rn = nn - k),
             |m$tag AS (
             |  SELECT max(k$tag.k) AS k, max(k$tag.nn) AS n,
             |    ${dsumSql("CASE WHEN rn > k AND rn <= nn - k THEN y END")} AS st,
             |    ${dsumSql("least(greatest(y, lo), hi)")} AS sw,
             |    ${dsumSql("least(greatest(y, lo), hi)*least(greatest(y, lo), hi)")} AS sww
             |  FROM r$tag CROSS JOIN k$tag CROSS JOIN lo$tag CROSS JOIN hi$tag),
             |s$tag AS (
             |  SELECT k, n, n - 2*k AS h, st/(n - 2*k) AS tm,
             |    (sww - sw*sw/n)/(n - 1) AS vw
             |  FROM m$tag)""".stripMargin
        s"""WITH ${arm("a", "1-URGENT")},
           |${arm("b", "5-LOW")},
           |yt AS (
           |  SELECT sa.n AS na, sb.n AS nb, sa.k AS ka, sb.k AS kb,
           |    sa.tm AS tma, sb.tm AS tmb,
           |    sa.vw*(sa.n - 1)/(CAST(sa.h AS DOUBLE)*(sa.h - 1)) AS da,
           |    sb.vw*(sb.n - 1)/(CAST(sb.h AS DOUBLE)*(sb.h - 1)) AS db,
           |    sa.h AS ha, sb.h AS hb
           |  FROM sa CROSS JOIN sb)
           |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           |  CAST(ka AS BIGINT) AS trim_k_a, CAST(kb AS BIGINT) AS trim_k_b,
           |  round(tma, 6) AS tmean_a, round(tmb, 6) AS tmean_b,
           |  round((tma - tmb)/sqrt(da + db), 6) AS yuen_t,
           |  round((da + db)*(da + db)/(da*da/(ha - 1) + db*db/(hb - 1)), 6) AS df
           |FROM yt""".stripMargin
      }) { (s, d) =>
      def arm(flag: String, tag: String): DataFrame = {
        val po = Tables.orders(s, d).where(col("o_orderpriority") === flag)
          .select(col("o_totalprice").as("y"), col("o_orderkey").as("okey"))
        val (rn, n) = TwoPhase.globalRowNumber(s, po, s"q396_rn$tag|$d",
          Seq(col("y").asc, col("okey").asc))
        val k = math.floor(n * 0.1).toLong
        val lo = rn.where(col("rn") === (k + 1)).select(col("y").as("lo"))
        val hi = rn.where(col("rn") === (n - k)).select(col("y").as("hi"))
        val yw = least(greatest(col("y"), col("lo")), col("hi"))
        val m = rn.crossJoin(broadcast(lo)).crossJoin(broadcast(hi)).agg(
          dsum(when(col("rn") > k && col("rn") <= (n - k), col("y"))).as("st"),
          dsum(yw).as("sw"), dsum(yw * yw).as("sww"))
        m.select(lit(k).as("k"), lit(n).as("n"), lit(n - 2 * k).as("h"),
          (col("st") / lit((n - 2 * k).toDouble)).as("tm"),
          ((col("sww") - col("sw") * col("sw") / lit(n.toDouble)) /
            lit((n - 1).toDouble)).as("vw"))
      }
      // mirror the oracle's double tree: d_g = vw*(n-1)/(h*(h-1))
      val armA = arm("1-URGENT", "a")
      val armB = arm("5-LOW", "b")
      val yt = armA.select(col("k").as("ka"), col("n").as("na"), col("h").as("ha"),
          col("tm").as("tma"),
          (col("vw") * (col("n") - 1).cast("double") /
            (col("h").cast("double") * (col("h") - 1))).as("da"))
        .crossJoin(broadcast(armB.select(col("k").as("kb"), col("n").as("nb"),
          col("h").as("hb"), col("tm").as("tmb"),
          (col("vw") * (col("n") - 1).cast("double") /
            (col("h").cast("double") * (col("h") - 1))).as("db"))))
      yt.select(col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
        col("ka").cast("long").as("trim_k_a"), col("kb").cast("long").as("trim_k_b"),
        r6(col("tma")).as("tmean_a"), r6(col("tmb")).as("tmean_b"),
        r6((col("tma") - col("tmb")) / sqrt(col("da") + col("db"))).as("yuen_t"),
        r6((col("da") + col("db")) * (col("da") + col("db")) /
          (col("da") * col("da") / (col("ha") - 1) +
            col("db") * col("db") / (col("hb") - 1))).as("df"))
    },

    /** t-closeness audit (Li, Li & Venkatasubramanian, ICDE 2007) —
      * the third rung of the privacy ladder after q322's k-anonymity
      * and q377's l-diversity: per quasi-identifier group, the ordinal
      * earth-mover distance between the group's order-priority
      * distribution and the GLOBAL one,
      * EMD = (1/(m−1))·Σᵢ |cumᵢ(Q_g) − cumᵢ(P)| — a group whose
      * sensitive distribution mirrors the population leaks nothing even
      * at l-diversity 1. Counts are integers; the five ordinal levels
      * are fixed columns, so the cumulative differences are exact
      * ratios until the final fold.
      *
      * Scale shape: one customer⋈orders equi-join, ONE (group ×
      * 5-level) conditional-count aggregate, a broadcast 1-row global
      * distribution; all EMD math is row-local on the group grain.
      */
    QueryDef(
      "q397_t_closeness", {
        val cnts = (1 to 5).map(i =>
          s"count(*) FILTER (WHERE sens = $i) AS c$i").mkString(", ")
        def cum(pfx: String, i: Int) =
          (1 to i).map(j => s"$pfx$j").mkString(" + ")
        val emdTerms = (1 to 4).map { i =>
          s"abs((${cum("c", i)})/CAST(n AS DOUBLE) - (${cum("g", i)})/CAST(gn AS DOUBLE))"
        }.mkString(" + ")
        s"""WITH jo AS (
           |  SELECT c_nationkey AS nat,
           |    CAST(floor(c_acctbal / 1000.0) AS INT) AS bin,
           |    CAST(substr(o_orderpriority, 1, 1) AS INT) AS sens
           |  FROM customer JOIN orders ON o_custkey = c_custkey),
           |gg AS (SELECT count(*) AS gn, $cnts FROM
           |  (SELECT sens FROM jo) t(sens)),
           |gr AS (SELECT nat, bin, count(*) AS n, $cnts FROM jo GROUP BY 1, 2)
           |SELECT gr.nat AS nat, gr.bin AS bin, CAST(gr.n AS BIGINT) AS k,
           |  floor(($emdTerms) / CAST(4 AS DOUBLE) * CAST(1000000 AS DOUBLE)
           |    + CAST(0.5 AS DOUBLE)) / CAST(1000000 AS DOUBLE) AS emd,
           |  CAST(CASE WHEN ($emdTerms) / CAST(4 AS DOUBLE)
           |    > CAST(0.2 AS DOUBLE) THEN 1 ELSE 0 END AS INT) AS fails_t02
           |FROM gr CROSS JOIN (SELECT gn, c1 AS g1, c2 AS g2, c3 AS g3,
           |  c4 AS g4, c5 AS g5 FROM gg) g
           |ORDER BY nat, bin""".stripMargin
      }) { (s, d) =>
      val jo = Tables.customer(s, d)
        .join(Tables.orders(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey").as("nat"),
          floor(col("c_acctbal") / lit(1000.0)).cast("int").as("bin"),
          substring(col("o_orderpriority"), 1, 1).cast("int").as("sens"))
      def cnts(df: org.apache.spark.sql.RelationalGroupedDataset) = df.agg(
        count(lit(1)).as("n"),
        count(when(col("sens") === 1, lit(1))).as("c1"),
        count(when(col("sens") === 2, lit(1))).as("c2"),
        count(when(col("sens") === 3, lit(1))).as("c3"),
        count(when(col("sens") === 4, lit(1))).as("c4"),
        count(when(col("sens") === 5, lit(1))).as("c5"))
      val gr = cnts(jo.groupBy("nat", "bin"))
      val gg = jo.agg(count(lit(1)).as("gn"),
        count(when(col("sens") === 1, lit(1))).as("g1"),
        count(when(col("sens") === 2, lit(1))).as("g2"),
        count(when(col("sens") === 3, lit(1))).as("g3"),
        count(when(col("sens") === 4, lit(1))).as("g4"),
        count(when(col("sens") === 5, lit(1))).as("g5"))
      def cumC(pfx: String, i: Int): Column =
        (1 to i).map(j => col(s"$pfx$j")).reduce(_ + _)
      val emd = (1 to 4).map { i =>
        abs(cumC("c", i) / col("n").cast("double") -
          cumC("g", i) / col("gn").cast("double"))
      }.reduce(_ + _)
      gr.crossJoin(broadcast(gg))
        .select(col("nat"), col("bin"), col("n").cast("long").as("k"),
          // floor(x*1e6 + 0.5)/1e6 instead of round(): the EMD is a small-
          // denominator rational that LANDS on the .5 rounding boundary
          // (nat=7/bin=3 at sf0.01 is exactly 0.0326625), where Spark's
          // HALF_UP-on-shortest-decimal and DuckDB's binary rounding
          // disagree; floor on the identical double is bit-deterministic
          (floor(emd / lit(4.0) * lit(1.0e6) + lit(0.5)) / lit(1.0e6)).as("emd"),
          when(emd / lit(4.0) > lit(0.2), 1).otherwise(0).cast("int").as("fails_t02"))
        .orderBy("nat", "bin")
    },

    /** Hill tail-index estimator (Hill 1975) of o_totalprice at
      * k ∈ {100, 250, 500}: α̂(k) = k / Σᵢ₌₁..k ln(X₍ᵢ₎/X₍ₖ₊₁₎) over the
      * top-k order statistics, with the asymptotic se α̂/√k. The
      * THREE-k readout is the estimator's own diagnostic (the "Hill
      * horror plot"): α̂ stable across k ⇒ a genuine Pareto tail; α̂
      * drifting — as it honestly does on this bounded synthetic
      * price — says the tail is not power-law. Order statistics come
      * from ONE two-phase descending rank; the three folds are
      * conditional sums over the same ≤501 anchored rows.
      *
      * Scale shape: the rank pass is the only data-grain work; the
      * top-501 slice is a bounded cut (topk grain), and each k's fold
      * runs on it with a broadcast threshold row.
      */
    QueryDef(
      "q398_hill_tail", {
        def kblock(k: Int) =
          s"""SELECT $k AS k,
             |  (SELECT y FROM rk WHERE rn = $k + 1) AS xk,
             |  CAST($k AS DOUBLE) /
             |    ${dsumSql(s"CASE WHEN rn <= $k THEN ln(y / (SELECT y FROM rk WHERE rn = $k + 1)) END")} AS alpha
             |FROM rk WHERE rn <= $k""".stripMargin
        s"""WITH rk AS MATERIALIZED (
           |  SELECT o_totalprice AS y,
           |    row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn
           |  FROM orders QUALIFY rn <= 501)
           |SELECT CAST(k AS INT) AS k, round(xk, 6) AS x_threshold,
           |  round(alpha, 6) AS hill_alpha,
           |  round(alpha / sqrt(CAST(k AS DOUBLE)), 6) AS se
           |FROM (
           |${(Seq(100, 250, 500).map(kblock)).mkString("\nUNION ALL\n")}
           |) ORDER BY k""".stripMargin
      }) { (s, d) =>
      val po = Tables.orders(s, d)
        .select(col("o_totalprice").as("y"), col("o_orderkey").as("okey"))
      val (rnAll, _) = TwoPhase.globalRowNumber(s, po, s"q398_rn|$d",
        Seq(col("y").desc, col("okey").asc))
      val rk = PlanCache.cached(s, s"q398_top|$d")(rnAll.where(col("rn") <= 501))
      val rows = Seq(100, 250, 500).map { k =>
        val xk = rk.where(col("rn") === (k + 1)).select(col("y").as("xk"))
        rk.where(col("rn") <= k).crossJoin(broadcast(xk))
          .agg(dsum(log(col("y") / col("xk"))).as("sl"), max(col("xk")).as("xk"))
          .select(lit(k).as("k"), col("xk"),
            (lit(k.toDouble) / col("sl")).as("alpha"))
      }
      rows.reduce(_ unionAll _)
        .select(col("k").cast("int").as("k"), r6(col("xk")).as("x_threshold"),
          r6(col("alpha")).as("hill_alpha"),
          r6(col("alpha") / sqrt(col("k").cast("double"))).as("se"))
        .orderBy("k")
    },

    /** Mann–Kendall trend test per element (Mann 1945; Kendall 1975)
      * with the exact tie-corrected variance: S = Σᵢ<ⱼ sgn(vⱼ − vᵢ)
      * over the day-ordered daily means, Var(S) = (T(T−1)(2T+5) −
      * Σ_ties t(t−1)(2t+5))/18, continuity-corrected z. The
      * nonparametric companion to q282's Theil–Sen slope (which gives
      * the magnitude; this gives the significance): S is an exact
      * integer in both engines — sign comparisons, never float
      * arithmetic — so the only float ops are the final ratio pair.
      *
      * Scale shape: the day-pair self-join runs on the BOUNDED
      * PlanCache'd grid (O(P·T²), calendar-capped), tie groups on the
      * same grid; fact bytes are touched once by the shared grid build.
      */
    QueryDef(
      "q399_mann_kendall",
      s"""WITH ${CausalOps.dailySql},
         |pp AS (
         |  SELECT a.el, sum(CASE WHEN b.v > a.v THEN 1
         |    WHEN b.v < a.v THEN -1 ELSE 0 END) AS s,
         |    count(*) AS npair
         |  FROM daily a JOIN daily b ON b.el = a.el AND b.di > a.di
         |  GROUP BY 1),
         |nt AS (SELECT el, count(*) AS t FROM daily GROUP BY 1),
         |ties AS (
         |  SELECT el, coalesce(sum(tc*(tc - 1)*(2*tc + 5)), 0) AS tcorr
         |  FROM (SELECT el, v, count(*) AS tc FROM daily GROUP BY 1, 2)
         |  WHERE tc > 1 GROUP BY 1),
         |st AS (
         |  SELECT pp.el, pp.s, nt.t,
         |    (CAST(nt.t AS DOUBLE)*(nt.t - 1)*(2*nt.t + 5)
         |      - coalesce(ties.tcorr, 0)) / CAST(18 AS DOUBLE) AS vs
         |  FROM pp JOIN nt ON nt.el = pp.el
         |  LEFT JOIN ties ON ties.el = pp.el)
         |SELECT el, CAST(t AS BIGINT) AS n_days, CAST(s AS BIGINT) AS s_stat,
         |  round(vs, 6) AS var_s,
         |  round(CASE WHEN s > 0 THEN (s - 1)/sqrt(vs)
         |    WHEN s < 0 THEN (s + 1)/sqrt(vs)
         |    ELSE CAST(0 AS DOUBLE) END, 6) AS z,
         |  CAST(CASE WHEN s > 0 THEN 1 WHEN s < 0 THEN -1 ELSE 0 END AS INT) AS direction
         |FROM st ORDER BY el""".stripMargin) { (s, d) =>
      val g = CausalOps.daily(s, d)
      val b = g.select(col("el").as("elb"), col("di").as("dib"), col("v").as("vb"))
      val pp = g.join(b, col("elb") === col("el") && col("dib") > col("di"))
        .groupBy("el").agg(
          sum(when(col("vb") > col("v"), 1)
            .when(col("vb") < col("v"), -1).otherwise(0)).as("s"),
          count(lit(1)).as("npair"))
      val nt = g.groupBy("el").agg(count(lit(1)).as("t"))
      val ties = g.groupBy("el", "v").agg(count(lit(1)).as("tc"))
        .where(col("tc") > 1)
        .groupBy("el").agg(coalesce(sum(col("tc") * (col("tc") - 1) *
          (lit(2) * col("tc") + 5)), lit(0L)).as("tcorr"))
      val st = pp.join(nt, "el").join(ties, Seq("el"), "left")
        .select(col("el"), col("s"), col("t"),
          ((col("t").cast("double") * (col("t") - 1) * (lit(2) * col("t") + 5) -
            coalesce(col("tcorr"), lit(0L))) / lit(18.0)).as("vs"))
      st.select(col("el"), col("t").cast("long").as("n_days"),
          col("s").cast("long").as("s_stat"), r6(col("vs")).as("var_s"),
          r6(when(col("s") > 0, (col("s") - 1) / sqrt(col("vs")))
            .when(col("s") < 0, (col("s") + 1) / sqrt(col("vs")))
            .otherwise(lit(0.0))).as("z"),
          when(col("s") > 0, 1).when(col("s") < 0, -1).otherwise(0)
            .cast("int").as("direction"))
        .orderBy("el")
    },

    /** Pettitt's change-point test per element (Pettitt 1979): the
      * rank-based U_t = Σᵢ≤ₜ Σⱼ>ₜ sgn(vⱼ − vᵢ), the change day
      * argmax|U_t| (ties → earliest day), K = max|U_t| and the
      * closed-form significance p ≈ 2·exp(−6K²/(T³+T²)). The
      * distribution-free complement of q161/q233's CUSUM (which
      * assumes a parametric shift) and q371's matrix-profile discord:
      * U_t is an exact integer in both engines.
      *
      * Scale shape: sign pairs come from the bounded-grid self-join;
      * the per-t fold joins each pair to the t-range it crosses —
      * O(P·T³) on CALENDAR-bounded T (27k terms at T=30), never
      * data-volume-cubed. Argmax via the deterministic
      * max-over-struct, no window.
      */
    QueryDef(
      "q400_pettitt",
      s"""WITH ${CausalOps.dailySql},
         |sp AS (
         |  SELECT a.el, a.di AS i, b.di AS j,
         |    CASE WHEN b.v > a.v THEN 1 WHEN b.v < a.v THEN -1 ELSE 0 END AS sg
         |  FROM daily a JOIN daily b ON b.el = a.el AND b.di > a.di),
         |ts AS (SELECT el, di AS t FROM daily WHERE di < (SELECT max(di) FROM daily)),
         |ut AS (
         |  SELECT ts.el, ts.t, sum(CASE WHEN sp.i <= ts.t AND sp.j > ts.t
         |    THEN sp.sg ELSE 0 END) AS u
         |  FROM ts JOIN sp ON sp.el = ts.el GROUP BY 1, 2),
         |nt AS (SELECT el, count(*) AS t FROM daily GROUP BY 1),
         |mx AS (
         |  SELECT el, max(abs(u)) AS k,
         |    min(CASE WHEN abs(u) = (SELECT max(abs(u2.u)) FROM ut u2
         |      WHERE u2.el = ut.el) THEN t END) AS change_day
         |  FROM ut GROUP BY el)
         |SELECT mx.el AS el, CAST(nt.t AS BIGINT) AS n_days,
         |  CAST(mx.k AS BIGINT) AS k_stat,
         |  CAST(mx.change_day AS INT) AS change_day,
         |  round(least(CAST(1 AS DOUBLE),
         |    CAST(2 AS DOUBLE) * exp((CAST(-6 AS DOUBLE) * mx.k * mx.k) /
         |      (CAST(nt.t AS DOUBLE)*nt.t*nt.t + CAST(nt.t AS DOUBLE)*nt.t))), 6) AS p_approx
         |FROM mx JOIN nt ON nt.el = mx.el ORDER BY el""".stripMargin) { (s, d) =>
      val g = CausalOps.daily(s, d)
      val b = g.select(col("el").as("elb"), col("di").as("j"), col("v").as("vb"))
      val sp = g.join(b, col("elb") === col("el") && col("j") > col("di"))
        .select(col("el"), col("di").as("i"), col("j"),
          when(col("vb") > col("v"), 1).when(col("vb") < col("v"), -1)
            .otherwise(0).as("sg"))
      val mxDi = g.agg(max(col("di")).as("mdi"))
      val ts = g.crossJoin(broadcast(mxDi)).where(col("di") < col("mdi"))
        .select(col("el").as("tel"), col("di").as("t"))
      val ut = ts.join(sp, col("el") === col("tel"))
        .groupBy(col("tel").as("el2"), col("t"))
        .agg(sum(when(col("i") <= col("t") && col("j") > col("t"), col("sg"))
          .otherwise(0)).as("u"))
      // deterministic argmax: (|u|, -t) struct max == (|u| desc, t asc)
      val mx = ut.groupBy(col("el2").as("el"))
        .agg(max(struct(abs(col("u")).as("au"), (-col("t")).as("nt2"))).as("m"))
        .select(col("el"), col("m.au").as("k"), (-col("m.nt2")).as("change_day"))
      val nt = g.groupBy("el").agg(count(lit(1)).as("t"))
      mx.join(nt, "el")
        .select(col("el"), col("t").cast("long").as("n_days"),
          col("k").cast("long").as("k_stat"),
          col("change_day").cast("int").as("change_day"),
          r6(least(lit(1.0), lit(2.0) * exp((lit(-6.0) * col("k") * col("k")) /
            (col("t").cast("double") * col("t") * col("t") +
              col("t").cast("double") * col("t"))))).as("p_approx"))
        .orderBy("el")
    },

    /** Pairwise Jensen–Shannon divergence between source unigram
      * distributions (Lin 1991) — the symmetric, bounded [0, ln 2]
      * corpus distance that mixture design (q141/q210/q358) needs
      * where KL is undefined on disjoint support. Per source pair:
      * JSD = Σ_shared [p/2·ln(p/m) + q/2·ln(q/m)] + (2 − shA − shB)/2·ln 2,
      * the second term the CLOSED FORM for all words private to one
      * side (m = p/2 there, so every private word contributes
      * p/2·ln 2) — no outer join needed. Probabilities are exact
      * integer-count ratios; ln sits in the decimal fold (q178
      * contract).
      *
      * Scale shape: ONE word-grain self-join keyed on the word (the
      * per-word pair fan-out is ≤ sources², a domain constant), one
      * (pair)-grain fold; the vocabulary aggregate is shared work any
      * corpus query does.
      */
    QueryDef(
      "q401_js_divergence",
      s"""WITH tok AS (
         |  SELECT source, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS w
         |  FROM documents),
         |vt AS (SELECT source, count(*) AS nt FROM tok GROUP BY 1),
         |vc AS (
         |  SELECT t.source, t.w, CAST(count(*) AS DOUBLE)/max(vt.nt) AS p
         |  FROM tok t JOIN vt ON vt.source = t.source GROUP BY 1, 2),
         |pj AS (
         |  SELECT a.source AS sa, b.source AS sb, count(*) AS nshared,
         |    ${dsumSql("a.p/2*ln(a.p/((a.p + b.p)/2)) + b.p/2*ln(b.p/((a.p + b.p)/2))")} AS core,
         |    ${dsumSql("a.p")} AS sha, ${dsumSql("b.p")} AS shb
         |  FROM vc a JOIN vc b ON b.w = a.w AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT sa, sb, CAST(nshared AS BIGINT) AS n_shared_vocab,
         |  round(core + (CAST(2 AS DOUBLE) - sha - shb)/2*ln(CAST(2 AS DOUBLE)), 6) AS jsd,
         |  round(sha, 6) AS shared_mass_a, round(shb, 6) AS shared_mass_b
         |FROM pj ORDER BY sa, sb""".stripMargin) { (s, d) =>
      val tok = Tables.documents(s, d).select(col("source"),
        explode(graft.functions.Text.wordsCol(col("text"))).as("w"))
      val vt = tok.groupBy("source").agg(count(lit(1)).as("nt"))
      val vc = PlanCache.cached(s, s"q401_vc|$d") {
        tok.join(vt, "source").groupBy("source", "w")
          .agg((count(lit(1)).cast("double") / max(col("nt"))).as("p"))
      }
      val bSide = vc.select(col("source").as("sb"), col("w").as("wb"), col("p").as("q"))
      val m = (col("p") + col("q")) / lit(2)
      val pj = vc.join(bSide, col("wb") === col("w") && col("source") < col("sb"))
        .groupBy(col("source").as("sa"), col("sb"))
        .agg(count(lit(1)).as("nshared"),
          dsum(col("p") / lit(2) * log(col("p") / m) +
            col("q") / lit(2) * log(col("q") / m)).as("core"),
          dsum(col("p")).as("sha"), dsum(col("q")).as("shb"))
      pj.select(col("sa"), col("sb"), col("nshared").cast("long").as("n_shared_vocab"),
          r6(col("core") + (lit(2.0) - col("sha") - col("shb")) / lit(2) *
            log(lit(2.0))).as("jsd"),
          r6(col("sha")).as("shared_mass_a"), r6(col("shb")).as("shared_mass_b"))
        .orderBy("sa", "sb")
    }
  )
}
