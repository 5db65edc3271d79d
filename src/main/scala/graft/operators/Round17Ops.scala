package graft.operators

import graft.{PlanCache, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-17 batch: mediation / heterogeneity / agreement / inequality /
  * preference-ranking / subclassification operators —
  *
  *  - q390 Baron–Kenny mediation with the Sobel test, every path a
  *    closed form from ONE decimal moment pass;
  *  - q391 stratified T-learner CATE per return-flag stratum, per-arm
  *    OLS via the shared 3×3 Cramer stages;
  *  - q392 Cohen's κ inter-rater agreement between two deterministic
  *    labeling rules, plus PABAK and prevalence/bias indices;
  *  - q393 Theil-T inequality with the exact between/within-nation
  *    decomposition;
  *  - q394 Bradley–Terry paired-comparison strengths via three
  *    unrolled Zermelo/MM iterations on the bounded element grid;
  *  - q395 propensity-decile subclassification ATE (Rosenbaum–Rubin
  *    1984) over the q389 logistic propensity, deciles from the exact
  *    two-phase ntile.
  *
  * All hash-verified against DuckDB on the same parquet tables.
  */
object Round17Ops {
  private def r6(c: Column) = round(c, 6)
  private def dsum(c: Column): Column = sum(c.cast("decimal(38,12)")).cast("double")
  private def dsumSql(x: String) = s"CAST(sum(CAST($x AS DECIMAL(38,12))) AS DOUBLE)"

  /** q395's nine IRLS weighted moments, name → product over the z2
    * projection (v = p(1−p), vz = v·eta + (t−p)) — stated once and
    * consumed by BOTH dialects' split-integer quantized folds. */
  private val irlsMoms: Seq[(String, String)] = Seq(
    "a11" -> "v", "a12" -> "v*x1", "a13" -> "v*x2", "a22" -> "v*x1*x1",
    "a23" -> "v*x1*x2", "a33" -> "v*x2*x2",
    "b1" -> "vz", "b2" -> "vz*x1", "b3" -> "vz*x2")

  /** Moment reconstruction from the split fold — the SAME expression
    * string run by both dialects (the q363 cvRecon discipline), so the
    * reconstructed doubles are bit-identical. */
  private def irlsRecon(n: String): String =
    s"CAST(${n}_i AS DOUBLE) + CAST(${n}_f AS DOUBLE) / 1000000000.0 AS $n"

  val defs: Seq[QueryDef] = Seq(

    /** Baron–Kenny (1986) mediation analysis with the Sobel (1982)
      * test: does quantity MEDIATE the discount→revenue effect? Three
      * regressions — total y~x (c), mediator m~x (a), outcome y~x+m
      * (c′ and b) — all closed form from ONE pass of ten decimal
      * moments; Var(a) and Var(b) from the same sums (centered 2×2
      * inverse), Sobel z = ab/√(b²·Var(a) + a²·Var(b)), and the exact
      * OLS identity c = c′ + a·b is the spec's invariant. The
      * proportion-mediated readout is the number causal pipelines
      * publish next to q373's IV contrast.
      *
      * Scale shape: one map-side-combined scan onto a 1-row moment
      * table; everything after is scalar column math.
      */
    QueryDef(
      "q390_mediation",
      s"""WITH fx AS (
         |  SELECT l_discount AS x, l_quantity AS m,
         |    l_extendedprice * (CAST(1 AS DOUBLE) - l_discount) AS y
         |  FROM lineitem),
         |mo AS (
         |  SELECT count(*) AS n,
         |    ${dsumSql("x")} AS sx, ${dsumSql("m")} AS sm, ${dsumSql("y")} AS sy,
         |    ${dsumSql("x*x")} AS sxx, ${dsumSql("x*m")} AS sxm,
         |    ${dsumSql("x*y")} AS sxy, ${dsumSql("m*m")} AS smm,
         |    ${dsumSql("m*y")} AS smy, ${dsumSql("y*y")} AS syy
         |  FROM fx),
         |cs AS (
         |  SELECT n,
         |    sxx - sx*sx/n AS cxx, sxm - sx*sm/n AS cxm, sxy - sx*sy/n AS cxy,
         |    smm - sm*sm/n AS cmm, smy - sm*sy/n AS cmy, syy - sy*sy/n AS cyy
         |  FROM mo),
         |pt AS (
         |  SELECT n, cxy/cxx AS c_total, cxm/cxx AS a_path,
         |    (cxx*cmy - cxm*cxy)/(cxx*cmm - cxm*cxm) AS b_path,
         |    (cmm*cxy - cxm*cmy)/(cxx*cmm - cxm*cxm) AS c_prime,
         |    ((cmm - cxm*cxm/cxx)/(n - 2))/cxx AS var_a,
         |    ((cyy - ((cmm*cxy - cxm*cmy)/(cxx*cmm - cxm*cxm))*cxy
         |          - ((cxx*cmy - cxm*cxy)/(cxx*cmm - cxm*cxm))*cmy)/(n - 3))
         |      * cxx/(cxx*cmm - cxm*cxm) AS var_b
         |  FROM cs)
         |SELECT CAST(n AS BIGINT) AS n,
         |  round(c_total, 6) AS c_total, round(a_path, 6) AS a_path,
         |  round(b_path, 6) AS b_path, round(c_prime, 6) AS c_prime,
         |  round(a_path * b_path, 6) AS indirect,
         |  round(a_path * b_path /
         |    sqrt(b_path*b_path*var_a + a_path*a_path*var_b), 6) AS sobel_z,
         |  round(a_path * b_path / c_total, 6) AS prop_mediated
         |FROM pt""".stripMargin) { (s, d) =>
      val fx = Tables.lineitem(s, d).select(
        col("l_discount").as("x"), col("l_quantity").as("m"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("y"))
      val mo = fx.agg(count(lit(1)).as("n"),
        dsum(col("x")).as("sx"), dsum(col("m")).as("sm"), dsum(col("y")).as("sy"),
        dsum(col("x") * col("x")).as("sxx"), dsum(col("x") * col("m")).as("sxm"),
        dsum(col("x") * col("y")).as("sxy"), dsum(col("m") * col("m")).as("smm"),
        dsum(col("m") * col("y")).as("smy"), dsum(col("y") * col("y")).as("syy"))
      val cs = mo.select(col("n"),
        (col("sxx") - col("sx") * col("sx") / col("n")).as("cxx"),
        (col("sxm") - col("sx") * col("sm") / col("n")).as("cxm"),
        (col("sxy") - col("sx") * col("sy") / col("n")).as("cxy"),
        (col("smm") - col("sm") * col("sm") / col("n")).as("cmm"),
        (col("smy") - col("sm") * col("sy") / col("n")).as("cmy"),
        (col("syy") - col("sy") * col("sy") / col("n")).as("cyy"))
      val bP = (col("cxx") * col("cmy") - col("cxm") * col("cxy")) /
        (col("cxx") * col("cmm") - col("cxm") * col("cxm"))
      val cP = (col("cmm") * col("cxy") - col("cxm") * col("cmy")) /
        (col("cxx") * col("cmm") - col("cxm") * col("cxm"))
      val pt = cs.select(col("n"),
        (col("cxy") / col("cxx")).as("c_total"),
        (col("cxm") / col("cxx")).as("a_path"),
        bP.as("b_path"), cP.as("c_prime"),
        (((col("cmm") - col("cxm") * col("cxm") / col("cxx")) / (col("n") - 2)) /
          col("cxx")).as("var_a"),
        (((col("cyy") - cP * col("cxy") - bP * col("cmy")) / (col("n") - 3)) *
          col("cxx") / (col("cxx") * col("cmm") - col("cxm") * col("cxm"))).as("var_b"))
      pt.select(col("n").cast("long").as("n"),
        r6(col("c_total")).as("c_total"), r6(col("a_path")).as("a_path"),
        r6(col("b_path")).as("b_path"), r6(col("c_prime")).as("c_prime"),
        r6(col("a_path") * col("b_path")).as("indirect"),
        r6(col("a_path") * col("b_path") /
          sqrt(col("b_path") * col("b_path") * col("var_a") +
            col("a_path") * col("a_path") * col("var_b"))).as("sobel_z"),
        r6(col("a_path") * col("b_path") / col("c_total")).as("prop_mediated"))
    },

    /** Stratified T-learner conditional average treatment effects: per
      * return-flag stratum, separate OLS outcome models for treated
      * (discount ≥ 0.05) and control arms — each solved by the SHARED
      * 3×3 Cramer stages carrying the stratum key — and
      * CATE_g = (μ̂₁ − μ̂₀) evaluated at the stratum's own covariate
      * means (exact for linear models: mean of a linear prediction is
      * the prediction at the mean), reported NEXT TO the naive
      * per-stratum mean difference. Heterogeneity across strata is the
      * readout q389's single ATE hides.
      *
      * Scale shape: ONE scan onto per-(stratum, arm) decimal moments;
      * solves and the CATE evaluation are column math on the 3-row
      * stratum table — no second fact pass (the linear-model-at-means
      * identity removes it).
      */
    QueryDef(
      "q391_cate_strata", {
        val dt = Round16Ops.neDtStage(Seq("g")).mkString(", ")
        val wS = Round16Ops.neWStage(Seq("g")).mkString(", ")
        def armMoments(arm: String) =
          s"""SELECT g,
             |    CAST(count(*) FILTER (WHERE t = $arm) AS DOUBLE) AS a11,
             |${Round16Ops.armMomentsSql(arm)}
             |  FROM fx GROUP BY 1""".stripMargin
        s"""WITH fx AS MATERIALIZED (
           |  SELECT l_returnflag AS g,
           |    CASE WHEN l_discount >= CAST(0.05 AS DOUBLE)
           |      THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS t,
           |    l_extendedprice * (CAST(1 AS DOUBLE) - l_discount) AS y,
           |    l_quantity AS x1, l_tax AS x2
           |  FROM lineitem),
           |m1 AS (${armMoments("1")}),
           |m0 AS (${armMoments("0")}),
           |d1 AS (SELECT $dt FROM m1),
           |p1 AS (SELECT $wS FROM d1),
           |d0 AS (SELECT $dt FROM m0),
           |p0 AS (SELECT $wS FROM d0),
           |gm AS (
           |  SELECT g, count(*) AS n, sum(CAST(t AS BIGINT)) AS ntr,
           |    ${dsumSql("x1")} / count(*) AS mx1, ${dsumSql("x2")} / count(*) AS mx2,
           |    ${dsumSql("CASE WHEN t = 1 THEN y END")} AS sy1,
           |    ${dsumSql("CASE WHEN t = 0 THEN y END")} AS sy0,
           |    count(*) FILTER (WHERE t = 1) AS n1,
           |    count(*) FILTER (WHERE t = 0) AS n0
           |  FROM fx GROUP BY 1)
           |SELECT gm.g AS stratum, CAST(gm.n AS BIGINT) AS n,
           |  CAST(gm.ntr AS BIGINT) AS n_treated,
           |  round((p1.c0 + p1.c1*gm.mx1 + p1.c2*gm.mx2)
           |      - (p0.c0 + p0.c1*gm.mx1 + p0.c2*gm.mx2), 6) AS cate,
           |  round(gm.sy1/gm.n1 - gm.sy0/gm.n0, 6) AS naive_diff
           |FROM gm JOIN p1 ON p1.g = gm.g JOIN p0 ON p0.g = gm.g
           |ORDER BY stratum""".stripMargin
      }) { (s, d) =>
      val fx = PlanCache.cached(s, s"q391_fx|$d") {
        Tables.lineitem(s, d).select(col("l_returnflag").as("g"),
          when(col("l_discount") >= lit(0.05), lit(1.0)).otherwise(lit(0.0)).as("t"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("y"),
          col("l_quantity").as("x1"), col("l_tax").as("x2"))
      }
      def armMoments(arm: Double): DataFrame = {
        val c = col("t") === lit(arm)
        fx.groupBy("g").agg(
            count(when(c, lit(1))).cast("double").as("a11"),
            dsum(when(c, col("x1"))).as("a12"), dsum(when(c, col("x2"))).as("a13"),
            dsum(when(c, col("x1") * col("x1"))).as("a22"),
            dsum(when(c, col("x1") * col("x2"))).as("a23"),
            dsum(when(c, col("x2") * col("x2"))).as("a33"),
            dsum(when(c, col("y"))).as("b1"),
            dsum(when(c, col("y") * col("x1"))).as("b2"),
            dsum(when(c, col("y") * col("x2"))).as("b3"))
          .selectExpr(Round16Ops.neDtStage(Seq("g")): _*)
          .selectExpr(Round16Ops.neWStage(Seq("g")): _*)
      }
      val p1 = armMoments(1.0).select(col("g"), col("c0").as("t1c0"),
        col("c1").as("t1c1"), col("c2").as("t1c2"))
      val p0 = armMoments(0.0).select(col("g"), col("c0").as("t0c0"),
        col("c1").as("t0c1"), col("c2").as("t0c2"))
      val gm = fx.groupBy("g").agg(
        count(lit(1)).as("n"), sum(col("t").cast("bigint")).as("ntr"),
        (dsum(col("x1")) / count(lit(1))).as("mx1"),
        (dsum(col("x2")) / count(lit(1))).as("mx2"),
        dsum(when(col("t") === 1.0, col("y"))).as("sy1"),
        dsum(when(col("t") === 0.0, col("y"))).as("sy0"),
        count(when(col("t") === 1.0, lit(1))).as("n1"),
        count(when(col("t") === 0.0, lit(1))).as("n0"))
      gm.join(p1, "g").join(p0, "g")
        .select(col("g").as("stratum"), col("n").cast("long").as("n"),
          col("ntr").cast("long").as("n_treated"),
          r6((col("t1c0") + col("t1c1") * col("mx1") + col("t1c2") * col("mx2")) -
            (col("t0c0") + col("t0c1") * col("mx1") + col("t0c2") * col("mx2"))).as("cate"),
          r6(col("sy1") / col("n1") - col("sy0") / col("n0")).as("naive_diff"))
        .orderBy("stratum")
    },

    /** Cohen's κ (1960) inter-rater agreement between two DETERMINISTIC
      * labeling rules over the same rows — the q21 linear score at
      * threshold 0 vs a simple quantity rule — plus the
      * prevalence-and-bias diagnostics of Byrt-Bishop-Carlin 1993:
      * PABAK = 2p_o − 1, the prevalence index |a − d|/n and the bias
      * index |b − c|/n that explain WHY κ can be low at high agreement.
      * The 2×2 table is four conditional counts from ONE scan; κ, p_o,
      * p_e are exact integer ratios until the final division.
      *
      * Scale shape: one map-side-combined scan to a 1-row table; at any
      * scale the whole readout is four counters.
      */
    QueryDef(
      "q392_cohens_kappa",
      s"""WITH lab AS (
         |  SELECT CASE WHEN l_quantity/10.0 - l_discount*20.0 + l_tax*5.0 - 1.5 > 0
         |      THEN 1 ELSE 0 END AS ra,
         |    CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END AS rb
         |  FROM lineitem),
         |ct AS (
         |  SELECT count(*) AS n,
         |    count(*) FILTER (WHERE ra = 1 AND rb = 1) AS caa,
         |    count(*) FILTER (WHERE ra = 1 AND rb = 0) AS cab,
         |    count(*) FILTER (WHERE ra = 0 AND rb = 1) AS cba,
         |    count(*) FILTER (WHERE ra = 0 AND rb = 0) AS cbb
         |  FROM lab),
         |st AS (
         |  SELECT n, caa, cab, cba, cbb,
         |    CAST(caa + cbb AS DOUBLE)/n AS po,
         |    (CAST(caa + cab AS DOUBLE)*(caa + cba)
         |      + CAST(cba + cbb AS DOUBLE)*(cab + cbb))/(CAST(n AS DOUBLE)*n) AS pe
         |  FROM ct)
         |SELECT CAST(n AS BIGINT) AS n,
         |  CAST(caa AS BIGINT) AS n11, CAST(cab AS BIGINT) AS n10,
         |  CAST(cba AS BIGINT) AS n01, CAST(cbb AS BIGINT) AS n00,
         |  round(po, 6) AS p_observed, round(pe, 6) AS p_expected,
         |  round((po - pe)/(CAST(1 AS DOUBLE) - pe), 6) AS kappa,
         |  round(CAST(2 AS DOUBLE)*po - CAST(1 AS DOUBLE), 6) AS pabak,
         |  round(abs(CAST(caa - cbb AS DOUBLE))/n, 6) AS prevalence_index,
         |  round(abs(CAST(cab - cba AS DOUBLE))/n, 6) AS bias_index
         |FROM st""".stripMargin) { (s, d) =>
      val ra = when(col("l_quantity") / lit(10.0) - col("l_discount") * lit(20.0) +
        col("l_tax") * lit(5.0) - lit(1.5) > 0, 1).otherwise(0)
      val rb = when(col("l_quantity") >= 25, 1).otherwise(0)
      val ct = Tables.lineitem(s, d).select(ra.as("ra"), rb.as("rb")).agg(
        count(lit(1)).as("n"),
        count(when(col("ra") === 1 && col("rb") === 1, lit(1))).as("caa"),
        count(when(col("ra") === 1 && col("rb") === 0, lit(1))).as("cab"),
        count(when(col("ra") === 0 && col("rb") === 1, lit(1))).as("cba"),
        count(when(col("ra") === 0 && col("rb") === 0, lit(1))).as("cbb"))
      val po = (col("caa") + col("cbb")).cast("double") / col("n")
      val pe = ((col("caa") + col("cab")).cast("double") * (col("caa") + col("cba")) +
        (col("cba") + col("cbb")).cast("double") * (col("cab") + col("cbb"))) /
        (col("n").cast("double") * col("n"))
      ct.select(col("n").cast("long").as("n"),
        col("caa").cast("long").as("n11"), col("cab").cast("long").as("n10"),
        col("cba").cast("long").as("n01"), col("cbb").cast("long").as("n00"),
        r6(po).as("p_observed"), r6(pe).as("p_expected"),
        r6((po - pe) / (lit(1.0) - pe)).as("kappa"),
        r6(lit(2.0) * po - lit(1.0)).as("pabak"),
        r6(abs((col("caa") - col("cbb")).cast("double")) / col("n")).as("prevalence_index"),
        r6(abs((col("cab") - col("cba")).cast("double")) / col("n")).as("bias_index"))
    },

    /** Theil-T inequality index of customer spend with the EXACT
      * between/within-nation decomposition (Theil 1967; Shorrocks 1980):
      * T = Σ (y_i/Y)·ln(y_i/μ) splits additively into
      * T_between = Σ_g s_g·ln(s_g/p_g) (s_g income share, p_g population
      * share) plus T_within = Σ_g s_g·T_g — the readout says HOW MUCH of
      * total spend inequality lives across nations vs inside them,
      * which q244's single Gini cannot. Per-customer spend aggregates
      * first (customer grain), the T_g fold is one nation-grain
      * aggregate, and the identity T = between + within is the spec's
      * invariant (exact up to the final double ops — both terms are
      * also emitted separately, so the identity is auditable).
      *
      * Scale shape: orders → customer-grain spend (one shuffle) →
      * nation-grain decimal folds (25 rows) → scalar math. The ln sits
      * inside a decimal fold — the q178 ln-parity contract.
      */
    QueryDef(
      "q393_theil_index",
      s"""WITH cu AS (
         |  SELECT c.c_nationkey AS nat, ${dsumSql("o.o_totalprice")} AS y
         |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
         |  GROUP BY 1, o.o_custkey),
         |tot AS (SELECT count(*) AS n, ${dsumSql("y")} AS yt FROM cu),
         |ng AS (
         |  SELECT nat, count(*) AS ng, ${dsumSql("y")} AS yg,
         |    ${dsumSql("y * ln(y)")} AS sylny
         |  FROM cu GROUP BY 1),
         |dec AS (
         |  SELECT
         |    ${dsumSql("(yg/yt) * ln((yg/yt)/(CAST(ng AS DOUBLE)/n))")} AS t_between,
         |    ${dsumSql("(yg/yt) * ((sylny/yg - ln(yg/ng)))")} AS t_within,
         |    max(n) AS n
         |  FROM ng CROSS JOIN tot)
         |SELECT CAST(n AS BIGINT) AS n_customers,
         |  round(t_between + t_within, 6) AS theil_total,
         |  round(t_between, 6) AS theil_between,
         |  round(t_within, 6) AS theil_within,
         |  round(t_between/(t_between + t_within), 6) AS between_share
         |FROM dec""".stripMargin) { (s, d) =>
      val cu = Tables.orders(s, d)
        .join(Tables.customer(s, d), col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_nationkey").as("nat"), col("o_custkey"))
        .agg(dsum(col("o_totalprice")).as("y"))
      val tot = cu.agg(count(lit(1)).as("n"), dsum(col("y")).as("yt"))
      val ng = cu.groupBy("nat").agg(count(lit(1)).as("ng"),
        dsum(col("y")).as("yg"), dsum(col("y") * log(col("y"))).as("sylny"))
      val dec = ng.crossJoin(broadcast(tot)).agg(
        dsum((col("yg") / col("yt")) *
          log((col("yg") / col("yt")) / (col("ng").cast("double") / col("n")))).as("t_between"),
        dsum((col("yg") / col("yt")) *
          (col("sylny") / col("yg") - log(col("yg") / col("ng")))).as("t_within"),
        max(col("n")).as("n"))
      dec.select(col("n").cast("long").as("n_customers"),
        r6(col("t_between") + col("t_within")).as("theil_total"),
        r6(col("t_between")).as("theil_between"),
        r6(col("t_within")).as("theil_within"),
        r6(col("t_between") / (col("t_between") + col("t_within"))).as("between_share"))
    },

    /** Bradley–Terry (1952) paired-comparison strengths via three
      * unrolled MM iterations (Zermelo 1929; Hunter 2004 monotone
      * form): a "win" for element i over j is a day where i's daily
      * mean exceeds j's; π_i ← W_i / Σ_j n_ij/(π_i + π_j), renormalized
      * to sum 1 each step via the decimal fold. The readout is the
      * preference-strength ladder — the aggregation layer a pairwise-
      * preference eval pipeline (LLM judge tournaments, A/B panels)
      * needs above raw win rates, with wins/games carried so the
      * πᵢ-vs-win-rate disagreement (schedule strength) is visible.
      *
      * Scale shape: wins come from the guarded bounded-grid pair join
      * (one shuffle); each MM step is a P-row join + fold. Everything
      * after the PlanCache'd daily grid is element-grain.
      */
    QueryDef(
      "q394_bradley_terry", {
        val steps = (1 to 3).map { r =>
          s"""s$r AS (
             |  SELECT w.el,
             |    w.wins / ${"CAST(sum(CAST(pr.n/(pa.pi + pb.pi) AS DECIMAL(38,12))) AS DOUBLE)"} AS pi0
             |  FROM w JOIN pr ON pr.ea = w.el
             |  JOIN p${r - 1} pa ON pa.el = pr.ea JOIN p${r - 1} pb ON pb.el = pr.eb
             |  GROUP BY w.el, w.wins),
             |p$r AS MATERIALIZED (
             |  SELECT el, pi0 / (SELECT ${dsumSql("pi0")} FROM s$r) AS pi FROM s$r)"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH ${CausalOps.dailySql},
           |du AS (
           |  SELECT a.el AS ea, b.el AS eb,
           |    CASE WHEN a.v > b.v THEN 1 ELSE 0 END AS win
           |  FROM daily a JOIN daily b ON b.di = a.di AND b.el <> a.el
           |  WHERE a.v <> b.v),
           |pr AS MATERIALIZED (
           |  SELECT ea, eb, CAST(count(*) AS DOUBLE) AS n,
           |    CAST(sum(win) AS DOUBLE) AS w
           |  FROM du GROUP BY 1, 2),
           |w AS (SELECT ea AS el, ${dsumSql("w")} AS wins,
           |  ${dsumSql("n")} AS games FROM pr GROUP BY 1),
           |nel AS (SELECT CAST(count(*) AS DOUBLE) AS p FROM w),
           |p0 AS (SELECT el, CAST(1 AS DOUBLE)/nel.p AS pi FROM w CROSS JOIN nel),
           |$steps
           |SELECT w.el AS el, CAST(w.wins AS BIGINT) AS wins,
           |  CAST(w.games AS BIGINT) AS games,
           |  round(w.wins/w.games, 6) AS win_rate,
           |  round(p3.pi, 6) AS bt_strength
           |FROM w JOIN p3 ON p3.el = w.el ORDER BY el""".stripMargin
      }) { (s, d) =>
      val g = CausalOps.daily(s, d)
      CausalOps.guardFullEnum(g, "q394_bradley_terry")
      val a = g.select(col("el").as("ea"), col("di"), col("v").as("va"))
      val b = g.select(col("el").as("eb"), col("di").as("dib"), col("v").as("vb"))
      val pr = PlanCache.cached(s, s"q394_pr|$d") {
        a.join(b, col("dib") === col("di") && col("ea") =!= col("eb") &&
            col("va") =!= col("vb"))
          .groupBy("ea", "eb")
          .agg(count(lit(1)).cast("double").as("n"),
            sum(when(col("va") > col("vb"), 1).otherwise(0)).cast("double").as("w"))
      }
      val w = pr.groupBy(col("ea").as("el"))
        .agg(dsum(col("w")).as("wins"), dsum(col("n")).as("games"))
      val nel = w.agg(count(lit(1)).cast("double").as("p"))
      val p0 = w.crossJoin(broadcast(nel)).select(col("el"), (lit(1.0) / col("p")).as("pi"))
      val p3 = (1 to 3).foldLeft(p0) { (p, _) =>
        val denom = pr
          .join(broadcast(p.select(col("el").as("ea"), col("pi").as("pia"))), "ea")
          .join(broadcast(p.select(col("el").as("eb"), col("pi").as("pib"))), "eb")
          .groupBy(col("ea").as("el"))
          .agg(dsum(col("n") / (col("pia") + col("pib"))).as("dn"))
        val s1 = w.join(denom, "el").select(col("el"), (col("wins") / col("dn")).as("pi0"))
        val z = s1.agg(dsum(col("pi0")).as("zz"))
        s1.crossJoin(broadcast(z)).select(col("el"), (col("pi0") / col("zz")).as("pi"))
          .localCheckpoint(true)
      }
      w.join(p3, "el")
        .select(col("el"), col("wins").cast("long").as("wins"),
          col("games").cast("long").as("games"),
          r6(col("wins") / col("games")).as("win_rate"),
          r6(col("pi")).as("bt_strength"))
        .orderBy("el")
    },

    /** Propensity-decile subclassification ATE (Rosenbaum & Rubin 1984;
      * Cochran 1968's "five strata remove 90%" in its decile form) —
      * the third leg of the causal stool next to q292's IPW and q389's
      * AIPW, refitting q389's logistic-propensity SPECIFICATION (same
      * two-step IRLS on (quantity, tax); fitted coefficients
      * PlanCache'd once and re-injected as driver literals — the
      * RetainOps driver-held-model pattern): rows are cut into
      * propensity deciles by
      * the exact two-phase ntile over the (round-6 e, orderkey,
      * linenumber) total order, the treated-vs-control mean difference
      * is taken INSIDE each decile, and the ATE is the decile-size-
      * weighted average. Per-decile rows expose the overlap diagnostic
      * (thin arms in extreme deciles) that single-number estimators
      * bury.
      *
      * Scale shape: one scoring pass against the broadcast 1-row
      * parameters, one two-phase rank (no single-partition funnel),
      * one decile-grain aggregate; the weighted fold runs on 10 rows.
      */
    QueryDef(
      "q395_propensity_strata", {
        val dt = Round16Ops.neDtStage(Seq.empty).mkString(", ")
        val wS = Round16Ops.neWStage(Seq.empty).mkString(", ")
        // The nine IRLS weighted moments run as split-integer quantized
        // folds (round 14 — the q363/q379 lesson applied to this
        // query's hot pass: the DECIMAL(38,12) casts were 74 of the
        // 96 s sf10 isolated cost; quantized, the two passes run at
        // scan speed). Both engines floor-quantize each product into
        // (floor(e), floor(frac(e)·1e9)) and sum exactly — HUGEINT in
        // DuckDB, long in Spark inside the q363 row cap with the same
        // DECIMAL(38,0) fallback beyond — and reconstruct with the
        // IDENTICAL expression string, so every double matches
        // bit-for-bit (the q320/q300 discipline).
        def irls(tag: String, prev: String) =
          s"""m$tag AS (
             |  SELECT ${irlsMoms.map { case (n, e) =>
                  s"sum(CAST(floor($e) AS BIGINT)) AS ${n}_i, " +
                    s"sum(CAST(floor(($e - floor($e)) * 1000000000.0) AS BIGINT)) AS ${n}_f" }
                  .mkString(",\n    ")}
             |${Round16Ops.logitWorkSql(prev)},
             |r$tag AS (SELECT ${irlsMoms.map(m => irlsRecon(m._1)).mkString(", ")}
             |  FROM m$tag),
             |d$tag AS (SELECT $dt FROM r$tag),
             |p$tag AS (SELECT $wS FROM d$tag)""".stripMargin
        s"""WITH fx AS MATERIALIZED (
           |  SELECT CASE WHEN l_discount >= CAST(0.05 AS DOUBLE)
           |      THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS t,
           |    l_extendedprice * (CAST(1 AS DOUBLE) - l_discount) AS y,
           |    l_quantity AS x1, l_tax AS x2,
           |    l_orderkey AS k1, l_linenumber AS k2
           |  FROM lineitem),
           |${Round16Ops.logitStartSql},
           |${irls("1", "p0")},
           |${irls("2", "p1")},
           |sc AS (
           |  SELECT t, y,
           |    round(CAST(1 AS DOUBLE)/(CAST(1 AS DOUBLE)
           |      + exp(-(p2.c0 + p2.c1*x1 + p2.c2*x2))), 6) AS e, k1, k2
           |  FROM fx CROSS JOIN p2),
           |rn AS (
           |  SELECT t, y, e, ntile(10) OVER (ORDER BY e, k1, k2) AS decile
           |  FROM sc),
           |dg AS (
           |  SELECT decile, count(*) AS n,
           |    count(*) FILTER (WHERE t = 1) AS n1,
           |    count(*) FILTER (WHERE t = 0) AS n0,
           |    ${dsumSql("CASE WHEN t = 1 THEN y END")} AS sy1,
           |    ${dsumSql("CASE WHEN t = 0 THEN y END")} AS sy0,
           |    ${dsumSql("e")} / count(*) AS me
           |  FROM rn GROUP BY 1),
           |at AS (
           |  SELECT ${dsumSql("(CAST(n AS DOUBLE)) * (sy1/n1 - sy0/n0)")} /
           |    sum(n) AS ate
           |  FROM dg WHERE n1 > 0 AND n0 > 0)
           |SELECT CAST(decile AS INT) AS decile, CAST(n AS BIGINT) AS n,
           |  CAST(n1 AS BIGINT) AS n_treated, CAST(n0 AS BIGINT) AS n_control,
           |  round(me, 6) AS mean_propensity,
           |  round(sy1/n1 - sy0/n0, 6) AS decile_diff,
           |  round(at.ate, 6) AS ate_stratified
           |FROM dg CROSS JOIN at ORDER BY decile""".stripMargin
      }) { (s, d) =>
      val fx = PlanCache.cached(s, s"q395_fx|$d") {
        // the sf0.1 fact is ONE parquet split (11 MB < maxPartitionBytes),
        // so without this the cached projection is a single partition and
        // every downstream pass — the IRLS aggregates, the scoring
        // persist, the range-partition shuffle WRITE — runs one-task
        // (round-11 job profile: two 4.5 s single-task jobs). Round-robin
        // repartition once at cache-build; every pass after is parallel.
        Tables.lineitem(s, d).select(
          when(col("l_discount") >= lit(0.05), lit(1.0)).otherwise(lit(0.0)).as("t"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("y"),
          col("l_quantity").as("x1"), col("l_tax").as("x2"),
          col("l_orderkey").as("k1"), col("l_linenumber").as("k2"))
          .repartition(32)
      }
      val pb = fx.agg((dsum(col("t")) / count(lit(1))).as("pbar"))
      val p0i = pb.select(log(col("pbar") / (lit(1.0) - col("pbar"))).as("c0"),
        lit(0.0).as("c1"), lit(0.0).as("c2"))
      // split-integer quantized moment folds (see the oracle-side
      // scaladoc above): long accumulators inside the q363 row cap,
      // lossless DECIMAL(38,0) beyond it — identical summed terms, same
      // reconstruction string as the oracle, bit-identical doubles
      // footer-served row count (round 17): the cap check needs one
      // number, not a scan job — see Tables.parquetRowCount
      val useLong = Tables.parquetRowCount(s, d, "lineitem") <= Round12Ops.SplitFoldLongRowCap
      def irls(prev: DataFrame): DataFrame = {
        val eta = col("c0") + col("c1") * col("x1") + col("c2") * col("x2")
        val p = lit(1.0) / (lit(1.0) + exp(-eta))
        def acc(c: Column) = if (useLong) c else c.cast("decimal(38,0)")
        // materialize v/vz ONCE per row (the oracle's z2 projection):
        // the 18 fold aggregates would otherwise each re-evaluate the
        // exp()-heavy sigmoid per row inside their own agg expression
        val z2 = fx.crossJoin(broadcast(prev)).select(
          col("x1"), col("x2"),
          (p * (lit(1.0) - p)).as("v"),
          ((p * (lit(1.0) - p)) * eta + (col("t") - p)).as("vz"))
        def prod(e: String): Column =
          e.split('*').map(t => col(t)).reduce(_ * _)
        val folds = irlsMoms.flatMap { case (n, e) => Seq(
          sum(acc(floor(prod(e)))).as(s"${n}_i"),
          sum(acc(floor((prod(e) - floor(prod(e))) * lit(1.0e9)))).as(s"${n}_f")) }
        z2.agg(folds.head, folds.tail: _*)
          .selectExpr(irlsMoms.map(m => irlsRecon(m._1)): _*)
          .selectExpr(Round16Ops.neDtStage(Seq.empty): _*)
          .selectExpr(Round16Ops.neWStage(Seq.empty): _*)
      }
      // materialize the three fitted coefficients to the DRIVER with a
      // normal action and re-inject them as literals (the RetainOps
      // driver-held-model pattern): leaving the IRLS chain inside the
      // scoring plan made every consumer execute it as a NESTED
      // broadcast subquery on the single broadcast thread — two ~5 s
      // jobs at sf0.1 (round-11 job profile); as literals the chain
      // runs once, fully parallel, and the scoring pass is pure map
      val pr = PlanCache.cached(s, s"q395_p2|$d")(irls(irls(p0i))).head
      val (pc0, pc1, pc2) = (pr.getDouble(0), pr.getDouble(1), pr.getDouble(2))
      val sc = fx.select(col("t"), col("y"),
        r6(lit(1.0) / (lit(1.0) +
          exp(-(lit(pc0) + lit(pc1) * col("x1") + lit(pc2) * col("x2"))))).as("e"),
        col("k1"), col("k2"))
      val (rn, nTot) = TwoPhase.globalRowNumber(s, sc, s"q395_rn|$d",
        Seq(col("e").asc, col("k1").asc, col("k2").asc))
      val dg = rn.withColumn("decile", TwoPhase.ntileFromRn(nTot, 10))
        .groupBy("decile").agg(
          count(lit(1)).as("n"),
          count(when(col("t") === 1.0, lit(1))).as("n1"),
          count(when(col("t") === 0.0, lit(1))).as("n0"),
          dsum(when(col("t") === 1.0, col("y"))).as("sy1"),
          dsum(when(col("t") === 0.0, col("y"))).as("sy0"),
          (dsum(col("e")) / count(lit(1))).as("me"))
      val at = dg.where(col("n1") > 0 && col("n0") > 0).agg(
        (dsum(col("n").cast("double") * (col("sy1") / col("n1") - col("sy0") / col("n0"))) /
          sum(col("n"))).as("ate"))
      dg.crossJoin(broadcast(at))
        .select(col("decile").cast("int").as("decile"), col("n").cast("long").as("n"),
          col("n1").cast("long").as("n_treated"), col("n0").cast("long").as("n_control"),
          r6(col("me")).as("mean_propensity"),
          r6(col("sy1") / col("n1") - col("sy0") / col("n0")).as("decile_diff"),
          r6(col("ate")).as("ate_stratified"))
        .orderBy("decile")
    }
  )
}
