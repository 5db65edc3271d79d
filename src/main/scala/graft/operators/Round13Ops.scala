package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-13 batch: three operators a 100 TB curation/analytics stack
  * still lacked after round 12 —
  *
  *  - q369 Fellegi–Sunter record-linkage weights (Fellegi & Sunter
  *    JASA 1969; Winkler 1988 EM form): unsupervised match/unmatch
  *    parameter estimation over blocked candidate pairs, the
  *    probabilistic upgrade of q332's similarity threshold — two EM
  *    iterations unrolled as identical double math on the O(2^k)
  *    agreement-pattern table in both dialects;
  *  - q370 interpolated Kneser–Ney bigram scoring (Kneser & Ney 1995;
  *    Chen & Goodman 1998): the LM family CCNet-style quality filters
  *    actually use — absolute discounting with continuation-probability
  *    backoff — replacing q317's add-one smoothing; train/eval split by
  *    the q132/q138 portable hash;
  *  - q371 matrix profile (Yeh et al., ICDM 2016, exact form): per
  *    element the z-normalized subsequence motif (closest pair) and
  *    discord (worst nearest neighbor) over the shared PlanCache daily
  *    grid — the "repeated regime / anomalous week" readout next to the
  *    q263/q264/q268 spectral-seasonal family.
  *
  * All three hash-verified against DuckDB on the same parquet tables.
  */
object Round13Ops {
  private def r6(c: Column) = round(c, 6)
  private def dsum(c: Column): Column = sum(c.cast("decimal(38,12)")).cast("double")

  /** q132/q138/q368 portable split hash (md5 → 15 hex chars → mod 10). */
  private def pHash(k: Column): Column =
    conv(substring(md5(k.cast("string")), 1, 15), 16, 10).cast("long")

  // ---------------------------------------------------------------------
  // q369 helpers: the Fellegi–Sunter class-conditional likelihood of an
  // agreement pattern under independent binary fields, and one EM update.
  // Both engines evaluate the SAME expression shapes on the SAME 8-row
  // pattern table, so every double is bit-identical by construction.
  // ---------------------------------------------------------------------

  /** P(pattern | class) = Π_k (g_k·θ_k + (1−g_k)·(1−θ_k)) as a Column. */
  private def fsLik(g1: Column, g2: Column, g3: Column,
      t1: Column, t2: Column, t3: Column): Column =
    (g1 * t1 + (lit(1) - g1) * (lit(1.0) - t1)) *
      (g2 * t2 + (lit(1) - g2) * (lit(1.0) - t2)) *
      (g3 * t3 + (lit(1) - g3) * (lit(1.0) - t3))

  /** One EM step over the pattern-count table: posterior per pattern
    * under (m, u, p), then decimal-exact weighted re-estimates. Returns
    * a 1-row params DataFrame (m1..m3, u1..u3, p).
    */
  private def fsEmStep(pat: DataFrame, params: DataFrame): DataFrame = {
    val e = pat.crossJoin(broadcast(params))
    val fm = fsLik(col("g1"), col("g2"), col("g3"), col("m1"), col("m2"), col("m3"))
    val fu = fsLik(col("g1"), col("g2"), col("g3"), col("u1"), col("u2"), col("u3"))
    val w = (col("p") * fm) / (col("p") * fm + (lit(1.0) - col("p")) * fu)
    val ew = e.withColumn("w", w)
    ew.agg(
        dsum(col("n") * col("w")).as("s"),
        dsum(col("n") * (lit(1.0) - col("w"))).as("t"),
        dsum(col("n").cast("double")).as("nn"),
        dsum(col("n") * col("w") * col("g1")).as("s1"),
        dsum(col("n") * col("w") * col("g2")).as("s2"),
        dsum(col("n") * col("w") * col("g3")).as("s3"),
        dsum(col("n") * (lit(1.0) - col("w")) * col("g1")).as("t1s"),
        dsum(col("n") * (lit(1.0) - col("w")) * col("g2")).as("t2s"),
        dsum(col("n") * (lit(1.0) - col("w")) * col("g3")).as("t3s"))
      .select(
        (col("s1") / col("s")).as("m1"), (col("s2") / col("s")).as("m2"),
        (col("s3") / col("s")).as("m3"),
        (col("t1s") / col("t")).as("u1"), (col("t2s") / col("t")).as("u2"),
        (col("t3s") / col("t")).as("u3"),
        (col("s") / col("nn")).as("p"))
  }

  /** The same EM step as SQL text: `pat` must expose g1,g2,g3,n and
    * `params` m1..m3,u1..u3,p. Emits a one-row params relation. */
  private def fsEmStepSql(pat: String, params: String): String = {
    def lik(p: String) =
      s"(g1*${p}1 + (1-g1)*(1.0-${p}1)) * (g2*${p}2 + (1-g2)*(1.0-${p}2)) * (g3*${p}3 + (1-g3)*(1.0-${p}3))"
    def ds(x: String) = s"CAST(sum(CAST($x AS DECIMAL(38,12))) AS DOUBLE)"
    s"""SELECT s1/s AS m1, s2/s AS m2, s3/s AS m3,
       |  t1s/t AS u1, t2s/t AS u2, t3s/t AS u3, s/nn AS p
       |FROM (
       |  SELECT ${ds("n*w")} AS s, ${ds("n*(1.0-w)")} AS t,
       |    ${ds("CAST(n AS DOUBLE)")} AS nn,
       |    ${ds("n*w*g1")} AS s1, ${ds("n*w*g2")} AS s2, ${ds("n*w*g3")} AS s3,
       |    ${ds("n*(1.0-w)*g1")} AS t1s, ${ds("n*(1.0-w)*g2")} AS t2s,
       |    ${ds("n*(1.0-w)*g3")} AS t3s
       |  FROM (
       |    SELECT pt.*, (pp.p*${lik("m")}) / (pp.p*${lik("m")} + (1.0-pp.p)*${lik("u")}) AS w
       |    FROM $pat pt CROSS JOIN $params pp) z)""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    /** Fellegi–Sunter probabilistic record linkage (JASA 1969), Winkler's
      * unsupervised EM estimation (1988), two iterations unrolled. The
      * candidate pairs come from blocking on (lang, source, n_chars÷20)
      * — the standard linkage discipline that keeps the pair space
      * O(block²·blocks), never corpus-quadratic; three binary agreement
      * fields per pair (exact char length, exact token count, 8-char
      * prefix) form an agreement PATTERN, and EM on the ≤2³ pattern
      * COUNTS estimates the match-class field agreement rates m_k, the
      * unmatch rates u_k, and the match prevalence p without any labels.
      * Output per observed pattern: its count, the final posterior
      * P(match|pattern), the Fellegi–Sunter decision weight
      * log₂(P(pattern|M)/P(pattern|U)), and the estimated prevalence.
      *
      * Scale shape: ONE pair-generation join inside blocks (the q332
      * blocking precedent), ONE groupBy onto ≤8 pattern rows — EM then
      * runs on the 8-row table via broadcast folds (the q313 fit idiom).
      * At 100 TB the pattern table is still 8 rows; pair volume is
      * governed by the block key exactly like q332/q62.
      *
      * Engine↔oracle: counts are exact; the oracle's p0 literals are
      * CAST to DOUBLE (DuckDB would otherwise start iteration 1 in
      * DECIMAL arithmetic), so both EM iterations are the same
      * double expression tree on the same ≤8 rows with decimal-exact
      * weighted sums (order-free), so every parameter is bit-identical;
      * the only libm is the final ln ratio (q178's ln-parity contract),
      * absorbed by round(…,6).
      */
    QueryDef(
      "q369_fellegi_sunter",
      s"""WITH px AS (
        |  SELECT doc_id, lang, source, n_chars,
        |    len(list_filter(string_split(text, ' '), x -> x != '')) AS ntok,
        |    substr(text, 1, 8) AS p8
        |  FROM documents),
        |pr AS (
        |  SELECT CASE WHEN a.n_chars = b.n_chars THEN 1 ELSE 0 END AS g1,
        |         CASE WHEN a.ntok = b.ntok THEN 1 ELSE 0 END AS g2,
        |         CASE WHEN a.p8 = b.p8 THEN 1 ELSE 0 END AS g3
        |  FROM px a JOIN px b
        |    ON b.lang = a.lang AND b.source = a.source
        |   AND b.n_chars // 20 = a.n_chars // 20 AND b.doc_id > a.doc_id),
        |pat AS (SELECT g1, g2, g3, count(*) AS n FROM pr GROUP BY 1, 2, 3),
        |p0 AS (SELECT CAST(0.9 AS DOUBLE) AS m1, CAST(0.9 AS DOUBLE) AS m2,
        |              CAST(0.9 AS DOUBLE) AS m3, CAST(0.1 AS DOUBLE) AS u1,
        |              CAST(0.1 AS DOUBLE) AS u2, CAST(0.1 AS DOUBLE) AS u3,
        |              CAST(0.05 AS DOUBLE) AS p),
        |p1 AS (${fsEmStepSql("pat", "p0")}),
        |p2 AS (${fsEmStepSql("pat", "p1")})
        |SELECT CAST(g1*4 + g2*2 + g3 AS INT) AS pattern,
        |  CAST(g1 AS INT) AS g1, CAST(g2 AS INT) AS g2, CAST(g3 AS INT) AS g3,
        |  CAST(n AS BIGINT) AS n_pairs,
        |  round((p*fm) / (p*fm + (1.0-p)*fu), 6) AS posterior,
        |  round((ln(fm) - ln(fu)) / ln(2.0), 6) AS log2_weight,
        |  round(p, 6) AS prevalence
        |FROM (
        |  SELECT pt.*, pp.p,
        |    (g1*m1 + (1-g1)*(1.0-m1)) * (g2*m2 + (1-g2)*(1.0-m2)) * (g3*m3 + (1-g3)*(1.0-m3)) AS fm,
        |    (g1*u1 + (1-g1)*(1.0-u1)) * (g2*u2 + (1-g2)*(1.0-u2)) * (g3*u3 + (1-g3)*(1.0-u3)) AS fu
        |  FROM pat pt CROSS JOIN p2 pp) z
        |ORDER BY pattern""".stripMargin) { (s, d) =>
      val px = Tables.documents(s, d).select(
        col("doc_id"), col("lang"), col("source"), col("n_chars"),
        size(graft.functions.Text.wordsCol(col("text"))).as("ntok"),
        substring(col("text"), 1, 8).as("p8"),
        expr("n_chars div 20").as("blk"))
      val b = px.select(col("doc_id").as("b_doc"), col("lang").as("b_lang"),
        col("source").as("b_src"), col("blk").as("b_blk"),
        col("n_chars").as("b_nc"), col("ntok").as("b_nt"), col("p8").as("b_p8"))
      val pr = px.join(b,
          col("b_lang") === col("lang") && col("b_src") === col("source") &&
            col("b_blk") === col("blk") && col("b_doc") > col("doc_id"))
        .select(
          when(col("b_nc") === col("n_chars"), 1).otherwise(0).as("g1"),
          when(col("b_nt") === col("ntok"), 1).otherwise(0).as("g2"),
          when(col("b_p8") === col("p8"), 1).otherwise(0).as("g3"))
      // the ≤8-row pattern table feeds BOTH EM iterations and the final
      // readout — persist it once or the expensive pair join re-derives
      // per referencing plan (3×; the q285/q364 shared-subtree discipline)
      val pat = graft.PlanCache.cached(s, s"q369_pat|$d")(
        pr.groupBy("g1", "g2", "g3").agg(count(lit(1)).as("n")))
      val p0 = s.range(1).select(
        lit(0.9).as("m1"), lit(0.9).as("m2"), lit(0.9).as("m3"),
        lit(0.1).as("u1"), lit(0.1).as("u2"), lit(0.1).as("u3"),
        lit(0.05).as("p"))
      val p2 = fsEmStep(pat, fsEmStep(pat, p0))
      val fm = fsLik(col("g1"), col("g2"), col("g3"), col("m1"), col("m2"), col("m3"))
      val fu = fsLik(col("g1"), col("g2"), col("g3"), col("u1"), col("u2"), col("u3"))
      pat.crossJoin(broadcast(p2))
        .select(
          (col("g1") * 4 + col("g2") * 2 + col("g3")).cast("int").as("pattern"),
          col("g1").cast("int").as("g1"), col("g2").cast("int").as("g2"),
          col("g3").cast("int").as("g3"),
          col("n").cast("long").as("n_pairs"),
          r6((col("p") * fm) / (col("p") * fm + (lit(1.0) - col("p")) * fu)).as("posterior"),
          r6((log(fm) - log(fu)) / log(lit(2.0))).as("log2_weight"),
          r6(col("p")).as("prevalence"))
        .orderBy("pattern")
    },

    /** Interpolated Kneser–Ney bigram scoring (Kneser & Ney ICASSP 1995;
      * Chen & Goodman 1998 eq. 4.24), absolute discount D = 0.75 — the
      * smoothing the CCNet-family quality filters actually train, where
      * q317's add-one model systematically over-penalizes frequent
      * histories. Train = portable-hash bucket < 8 of doc_id (the
      * q132/q138/q368 split); eval docs are scored by
      *   P(w₂|w₁) = max(c(w₁w₂) − D, 0)/c(w₁) + D·N₁₊(w₁·)/c(w₁) · P_cont(w₂)
      * with the continuation distribution P_cont(w₂) =
      * (N₁₊(·w₂)+1)/(B+V+1) add-one smoothed over the B distinct train
      * bigram types and V train vocabulary (so OOV continuations get
      * 1/(B+V+1) > 0), and unseen histories back off to P_cont alone.
      * Output: the 20 highest cross-entropy (least train-like) eval docs.
      *
      * Scale shape: every table is token- or bigram-grain and joins on
      * its own key (bigram→bigram, history→w₁, continuation→w₂) — three
      * hash joins a 100 TB corpus shards cleanly; the two corpus scalars
      * (B, V) broadcast. No global window anywhere.
      *
      * Engine↔oracle: all counts exact; per-bigram P is one shared
      * expression shape (two divisions, one greatest); the per-doc sum
      * of −ln P is decimal-exact, order-free.
      */
    QueryDef(
      "q370_kneser_ney",
      """WITH w AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 10 AS bucket,
        |    list_filter(string_split(text, ' '), x -> x != '') AS ws
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, bucket, u.w1 AS w1, u.w2 AS w2
        |  FROM (SELECT doc_id, bucket,
        |          unnest([{'w1': ws[i], 'w2': ws[i + 1]} FOR i IN range(1, len(ws))]) AS u
        |        FROM w WHERE len(ws) >= 2) z),
        |bc AS (SELECT w1 AS b1, w2 AS b2, count(*) AS c12
        |       FROM bg WHERE bucket < 8 GROUP BY 1, 2),
        |hist AS (SELECT b1 AS h1, sum(c12) AS c1, count(*) AS n1fw FROM bc GROUP BY 1),
        |cont AS (SELECT b2 AS cw, count(*) AS n1bw FROM bc GROUP BY 1),
        |scal AS (
        |  SELECT (SELECT CAST(count(*) AS DOUBLE) FROM bc) AS bb,
        |         (SELECT CAST(count(DISTINCT t.w) AS DOUBLE)
        |          FROM (SELECT unnest(ws) AS w FROM w WHERE bucket < 8) t) AS vv),
        |sc AS (
        |  SELECT g.doc_id, count(*) AS n,
        |    CAST(sum(CAST(-ln(
        |      CASE WHEN h.c1 IS NULL
        |        THEN (coalesce(ct.n1bw, 0) + 1) / (s.bb + s.vv + 1.0)
        |        ELSE greatest(coalesce(bc.c12, 0) - 0.75, 0) / h.c1
        |           + (0.75 * h.n1fw / h.c1)
        |             * ((coalesce(ct.n1bw, 0) + 1) / (s.bb + s.vv + 1.0))
        |      END) AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS xent
        |  FROM bg g
        |  LEFT JOIN bc ON bc.b1 = g.w1 AND bc.b2 = g.w2
        |  LEFT JOIN hist h ON h.h1 = g.w1
        |  LEFT JOIN cont ct ON ct.cw = g.w2
        |  CROSS JOIN scal s
        |  WHERE g.bucket >= 8
        |  GROUP BY 1)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_bigrams, round(xent, 6) AS kn_xent
        |FROM sc ORDER BY round(xent, 6) DESC, doc_id LIMIT 20""".stripMargin) { (s, d) =>
      val w = Tables.documents(s, d).select(col("doc_id"),
        (pHash(col("doc_id")) % 10).as("bucket"),
        graft.functions.Text.wordsCol(col("text")).as("ws"))
      val bg = w.where(size(col("ws")) >= 2)
        .select(col("doc_id"), col("bucket"),
          explode(expr(
            """transform(sequence(1, size(ws) - 1),
              |  i -> named_struct('w1', element_at(ws, i), 'w2', element_at(ws, i + 1)))""".stripMargin))
            .as("u"))
        .select(col("doc_id"), col("bucket"), col("u.w1").as("w1"), col("u.w2").as("w2"))
      // the train bigram-count table feeds FOUR consumers (the pair join,
      // the history and continuation rollups, and the B scalar) — persist
      // once so the corpus explode+aggregate runs once per session
      val bc = graft.PlanCache.cached(s, s"q370_bc|$d")(
        bg.where(col("bucket") < 8)
          .groupBy(col("w1").as("b1"), col("w2").as("b2")).agg(count(lit(1)).as("c12")))
      val hist = bc.groupBy(col("b1").as("h1"))
        .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1fw"))
      val cont = bc.groupBy(col("b2").as("cw")).agg(count(lit(1)).as("n1bw"))
      val scal = bc.agg(count(lit(1)).cast("double").as("bb")).crossJoin(
        w.where(col("bucket") < 8).select(explode(col("ws")).as("tw"))
          .agg(countDistinct(col("tw")).cast("double").as("vv")))
      val pc = (coalesce(col("n1bw"), lit(0)) + 1) / (col("bb") + col("vv") + 1.0)
      val prob = when(col("c1").isNull, pc)
        .otherwise(greatest(coalesce(col("c12"), lit(0)) - 0.75, lit(0)) / col("c1") +
          (lit(0.75) * col("n1fw") / col("c1")) * pc)
      bg.where(col("bucket") >= 8)
        .join(bc, col("b1") === col("w1") && col("b2") === col("w2"), "left")
        .join(hist, col("h1") === col("w1"), "left")
        .join(cont, col("cw") === col("w2"), "left")
        .crossJoin(broadcast(scal))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n"), (dsum(-log(prob)) / count(lit(1))).as("xent"))
        .select(col("doc_id"), col("n").cast("long").as("n_bigrams"),
          r6(col("xent")).as("kn_xent"))
        .orderBy(r6(col("xent")).desc, col("doc_id")).limit(20)
    },

    /** Matrix profile — exact z-normalized subsequence motif and discord
      * per element (Yeh et al. ICDM 2016 definitions, computed by the
      * exact all-valid-pairs form rather than the STOMP recurrence,
      * which buys nothing at calendar-bounded T): window m = 7 days over
      * the element's day-ordered grid series, exclusion zone |i−j| ≥ 4
      * (> m/2, so trivial self-matches never win), distance
      * d(i,j) = √(2m(1 − ρ(i,j))) with ρ the Pearson correlation of the
      * two subsequences. The MOTIF is the closest admissible pair (the
      * repeated weekly regime); the DISCORD is the subsequence whose
      * nearest neighbor is farthest (the anomalous week) — the
      * shape-based anomaly readout next to q268's residual-based one.
      *
      * Scale shape: runs on the shared PlanCache daily grid (one fact
      * scan per session); the pair space is O(P·T²) with T
      * calendar-bounded (365/year), NOT data-volume-quadratic — 100 TB
      * of raw events still reduce to the same P·T grid first. All
      * windows are (el)- or (el,lag)-partitioned running sums
      * (grid-bounded grain, the governance sweep's allowed class); the
      * per-element motif/discord cuts are el-partitioned row_numbers on
      * integer-rounded keys.
      *
      * Engine↔oracle: subsequence sums and lagged cross-products are
      * decimal-exact window sums over identical doubles; ρ and d are one
      * shared expression (sqrt is correctly rounded IEEE in both
      * engines); flat subsequences define ρ = 0 via the shared
      * nullif/coalesce; cut keys are round-6 with (i, j) tie-breaks.
      */
    QueryDef(
      "q371_matrix_profile",
      s"""WITH ${CausalOps.dailySql},
        |pos AS (
        |  SELECT el, row_number() OVER (PARTITION BY el ORDER BY di) AS t, v,
        |    count(*) OVER (PARTITION BY el) AS n
        |  FROM daily),
        |st AS (
        |  SELECT el, t,
        |    CAST(sum(CAST(v AS DECIMAL(38,12))) OVER w7 AS DOUBLE) AS sx,
        |    CAST(sum(CAST(v * v AS DECIMAL(38,12))) OVER w7 AS DOUBLE) AS sxx,
        |    count(*) OVER w7 AS c7
        |  FROM pos
        |  WINDOW w7 AS (PARTITION BY el ORDER BY t
        |                ROWS BETWEEN CURRENT ROW AND 6 FOLLOWING)),
        |stv AS (SELECT el, t, sx, sxx FROM st WHERE c7 = 7),
        |lp AS (
        |  SELECT a.el, b.t - a.t AS lag, a.t AS t, a.v * b.v AS prod
        |  FROM pos a JOIN pos b ON b.el = a.el AND b.t >= a.t + 4),
        |cw AS (
        |  SELECT el, lag, t,
        |    CAST(sum(CAST(prod AS DECIMAL(38,12))) OVER wd AS DOUBLE) AS sxy,
        |    count(*) OVER wd AS c7
        |  FROM lp
        |  WINDOW wd AS (PARTITION BY el, lag ORDER BY t
        |                ROWS BETWEEN CURRENT ROW AND 6 FOLLOWING)),
        |dd AS (
        |  SELECT c.el, c.t AS i, c.t + c.lag AS j,
        |    sqrt(greatest(14.0 * (1.0 - coalesce(
        |      (7.0 * c.sxy - a.sx * b.sx)
        |        / nullif(sqrt((7.0 * a.sxx - a.sx * a.sx)
        |                      * (7.0 * b.sxx - b.sx * b.sx)), 0), 0.0)), 0.0)) AS dist
        |  FROM cw c
        |  JOIN stv a ON a.el = c.el AND a.t = c.t
        |  JOIN stv b ON b.el = c.el AND b.t = c.t + c.lag
        |  WHERE c.c7 = 7),
        |mo AS (
        |  SELECT el, i, j, dist,
        |    row_number() OVER (PARTITION BY el ORDER BY round(dist, 6), i, j) AS rmo
        |  FROM dd),
        |nn AS (
        |  SELECT el, s, min(dist) AS nnd
        |  FROM (SELECT el, i AS s, dist FROM dd
        |        UNION ALL SELECT el, j AS s, dist FROM dd) u
        |  GROUP BY 1, 2),
        |di2 AS (
        |  SELECT el, s, nnd,
        |    row_number() OVER (PARTITION BY el ORDER BY round(nnd, 6) DESC, s) AS rdi
        |  FROM nn),
        |ns AS (SELECT el, CAST(max(n) - 6 AS BIGINT) AS n_sub FROM pos GROUP BY 1)
        |SELECT m.el, ns.n_sub,
        |  CAST(m.i AS BIGINT) AS motif_i, CAST(m.j AS BIGINT) AS motif_j,
        |  round(m.dist, 6) AS motif_dist,
        |  CAST(d2.s AS BIGINT) AS discord_i, round(d2.nnd, 6) AS discord_dist
        |FROM mo m
        |JOIN di2 d2 ON d2.el = m.el AND d2.rdi = 1
        |JOIN ns ON ns.el = m.el
        |WHERE m.rmo = 1
        |ORDER BY m.el""".stripMargin) { (s, d) =>
      val g = CausalOps.daily(s, d)
      val wEl = Window.partitionBy(col("el"))
      val pos = g.select(col("el"),
        row_number().over(wEl.orderBy(col("di"))).as("t"), col("v"),
        count(lit(1)).over(wEl).as("n"))
      val w7 = wEl.orderBy(col("t")).rowsBetween(0, 6)
      def wdsum(c: Column, w: org.apache.spark.sql.expressions.WindowSpec): Column =
        sum(c.cast("decimal(38,12)")).over(w).cast("double")
      val st = pos.select(col("el"), col("t"),
        wdsum(col("v"), w7).as("sx"), wdsum(col("v") * col("v"), w7).as("sxx"),
        count(lit(1)).over(w7).as("c7"))
      val stv = st.where(col("c7") === 7).drop("c7")
      val posB = pos.select(col("el").as("b_el"), col("t").as("b_t"), col("v").as("b_v"))
      val lp = pos.join(posB,
          col("b_el") === col("el") && col("b_t") >= col("t") + 4)
        .select(col("el"), (col("b_t") - col("t")).as("lag"), col("t"),
          (col("v") * col("b_v")).as("prod"))
      val wd = Window.partitionBy(col("el"), col("lag")).orderBy(col("t")).rowsBetween(0, 6)
      val cw = lp.select(col("el"), col("lag"), col("t"),
          wdsum(col("prod"), wd).as("sxy"), count(lit(1)).over(wd).as("c7"))
        .where(col("c7") === 7)
      val ai = stv.select(col("el").as("a_el"), col("t").as("a_t"),
        col("sx").as("a_sx"), col("sxx").as("a_sxx"))
      val bj = stv.select(col("el").as("j_el"), col("t").as("j_t"),
        col("sx").as("j_sx"), col("sxx").as("j_sxx"))
      val rho = (lit(7.0) * col("sxy") - col("a_sx") * col("j_sx")) /
        nullif(sqrt((lit(7.0) * col("a_sxx") - col("a_sx") * col("a_sx")) *
          (lit(7.0) * col("j_sxx") - col("j_sx") * col("j_sx"))), lit(0))
      val dd = cw
        .join(ai, col("a_el") === col("el") && col("a_t") === col("t"))
        .join(bj, col("j_el") === col("el") && col("j_t") === col("t") + col("lag"))
        .select(col("el"), col("t").as("i"), (col("t") + col("lag")).as("j"),
          sqrt(greatest(lit(14.0) * (lit(1.0) - coalesce(rho, lit(0.0))), lit(0.0))).as("dist"))
      // the distance table feeds BOTH the motif and the discord cut —
      // persist once (the q364/q285 shared-subtree discipline) so the
      // pair join never re-derives per referencing plan
      val ddc = graft.PlanCache.cached(s, s"q371_dd|$d")(dd)
      val mo = ddc.withColumn("rmo",
          row_number().over(wEl.orderBy(r6(col("dist")), col("i"), col("j"))))
        .where(col("rmo") === 1)
      val nn = ddc.select(col("el"), col("i").as("s"), col("dist"))
        .unionAll(ddc.select(col("el"), col("j").as("s"), col("dist")))
        .groupBy(col("el"), col("s")).agg(min(col("dist")).as("nnd"))
      val di2 = nn.withColumn("rdi",
          row_number().over(wEl.orderBy(r6(col("nnd")).desc, col("s"))))
        .where(col("rdi") === 1)
        .select(col("el").as("d_el"), col("s").as("discord_i_raw"), col("nnd"))
      val ns = pos.groupBy(col("el").as("n_el"))
        .agg((max(col("n")) - 6).cast("long").as("n_sub"))
      mo.join(di2, col("d_el") === col("el")).join(ns, col("n_el") === col("el"))
        .select(col("el"), col("n_sub"),
          col("i").cast("long").as("motif_i"), col("j").cast("long").as("motif_j"),
          r6(col("dist")).as("motif_dist"),
          col("discord_i_raw").cast("long").as("discord_i"),
          r6(col("nnd")).as("discord_dist"))
        .orderBy("el")
    }
  )
}
