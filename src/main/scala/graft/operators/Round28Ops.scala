package graft.operators

import graft.{PlanCache, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-28 batch: seasonal-artifact-proof causality, count-native
  * causality, edge stability, plus three pipeline governance readouts —
  *
  *  - q457 embedding isotropy: per-label effective rank (entropy of
  *    the per-dimension variance spectrum), top-dimension share, and
  *    the ‖μ‖²/E‖x‖² anisotropy — the "is this embedding space
  *    collapsed" gate before anyone trusts q64's cosine ranking;
  *  - q458 deseasonalized Granger: q230's gain recomputed on weekday-
  *    mean-removed residuals — a shared weekly cycle mimics lead-lag,
  *    and an edge that dies after deseasonalization was never causal;
  *  - q459 Poisson Granger: the count-native lead test — IRLS Poisson
  *    regression of dst's daily count on its own lag and src's lag
  *    (two steps, exact 3×3 Cramer solves in column math), rate ratio
  *    e^β per src-lag unit. Daily counts ARE the native observable;
  *    Gaussian Granger on means mis-weights low-count days;
  *  - q460 Granger stability: the gain on three overlapping 20-day
  *    windows — a real edge persists, an episodic artifact doesn't;
  *  - q461 PII scan per source: email/url/ipv4/phone regex counts per
  *    1k chars (map-side regexp over the common RE2/Java subset) —
  *    the redaction-pressure readout next to q448's readability gate;
  *  - q462 group-aware split audit: user-grouped deterministic split
  *    (user_id mod 10 → 8/1/1; the portable demo hash — production
  *    uses xxhash64, same plan shape) with the leakage invariant
  *    (every user in exactly ONE split) and per-split event-type
  *    drift vs the global distribution.
  *
  * Scale shapes: q457 is a 64-dim posexplode aggregate; q458–q460 run
  * on the PlanCache'd daily grids via the shared granger machinery;
  * q461 map-side regexp + a source-grain shuffle; q462 one user-grain
  * aggregate + bounded split×type grids.
  */
object Round28Ops {
  import CausalOps.{dsum, dsumSql, r6}

  /** The daily COUNT grid (el, di, cnt) — q459's native observable. */
  private def dailyCounts(s: SparkSession, d: String): DataFrame =
    PlanCache.cached(s, s"q459_cd|$d") {
      Tables.events(s, d).groupBy(col("event_type").as("el"),
          datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")).as("di"))
        .agg(count(lit(1)).cast("double").as("cnt"))
    }

  private val dailyCountsSql: String =
    """cd AS (
      |  SELECT event_type AS el,
      |    datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS di,
      |    CAST(count(*) AS DOUBLE) AS cnt
      |  FROM events GROUP BY 1, 2)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    /** Embedding-space isotropy per label: per-dimension variances from
      * one posexplode aggregate, effective rank exp(−Σp·ln p) over the
      * normalized variance spectrum (64 = perfectly isotropic, 1 =
      * collapsed to a line), top-dimension variance share, and the
      * anisotropy proxy ‖μ‖²/E‖x‖² (≈ mean cosine of random pairs).
      * An axis-aligned (no eigendecomposition) diagnostic — documented
      * approximation; the spectrum grain is the 64-dim grid.
      */
    QueryDef(
      "q457_embedding_isotropy",
      """WITH pos AS (
        |  SELECT label, vec_id,
        |    unnest(list_transform(embedding::DOUBLE[],
        |      (x, i) -> {'x': x, 'i': i}), recursive := true)
        |  FROM embeddings),
        |dim AS (
        |  SELECT label, i,
        |    CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS mu,
        |    (CAST(sum(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE)
        |      - CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE)
        |        * CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / count(*))
        |      / count(*) AS var,
        |    CAST(sum(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS ex2
        |  FROM pos GROUP BY 1, 2),
        |tot AS (
        |  SELECT label,
        |    CAST(sum(CAST(var AS DECIMAL(38,12))) AS DOUBLE) AS vtot,
        |    max(var) AS vmax,
        |    CAST(sum(CAST(mu * mu AS DECIMAL(38,12))) AS DOUBLE) AS mu2,
        |    CAST(sum(CAST(ex2 AS DECIMAL(38,12))) AS DOUBLE) AS ex2
        |  FROM dim GROUP BY 1),
        |er AS (
        |  SELECT dim.label,
        |    CAST(sum(CAST(-(dim.var / tot.vtot) * ln(dim.var / tot.vtot)
        |      AS DECIMAL(38,12))) AS DOUBLE) AS h
        |  FROM dim JOIN tot ON tot.label = dim.label
        |  WHERE dim.var > 0 GROUP BY 1),
        |nv AS (SELECT label, count(*) AS n FROM embeddings GROUP BY 1)
        |SELECT tot.label AS label, CAST(nv.n AS BIGINT) AS n_vecs,
        |  round(exp(er.h), 6) AS eff_rank,
        |  round(tot.vmax / tot.vtot, 6) AS top_dim_share,
        |  round(tot.mu2 / tot.ex2, 6) AS anisotropy
        |FROM tot JOIN er ON er.label = tot.label JOIN nv ON nv.label = tot.label
        |ORDER BY label""".stripMargin) { (s, d) =>
      val pos = Tables.embeddings(s, d)
        .select(col("label"), col("vec_id"),
          posexplode(col("embedding").cast("array<double>")).as(Seq("i", "x")))
      val dim = pos.groupBy("label", "i").agg(
        (dsum(col("x")) / count(lit(1))).as("mu"),
        ((dsum(col("x") * col("x")) -
          dsum(col("x")) * dsum(col("x")) / count(lit(1))) /
          count(lit(1))).as("var"),
        (dsum(col("x") * col("x")) / count(lit(1))).as("ex2"))
      val tot = dim.groupBy("label").agg(
        dsum(col("var")).as("vtot"), max(col("var")).as("vmax"),
        dsum(col("mu") * col("mu")).as("mu2"), dsum(col("ex2")).as("ex2"))
      val p = col("var") / col("vtot")
      val er = dim.join(broadcast(tot.select(col("label").as("tl"), col("vtot"))),
          col("tl") === col("label"))
        .where(col("var") > 0)
        .groupBy("label").agg(dsum(-p * log(p)).as("h"))
      val nv = Tables.embeddings(s, d).groupBy(col("label").as("nl"))
        .agg(count(lit(1)).as("n"))
      tot.join(er.select(col("label").as("el2"), col("h")), col("el2") === col("label"))
        .join(broadcast(nv), col("nl") === col("label"))
        .select(col("label"), col("n").cast("long").as("n_vecs"),
          r6(exp(col("h"))).as("eff_rank"),
          r6(col("vmax") / col("vtot")).as("top_dim_share"),
          r6(col("mu2") / col("ex2")).as("anisotropy"))
        .orderBy("label")
    },

    /** Deseasonalized Granger: remove the per-(element, weekday) mean
      * (weekday = di mod 7 — calendar-free, deterministic) and rerun
      * q230's exact gain tree on the residuals. An edge whose raw gain
      * clears 0.05 but dies after deseasonalization is a shared-cycle
      * artifact — flagged.
      */
    QueryDef(
      "q458_deseasonal_granger",
      s"""WITH ${CausalOps.dailySql},
         |wm AS (
         |  SELECT el, di % 7 AS dow, ${dsumSql("v")} / count(*) AS wmu
         |  FROM daily GROUP BY 1, 2),
         |res AS (
         |  SELECT d.el, d.di, d.v - wm.wmu AS v
         |  FROM daily d JOIN wm ON wm.el = d.el AND wm.dow = d.di % 7),
         |${Round27Ops.grangerCtes("daily", "rd")},
         |${Round27Ops.grangerCtes("res", "rr")}
         |SELECT rdo.src AS src, rdo.dst AS dst,
         |  rdo.gain AS gain_raw, rro.gain AS gain_deseasonal,
         |  CASE WHEN rdo.gain >= 0.05 AND rro.gain < 0.05 THEN 1 ELSE 0 END
         |    AS seasonal_artifact
         |FROM rdo JOIN rro ON rro.src = rdo.src AND rro.dst = rdo.dst
         |ORDER BY src, dst""".stripMargin) { (s, d) =>
      val g = CausalOps.daily(s, d)
      CausalOps.guardFullEnum(g, "q458_deseasonal_granger")
      val wm = g.groupBy(col("el").as("wel"), (col("di") % 7).as("dow"))
        .agg((dsum(col("v")) / count(lit(1))).as("wmu"))
      val res = g.join(broadcast(wm),
          col("wel") === col("el") && col("dow") === col("di") % 7)
        .select(col("el"), col("di"), (col("v") - col("wmu")).as("v"))
      val raw = CausalOps.grangerFromGrid(g)
        .select(col("src"), col("dst"), col("granger_gain").as("gain_raw"))
      val des = CausalOps.grangerFromGrid(res)
        .select(col("src").as("dsrc"), col("dst").as("ddst"),
          col("granger_gain").as("gain_deseasonal"))
      raw.join(des, col("dsrc") === col("src") && col("ddst") === col("dst"))
        .select(col("src"), col("dst"), col("gain_raw"), col("gain_deseasonal"),
          when(col("gain_raw") >= 0.05 && col("gain_deseasonal") < 0.05, 1)
            .otherwise(0).as("seasonal_artifact"))
        .orderBy("src", "dst")
    },

    /** Poisson Granger — the count-native lead test. Per directed pair,
      * IRLS Poisson regression cnt_dst(t) ~ exp(b0 + b1·cnt_dst(t−1) +
      * b2·cnt_src(t−1)) with lag counts standardized by their own
      * daily-mean scale (x/μ̄ — keeps exp() in range with exact column
      * math), two IRLS steps from the intercept-only start, each a
      * 3×3 weighted normal-equation Cramer solve over the pair's
      * bounded day rows. Output: β₂ and its rate ratio e^{β₂} — "one
      * scaled unit of src yesterday multiplies dst's rate today by".
      */
    QueryDef(
      "q459_poisson_granger", {
        def step(tag: String, prev: String) =
          s"""w$tag AS (
             |  SELECT g.src, g.dst,
             |    ${dsumSql("mu")} AS sw, ${dsumSql("mu * x1")} AS sw1,
             |    ${dsumSql("mu * x2")} AS sw2,
             |    ${dsumSql("mu * x1 * x1")} AS s11, ${dsumSql("mu * x1 * x2")} AS s12,
             |    ${dsumSql("mu * x2 * x2")} AS s22,
             |    ${dsumSql("mu * z")} AS sz, ${dsumSql("mu * z * x1")} AS sz1,
             |    ${dsumSql("mu * z * x2")} AS sz2
             |  FROM (
             |    SELECT gp.src, gp.dst, gp.x1, gp.x2,
             |      exp(p.b0 + p.b1 * gp.x1 + p.b2 * gp.x2) AS mu,
             |      (p.b0 + p.b1 * gp.x1 + p.b2 * gp.x2)
             |        + (gp.y - exp(p.b0 + p.b1 * gp.x1 + p.b2 * gp.x2))
             |          / exp(p.b0 + p.b1 * gp.x1 + p.b2 * gp.x2) AS z
             |    FROM gp JOIN $prev p ON p.src = gp.src AND p.dst = gp.dst) g
             |  GROUP BY 1, 2),
             |p$tag AS (
             |  SELECT src, dst,
             |    ( sz  * (s11*s22 - s12*s12) - sz1 * (sw1*s22 - s12*sw2)
             |      + sz2 * (sw1*s12 - s11*sw2))
             |    / nullif(sw * (s11*s22 - s12*s12) - sw1 * (sw1*s22 - s12*sw2)
             |      + sw2 * (sw1*s12 - s11*sw2), 0) AS b0,
             |    ( sw  * (sz1*s22 - s12*sz2) - sw1 * (sz*s22 - sz2*sw2)
             |      + sw2 * (sz*s12 - sz1*sw2))
             |    / nullif(sw * (s11*s22 - s12*s12) - sw1 * (sw1*s22 - s12*sw2)
             |      + sw2 * (sw1*s12 - s11*sw2), 0) AS b1,
             |    ( sw  * (s11*sz2 - sz1*s12) - sw1 * (sw1*sz2 - sz1*sw2)
             |      + sz  * (sw1*s12 - s11*sw2))
             |    / nullif(sw * (s11*s22 - s12*s12) - sw1 * (sw1*s22 - s12*sw2)
             |      + sw2 * (sw1*s12 - s11*sw2), 0) AS b2
             |  FROM w$tag)""".stripMargin
        s"""WITH $dailyCountsSql,
           |sc AS (SELECT el, ${dsumSql("cnt")} / count(*) AS mc FROM cd GROUP BY 1),
           |gp AS (
           |  SELECT x.el AS src, y.el AS dst, y.cnt AS y,
           |    yl.cnt / scy.mc AS x1, x.cnt / scx.mc AS x2
           |  FROM cd y
           |  JOIN cd yl ON yl.el = y.el AND yl.di = y.di - 1
           |  JOIN cd x ON x.el <> y.el AND x.di = y.di - 1
           |  JOIN sc scy ON scy.el = y.el
           |  JOIN sc scx ON scx.el = x.el),
           |p0 AS (
           |  SELECT src, dst, ln(${dsumSql("y")} / count(*)) AS b0,
           |    CAST(0 AS DOUBLE) AS b1, CAST(0 AS DOUBLE) AS b2
           |  FROM gp GROUP BY 1, 2),
           |${step("1", "p0")},
           |${step("2", "p1")}
           |SELECT p2.src AS src, p2.dst AS dst,
           |  round(p2.b0, 6) AS b0, round(p2.b1, 6) AS b_own_lag,
           |  round(p2.b2, 6) AS b_src_lag, round(exp(p2.b2), 6) AS rate_ratio
           |FROM p2 ORDER BY src, dst""".stripMargin
      }) { (s, d) =>
      val cd = dailyCounts(s, d)
      CausalOps.guardFullEnum(
        cd.select(col("el"), col("di"), col("cnt").as("v")), "q459_poisson_granger")
      val sc = cd.groupBy(col("el").as("sel"))
        .agg((dsum(col("cnt")) / count(lit(1))).as("mc"))
      val y = cd.select(col("el").as("dst"), col("di"), col("cnt").as("y"))
      val yl = cd.select(col("el").as("ell"), col("di").as("dil"),
        col("cnt").as("ylc"))
      val x = cd.select(col("el").as("src"), col("di").as("dix"),
        col("cnt").as("xc"))
      val gp = y
        .join(yl, col("ell") === col("dst") && col("dil") === col("di") - 1)
        .join(x, col("src") =!= col("dst") && col("dix") === col("di") - 1)
        .join(broadcast(sc.select(col("sel").as("sy"), col("mc").as("mcy"))),
          col("sy") === col("dst"))
        .join(broadcast(sc.select(col("sel").as("sx"), col("mc").as("mcx"))),
          col("sx") === col("src"))
        .select(col("src"), col("dst"), col("y"),
          (col("ylc") / col("mcy")).as("x1"), (col("xc") / col("mcx")).as("x2"))
      val p0 = gp.groupBy("src", "dst")
        .agg(log(dsum(col("y")) / count(lit(1))).as("b0"))
        .withColumn("b1", lit(0.0)).withColumn("b2", lit(0.0))
      def irls(prev: DataFrame): DataFrame = {
        val eta = col("b0") + col("b1") * col("x1") + col("b2") * col("x2")
        val mu = exp(eta)
        val z = eta + (col("y") - mu) / mu
        val w = gp.join(broadcast(prev.select(col("src").as("ps"),
            col("dst").as("pd"), col("b0"), col("b1"), col("b2"))),
            col("ps") === col("src") && col("pd") === col("dst"))
          .groupBy("src", "dst").agg(
            dsum(mu).as("sw"), dsum(mu * col("x1")).as("sw1"),
            dsum(mu * col("x2")).as("sw2"),
            dsum(mu * col("x1") * col("x1")).as("s11"),
            dsum(mu * col("x1") * col("x2")).as("s12"),
            dsum(mu * col("x2") * col("x2")).as("s22"),
            dsum(mu * z).as("sz"), dsum(mu * z * col("x1")).as("sz1"),
            dsum(mu * z * col("x2")).as("sz2"))
        val det = col("sw") * (col("s11") * col("s22") - col("s12") * col("s12")) -
          col("sw1") * (col("sw1") * col("s22") - col("s12") * col("sw2")) +
          col("sw2") * (col("sw1") * col("s12") - col("s11") * col("sw2"))
        val b0 = (col("sz") * (col("s11") * col("s22") - col("s12") * col("s12")) -
          col("sz1") * (col("sw1") * col("s22") - col("s12") * col("sw2")) +
          col("sz2") * (col("sw1") * col("s12") - col("s11") * col("sw2"))) /
          nullif(det, lit(0.0))
        val b1 = (col("sw") * (col("sz1") * col("s22") - col("s12") * col("sz2")) -
          col("sw1") * (col("sz") * col("s22") - col("sz2") * col("sw2")) +
          col("sw2") * (col("sz") * col("s12") - col("sz1") * col("sw2"))) /
          nullif(det, lit(0.0))
        val b2 = (col("sw") * (col("s11") * col("sz2") - col("sz1") * col("s12")) -
          col("sw1") * (col("sw1") * col("sz2") - col("sz1") * col("sw2")) +
          col("sz") * (col("sw1") * col("s12") - col("s11") * col("sw2"))) /
          nullif(det, lit(0.0))
        w.select(col("src"), col("dst"), b0.as("b0"), b1.as("b1"), b2.as("b2"))
      }
      val p2 = irls(irls(p0))
      p2.select(col("src"), col("dst"), r6(col("b0")).as("b0"),
          r6(col("b1")).as("b_own_lag"), r6(col("b2")).as("b_src_lag"),
          r6(exp(col("b2"))).as("rate_ratio"))
        .orderBy("src", "dst")
    },

    /** Granger stability on three overlapping 20-day windows (offsets
      * 0/5/10): per (pair, window) the exact q230 gain tree on the
      * sliced grid, plus the per-pair gain range — a persistent edge
      * has a small range, an episodic artifact a large one.
      */
    QueryDef(
      "q460_granger_stability",
      s"""WITH ${CausalOps.dailySql},
         |d0 AS (SELECT * FROM daily WHERE di BETWEEN 0 AND 19),
         |d5 AS (SELECT * FROM daily WHERE di BETWEEN 5 AND 24),
         |d10 AS (SELECT * FROM daily WHERE di BETWEEN 10 AND 29),
         |${Round27Ops.grangerCtes("d0", "w0")},
         |${Round27Ops.grangerCtes("d5", "w5")},
         |${Round27Ops.grangerCtes("d10", "wx")},
         |uni AS (
         |  SELECT src, dst, 0 AS w_start, gain FROM w0o
         |  UNION ALL SELECT src, dst, 5, gain FROM w5o
         |  UNION ALL SELECT src, dst, 10, gain FROM wxo)
         |SELECT src, dst, w_start, gain AS granger_gain,
         |  round(max(gain) OVER (PARTITION BY src, dst)
         |    - min(gain) OVER (PARTITION BY src, dst), 6) AS gain_range
         |FROM uni ORDER BY src, dst, w_start""".stripMargin) { (s, d) =>
      val g = CausalOps.daily(s, d)
      CausalOps.guardFullEnum(g, "q460_granger_stability")
      val parts = Seq(0, 5, 10).map { w =>
        CausalOps.grangerFromGrid(
            g.where(col("di") >= w && col("di") <= w + 19))
          .select(col("src"), col("dst"), lit(w).as("w_start"),
            col("granger_gain").as("gain"))
      }
      val uni = parts.reduce(_ unionAll _)
      val wp = Window.partitionBy(col("src"), col("dst"))
      uni.select(col("src"), col("dst"), col("w_start"),
          col("gain").as("granger_gain"),
          r6(max(col("gain")).over(wp) - min(col("gain")).over(wp))
            .as("gain_range"))
        .orderBy("src", "dst", "w_start")
    },

    /** PII scan per source: email / URL / IPv4 / dashed-phone regex
      * match counts (the common RE2↔Java pattern subset), documents
      * touched, and matches per 1k chars — the redaction-pressure
      * readout. Map-side regexp counting, one source-grain shuffle;
      * zero counts on clean corpora are the (good) expected answer,
      * and the spec proves the patterns on a hostile fixture.
      */
    QueryDef(
      "q461_pii_scan",
      """WITH f AS (
        |  SELECT source, n_chars,
        |    len(regexp_extract_all(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+')) AS em,
        |    len(regexp_extract_all(text, 'https?://[^ ]+')) AS ur,
        |    len(regexp_extract_all(text,
        |      '[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+')) AS ip,
        |    len(regexp_extract_all(text,
        |      '[0-9][0-9][0-9]-[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]')) AS ph
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(em) AS BIGINT) AS n_email, CAST(sum(ur) AS BIGINT) AS n_url,
        |  CAST(sum(ip) AS BIGINT) AS n_ipv4, CAST(sum(ph) AS BIGINT) AS n_phone,
        |  CAST(count_if(em + ur + ip + ph > 0) AS BIGINT) AS docs_with_pii,
        |  round(CAST(sum(em + ur + ip + ph) AS DOUBLE)
        |    / (CAST(sum(n_chars) AS DOUBLE) / 1000.0), 6) AS pii_per_kchar
        |FROM f GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val f = Tables.documents(s, d).select(col("source"), col("n_chars"),
        size(regexp_extract_all(col("text"),
          lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"), lit(0)))
          .as("em"),
        size(regexp_extract_all(col("text"), lit("https?://[^ ]+"), lit(0)))
          .as("ur"),
        size(regexp_extract_all(col("text"),
          lit("[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+"), lit(0))).as("ip"),
        size(regexp_extract_all(col("text"),
          lit("[0-9][0-9][0-9]-[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]"), lit(0)))
          .as("ph"))
      f.groupBy("source").agg(
          count(lit(1)).cast("long").as("n_docs"),
          sum(col("em")).cast("long").as("n_email"),
          sum(col("ur")).cast("long").as("n_url"),
          sum(col("ip")).cast("long").as("n_ipv4"),
          sum(col("ph")).cast("long").as("n_phone"),
          count_if(col("em") + col("ur") + col("ip") + col("ph") > 0)
            .cast("long").as("docs_with_pii"),
          r6(sum(col("em") + col("ur") + col("ip") + col("ph")).cast("double") /
            (sum(col("n_chars")).cast("double") / lit(1000.0)))
            .as("pii_per_kchar"))
        .orderBy("source")
    },

    /** Group-aware train/val/test split audit: users hash to exactly
      * one split (user_id mod 10 → 0–7 train, 8 val, 9 test — the
      * portable demo hash; production swaps in xxhash64, same plan),
      * so no user's events straddle the boundary (the leakage
      * invariant, asserted as a computed column). Per split: user and
      * event counts, value mean, and the max event-type share drift vs
      * the global distribution — a sound split preserves the mix.
      */
    QueryDef(
      "q462_group_split_audit",
      s"""WITH sp AS (
         |  SELECT user_id, event_type, value,
         |    CASE WHEN user_id % 10 <= 7 THEN 'train'
         |         WHEN user_id % 10 = 8 THEN 'val' ELSE 'test' END AS split
         |  FROM events),
         |leak AS (
         |  SELECT max(ns) AS max_splits_per_user FROM (
         |    SELECT user_id, count(DISTINCT split) AS ns FROM sp GROUP BY 1)),
         |gl AS (
         |  SELECT event_type, CAST(count(*) AS DOUBLE)
         |    / (SELECT count(*) FROM sp) AS gshare
         |  FROM sp GROUP BY 1),
         |ss AS (
         |  SELECT split, event_type, CAST(count(*) AS DOUBLE) AS c
         |  FROM sp GROUP BY 1, 2),
         |stot AS (SELECT split, sum(c) AS tot FROM ss GROUP BY 1),
         |drift AS (
         |  SELECT ss.split, max(abs(ss.c / stot.tot - gl.gshare)) AS max_drift
         |  FROM ss JOIN stot ON stot.split = ss.split
         |  JOIN gl ON gl.event_type = ss.event_type
         |  GROUP BY 1),
         |us AS (
         |  SELECT split, count(DISTINCT user_id) AS nu, count(*) AS ne,
         |    ${dsumSql("value")} / count(*) AS mv
         |  FROM sp GROUP BY 1)
         |SELECT us.split AS split, CAST(us.nu AS BIGINT) AS n_users,
         |  CAST(us.ne AS BIGINT) AS n_events,
         |  round(us.mv, 6) AS mean_value,
         |  round(drift.max_drift, 6) AS max_type_drift,
         |  CAST(leak.max_splits_per_user AS BIGINT) AS max_splits_per_user
         |FROM us JOIN drift ON drift.split = us.split CROSS JOIN leak
         |ORDER BY split""".stripMargin) { (s, d) =>
      val sp = Tables.events(s, d).select(col("user_id"), col("event_type"),
        col("value"),
        when(col("user_id") % 10 <= 7, "train")
          .when(col("user_id") % 10 === 8, "val").otherwise("test").as("split"))
      val leak = sp.groupBy("user_id")
        .agg(countDistinct(col("split")).as("ns"))
        .agg(max(col("ns")).as("max_splits_per_user"))
      val tot = sp.agg(count(lit(1)).cast("double").as("call"))
      val gl = sp.groupBy(col("event_type").as("gt")).agg(count(lit(1)).as("gc"))
        .crossJoin(broadcast(tot))
        .select(col("gt"), (col("gc").cast("double") / col("call")).as("gshare"))
      val ss = sp.groupBy("split", "event_type")
        .agg(count(lit(1)).cast("double").as("c"))
      val stot = ss.groupBy(col("split").as("ts")).agg(sum(col("c")).as("tot"))
      val drift = ss.join(broadcast(stot), col("ts") === col("split"))
        .join(broadcast(gl), col("gt") === col("event_type"))
        .groupBy("split")
        .agg(max(abs(col("c") / col("tot") - col("gshare"))).as("max_drift"))
      val us = sp.groupBy(col("split").as("us_split")).agg(
        countDistinct(col("user_id")).as("nu"), count(lit(1)).as("ne"),
        (dsum(col("value")) / count(lit(1))).as("mv"))
      us.join(broadcast(drift), col("split") === col("us_split"))
        .crossJoin(broadcast(leak))
        .select(col("split"), col("nu").cast("long").as("n_users"),
          col("ne").cast("long").as("n_events"),
          r6(col("mv")).as("mean_value"),
          r6(col("max_drift")).as("max_type_drift"),
          col("max_splits_per_user").cast("long").as("max_splits_per_user"))
        .orderBy("split")
    }
  )
}
