package graft.operators

import graft.{PlanCache, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-29 batch: corpus governance with held-out evaluation, and
  * forecast composition —
  *
  *  - q463 dedup impact: what exact dedup actually buys per source —
  *    duplicate classes by content hash, docs and TOKENS removed when
  *    keeping the lowest doc_id per class — the shrinkage invoice next
  *    to q60's dedup itself;
  *  - q464 held-out bigram perplexity: the add-one bigram LM TRAINED
  *    on the doc_id-hash train split and EVALUATED on the held-out
  *    docs — q317 scores in-sample, this is the honest generalization
  *    number (unseen heads fall back to 1/V mass);
  *  - q465 seasonal/trend strength per element: R² of the weekday-mean
  *    component and of the linear trend on the daily grid — HOW MUCH
  *    of each element's movement is cycle vs drift vs noise, the
  *    decomposition summary q458's artifact flag implies;
  *  - q466 forecast ensemble backtest: naive / seasonal-naive / drift /
  *    exact EWMA trained on days 0–22, evaluated on 23–29, plus their
  *    equal-weight ensemble — does averaging beat the best single
  *    model (the classic forecast-combination result), with MAE per
  *    model. Extends q269's two-model backtest.
  *
  * (q467, registered in streaming/Streaming.scala, replays q452's
  * consensus scoreboard per micro-batch.)
  *
  * Scale shapes: q463/q464 are token-grain map-side work + bounded
  * vocabulary shuffles; q465/q466 pure column math on the PlanCache'd
  * daily grid.
  */
object Round29Ops {
  import CausalOps.{dsum, dsumSql, r6}
  private def wordsCol(text: Column): Column = graft.functions.Text.wordsCol(text)
  private val duckWords = "list_filter(string_split(text, ' '), x -> x != '')"

  val defs: Seq[QueryDef] = Seq(

    /** Exact-dedup impact per source: md5 content classes, docs and
      * whitespace-token counts before/after keeping the lowest doc_id
      * per class — the shrinkage invoice. One content-hash shuffle
      * (32-byte keys), token counting map-side.
      */
    QueryDef(
      "q463_dedup_impact",
      s"""WITH tk AS (
         |  SELECT doc_id, source, md5(text) AS h,
         |    CAST(len($duckWords) AS DOUBLE) AS ntok
         |  FROM documents),
         |cl AS (SELECT h, min(doc_id) AS keep_id FROM tk GROUP BY 1)
         |SELECT tk.source AS source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT tk.h) AS BIGINT) AS n_classes,
         |  CAST(count(*) - count_if(tk.doc_id = cl.keep_id) AS BIGINT)
         |    AS docs_removed,
         |  CAST(${dsumSql("ntok")} AS BIGINT) AS tokens_total,
         |  CAST(${dsumSql("CASE WHEN tk.doc_id = cl.keep_id THEN ntok ELSE 0 END")}
         |    AS BIGINT) AS tokens_kept,
         |  round(1.0 - ${dsumSql("CASE WHEN tk.doc_id = cl.keep_id THEN ntok ELSE 0 END")}
         |    / ${dsumSql("ntok")}, 6) AS token_removal_rate
         |FROM tk JOIN cl ON cl.h = tk.h
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val tk = Tables.documents(s, d).select(col("doc_id"), col("source"),
        md5(col("text")).as("h"),
        size(wordsCol(col("text"))).cast("double").as("ntok"))
      val cl = tk.groupBy("h").agg(min(col("doc_id")).as("keep_id"))
      val kept = when(col("doc_id") === col("keep_id"), col("ntok")).otherwise(0)
      tk.join(cl, "h")
        .groupBy("source").agg(
          count(lit(1)).cast("long").as("n_docs"),
          countDistinct(col("h")).cast("long").as("n_classes"),
          (count(lit(1)) - count_if(col("doc_id") === col("keep_id")))
            .cast("long").as("docs_removed"),
          dsum(col("ntok")).cast("long").as("tokens_total"),
          dsum(kept).cast("long").as("tokens_kept"),
          r6(lit(1.0) - dsum(kept) / dsum(col("ntok")))
            .as("token_removal_rate"))
        .orderBy("source")
    },

    /** Held-out bigram perplexity per source: add-one LM from the
      * doc_id mod 10 ≤ 7 train split, scored on the held-out docs —
      * exp(mean −ln p̂(w2|w1)) with unseen heads falling back to the
      * uniform 1/V mass. q317 scores the model on its own training
      * data; this is the honest generalization readout. NOTE: the test
      * corpus interleaves doc_ids by source (doc_id ≡ srcIdx mod 20),
      * so this split holds out WHOLE SOURCES — the harder cross-domain
      * generalization number; on a shuffled-id corpus the same query is
      * a within-source holdout. Token-grain map work, vocabulary-grain
      * shuffles.
      */
    QueryDef(
      "q464_holdout_perplexity",
      s"""WITH wz AS (
         |  SELECT doc_id, source, doc_id % 10 <= 7 AS is_train,
         |    $duckWords AS ws
         |  FROM documents),
         |wd AS (SELECT doc_id, source, is_train, ws FROM wz WHERE len(ws) >= 2),
         |bg AS (
         |  SELECT doc_id, source, is_train, u.w1 AS w1, u.w2 AS w2
         |  FROM (SELECT doc_id, source, is_train,
         |          unnest([{'w1': ws[i], 'w2': ws[i + 1]} FOR i IN range(1, len(ws))]) AS u
         |        FROM wd) z),
         |bc AS (SELECT w1 AS b1, w2 AS b2, count(*) AS c12
         |       FROM bg WHERE is_train GROUP BY 1, 2),
         |cc AS (SELECT b1 AS h1, sum(c12) AS c1 FROM bc GROUP BY 1),
         |vv AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v
         |       FROM (SELECT unnest(ws) AS w FROM wz WHERE is_train) t),
         |sc AS (
         |  SELECT g.doc_id, g.source, count(*) AS n,
         |    ${dsumSql("-ln((coalesce(bc.c12, 0) + 1) / (coalesce(cc.c1, 0) + vv.v))")}
         |      / count(*) AS xent
         |  FROM bg g
         |  LEFT JOIN bc ON bc.b1 = g.w1 AND bc.b2 = g.w2
         |  LEFT JOIN cc ON cc.h1 = g.w1
         |  CROSS JOIN vv
         |  WHERE NOT g.is_train
         |  GROUP BY 1, 2)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_val_docs,
         |  round(${dsumSql("exp(xent)")} / count(*), 6) AS mean_ppl,
         |  round(min(exp(xent)), 6) AS min_ppl,
         |  round(max(exp(xent)), 6) AS max_ppl
         |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val wz = Tables.documents(s, d).select(col("doc_id"), col("source"),
        (col("doc_id") % 10 <= 7).as("is_train"),
        wordsCol(col("text")).as("ws"))
      val wd = wz.where(size(col("ws")) >= 2)
      val bg = wd.select(col("doc_id"), col("source"), col("is_train"),
          explode(expr(
            """transform(sequence(1, size(ws) - 1),
              |  i -> named_struct('w1', element_at(ws, i), 'w2', element_at(ws, i + 1)))""".stripMargin))
            .as("u"))
        .select(col("doc_id"), col("source"), col("is_train"),
          col("u.w1").as("w1"), col("u.w2").as("w2"))
      val bc = bg.where(col("is_train"))
        .groupBy(col("w1").as("b1"), col("w2").as("b2"))
        .agg(count(lit(1)).as("c12"))
      val cc = bc.groupBy(col("b1").as("h1")).agg(sum(col("c12")).as("c1"))
      val vv = wz.where(col("is_train")).select(explode(col("ws")).as("w"))
        .agg(countDistinct(col("w")).cast("double").as("v"))
      val p = (coalesce(col("c12"), lit(0)) + 1) /
        (coalesce(col("c1"), lit(0)) + col("v"))
      val sc = bg.where(!col("is_train"))
        .join(bc, col("b1") === col("w1") && col("b2") === col("w2"), "left")
        .join(cc, col("h1") === col("w1"), "left")
        .crossJoin(broadcast(vv))
        .groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("n"), (dsum(-log(p)) / count(lit(1))).as("xent"))
      sc.groupBy("source").agg(
          count(lit(1)).cast("long").as("n_val_docs"),
          r6(dsum(exp(col("xent"))) / count(lit(1))).as("mean_ppl"),
          r6(min(exp(col("xent")))).as("min_ppl"),
          r6(max(exp(col("xent")))).as("max_ppl"))
        .orderBy("source")
    },

    /** Seasonal and trend strength per element: R² of the weekday-mean
      * component (cycle), R² of the OLS linear trend (drift), and the
      * residual std after removing both sequentially (weekday means of
      * the detrended series) — how much of each element's daily
      * movement is cycle vs drift vs noise. Pure grid column math.
      */
    QueryDef(
      "q465_seasonal_strength",
      s"""WITH ${CausalOps.dailySql},
         |st AS (
         |  SELECT el, count(*) AS n, ${dsumSql("v")} AS sv,
         |    ${dsumSql("v * v")} AS svv, ${dsumSql("CAST(di AS DOUBLE) * v")} AS sxv,
         |    ${dsumSql("CAST(di AS DOUBLE)")} AS sx,
         |    ${dsumSql("CAST(di AS DOUBLE) * di")} AS sxx
         |  FROM daily GROUP BY 1),
         |tr AS (
         |  SELECT el, n, sv, svv,
         |    (n * sxv - sx * sv) / (n * sxx - sx * sx) AS slope,
         |    (sv - ((n * sxv - sx * sv) / (n * sxx - sx * sx)) * sx) / n AS icpt
         |  FROM st),
         |dt AS (
         |  SELECT d.el, d.di, d.v,
         |    d.v - (tr.icpt + tr.slope * d.di) AS r1
         |  FROM daily d JOIN tr ON tr.el = d.el),
         |wm AS (
         |  SELECT el, di % 7 AS dow, ${dsumSql("r1")} / count(*) AS wmu
         |  FROM dt GROUP BY 1, 2),
         |wm0 AS (
         |  SELECT el, di % 7 AS dow, ${dsumSql("v")} / count(*) AS wmu0
         |  FROM daily GROUP BY 1, 2),
         |fin AS (
         |  SELECT dt.el, dt.v, dt.r1, dt.r1 - wm.wmu AS r2,
         |    d0.v - wm0.wmu0 AS rs
         |  FROM dt
         |  JOIN wm ON wm.el = dt.el AND wm.dow = dt.di % 7
         |  JOIN daily d0 ON d0.el = dt.el AND d0.di = dt.di
         |  JOIN wm0 ON wm0.el = dt.el AND wm0.dow = dt.di % 7)
         |SELECT el, CAST(count(*) AS BIGINT) AS n_days,
         |  round(1.0 - (${dsumSql("rs * rs")} - ${dsumSql("rs")} * ${dsumSql("rs")} / count(*))
         |    / (${dsumSql("v * v")} - ${dsumSql("v")} * ${dsumSql("v")} / count(*)), 6)
         |    AS seasonal_r2,
         |  round(1.0 - (${dsumSql("r1 * r1")} - ${dsumSql("r1")} * ${dsumSql("r1")} / count(*))
         |    / (${dsumSql("v * v")} - ${dsumSql("v")} * ${dsumSql("v")} / count(*)), 6)
         |    AS trend_r2,
         |  round(sqrt((${dsumSql("r2 * r2")} - ${dsumSql("r2")} * ${dsumSql("r2")} / count(*))
         |    / (count(*) - 1)), 6) AS resid_std
         |FROM fin GROUP BY el ORDER BY el""".stripMargin) { (s, d) =>
      val g = CausalOps.daily(s, d)
      val st = g.groupBy("el").agg(count(lit(1)).as("n"),
        dsum(col("v")).as("sv"), dsum(col("v") * col("v")).as("svv"),
        dsum(col("di").cast("double") * col("v")).as("sxv"),
        dsum(col("di").cast("double")).as("sx"),
        dsum(col("di").cast("double") * col("di")).as("sxx"))
      val slope = (col("n") * col("sxv") - col("sx") * col("sv")) /
        (col("n") * col("sxx") - col("sx") * col("sx"))
      val tr = st.select(col("el").as("tel"),
        slope.as("slope"),
        ((col("sv") - slope * col("sx")) / col("n")).as("icpt"))
      val dt = g.join(broadcast(tr), col("tel") === col("el"))
        .select(col("el"), col("di"), col("v"),
          (col("v") - (col("icpt") + col("slope") * col("di"))).as("r1"))
      val wm = dt.groupBy(col("el").as("wel"), (col("di") % 7).as("dow"))
        .agg((dsum(col("r1")) / count(lit(1))).as("wmu"))
      val wm0 = g.groupBy(col("el").as("w0el"), (col("di") % 7).as("dow0"))
        .agg((dsum(col("v")) / count(lit(1))).as("wmu0"))
      val d0 = g.select(col("el").as("d0el"), col("di").as("d0di"),
        col("v").as("v0"))
      val fin = dt
        .join(broadcast(wm), col("wel") === col("el") &&
          col("dow") === col("di") % 7)
        .join(d0, col("d0el") === col("el") && col("d0di") === col("di"))
        .join(broadcast(wm0), col("w0el") === col("el") &&
          col("dow0") === col("di") % 7)
        .select(col("el"), col("v"), col("r1"),
          (col("r1") - col("wmu")).as("r2"), (col("v0") - col("wmu0")).as("rs"))
      def ssc(c: Column) = dsum(c * c) - dsum(c) * dsum(c) / count(lit(1))
      fin.groupBy("el").agg(
          count(lit(1)).cast("long").as("n_days"),
          r6(lit(1.0) - ssc(col("rs")) / ssc(col("v"))).as("seasonal_r2"),
          r6(lit(1.0) - ssc(col("r1")) / ssc(col("v"))).as("trend_r2"),
          r6(sqrt((dsum(col("r2") * col("r2")) -
            dsum(col("r2")) * dsum(col("r2")) / count(lit(1))) /
            (count(lit(1)) - 1))).as("resid_std"))
        .orderBy("el")
    },

    /** Forecast-ensemble backtest per element: train days 0–22, eval
      * 23–29. Naive (last train value), seasonal-naive (di − 7), drift
      * (last + slope·h from first/last train values), EXACT recursive
      * EWMA (α = 0.3, closed-form weighted sum over train days), and
      * their equal-weight ensemble — MAE each, and the combination
      * flag: does the average beat the best single model. Pure column
      * math on the grid.
      */
    QueryDef(
      "q466_forecast_ensemble",
      s"""WITH ${CausalOps.dailySql},
         |trn AS (SELECT * FROM daily WHERE di <= 22),
         |tst AS (SELECT * FROM daily WHERE di >= 23),
         |anchor AS (
         |  SELECT el, max_by(v, di) AS v_last, min_by(v, di) AS v_first,
         |    max(di) AS d_last, min(di) AS d_first
         |  FROM trn GROUP BY 1),
         |ew AS (
         |  SELECT el,
         |    ${dsumSql("0.3 * pow(0.7, CAST(22 - di AS DOUBLE)) * v")}
         |      - 0.3 * pow(0.7, CAST(22 AS DOUBLE))
         |        * min_by(v, di) + pow(0.7, CAST(22 AS DOUBLE)) * min_by(v, di)
         |      AS f_ewma
         |  FROM trn GROUP BY 1),
         |fc AS (
         |  SELECT t.el, t.di, t.v,
         |    a.v_last AS f_naive,
         |    sn.v AS f_snaive,
         |    a.v_last + (a.v_last - a.v_first) / (a.d_last - a.d_first)
         |      * (t.di - a.d_last) AS f_drift,
         |    ew.f_ewma
         |  FROM tst t
         |  JOIN anchor a ON a.el = t.el
         |  JOIN ew ON ew.el = t.el
         |  JOIN daily sn ON sn.el = t.el AND sn.di = t.di - 7),
         |er AS (
         |  SELECT el,
         |    ${dsumSql("abs(v - f_naive)")} / count(*) AS mae_naive,
         |    ${dsumSql("abs(v - f_snaive)")} / count(*) AS mae_snaive,
         |    ${dsumSql("abs(v - f_drift)")} / count(*) AS mae_drift,
         |    ${dsumSql("abs(v - f_ewma)")} / count(*) AS mae_ewma,
         |    ${dsumSql("abs(v - (f_naive + f_snaive + f_drift + f_ewma) / 4.0)")}
         |      / count(*) AS mae_ens
         |  FROM fc GROUP BY 1)
         |SELECT el, round(mae_naive, 6) AS mae_naive,
         |  round(mae_snaive, 6) AS mae_snaive, round(mae_drift, 6) AS mae_drift,
         |  round(mae_ewma, 6) AS mae_ewma, round(mae_ens, 6) AS mae_ensemble,
         |  CASE WHEN mae_ens < least(mae_naive, mae_snaive, mae_drift, mae_ewma)
         |    THEN 1 ELSE 0 END AS ensemble_wins
         |FROM er ORDER BY el""".stripMargin) { (s, d) =>
      val g = CausalOps.daily(s, d)
      val trn = g.where(col("di") <= 22)
      val tst = g.where(col("di") >= 23)
      val ewTerm = dsum(lit(0.3) * pow(lit(0.7), (lit(22) - col("di")).cast("double"))
        * col("v"))
      val anchor = trn.groupBy(col("el").as("ael")).agg(
        max_by(col("v"), col("di")).as("v_last"),
        min_by(col("v"), col("di")).as("v_first"),
        max(col("di")).as("d_last"), min(col("di")).as("d_first"),
        (ewTerm - lit(0.3) * pow(lit(0.7), lit(22).cast("double")) *
          min_by(col("v"), col("di")) +
          pow(lit(0.7), lit(22).cast("double")) * min_by(col("v"), col("di")))
          .as("f_ewma"))
      val sn = g.select(col("el").as("sel"), col("di").as("sdi"),
        col("v").as("snv"))
      val fc = tst
        .join(broadcast(anchor), col("ael") === col("el"))
        .join(sn, col("sel") === col("el") && col("sdi") === col("di") - 7)
        .select(col("el"), col("di"), col("v"),
          col("v_last").as("f_naive"), col("snv").as("f_snaive"),
          (col("v_last") + (col("v_last") - col("v_first")) /
            (col("d_last") - col("d_first")) * (col("di") - col("d_last")))
            .as("f_drift"),
          col("f_ewma"))
      val er = fc.groupBy("el").agg(
        (dsum(abs(col("v") - col("f_naive"))) / count(lit(1))).as("mae_naive"),
        (dsum(abs(col("v") - col("f_snaive"))) / count(lit(1))).as("mae_snaive"),
        (dsum(abs(col("v") - col("f_drift"))) / count(lit(1))).as("mae_drift"),
        (dsum(abs(col("v") - col("f_ewma"))) / count(lit(1))).as("mae_ewma"),
        (dsum(abs(col("v") - (col("f_naive") + col("f_snaive") + col("f_drift")
          + col("f_ewma")) / 4.0)) / count(lit(1))).as("mae_ens"))
      er.select(col("el"), r6(col("mae_naive")).as("mae_naive"),
          r6(col("mae_snaive")).as("mae_snaive"),
          r6(col("mae_drift")).as("mae_drift"),
          r6(col("mae_ewma")).as("mae_ewma"),
          r6(col("mae_ens")).as("mae_ensemble"),
          when(col("mae_ens") < least(col("mae_naive"), col("mae_snaive"),
            col("mae_drift"), col("mae_ewma")), 1).otherwise(0)
            .as("ensemble_wins"))
        .orderBy("el")
    }
  )
}
