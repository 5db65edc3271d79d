package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-30 batch: node-level causal structure —
  *
  *  - q468 causal hubs: collapse q452's consensus edge table to the
  *    node grain — out-degree / in-degree at votes ≥ 2, net causal
  *    flow, and the strongest outgoing edge — WHICH element drives the
  *    system vs merely reacts; the graph-level summary a dashboard
  *    shows first;
  *  - q469 lead-time estimate: the full cross-correlation profile over
  *    lags 0–7 per directed pair with the argmax lag (ties → smallest
  *    lag) and its correlation — "src leads dst by k days", the
  *    time-to-effect number the lag-1-only family (q229/q441) cannot
  *    answer.
  *
  * Both run on the shared consensus/lead-lag machinery over the
  * PlanCache'd daily grid; node summaries are O(P) aggregates of the
  * O(P²) edge tables.
  */
object Round30Ops {
  import CausalOps.{dsum, dsumSql, r6}

  /** q469's lead-time profile from any (el, di, v) grid — shared by
    * the batch query and the streaming refresh q472 (the causalRefresh
    * contract: final stream refresh == batch oracle bit-for-bit).
    */
  private[graft] def leadTimeFromGrid(s: SparkSession, g: DataFrame): DataFrame = {
    val lg = s.range(1).select(explode(sequence(lit(0), lit(7))).as("lag"))
    val y = g.select(col("el").as("yel"), col("di").as("ydi"), col("v").as("yv"))
    val m = g.crossJoin(broadcast(lg))
      .join(y, col("yel") =!= col("el") && col("ydi") === col("di") + col("lag"))
      .groupBy(col("el").as("src"), col("yel").as("dst"), col("lag"))
      .agg(count(lit(1)).as("n"),
        ((count(lit(1)) * dsum(col("v") * col("yv")) -
          dsum(col("v")) * dsum(col("yv"))) /
          sqrt((count(lit(1)) * dsum(col("v") * col("v")) -
            dsum(col("v")) * dsum(col("v"))) *
            (count(lit(1)) * dsum(col("yv") * col("yv")) -
              dsum(col("yv")) * dsum(col("yv"))))).as("r"))
    val rk = m.select(col("src"), col("dst"), col("lag"), col("n"), col("r"),
      row_number().over(Window.partitionBy(col("src"), col("dst"))
        .orderBy(abs(col("r")).desc, col("lag"))).as("rk"))
    rk.where(col("rk") === 1)
      .select(col("src"), col("dst"), col("lag").cast("int").as("lead_days"),
        r6(col("r")).as("peak_xcorr"), col("n").cast("long").as("n_days"),
        when(col("lag") > 0, 1).otherwise(0).as("lagged_peak"))
      .orderBy("src", "dst")
  }

  /** q469's oracle text, shared with the streaming q472. */
  private[graft] val leadTimeSql: String =
    s"""WITH ${CausalOps.dailySql},
       |lg AS (SELECT unnest(generate_series(0, 7)) AS lag),
       |m AS (
       |  SELECT x.el AS src, y.el AS dst, lg.lag, count(*) AS n,
       |    (count(*) * ${dsumSql("x.v * y.v")} - ${dsumSql("x.v")} * ${dsumSql("y.v")})
       |      / sqrt((count(*) * ${dsumSql("x.v * x.v")} - ${dsumSql("x.v")} * ${dsumSql("x.v")})
       |        * (count(*) * ${dsumSql("y.v * y.v")} - ${dsumSql("y.v")} * ${dsumSql("y.v")}))
       |      AS r
       |  FROM daily x CROSS JOIN lg
       |  JOIN daily y ON y.el <> x.el AND y.di = x.di + lg.lag
       |  GROUP BY 1, 2, 3),
       |rk AS (
       |  SELECT src, dst, lag, n, r,
       |    row_number() OVER (PARTITION BY src, dst
       |      ORDER BY abs(r) DESC, lag) AS rk
       |  FROM m)
       |SELECT src, dst, CAST(lag AS INT) AS lead_days,
       |  round(r, 6) AS peak_xcorr, CAST(n AS BIGINT) AS n_days,
       |  CASE WHEN lag > 0 THEN 1 ELSE 0 END AS lagged_peak
       |FROM rk WHERE rk = 1 ORDER BY src, dst""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    /** Causal hubs: per element, the number of outgoing and incoming
      * consensus edges at votes ≥ 2, net flow (out − in), mean
      * outgoing surrogate p, and the strongest outgoing edge's target
      * (max votes, ties → max |z|, then name) — the node ranking of
      * q452's edge table. Engine side reuses consensusFromGrid (one
      * tree); the oracle re-derives the same scoreboard and collapses
      * it identically.
      */
    QueryDef(
      "q468_causal_hubs", {
        val body = Round27Ops.consensusSql
        // reuse the full consensus statement as a subquery, then the
        // node-grain collapse on top
        s"""WITH edge AS ($body),
           |st AS (
           |  SELECT src, dst,
           |    row_number() OVER (PARTITION BY src
           |      ORDER BY votes DESC, abs(bartlett_z) DESC, dst DESC) AS rn
           |  FROM edge),
           |outs AS (
           |  SELECT src AS el,
           |    count_if(votes >= 2) AS out_deg,
           |    ${dsumSql("p_surrogate")} / count(*) AS mean_out_p
           |  FROM edge GROUP BY 1),
           |ins AS (
           |  SELECT dst AS el, count_if(votes >= 2) AS in_deg
           |  FROM edge GROUP BY 1)
           |SELECT outs.el AS el,
           |  CAST(outs.out_deg AS BIGINT) AS out_deg,
           |  CAST(ins.in_deg AS BIGINT) AS in_deg,
           |  CAST(outs.out_deg - ins.in_deg AS BIGINT) AS net_flow,
           |  round(outs.mean_out_p, 6) AS mean_out_p,
           |  st.dst AS strongest_dst
           |FROM outs JOIN ins ON ins.el = outs.el
           |JOIN st ON st.src = outs.el AND st.rn = 1
           |ORDER BY el""".stripMargin
      }) { (s, d) =>
      CausalOps.guardFullEnum(CausalOps.daily(s, d), "q468_causal_hubs")
      // shares q452's materialized edge table (one consensus derivation
      // per session + sf-dir instead of two)
      val edge = Round27Ops.consensusEdges(s, d)
      // lexicographic (votes, |z|, dst) tiebreak — a struct key gives a
      // total order, unlike the additive votes*1000+|z| composite (which
      // both inverts at |z|>1000 and leaves exact ties engine-arbitrary)
      val key = struct(col("votes"), abs(col("bartlett_z")), col("dst"))
      val outs = edge.groupBy(col("src").as("el")).agg(
        count_if(col("votes") >= 2).as("out_deg"),
        (dsum(col("p_surrogate")) / count(lit(1))).as("mean_out_p"),
        max_by(col("dst"), key).as("strongest_dst"))
      val ins = edge.groupBy(col("dst").as("iel"))
        .agg(count_if(col("votes") >= 2).as("in_deg"))
      outs.join(ins, col("iel") === col("el"))
        .select(col("el"), col("out_deg").cast("long").as("out_deg"),
          col("in_deg").cast("long").as("in_deg"),
          (col("out_deg") - col("in_deg")).cast("long").as("net_flow"),
          r6(col("mean_out_p")).as("mean_out_p"),
          col("strongest_dst"))
        .orderBy("el")
    },

    /** Lead-time estimate: cross-correlation at lags 0–7 per directed
      * pair, the argmax |r| lag (ties → smallest lag, then the rank
      * window's deterministic order) and its signed correlation —
      * "src's today shows up in dst k days later". The lag join is
      * grid×8, the argmax a bounded per-pair rank.
      */
    QueryDef("q469_lead_time", leadTimeSql) { (s, d) =>
      val g = CausalOps.daily(s, d)
      CausalOps.guardFullEnum(g, "q469_lead_time")
      leadTimeFromGrid(s, g)
    }
  )
}
