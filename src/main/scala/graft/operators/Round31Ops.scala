package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-31 batch: FDR-honest edge lists and tail risk —
  *
  *  - q470 edge FDR: Benjamini–Hochberg step-up (α = 0.1) applied to
  *    the circular-shift surrogate p-values of all P(P−1) directed
  *    lead-lag edges — the multiple-comparisons gate on q446's
  *    distribution-free tests, so "this element leads that one"
  *    survives testing 20 hypotheses at once (q438 gates the
  *    contemporaneous correlations; this gates the DIRECTED edges);
  *  - q471 historical VaR and expected shortfall per element: the
  *    exact 10%/5% lower order statistics of the daily series and the
  *    mean at-or-below each cut — ES ≤ VaR by construction, the
  *    coherent tail-risk companion of q437's Gumbel return levels and
  *    q398's Hill index.
  *
  * (q472, registered in streaming/Streaming.scala, replays q469's
  * lead-time profile per micro-batch.)
  *
  * All on the shared grid machinery; the BH rank runs over the
  * cap-guarded O(P²) edge grid, exact order statistics via bounded
  * per-element ranks.
  */
object Round31Ops {
  private def r6(c: Column) = round(c, 6)
  private def dsum(c: Column): Column = sum(c.cast("decimal(38,12)")).cast("double")
  private def dsumSql(x: String) = s"CAST(sum(CAST($x AS DECIMAL(38,12))) AS DOUBLE)"

  val defs: Seq[QueryDef] = Seq(

    /** BH step-up over the directed surrogate p-values: rank the
      * P(P−1) edges' circular-shift p's, k* = max{k : p₍ₖ₎ ≤ kα/m},
      * discovered ⇔ rank ≤ k*. The final honest edge list — every
      * statistic the same tree as q446, the step-up the same idiom as
      * q438 (global rank over the cap-guarded pair grid, k* a 1-row
      * broadcast).
      */
    QueryDef(
      "q470_edge_fdr",
      s"""WITH ${CausalOps.dailySql},
         |${Round26Ops.circularShiftSql("")},
         |sp AS (
         |  SELECT rs.src, rs.dst, max(ob.r_obs) AS r_obs,
         |    round((1.0 + count_if(rs.s > 0 AND abs(rs.r) >= abs(ob.r_obs)))
         |      / count(*), 6) AS p
         |  FROM rs JOIN ob ON ob.src = rs.src AND ob.dst = rs.dst
         |  GROUP BY 1, 2),
         |rk AS (
         |  SELECT src, dst, r_obs, p,
         |    row_number() OVER (ORDER BY p, src, dst) AS rnk,
         |    count(*) OVER () AS mt
         |  FROM sp),
         |ks AS (
         |  SELECT max(CASE WHEN p <= rnk * 0.1 / mt THEN rnk ELSE 0 END) AS kstar
         |  FROM rk)
         |SELECT rk.src AS src, rk.dst AS dst, round(rk.r_obs, 6) AS r_lag1,
         |  rk.p AS p_surrogate, CAST(rk.rnk AS BIGINT) AS p_rank,
         |  round(rk.rnk * 0.1 / rk.mt, 6) AS bh_crit,
         |  CASE WHEN rk.rnk <= ks.kstar THEN 1 ELSE 0 END AS discovered
         |FROM rk CROSS JOIN ks ORDER BY rk.rnk""".stripMargin) { (s, d) =>
      val g = CausalOps.daily(s, d)
      CausalOps.guardFullEnum(g, "q470_edge_fdr")
      val cn = Round26Ops.circularNull(s, g)
        .select(col("src"), col("dst"), col("r_obs"), r6(col("p")).as("p"))
      val rk = graft.PlanCache.cached(s, s"q470_rk|$d") {
        cn.select(col("src"), col("dst"), col("r_obs"), col("p"),
          row_number().over(Window.orderBy(col("p"), col("src"), col("dst")))
            .as("rnk"),
          count(lit(1)).over(Window.partitionBy()).as("mt"))
      }
      val ks = rk.agg(max(when(col("p") <= col("rnk") * 0.1 / col("mt"),
        col("rnk")).otherwise(0)).as("kstar"))
      rk.crossJoin(broadcast(ks))
        .select(col("src"), col("dst"), r6(col("r_obs")).as("r_lag1"),
          col("p").as("p_surrogate"), col("rnk").cast("long").as("p_rank"),
          r6(col("rnk") * 0.1 / col("mt")).as("bh_crit"),
          when(col("rnk") <= col("kstar"), 1).otherwise(0).as("discovered"))
        .orderBy("p_rank")
    },

    /** Historical VaR and expected shortfall per element at the 10% and
      * 5% levels: the exact ⌈qn⌉-th lower order statistic (deterministic
      * (v, di) rank, no interpolation bet) and the mean of the days at
      * or below it — ES ≤ VaR by construction. The empirical tail-risk
      * companion of q437's parametric return levels.
      */
    QueryDef(
      "q471_var_es",
      s"""WITH ${CausalOps.dailySql},
         |${Round24Ops.valueRankSql},
         |cut AS (
         |  SELECT el,
         |    max(CASE WHEN rk = CAST(ceil(n * 0.10) AS BIGINT) THEN v END) AS var10,
         |    max(CASE WHEN rk = CAST(ceil(n * 0.05) AS BIGINT) THEN v END) AS var05
         |  FROM rn GROUP BY 1)
         |SELECT rn.el AS el, CAST(max(rn.n) AS BIGINT) AS n_days,
         |  round(max(cut.var10), 6) AS var_10,
         |  round(${dsumSql("CASE WHEN rn.v <= cut.var10 THEN rn.v END")}
         |    / count_if(rn.v <= cut.var10), 6) AS es_10,
         |  round(max(cut.var05), 6) AS var_05,
         |  round(${dsumSql("CASE WHEN rn.v <= cut.var05 THEN rn.v END")}
         |    / count_if(rn.v <= cut.var05), 6) AS es_05
         |FROM rn JOIN cut ON cut.el = rn.el
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val g = CausalOps.daily(s, d)
      val rn = g.select(col("el"), col("di"), col("v"),
        row_number().over(Window.partitionBy(col("el"))
          .orderBy(col("v"), col("di"))).as("rk"),
        count(lit(1)).over(Window.partitionBy(col("el"))).as("n"))
      val cut = rn.groupBy(col("el").as("cel")).agg(
        max(when(col("rk") === ceil(col("n") * 0.10).cast("long"), col("v")))
          .as("var10"),
        max(when(col("rk") === ceil(col("n") * 0.05).cast("long"), col("v")))
          .as("var05"))
      rn.join(broadcast(cut), col("cel") === col("el"))
        .groupBy("el").agg(
          max(col("n")).cast("long").as("n_days"),
          r6(max(col("var10"))).as("var_10"),
          r6(dsum(when(col("v") <= col("var10"), col("v"))) /
            count_if(col("v") <= col("var10"))).as("es_10"),
          r6(max(col("var05"))).as("var_05"),
          r6(dsum(when(col("v") <= col("var05"), col("v"))) /
            count_if(col("v") <= col("var05"))).as("es_05"))
        .orderBy("el")
    }
  )
}
