package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational surface round-2 gap fill (SURVEY.md §2.B groups 3/4/5/6/7):
  * outer joins, exact percentiles, higher statistical moments, generators
  * (explode/posexplode), scalar/correlated subquery shapes, range-frame
  * windows, conditional aggregation, cross join, distribution windows.
  *
  * Scale notes: the scalar-subquery and cross-join patterns broadcast a
  * 1-row / 25-row side (Catalyst picks BroadcastNestedLoopJoin); the
  * percentile query is an exact single-shuffle groupBy; range windows
  * shuffle once on the entity key like every group-5 window.
  */
object RelationalExt {
  import CausalOps.{r2, r6}

  val defs: Seq[QueryDef] = Seq(

    /** Full outer join with coalesced key — nations seen from the
      * customer side vs the supplier side under disjoint-ish filters.
      */
    QueryDef(
      "q10_join_full_outer",
      """WITH cs AS (
        |  SELECT c_nationkey AS nk, count(*) AS n_cust
        |  FROM customer WHERE c_acctbal > 8000 GROUP BY 1),
        |ss AS (
        |  SELECT s_nationkey AS nk, count(*) AS n_supp
        |  FROM supplier WHERE s_acctbal < 2000 GROUP BY 1)
        |SELECT coalesce(cs.nk, ss.nk) AS nk,
        |  coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
        |FROM cs FULL JOIN ss ON cs.nk = ss.nk
        |ORDER BY nk""".stripMargin) { (s, d) =>
      val cs = Tables.customer(s, d).where(col("c_acctbal") > 8000)
        .groupBy(col("c_nationkey").as("cnk")).agg(count(lit(1)).as("n_cust"))
      val ss = Tables.supplier(s, d).where(col("s_acctbal") < 2000)
        .groupBy(col("s_nationkey").as("snk")).agg(count(lit(1)).as("n_supp"))
      cs.join(ss, col("cnk") === col("snk"), "full")
        .select(coalesce(col("cnk"), col("snk")).as("nk"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
        .orderBy("nk")
    },

    /** Right outer join + explicit NULLS FIRST/LAST ordering: every
      * customer with their (possibly absent) 1995 high-value order;
      * unmatched rows carry nulls that the sort must place
      * deterministically.
      */
    QueryDef(
      "q99_join_right_nulls",
      """SELECT o.o_orderkey, c.c_custkey, o.o_totalprice
        |FROM (SELECT * FROM orders WHERE o_totalprice > 250000
        |      AND year(o_orderdate) = 1995) o
        |RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY o.o_totalprice DESC NULLS LAST, c.c_custkey
        |LIMIT 200""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
        .where(col("o_totalprice") > 250000 && year(col("o_orderdate")) === 1995)
      o.join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"), "right")
        .select(col("o_orderkey"), col("c_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc_nulls_last, col("c_custkey"))
        .limit(200)
    },

    /** Exact interpolated percentiles (Spark `percentile` == DuckDB
      * `quantile_cont`). At 100 TB the drop-in is
      * `approx_percentile` (KLL-style sketch, one pass, mergeable).
      */
    QueryDef(
      "q22_percentiles",
      """SELECT event_type,
        |  round(median(value),6) AS med,
        |  round(quantile_cont(value, 0.25),6) AS p25,
        |  round(quantile_cont(value, 0.90),6) AS p90,
        |  round(max(value),2) AS vmax
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(r6(expr("percentile(value, 0.5)")).as("med"),
          r6(expr("percentile(value, 0.25)")).as("p25"),
          r6(expr("percentile(value, 0.90)")).as("p90"),
          r2(max(col("value"))).as("vmax"))
        .orderBy("event_type")
    },

    /** Higher moments + covariance/correlation. Spark's skewness/kurtosis
      * are population moments (m3/m2^1.5, m4/m2^2-3); DuckDB's builtins
      * are sample-adjusted, so the oracle computes the population form
      * from raw moments explicitly.
      */
    QueryDef(
      "q23_stats_moments",
      """WITH s AS (
        |  SELECT l_returnflag AS rf, l_quantity AS q, l_extendedprice AS p,
        |    avg(l_quantity) OVER (PARTITION BY l_returnflag) AS mq
        |  FROM lineitem)
        |SELECT rf,
        |  round(stddev_samp(q),6) AS sd_qty,
        |  round(var_samp(q),6) AS var_qty,
        |  round(corr(q, p),6) AS corr_qp,
        |  round(covar_samp(q, p),4) AS cov_qp,
        |  round(avg(pow(q-mq,3))/pow(avg(pow(q-mq,2)),1.5),6) AS skew_qty,
        |  round(avg(pow(q-mq,4))/pow(avg(pow(q-mq,2)),2)-3,6) AS kurt_qty
        |FROM s GROUP BY rf ORDER BY rf""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag").as("rf"))
        .agg(r6(stddev_samp(col("l_quantity"))).as("sd_qty"),
          r6(var_samp(col("l_quantity"))).as("var_qty"),
          r6(corr(col("l_quantity"), col("l_extendedprice"))).as("corr_qp"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("cov_qp"),
          r6(skewness(col("l_quantity"))).as("skew_qty"),
          r6(kurtosis(col("l_quantity"))).as("kurt_qty"))
        .orderBy("rf")
    },

    /** Generator/UDTF role (SURVEY.md group 9 "tensor explode"):
      * posexplode of tokenized text → per-source token stats.
      */
    QueryDef(
      "q24_explode_tokens",
      """SELECT source,
        |  count(*) AS n_tokens,
        |  count(DISTINCT w) AS n_uniq,
        |  CAST(max(i) - 1 AS INT) AS max_pos
        |FROM (
        |  SELECT source,
        |    unnest(list_transform(string_split(text, ' '),
        |                          (x, ix) -> {'w': x, 'i': ix}),
        |           recursive := true)
        |  FROM documents) t
        |GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("source"), posexplode(split(col("text"), " ")).as(Seq("i", "w")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_tokens"),
          countDistinct(col("w")).as("n_uniq"),
          max(col("i")).cast("int").as("max_pos"))
        .orderBy("source")
    },

    /** Scalar subquery: global aggregate broadcast against every row
      * (BroadcastNestedLoopJoin of a 1-row side — no shuffle of the fact).
      */
    QueryDef(
      "q25_scalar_subquery",
      """SELECT o_orderstatus, count(*) AS n_above,
        |  round(avg(o_totalprice),2) AS avg_above
        |FROM orders
        |WHERE o_totalprice > 1.5 * (SELECT avg(o_totalprice) FROM orders)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
      val thr = o.agg((avg(col("o_totalprice")) * 1.5).as("thr"))
      o.crossJoin(broadcast(thr))
        .where(col("o_totalprice") > col("thr"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_above"), r2(avg(col("o_totalprice"))).as("avg_above"))
        .orderBy("o_orderstatus")
    },

    /** Correlated EXISTS + NOT EXISTS composed: customers with a 1995
      * order but no high-value order — two semi-type joins on the same
      * key, one shuffle each side at scale.
      */
    QueryDef(
      "q26_exists_correlated",
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |              AND year(o.o_orderdate) = 1995)
        |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |                  AND o.o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      c.join(o.where(year(col("o_orderdate")) === 1995).select(col("o_custkey").as("k1")),
          col("c_custkey") === col("k1"), "left_semi")
        .join(o.where(col("o_totalprice") > 300000).select(col("o_custkey").as("k2")),
          col("c_custkey") === col("k2"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    /** RANGE frame over event-time seconds: trailing 1-hour sum/count per
      * user — the time-windowed rolling feature the fixed-grid assembly
      * generalizes (SURVEY.md group 5 frame specs).
      */
    QueryDef(
      "q27_range_window",
      """SELECT user_id, event_id,
        |  round(sum(value) OVER w, 2) AS sum_1h,
        |  CAST(count(*) OVER w AS BIGINT) AS n_1h
        |FROM (SELECT user_id, event_id, value, CAST(epoch(ts) AS BIGINT) AS sec FROM events) t
        |WINDOW w AS (PARTITION BY user_id ORDER BY sec
        |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("sec"))
        .rangeBetween(-3600, 0)
      Tables.events(s, d)
        .withColumn("sec", unix_timestamp(col("ts")))
        .select(col("user_id"), col("event_id"),
          r2(sum(col("value")).over(w)).as("sum_1h"),
          count(lit(1)).over(w).as("n_1h"))
        .orderBy("user_id", "event_id")
    },

    /** Conditional aggregation family: count_if / bool_or / bool_and /
      * FILTER-style guarded sums (the reference's thresholded accuracy
      * R19 generalized).
      */
    QueryDef(
      "q28_conditional_agg",
      """SELECT event_type,
        |  CAST(count_if(value > 100) AS BIGINT) AS n_big,
        |  bool_or(value > 400) AS any_huge,
        |  bool_and(value >= 0) AS all_nonneg,
        |  round(sum(value) FILTER (WHERE user_id % 2 = 0), 2) AS sum_even_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(count_if(col("value") > 100).as("n_big"),
          bool_or(col("value") > 400).as("any_huge"),
          bool_and(col("value") >= 0).as("all_nonneg"),
          r2(sum(when(col("user_id") % 2 === 0, col("value")))).as("sum_even_users"))
        .orderBy("event_type")
    },

    /** Cross join (cartesian) of two small dims — the one join shape with
      * no key; only ever valid when both sides are broadcast-tiny.
      */
    QueryDef(
      "q39_cross_join",
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin) { (s, d) =>
      Tables.region(s, d).select("r_name")
        .crossJoin(broadcast(Tables.nation(s, d).select("n_name")))
        .orderBy("r_name", "n_name")
    },

    /** Distribution windows: cume_dist + nth_value over a full frame. */
    QueryDef(
      "q46_dist_window",
      """SELECT event_type, event_id,
        |  round(cume_dist() OVER w, 6) AS cd,
        |  nth_value(event_id, 2) OVER (PARTITION BY event_type ORDER BY value DESC, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_best
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY value DESC, event_id)
        |ORDER BY event_type, event_id""".stripMargin) { (s, d) =>
      val wOrd = Window.partitionBy(col("event_type")).orderBy(col("value").desc, col("event_id"))
      val wFull = wOrd.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.events(s, d)
        .select(col("event_type"), col("event_id"),
          r6(cume_dist().over(wOrd)).as("cd"),
          nth_value(col("event_id"), 2).over(wFull).as("second_best"))
        .orderBy("event_type", "event_id")
    }
  )
}
