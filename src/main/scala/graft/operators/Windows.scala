package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window-function surface (SURVEY.md §2.B group 5) — the
  * BASELINE-mandated backbone for time-series features. All windows
  * partition by an entity key (user_id / event_type), so at 100 TB each
  * window is a per-key sort within a hash-partitioned shuffle — no global
  * ordering anywhere except where a query's semantics demand it.
  *
  * Ordering inside every window carries `event_id` as a unique tie-break
  * so results are deterministic across engines.
  */
object Windows {
  private def r2(c: Column) = round(c, 2)
  import CausalOps.r6

  private val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))

  val defs: Seq[QueryDef] = Seq(

    /** Per-group top-k via row_number (dedup-keep-first pattern). */
    QueryDef(
      "q40_topk_per_group",
      """SELECT event_type, rn, event_id, value FROM (
        |  SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rn
        |  FROM events) t
        |WHERE rn <= 3 ORDER BY event_type, rn""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("event_type")).orderBy(col("value").desc, col("event_id"))
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select("event_type", "rn", "event_id", "value")
        .orderBy("event_type", "rn")
    },

    /** lag/lead/first/last — deltas between consecutive per-entity
      * observations ([ASM]: yearly-slice deltas, SURVEY.md group 5).
      */
    QueryDef(
      "q41_lag_lead",
      """SELECT user_id, event_id,
        |  round(value - lag(value) OVER w, 2) AS delta_prev,
        |  lead(event_type) OVER w AS next_type,
        |  first_value(value) OVER w AS first_val,
        |  last_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_val
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
      val wFull = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          r2(col("value") - lag(col("value"), 1).over(byUser)).as("delta_prev"),
          lead(col("event_type"), 1).over(byUser).as("next_type"),
          first(col("value")).over(byUser).as("first_val"),
          last(col("value")).over(wFull).as("last_val"))
        .orderBy("user_id", "event_id")
    },

    /** Rolling frame: trailing 3-row sum/avg per entity. */
    QueryDef(
      "q42_rolling_frame",
      """SELECT user_id, event_id,
        |  round(sum(value) OVER w, 2) AS roll_sum3,
        |  round(avg(value) OVER w, 6) AS roll_avg3,
        |  CAST(count(*) OVER w AS BIGINT) AS roll_n
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
      val w = byUser.rowsBetween(-2, 0)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          r2(sum(col("value")).over(w)).as("roll_sum3"),
          r6(avg(col("value")).over(w)).as("roll_avg3"),
          count(lit(1)).over(w).as("roll_n"))
        .orderBy("user_id", "event_id")
    },

    /** Cumulative sum + running minimum (reference R28 running-minimum
      * tracking, `model.py:219-228`, relationalized).
      */
    QueryDef(
      "q43_cumsum_runmin",
      """SELECT user_id, event_id,
        |  round(sum(value) OVER w, 2) AS cum_value,
        |  round(min(value) OVER w, 2) AS run_min
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
        |ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
      val w = byUser.rowsBetween(Window.unboundedPreceding, 0)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          r2(sum(col("value")).over(w)).as("cum_value"),
          r2(min(col("value")).over(w)).as("run_min"))
        .orderBy("user_id", "event_id")
    },

    /** Softmax over a partition — the relational form of RETAIN's
      * time-axis attention softmax (reference R13, `model.py:74-75`):
      * exp(v - max v) / sum exp(v - max v), numerically stable.
      */
    QueryDef(
      "q44_softmax_window",
      """WITH ex AS (
        |  SELECT user_id, event_id,
        |    exp(value - max(value) OVER (PARTITION BY user_id)) AS e
        |  FROM events)
        |SELECT user_id, event_id,
        |  round(e / sum(e) OVER (PARTITION BY user_id), 6) AS attn
        |FROM ex
        |ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
      val p = Window.partitionBy(col("user_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          r6(exp(col("value") - max(col("value")).over(p)) /
            sum(exp(col("value") - max(col("value")).over(p))).over(p)).as("attn"))
        .orderBy("user_id", "event_id")
    },

    /** Ranking family: rank / dense_rank / ntile / percent_rank. */
    QueryDef(
      "q45_rank_family",
      """SELECT event_type, event_id,
        |  CAST(rank() OVER w AS INT) AS rnk,
        |  CAST(dense_rank() OVER w AS INT) AS drnk,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  round(percent_rank() OVER w, 6) AS pct_rank
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY value DESC, event_id)
        |ORDER BY event_type, event_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("event_type")).orderBy(col("value").desc, col("event_id"))
      Tables.events(s, d)
        .select(col("event_type"), col("event_id"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"),
          ntile(4).over(w).as("quartile"),
          r6(percent_rank().over(w)).as("pct_rank"))
        .orderBy("event_type", "event_id")
    }
  )
}
