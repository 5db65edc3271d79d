package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series assembly front-end ([ASM] surface, SURVEY.md §2.B groups
  * 3/5): the engine-side replacement for the reference's missing
  * `data_loader` (`run.py:47`) — it turns the raw `events` stream into the
  * dense fixed-grid per-entity series the reference presumes already built
  * (`model.py:45`: `[n, steps, features]`).
  *
  * The reference's grid is 11 yearly slices (`run.py:18`); the testdata
  * spans one month, so the grid here is daily — same operator shapes
  * (bucket → pivot → densify → forward-fill → ordered assembly), different
  * granularity constant. Everything partitions by the entity key
  * (`user_id`), so at 100 TB each step is one hash shuffle on the key
  * already used downstream.
  */
object TimeSeries {
  import CausalOps.r2

  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  val defs: Seq[QueryDef] = Seq(

    /** Fixed-grid time bucketing (the `steps` axis, `run.py:18`). */
    QueryDef(
      "q50_time_bucket",
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
        |  count(*) AS n, round(sum(value),2) AS total
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("ts").cast("date").cast("string").as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), r2(sum(col("value"))).as("total"))
        .orderBy("day", "event_type")
    },

    /** Long → wide pivot: per-entity dense feature vector, one column per
      * event_type — builds the reference's 73-wide feature rows
      * (`model.py:45`) from an event log.
      */
    QueryDef(
      "q51_pivot_features",
      """SELECT user_id,
        |  coalesce(round(sum(CASE WHEN event_type='click' THEN value END),2),0.0) AS f_click,
        |  coalesce(round(sum(CASE WHEN event_type='error' THEN value END),2),0.0) AS f_error,
        |  coalesce(round(sum(CASE WHEN event_type='purchase' THEN value END),2),0.0) AS f_purchase,
        |  coalesce(round(sum(CASE WHEN event_type='signup' THEN value END),2),0.0) AS f_signup,
        |  coalesce(round(sum(CASE WHEN event_type='view' THEN value END),2),0.0) AS f_view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      val pivoted = Tables.events(s, d)
        .groupBy("user_id")
        .pivot("event_type", eventTypes)
        .agg(r2(sum(col("value"))))
      eventTypes.foldLeft(pivoted) { (df, t) =>
        df.withColumn(s"f_$t", coalesce(col(t), lit(0.0))).drop(t)
      }.select(col("user_id") +: eventTypes.map(t => col(s"f_$t")): _*)
        .orderBy("user_id")
    },

    /** Densification to a gap-free grid + forward fill: `sequence` +
      * explode + left join + `last(ignoreNulls)` over a running frame
      * (SURVEY.md group 5 "time-series densification").
      */
    QueryDef(
      "q52_densify_ffill",
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, round(sum(value),2) AS day_value
        |  FROM events GROUP BY 1, 2),
        |bounds AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
        |  FROM events GROUP BY 1),
        |grid AS (
        |  SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM bounds)
        |SELECT g.user_id, CAST(g.day AS VARCHAR) AS day, d.day_value,
        |  last_value(d.day_value IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        |FROM grid g LEFT JOIN daily d ON d.user_id = g.user_id AND d.day = g.day
        |ORDER BY g.user_id, day""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
      val daily = e.groupBy(col("user_id"), col("ts").cast("date").as("day"))
        .agg(r2(sum(col("value"))).as("day_value"))
      val grid = e.groupBy("user_id")
        .agg(min(col("ts").cast("date")).as("d0"), max(col("ts").cast("date")).as("d1"))
        .select(col("user_id"), explode(sequence(col("d0"), col("d1"), expr("INTERVAL 1 DAY"))).as("day"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, 0)
      grid.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day").cast("string").as("day"), col("day_value"),
          last(col("day_value"), ignoreNulls = true).over(w).as("filled"))
        .orderBy("user_id", "day")
    },

    /** As-of join: for each purchase, the latest prior click by the same
      * user (SURVEY.md group 3). Equi key (user) + range predicate +
      * row_number keep-latest — shuffles once on user_id at scale.
      */
    QueryDef(
      "q53_asof_join",
      """SELECT p_id, user_id, p_time, last_click_id FROM (
        |  SELECT p.event_id AS p_id, p.user_id,
        |    strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS p_time,
        |    c.event_id AS last_click_id,
        |    row_number() OVER (PARTITION BY p.event_id ORDER BY c.ts DESC NULLS LAST, c.event_id DESC NULLS LAST) AS rn
        |  FROM events p LEFT JOIN events c
        |    ON c.user_id = p.user_id AND c.event_type = 'click' AND c.ts <= p.ts
        |  WHERE p.event_type = 'purchase') t
        |WHERE rn = 1 ORDER BY p_id""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
      val p = e.where(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
      val c = e.where(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
      val w = Window.partitionBy(col("p_id")).orderBy(col("c_ts").desc, col("c_id").desc)
      p.join(c, col("c_user") === col("p_user") && col("c_ts") <= col("p_ts"), "left")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("p_id"), col("p_user").as("user_id"),
          date_format(col("p_ts"), "yyyy-MM-dd HH:mm:ss").as("p_time"),
          col("c_id").as("last_click_id"))
        .orderBy("p_id")
    },

    /** Gap-based sessionization (30-min inactivity gap): lag + flag +
      * running sum = session id; then one agg per session.
      */
    QueryDef(
      "q54_sessionize",
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR date_diff('second', lag(ts) OVER w, ts) > 1800 THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, event_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM flagged)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS start_time,
        |  CAST(date_diff('second', min(ts), max(ts)) AS BIGINT) AS dur_sec
        |FROM sess GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin) { (s, d) =>
      val wo = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wrun = wo.rowsBetween(Window.unboundedPreceding, 0)
      Tables.events(s, d)
        .withColumn("new_s",
          when(lag(col("ts"), 1).over(wo).isNull
            || unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(wo)) > 1800, 1)
            .otherwise(0))
        .withColumn("session_id", sum(col("new_s")).over(wrun))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("start_time"),
          (unix_timestamp(max(col("ts"))) - unix_timestamp(min(col("ts")))).as("dur_sec"))
        .select(col("user_id"), col("session_id").cast("long").as("session_id"),
          col("n_events"), col("start_time"), col("dur_sec"))
        .orderBy("user_id", "session_id")
    },

    /** Ordered per-entity series assembly — the engine-side form of the
      * reference's `[steps, features]` row build (R8, `model.py:135`):
      * daily totals as integer cents, assembled in time order. The sorted
      * day:cents encoding keeps the hash compare engine-agnostic.
      */
    QueryDef(
      "q55_series_assembly",
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(floor(sum(value)*100 + 0.5) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_steps,
        |  string_agg(CAST(day AS VARCHAR) || ':' || CAST(cents AS VARCHAR), ',' ORDER BY day) AS series
        |FROM daily GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"), col("ts").cast("date").as("day"))
        .agg(floor(sum(col("value")) * 100 + 0.5).cast("long").as("cents"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_steps"),
          array_join(array_sort(collect_list(
            concat(col("day").cast("string"), lit(":"), col("cents").cast("string")))), ",").as("series"))
        .orderBy("user_id")
    },

    /** Interval/overlap join: lineitems shipped within 30 days of their
      * order date (equi key + range residual).
      */
    QueryDef(
      "q56_interval_join",
      """SELECT o_orderstatus, count(*) AS n_shipped_30d,
        |  round(sum(l_extendedprice),2) AS total
        |FROM lineitem l JOIN orders o
        |  ON l.l_orderkey = o.o_orderkey
        |  AND l.l_shipdate >= o.o_orderdate
        |  AND l.l_shipdate <= o.o_orderdate + INTERVAL 30 DAY
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d),
          col("l_orderkey") === col("o_orderkey")
            && col("l_shipdate") >= col("o_orderdate")
            && col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 30 DAY"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_shipped_30d"), r2(sum(col("l_extendedprice"))).as("total"))
        .orderBy("o_orderstatus")
    },

    /** Holt linear-trend (double exponential) smoothing per event-type
      * daily series — the irreducibly SEQUENTIAL per-series recurrence
      * (the relational-facing cousin of the RETAIN RNN scan, R10): the
      * engine form is typed groupByKey + mapGroups, sorting each group
      * and folding the recurrence — data-parallel ACROSS series, exactly
      * §7.5.1's scaling argument. Daily means are decimal-exact and the
      * α=0.5 / β=0.25 coefficients are binary fractions written in the
      * same expression shape both engines evaluate, so even this
      * recurrence hash-verifies against a recursive-CTE oracle.
      */
    QueryDef(
      "q199_holt_trend",
      """WITH RECURSIVE daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(sum(CAST(value AS DECIMAL(18,3))) AS DOUBLE) / count(value) AS y
        |  FROM events GROUP BY 1, 2),
        |idx AS (
        |  SELECT event_type, y,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM daily),
        |rec AS (
        |  SELECT i1.event_type, 2 AS rn, i1.n, i2.y AS l, i2.y - i1.y AS b
        |  FROM idx i1 JOIN idx i2 ON i2.event_type = i1.event_type AND i2.rn = 2
        |  WHERE i1.rn = 1
        |  UNION ALL
        |  SELECT r.event_type, r.rn + 1, r.n,
        |    0.5 * d.y + 0.5 * (r.l + r.b),
        |    0.25 * ((0.5 * d.y + 0.5 * (r.l + r.b)) - r.l) + 0.75 * r.b
        |  FROM rec r JOIN idx d ON d.event_type = r.event_type AND d.rn = r.rn + 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n_days,
        |  round(l, 6) AS level, round(b, 6) AS trend,
        |  round(l + b, 6) AS forecast
        |FROM rec WHERE rn = n
        |ORDER BY event_type""".stripMargin) { (s, d) =>
      import s.implicits._
      Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg((sum(col("value").cast("decimal(18,3)")).cast("double") /
          count(col("value"))).as("y"))
        .select(col("event_type"), col("day"), col("y"))
        .as[(String, java.sql.Date, Double)]
        .groupByKey(_._1)
        .flatMapGroups { (et, it) =>
          val ys = it.toArray.sortBy(_._2.getTime).map(_._3)
          // a 1-day series has no trend anchor: the recursive-CTE oracle
          // anchors at rn=2 and so emits no row for it — mirror that
          // instead of reading ys(1) and crashing
          if (ys.length < 2) Iterator.empty
          else {
            var l = ys(1)
            var b = ys(1) - ys(0)
            var t = 2
            while (t < ys.length) {
              val lNew = 0.5 * ys(t) + 0.5 * (l + b)
              b = 0.25 * ((0.5 * ys(t) + 0.5 * (l + b)) - l) + 0.75 * b
              l = lNew
              t += 1
            }
            Iterator.single((et, ys.length.toLong, l, b))
          }
        }
        .toDF("event_type", "n_days", "l", "b")
        .select(col("event_type"), col("n_days"),
          round(col("l"), 6).as("level"), round(col("b"), 6).as("trend"),
          round(col("l") + col("b"), 6).as("forecast"))
        .orderBy("event_type")
    },

    /** OHLC bar resampling (round 7): the candle every irregular tick
      * stream gets rolled into — per (element, day): open = first value
      * in (ts, event_id) order, close = last, high/low = max/min, plus
      * volume. One (el, day) shuffle; open/close come from ascending and
      * descending row_numbers inside the same window pass (no
      * struct-keyed argmin, which the oracle dialect lacks, and no
      * second shuffle). Restricted to the first week to keep the output
      * a readable 35 bars.
      */
    QueryDef(
      "q237_ohlc_bars",
      """WITH w AS (
        |  SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, value,
        |    row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
        |      ORDER BY ts, event_id) AS ra,
        |    row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
        |      ORDER BY ts DESC, event_id DESC) AS rd
        |  FROM events WHERE CAST(ts AS DATE) < DATE '2024-01-08')
        |SELECT event_type, day,
        |  round(max(CASE WHEN ra = 1 THEN value END), 2) AS open,
        |  round(max(value), 2) AS high, round(min(value), 2) AS low,
        |  round(max(CASE WHEN rd = 1 THEN value END), 2) AS close,
        |  CAST(count(*) AS BIGINT) AS volume
        |FROM w GROUP BY event_type, day ORDER BY event_type, day""".stripMargin) { (s, d) =>
      val day = col("ts").cast("date")
      val wa = Window.partitionBy(col("event_type"), day).orderBy(col("ts"), col("event_id"))
      val wd = Window.partitionBy(col("event_type"), day)
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.events(s, d)
        .where(day < lit("2024-01-08").cast("date"))
        .select(col("event_type"), date_format(day, "yyyy-MM-dd").as("day"), col("value"),
          row_number().over(wa).as("ra"), row_number().over(wd).as("rd"))
        .groupBy("event_type", "day")
        .agg(round(max(when(col("ra") === 1, col("value"))), 2).as("open"),
          round(max(col("value")), 2).as("high"),
          round(min(col("value")), 2).as("low"),
          round(max(when(col("rd") === 1, col("value"))), 2).as("close"),
          count(lit(1)).as("volume"))
        .orderBy("event_type", "day")
    },

    /** Time-weighted average (round 7): the unbiased mean for IRREGULAR
      * series — each observation weighted by how long it was current
      * (micros until the next event in its (element, day) bar; the
      * day's last event carries no weight). Burst-heavy elements make
      * the naive mean overweight bursts; TWAP fixes it. The weight is
      * an exact integer micros span and value·w sums as an exact
      * decimal product, so both engines agree bit-exactly. Same single
      * (el, day) exchange as q237 — lead() and the aggregate share it.
      */
    QueryDef(
      "q238_time_weighted_avg",
      """WITH w AS (
        |  SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, value,
        |    epoch_us(lead(ts) OVER (PARTITION BY event_type, CAST(ts AS DATE)
        |      ORDER BY ts, event_id)) - epoch_us(ts) AS wt
        |  FROM events)
        |SELECT event_type, day,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,3)) * wt) AS DOUBLE)
        |    / sum(wt), 6) AS twap,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,3))) AS DOUBLE) / count(*), 6) AS naive_mean,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM w WHERE wt IS NOT NULL
        |GROUP BY event_type, day ORDER BY event_type, day""".stripMargin) { (s, d) =>
      val day = col("ts").cast("date")
      val wl = Window.partitionBy(col("event_type"), day).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("event_type"), date_format(day, "yyyy-MM-dd").as("day"), col("value"),
          (unix_micros(lead(col("ts"), 1).over(wl)) - unix_micros(col("ts"))).as("wt"))
        .where(col("wt").isNotNull)
        .groupBy("event_type", "day")
        .agg(round(sum(col("value").cast("decimal(18,3)") * col("wt")).cast("double") /
            sum(col("wt")), 6).as("twap"),
          round(sum(col("value").cast("decimal(18,3)")).cast("double") /
            count(lit(1)), 6).as("naive_mean"),
          count(lit(1)).as("n"))
        .orderBy("event_type", "day")
    }
  )
}
