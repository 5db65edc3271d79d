package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 feature-engineering and layout operators: SQL-text parity,
  * time-series interpolation/EWMA (the gap-filling and smoothing passes
  * upstream of the reference's fixed `[steps=11]` grid, `run.py:18`),
  * equal-frequency binning, PII redaction for corpus curation, and
  * Z-order layout clustering for data skipping.
  *
  * Scale design notes per query live on the QueryDef; the common thread
  * is that every op is either map-side or one hash shuffle on its
  * natural key, and the layout op (q149) replaces the classic global
  * sort-by-curve with a pure map+agg bucket profile so nothing funnels
  * through a single partition.
  */
object FeatureOps {
  /** The q144 SQL text — one string, two engines (see the QueryDef). */
  private val tpchQ5Sql: String =
    """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      |  count(*) AS n_items
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA'
      |  AND o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1997-01-01'
      |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin

  /** q173: NULL / three-valued-logic parity — ONE SQL text, two engines
    * (q144's pattern), pinning the semantics engines most often get
    * wrong: COUNT(col) vs COUNT(*), predicates over NULL, NOT IN
    * against a set CONTAINING NULL (UNKNOWN for every row ⇒ count 0),
    * IS DISTINCT FROM, and coalesce defaults. */
  private val nullParitySql: String =
    """WITH t AS (
      |  SELECT CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v,
      |         CASE WHEN event_id % 11 = 0 THEN NULL ELSE user_id END AS u
      |  FROM events),
      |s AS (SELECT DISTINCT CASE WHEN user_id % 13 = 0 THEN NULL ELSE user_id % 5 END AS k FROM events)
      |SELECT
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(count(v) AS BIGINT) AS n_v,
      |  CAST(count_if(v IS NULL) AS BIGINT) AS n_v_null,
      |  CAST(count_if(u % 5 IN (1, 2)) AS BIGINT) AS n_in,
      |  CAST(count_if(u % 5 NOT IN (SELECT k FROM s)) AS BIGINT) AS n_not_in_nullset,
      |  CAST(count_if(v IS DISTINCT FROM NULL) AS BIGINT) AS n_distinct_from_null,
      |  CAST(count_if(coalesce(v, -1.0) < 0) AS BIGINT) AS n_coalesced
      |FROM t""".stripMargin

  private def r2(c: Column) = round(c, 2)
  private def r4(c: Column) = round(c, 4)
  import CausalOps.r6

  val defs: Seq[QueryDef] = Seq(

    /** SQL front-end parity: ONE SQL text (TPC-H Q5's local-supplier
      * revenue shape) executed verbatim by both engines — Spark parses it
      * through its ANSI front-end over temp views, DuckDB runs the
      * identical string as the oracle. Pins that the engine's SQL surface
      * (implicit joins, date literals, grouped expressions) is dialect-
      * compatible, not just the DataFrame API. Catalyst plans the 6-way
      * star join with broadcast dims + one fact shuffle like q08.
      */
    QueryDef(
      "q144_sql_text_parity",
      FeatureOps.tpchQ5Sql) { (s, d) =>
      for (t <- Seq("region", "nation", "customer", "supplier", "orders", "lineitem"))
        Tables.load(s, d, t).createOrReplaceTempView(t)
      s.sql(FeatureOps.tpchQ5Sql)
    },

    /** Linear interpolation over a densified daily grid (the
      * missing-value policy between q52's forward-fill and the
      * reference's presumed-complete tensors): per user, daily averages
      * on a min..max day spine, gaps filled by the line between the
      * nearest observed neighbors. Two ordered window passes (backward +
      * forward), both partitioned by user_id — one shuffle, no state
      * larger than a row.
      */
    QueryDef(
      "q145_linear_interpolate",
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(sum(CAST(value AS DECIMAL(18,3))) AS DOUBLE) / count(value) AS v
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
        |grid AS (
        |  SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM bounds),
        |j AS (
        |  SELECT g.user_id, g.day, d.v
        |  FROM grid g LEFT JOIN daily d ON d.user_id = g.user_id AND d.day = g.day),
        |f AS (
        |  SELECT user_id, day, v,
        |    last_value(v IGNORE NULLS) OVER wp AS pv,
        |    first_value(v IGNORE NULLS) OVER wn AS nv,
        |    last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER wp AS pd,
        |    first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER wn AS nd
        |  FROM j WINDOW
        |    wp AS (PARTITION BY user_id ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wn AS (PARTITION BY user_id ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, CAST(day AS VARCHAR) AS day,
        |  CAST(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS observed,
        |  CASE WHEN v IS NOT NULL THEN v
        |       WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
        |         pv + (nv - pv) * date_diff('day', pd, day)::DOUBLE / date_diff('day', pd, nd)
        |       ELSE coalesce(pv, nv) END AS v_interp
        |FROM f ORDER BY user_id, day""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
      val daily = e.groupBy(col("user_id"), col("ts").cast("date").as("day"))
        .agg((sum(col("value").cast("decimal(18,3)")).cast("double") /
          count(col("value"))).as("v"))
      val grid = daily.groupBy("user_id")
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("user_id"),
          explode(sequence(col("d0"), col("d1"), expr("INTERVAL 1 DAY"))).as("day"))
      val wp = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val wn = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(0, Window.unboundedFollowing)
      val obsDay = when(col("v").isNotNull, col("day"))
      val f = grid.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"), col("v"),
          last(col("v"), ignoreNulls = true).over(wp).as("pv"),
          first(col("v"), ignoreNulls = true).over(wn).as("nv"),
          last(obsDay, ignoreNulls = true).over(wp).as("pd"),
          first(obsDay, ignoreNulls = true).over(wn).as("nd"))
      f.select(col("user_id"), col("day").cast("string").as("day"),
          when(col("v").isNotNull, 1L).otherwise(0L).as("observed"),
          when(col("v").isNotNull, col("v"))
            .when(col("pv").isNotNull && col("nv").isNotNull,
              col("pv") + (col("nv") - col("pv")) *
                datediff(col("day"), col("pd")).cast("double") /
                datediff(col("nd"), col("pd")).cast("double"))
            .otherwise(coalesce(col("pv"), col("nv"))).as("v_interp"))
        .orderBy("user_id", "day")
    },

    /** Exponentially weighted moving average as a closed-form lag
      * expression: ewma_t = Σ_{j=0..7} 0.7^j·x_{t-j} / Σ 0.7^j over
      * non-null lags — a fixed expression tree (one window pass, stays in
      * whole-stage codegen), NOT a sequential scan, so it parallelizes
      * like any window at 100 TB. The truncation at 8 taps bounds the
      * error by 0.7^8 < 6% of a full EWMA — the standard bounded-memory
      * form. Restricted to purchases to keep per-user series meaningful.
      */
    QueryDef(
      "q146_ewma_window", {
        val taps = (0 until 8).map { j =>
          val w = math.pow(0.7, j)
          (s"coalesce(lag(value, $j) OVER w * $w, 0)",
            s"CASE WHEN lag(value, $j) OVER w IS NOT NULL THEN $w ELSE 0 END")
        }
        s"""SELECT user_id, event_id,
           |  round((${taps.map(_._1).mkString(" + ")}) /
           |        (${taps.map(_._2).mkString(" + ")}), 6) AS ewma
           |FROM events WHERE event_type = 'purchase'
           |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
           |ORDER BY user_id, event_id""".stripMargin
      }) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val taps = (0 until 8).map { j =>
        val wt = math.pow(0.7, j)
        (coalesce(lag(col("value"), j).over(w) * wt, lit(0.0)),
          when(lag(col("value"), j).over(w).isNotNull, wt).otherwise(0.0))
      }
      Tables.events(s, d)
        .where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          r6(taps.map(_._1).reduce(_ + _) / taps.map(_._2).reduce(_ + _)).as("ewma"))
        .orderBy("user_id", "event_id")
    },

    /** Equal-frequency (quantile) binning — the feature-bucketization
      * pass of a training pipeline: ntile(10) per event_type over
      * (value, event_id) (the unique tie-break makes the assignment
      * deterministic), then per-bin boundaries and mass. One shuffle on
      * event_type; the ntile window sorts within each type's partition.
      * At 100 TB the drop-in is approx_percentile boundaries + a
      * width_bucket join (q128's shape) — this is the exact form.
      */
    QueryDef(
      "q147_quantile_binning",
      """SELECT event_type, bin, count(*) AS n,
        |  round(min(value), 2) AS lo, round(max(value), 2) AS hi
        |FROM (
        |  SELECT event_type, value,
        |    CAST(ntile(10) OVER (PARTITION BY event_type ORDER BY value, event_id) AS BIGINT) AS bin
        |  FROM events) t
        |GROUP BY event_type, bin ORDER BY event_type, bin""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
      Tables.events(s, d)
        .select(col("event_type"), col("value"),
          ntile(10).over(w).cast("long").as("bin"))
        .groupBy("event_type", "bin")
        .agg(count(lit(1)).as("n"), r2(min(col("value"))).as("lo"),
          r2(max(col("value"))).as("hi"))
        .orderBy("event_type", "bin")
    },

    /** PII redaction (corpus-curation compliance pass): regex-mask email
      * and phone patterns, count the masked spans. The corpus carries no
      * PII, so deterministic contact strings are synthesized from doc
      * metadata (q142's convention) — the REGEXES and the masking are the
      * operator under test. Pure map work (codegen'd regexp_replace);
      * only O(|sources|) rows survive. min(redacted) hash-verifies an
      * actual masked string per group, not just the counts.
      */
    QueryDef(
      "q148_pii_redact",
      """WITH syn AS (
        |  SELECT doc_id, source,
        |    'reach ' || source || doc_id || '@mail.example.com'
        |      || CASE WHEN doc_id % 3 = 0
        |              THEN ' or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |              ELSE '' END
        |      || ' re: ' || substr(text, 1, 40) AS body
        |  FROM documents),
        |red AS (
        |  SELECT doc_id, source,
        |    len(regexp_extract_all(body, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        |    len(regexp_extract_all(body, '\+1-[0-9]{3}-[0-9]{4}')) AS n_phone,
        |    regexp_replace(
        |      regexp_replace(body, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\+1-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS clean
        |  FROM syn)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_email) AS BIGINT) AS n_emails,
        |  CAST(sum(n_phone) AS BIGINT) AS n_phones,
        |  min(clean) AS sample_clean
        |FROM red GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phoneRe = "\\+1-[0-9]{3}-[0-9]{4}"
      val body = concat(lit("reach "), col("source"), col("doc_id"),
        lit("@mail.example.com"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" or +1-555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(""),
        lit(" re: "), substring(col("text"), 1, 40))
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"), body.as("body"))
        .select(col("source"),
          size(regexp_extract_all(col("body"), lit(emailRe), lit(0))).as("n_email"),
          size(regexp_extract_all(col("body"), lit(phoneRe), lit(0))).as("n_phone"),
          regexp_replace(regexp_replace(col("body"), emailRe, "<EMAIL>"),
            phoneRe, "<PHONE>").as("clean"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_email")).cast("long").as("n_emails"),
          sum(col("n_phone")).cast("long").as("n_phones"),
          min(col("clean")).as("sample_clean"))
        .orderBy("source")
    },

    /** Z-order layout clustering for multi-dimensional data skipping:
      * interleave 8 bits of (user_id, day-of-month) into a Morton code,
      * bucket by the code's high bits, and emit per-bucket ranges of BOTH
      * dims — the min/max file statistics a scan would prune against.
      * Every step is map work + one hash agg (the bucket IS the curve
      * prefix, so no global sort is needed); at 100 TB the same code
      * feeds repartitionByRange(zval) + per-file min/max stats, giving
      * 2-D pruning from 1-D layout.
      */
    QueryDef(
      "q149_zorder_layout", {
        // DuckDB/Postgres give `<<` and `|` EQUAL precedence (left-assoc),
        // so each shifted term must be fully parenthesized or the OR-chain
        // telescopes into ((a|b) << k) and overflows.
        val xBits = (0 until 8).map(j => s"(((((user_id % 256) >> $j) & 1)) << ${2 * j})")
        val yBits = (0 until 8).map(j => s"((((dayofmonth(ts) >> $j) & 1)) << ${2 * j + 1})")
        s"""SELECT zbucket, count(*) AS n,
           |  CAST(min(user_id % 256) AS BIGINT) AS x_lo, CAST(max(user_id % 256) AS BIGINT) AS x_hi,
           |  CAST(min(dayofmonth(ts)) AS BIGINT) AS d_lo, CAST(max(dayofmonth(ts)) AS BIGINT) AS d_hi
           |FROM (
           |  SELECT user_id, ts,
           |    CAST((${(xBits ++ yBits).mkString(" | ")}) >> 8 AS BIGINT) AS zbucket
           |  FROM events) t
           |GROUP BY zbucket ORDER BY zbucket""".stripMargin
      }) { (s, d) =>
      val x = (col("user_id") % 256).cast("int")
      val y = dayofmonth(col("ts"))
      val zbits = (0 until 8).flatMap(j => Seq(
        shiftleft(shiftright(x, j).bitwiseAND(1), 2 * j),
        shiftleft(shiftright(y, j).bitwiseAND(1), 2 * j + 1)))
      Tables.events(s, d)
        .select(col("user_id"), col("ts"),
          shiftright(zbits.reduce(_.bitwiseOR(_)), 8).cast("long").as("zbucket"))
        .groupBy("zbucket")
        .agg(count(lit(1)).as("n"),
          min(col("user_id") % 256).cast("long").as("x_lo"),
          max(col("user_id") % 256).cast("long").as("x_hi"),
          min(dayofmonth(col("ts"))).cast("long").as("d_lo"),
          max(dayofmonth(col("ts"))).cast("long").as("d_hi"))
        .orderBy("zbucket")
    },

    /** See [[nullParitySql]] — the dialect-parity companion to q144,
      * over the NULL semantics corner cases. */
    QueryDef("q173_null_semantics", FeatureOps.nullParitySql) { (s, d) =>
      Tables.events(s, d).createOrReplaceTempView("events")
      s.sql(FeatureOps.nullParitySql)
    },

    /** Time-decayed activity counters — the feature-store primitive
      * behind "clicks in the last week, exponentially weighted": at
      * each purchase, Σ over the user's PRIOR clicks of exp(−λ·Δt),
      * λ = 0.1/day (≈7-day half-life). The naive per-row rescan is
      * O(events²); the engine form is the log-space prefix trick —
      * decompose exp(−λ(t−t_i)) = exp(−λt)·exp(λt_i), so one per-user
      * cumulative window over exp(λt_i) terms gives every event's
      * counter in a single pass (exponent bounded by λ·calendar-span,
      * safe by construction — td is anchored at the dataset epoch
      * 2024-01-01, NOT the unix epoch, precisely so the exponent stays
      * small). User-partitioned window = the natural high-cardinality
      * key.
      */
    QueryDef(
      "q341_decay_features",
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    (epoch_us(ts) - 1704067200000000) / 86400000000.0 AS td
        |  FROM events),
        |g AS (
        |  SELECT user_id, event_id, event_type, td,
        |    sum(CASE WHEN event_type = 'click' THEN exp(0.1 * td) ELSE 0.0 END)
        |      OVER (PARTITION BY user_id ORDER BY td, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cumg
        |  FROM e)
        |SELECT user_id, event_id,
        |  round(exp(-0.1 * td) * coalesce(cumg, 0.0), 6) AS decayed_clicks
        |FROM g WHERE event_type = 'purchase'
        |ORDER BY round(exp(-0.1 * td) * coalesce(cumg, 0.0), 6) DESC, event_id
        |LIMIT 20""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          ((unix_micros(col("ts")) - lit(1704067200000000L)) / 86400000000.0).as("td"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("td"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      e.withColumn("cumg",
          sum(when(col("event_type") === "click", exp(lit(0.1) * col("td")))
            .otherwise(0.0)).over(w))
        .where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          round(exp(lit(-0.1) * col("td")) * coalesce(col("cumg"), lit(0.0)), 6)
            .as("decayed_clicks"))
        .orderBy(col("decayed_clicks").desc, col("event_id")).limit(20)
    },

    /** Column-encoding advisor — the layout audit a lakehouse compactor
      * (q234) consults per column: distinct-value ratio and mean
      * same-value run length along the table's natural sort
      * (orderkey, linenumber), mapped to dictionary / RLE / plain
      * recommendations. Runs are counted inside orderkey groups (the
      * high-cardinality window key — never a global sort); the four
      * audited columns unpivot into one pass.
      */
    QueryDef(
      "q342_encoding_advisor",
      """WITH v AS (
        |  SELECT l_orderkey AS ok, l_linenumber AS ln, cname, val FROM (
        |    SELECT l_orderkey, l_linenumber,
        |      unnest(['l_returnflag', 'l_linestatus', 'l_shipdate', 'l_quantity']) AS cname,
        |      unnest([CAST(l_returnflag AS VARCHAR), CAST(l_linestatus AS VARCHAR),
        |              CAST(l_shipdate AS VARCHAR), CAST(l_quantity AS VARCHAR)]) AS val
        |    FROM lineitem) t),
        |r AS (
        |  SELECT cname, val,
        |    CASE WHEN lag(val) OVER (PARTITION BY cname, ok ORDER BY ln, val) IS DISTINCT FROM val
        |         THEN 1 ELSE 0 END AS run_start
        |  FROM v),
        |a AS (
        |  SELECT cname, count(*) AS n, count(DISTINCT val) AS ndv,
        |    sum(run_start) AS runs
        |  FROM r GROUP BY 1)
        |SELECT cname AS col_name, CAST(n AS BIGINT) AS n, CAST(ndv AS BIGINT) AS ndv,
        |  round(CAST(n AS DOUBLE) / runs, 4) AS mean_run,
        |  CASE WHEN CAST(ndv AS DOUBLE) / n < 0.001 AND CAST(n AS DOUBLE) / runs >= 2.0
        |         THEN 'rle'
        |       WHEN CAST(ndv AS DOUBLE) / n < 0.01 THEN 'dictionary'
        |       ELSE 'plain' END AS advice
        |FROM a ORDER BY cname""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
      val v = li.select(col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
        expr("""stack(4,
          | 'l_returnflag', cast(l_returnflag as string),
          | 'l_linestatus', cast(l_linestatus as string),
          | 'l_shipdate', cast(l_shipdate as string),
          | 'l_quantity', cast(l_quantity as string)) AS (cname, val)""".stripMargin))
      val w = Window.partitionBy(col("cname"), col("ok")).orderBy(col("ln"), col("val"))
      val r = v.withColumn("run_start",
        when(not(lag(col("val"), 1).over(w) <=> col("val")), 1).otherwise(0))
      r.groupBy(col("cname"))
        .agg(count(lit(1)).as("n"), countDistinct(col("val")).as("ndv"),
          sum(col("run_start")).as("runs"))
        .select(col("cname").as("col_name"), col("n").cast("long").as("n"),
          col("ndv").cast("long").as("ndv"),
          round(col("n").cast("double") / col("runs"), 4).as("mean_run"),
          when(col("ndv").cast("double") / col("n") < 0.001 &&
              col("n").cast("double") / col("runs") >= 2.0, "rle")
            .when(col("ndv").cast("double") / col("n") < 0.01, "dictionary")
            .otherwise("plain").as("advice"))
        .orderBy("col_name")
    }
  )
}
