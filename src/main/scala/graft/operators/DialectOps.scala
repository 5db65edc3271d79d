package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.Text.wordsCol
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 batch 3: SQL-dialect surface widening (SURVEY.md §2.B groups
  * 5/6/7) — period-over-period growth, top-k WITH TIES, running
  * distinct-count windows, and array quantifier HOFs.
  */
object DialectOps {

  val defs: Seq[QueryDef] = Seq(

    /** Period-over-period growth (the WoW/YoY BI staple): weekly
      * revenue per event type, each week compared to the previous one
      * with lag() over the AGGREGATED series. The base aggregate is the
      * only big shuffle; the growth window runs over O(weeks × types)
      * rows. Decimal sums keep the weekly revenue bit-identical, so the
      * growth ratio (double division of two identical doubles) matches
      * too.
      */
    QueryDef(
      "q186_period_growth",
      """WITH wk AS (
        |  SELECT event_type, CAST(date_trunc('week', ts) AS DATE) AS week,
        |    CAST(sum(CAST(value AS DECIMAL(28,8))) AS DOUBLE) AS rev
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, CAST(week AS VARCHAR) AS week, round(rev, 2) AS rev,
        |  round((rev - lag(rev) OVER w) / lag(rev) OVER w, 6) AS wow
        |FROM wk
        |WINDOW w AS (PARTITION BY event_type ORDER BY week)
        |ORDER BY event_type, week""".stripMargin) { (s, d) =>
      val wk = Tables.events(s, d)
        .groupBy(col("event_type"),
          date_trunc("week", col("ts")).cast("date").as("week"))
        .agg(sum(col("value").cast("decimal(28,8)")).cast("double").as("rev"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("week"))
      wk.select(col("event_type"), col("week").cast("string").as("week"),
          round(col("rev"), 2).as("rev"),
          round((col("rev") - lag(col("rev"), 1).over(w)) /
            lag(col("rev"), 1).over(w), 6).as("wow"))
        .orderBy("event_type", "week")
    },

    /** Top-k WITH TIES (ANSI FETCH FIRST ... WITH TIES semantics, G6):
      * rank() — not row_number() — keeps every row tied with the k-th,
      * so the result is a deterministic SET with no tie-break dice roll.
      * Runs through TopKPerGroup's WITH-TIES retention mode (boundary
      * ties survive the bounded partial/final pair), so only ~k+ties
      * rows per group ever shuffle — vs the window form's full sort of
      * the orders table.
      */
    QueryDef(
      "q187_topk_with_ties",
      """SELECT o_orderpriority, o_orderkey, round(o_totalprice, 2) AS price, rnk
        |FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC) AS rnk
        |  FROM orders)
        |WHERE rnk <= 5
        |ORDER BY o_orderpriority, price DESC, o_orderkey""".stripMargin) { (s, d) =>
      // WITH-TIES retention runs through the custom bounded operator
      // (partial/final pair — only ~k+ties rows per group reach the
      // exchange) instead of window-sorting the whole orders table; the
      // emitted rnk is then recomputed by a window over the k-bounded
      // survivors, where it is exact because every row of rank <= 5 —
      // including boundary ties — survived retention.
      val o = Tables.orders(s, d)
      val top = graft.plans.TopKPerGroupOps.topKPerGroup(s, o,
        Seq(o("o_orderpriority")), Seq(o("o_totalprice").desc), 5,
        withTies = true)
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc)
      top.withColumn("rnk", rank().over(w))
        .select(col("o_orderpriority"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("price"), col("rnk"))
        .orderBy(col("o_orderpriority"), col("price").desc, col("o_orderkey"))
    },

    /** Running DISTINCT count per user (G5): how many distinct event
      * types each user has touched as of each event. Spark has no
      * COUNT(DISTINCT) OVER; the engine form is size(collect_set() OVER)
      * — same one-shuffle window, state bounded by the type cardinality,
      * which is what makes it viable at 100 TB (the set never exceeds
      * |event_type|).
      */
    QueryDef(
      "q188_distinct_window",
      """SELECT user_id, event_id,
        |  count(DISTINCT event_type) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_types
        |FROM events ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          size(collect_set(col("event_type")).over(w)).cast("long").as("n_types"))
        .orderBy("user_id", "event_id")
    },

    /** Array quantifier HOFs (G7): exists / forall / array_distinct /
      * arrays_overlap over the token arrays — the predicate vocabulary
      * corpus filters are written in. Pure map work; booleans emit as
      * INT for a type-stable hash.
      */
    QueryDef(
      "q189_array_quantifiers",
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
        |  FROM documents WHERE doc_id < 30)
        |SELECT doc_id,
        |  CAST(len(list_filter(ws, x -> x = 'spark')) > 0 AS INT) AS has_spark,
        |  CAST(list_has_any(ws, ['spark', 'fast']) AS INT) AS has_any,
        |  CAST(len(list_filter(ws, x -> len(x) <= 2)) = 0 AS INT) AS all_gt2,
        |  CAST(len(list_distinct(ws)) AS INT) AS n_distinct
        |FROM tok ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).where(col("doc_id") < 30)
        .select(col("doc_id"), wordsCol(col("text")).as("ws"))
        .select(col("doc_id"),
          exists(col("ws"), x => x === "spark").cast("int").as("has_spark"),
          arrays_overlap(col("ws"), array(lit("spark"), lit("fast")))
            .cast("int").as("has_any"),
          forall(col("ws"), x => length(x) > 2).cast("int").as("all_gt2"),
          size(array_distinct(col("ws"))).as("n_distinct"))
        .orderBy("doc_id")
    },

    /** Nested-struct editing (G7, the lakehouse schema-evolution
      * surface): `Column.withField` adds a computed member and
      * `dropFields` removes one without rebuilding the struct — the
      * in-place nested rewrite `UpdateFields` plans as pure projection,
      * no shuffle. The oracle states the flattened result directly.
      */
    QueryDef(
      "q193_struct_edit",
      """SELECT o_orderkey, o_orderkey AS k, round(o_totalprice, 2) AS p,
        |  round(o_totalprice * 1.1, 2) AS p2
        |FROM orders WHERE o_orderkey < 200 ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      Tables.orders(s, d).where(col("o_orderkey") < 200)
        .select(col("o_orderkey"),
          struct(col("o_orderkey").as("k"), col("o_totalprice").as("p"),
            col("o_orderstatus").as("st")).as("o"))
        .select(col("o_orderkey"),
          col("o").withField("p2", round(col("o.p") * 1.1, 2))
            .dropFields("st").as("o2"))
        .select(col("o_orderkey"), col("o2.k").as("k"),
          round(col("o2.p"), 2).as("p"), col("o2.p2").as("p2"))
        .orderBy("o_orderkey")
    },

    /** Point-in-time join via the UNION trick (G3/G5, the shape that
      * replaces a range join at scale): purchase "state" snapshots and
      * click facts union into ONE per-user ordered stream; a single
      * window pass carries the last non-null state onto each fact —
      * kind sorts states before same-instant facts, so a click at the
      * exact snapshot timestamp sees the new state (as-of ≤ semantics).
      * One shuffle on user_id, zero join nodes; the naive interval-join
      * formulation is O(facts × states) per user and melts at 100 TB.
      */
    QueryDef(
      "q194_pit_union_join",
      """WITH u AS (
        |  SELECT user_id, ts, event_id, CAST(floor(value / 20) AS BIGINT) AS state,
        |    0 AS kind, CAST(NULL AS DOUBLE) AS fact_val
        |  FROM events WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT user_id, ts, event_id, NULL, 1, value
        |  FROM events WHERE event_type = 'click'),
        |c AS (
        |  SELECT user_id, kind, fact_val,
        |    last_value(state IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY ts, kind, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS state
        |  FROM u)
        |SELECT state, count(*) AS n_clicks, count(DISTINCT user_id) AS users,
        |  round(CAST(sum(CAST(fact_val AS DECIMAL(28,8))) AS DOUBLE) / count(*), 4) AS avg_val
        |FROM c WHERE kind = 1 AND state IS NOT NULL
        |GROUP BY state ORDER BY state""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
      val states = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"),
          floor(col("value") / 20).cast("long").as("state"),
          lit(0).as("kind"), lit(null).cast("double").as("fact_val"))
      val facts = e.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"),
          lit(null).cast("long").as("state"),
          lit(1).as("kind"), col("value").as("fact_val"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("kind"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      states.unionByName(facts)
        .withColumn("state", last(col("state"), ignoreNulls = true).over(w))
        .where(col("kind") === 1 && col("state").isNotNull)
        .groupBy("state")
        .agg(count(lit(1)).as("n_clicks"),
          countDistinct(col("user_id")).as("users"),
          round(sum(col("fact_val").cast("decimal(28,8)")).cast("double") /
            count(lit(1)), 4).as("avg_val"))
        .orderBy("state")
    },

    /** UDF/UDAF registration + parameterized SQL (G9, the registration
      * surface §2.A lists as absent from the reference): a scalar
      * logistic UDF and a typed-Aggregator RMS UDAF registered into the
      * session function registry, then invoked from ONE parameterized
      * SQL text (named `:param` markers — bound as literals before
      * optimization, so the filter still pushes down). The UDAF buffers
      * a scale-8 BigDecimal sum of squares — the exact arithmetic of
      * the oracle's DECIMAL(28,8) cast — so partial-aggregation order
      * cannot perturb the result.
      */
    QueryDef(
      "q198_udaf_register",
      """SELECT event_type,
        |  round(sqrt(CAST(sum(CAST(value * value AS DECIMAL(28,8))) AS DOUBLE)
        |    / count(*)), 4) AS rms,
        |  round(CAST(sum(CAST(1.0 / (1.0 + exp(-(value / 100.0))) AS DECIMAL(28,12)))
        |    AS DOUBLE) / count(*), 6) AS mean_sig
        |FROM events WHERE value > 0.0
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Aggregator
      import org.apache.spark.sql.{Encoder, Encoders}
      val rms = new Aggregator[Double, (BigDecimal, Long), Double] {
        override def zero: (BigDecimal, Long) = (BigDecimal(0), 0L)
        override def reduce(b: (BigDecimal, Long), v: Double): (BigDecimal, Long) =
          (b._1 + BigDecimal(v * v).setScale(8, BigDecimal.RoundingMode.HALF_UP),
            b._2 + 1)
        override def merge(a: (BigDecimal, Long), b: (BigDecimal, Long)): (BigDecimal, Long) =
          (a._1 + b._1, a._2 + b._2)
        override def finish(b: (BigDecimal, Long)): Double =
          if (b._2 == 0) 0.0 else math.sqrt(b._1.toDouble / b._2)
        override def bufferEncoder: Encoder[(BigDecimal, Long)] =
          Encoders.product[(BigDecimal, Long)]
        override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
      }
      s.udf.register("graft_rms", udaf(rms))
      s.udf.register("graft_sig",
        (x: Double) => 1.0 / (1.0 + math.exp(-x)))
      Tables.events(s, d).createOrReplaceTempView("events")
      s.sql(
        """SELECT event_type,
          |  round(graft_rms(value), 4) AS rms,
          |  round(CAST(sum(CAST(graft_sig(value / :scale) AS DECIMAL(28,12)))
          |    AS DOUBLE) / count(*), 6) AS mean_sig
          |FROM events WHERE value > :minv
          |GROUP BY event_type ORDER BY event_type""".stripMargin,
        Map("scale" -> 100.0, "minv" -> 0.0))
    },

    /** Nested array-of-struct processing (G7/G9, the denormalized
      * "order with its items inline" document shape): lineitems collect
      * into a per-order struct array, sort DESC by full struct
      * comparison (price, then linenumber — deterministic because
      * linenumbers are unique), and the top-2 slice is read with field
      * accessors. One shuffle (the collect), everything after is
      * map-side HOF work on the nested value — how a document store /
      * feature-struct column is processed without re-exploding.
      */
    QueryDef(
      "q200_nested_items",
      """WITH li AS (
        |  SELECT l_orderkey, {'p': l_extendedprice, 'ln': l_linenumber} AS s
        |  FROM lineitem WHERE l_orderkey < 500),
        |agg AS (
        |  SELECT l_orderkey, list_sort(list(s), 'DESC') AS items
        |  FROM li GROUP BY l_orderkey)
        |SELECT l_orderkey, CAST(len(items) AS INT) AS n_items,
        |  items[1].ln AS top1_ln, items[2].ln AS top2_ln,
        |  round(items[1].p + coalesce(items[2].p, 0.0), 2) AS top2_sum
        |FROM agg ORDER BY l_orderkey""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d).where(col("l_orderkey") < 500)
        .select(col("l_orderkey"),
          struct(col("l_extendedprice").as("p"), col("l_linenumber").as("ln")).as("s"))
        .groupBy("l_orderkey")
        .agg(sort_array(collect_list(col("s")), asc = false).as("items"))
        .select(col("l_orderkey"), size(col("items")).as("n_items"),
          col("items").getItem(0).getField("ln").as("top1_ln"),
          try_element_at(col("items"), lit(2)).getField("ln").as("top2_ln"),
          round(col("items").getItem(0).getField("p") +
            coalesce(try_element_at(col("items"), lit(2)).getField("p"), lit(0.0)), 2)
            .as("top2_sum"))
        .orderBy("l_orderkey")
    }
  )
}
