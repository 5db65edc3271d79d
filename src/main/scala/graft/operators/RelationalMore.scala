package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational surface round 3 additions: unpivot/melt, ordered string
  * aggregation, IGNORE NULLS window fill, regression aggregates,
  * distribution entropy, LATERAL joins, and the Spark 4 VARIANT json
  * path. Each query pairs a Catalyst plan with its ANSI/DuckDB oracle;
  * all stay inside whole-stage codegen (no UDFs).
  */
object RelationalMore {
  private def r2(c: Column) = round(c, 2)
  import CausalOps.r6
  private def wordsCol(text: Column): Column = graft.functions.Text.wordsCol(text)

  val defs: Seq[QueryDef] = Seq(

    /** Unpivot/melt (wide → long), the inverse of q51's pivot: three
      * lineitem measures into (measure, val) rows, then re-aggregated.
      * Spark's native `unpivot` is a zero-shuffle generator; the oracle
      * states the same relation as a UNION ALL.
      */
    QueryDef(
      "q47_unpivot_measures",
      """SELECT l_returnflag, measure, round(sum(v),2) AS total, count(*) AS n
        |FROM (
        |  SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS v FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'l_discount', l_discount FROM lineitem)
        |GROUP BY l_returnflag, measure
        |ORDER BY l_returnflag, measure""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .unpivot(
          Array(col("l_returnflag")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "measure", "v")
        .groupBy("l_returnflag", "measure")
        .agg(r2(sum(col("v"))).as("total"), count(lit(1)).as("n"))
        .orderBy("l_returnflag", "measure")
    },

    /** Ordered string aggregation (SQL:2016 LISTAGG ... WITHIN GROUP,
      * native in Spark 4): nations per region in deterministic order.
      * DuckDB spells it string_agg(... ORDER BY).
      */
    QueryDef(
      "q48_listagg_ordered",
      """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations,
        |  count(*) AS n_nations
        |FROM region JOIN nation ON r_regionkey = n_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin) { (s, d) =>
      Tables.region(s, d)
        .join(Tables.nation(s, d), col("r_regionkey") === col("n_regionkey"))
        .groupBy("r_name")
        .agg(expr("listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)").as("nations"),
          count(lit(1)).as("n_nations"))
        .orderBy("r_name")
    },

    /** Forward-fill via IGNORE NULLS window semantics (the gap-fill
      * idiom a feature pipeline uses constantly): values below a
      * threshold become NULL and are carried forward from the last
      * valid observation per user, in event-time order.
      */
    QueryDef(
      "q49_ffill_ignore_nulls",
      """SELECT user_id, event_id,
        |  round(coalesce(last_value(CASE WHEN value >= 50 THEN value END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS UNBOUNDED PRECEDING), -1), 2) AS filled
        |FROM events ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .withColumn("v", when(col("value") >= 50, col("value")))
        .select(col("user_id"), col("event_id"),
          r2(coalesce(last(col("v"), ignoreNulls = true).over(w), lit(-1))).as("filled"))
        .orderBy("user_id", "event_id")
    },

    /** Linear-regression aggregate family (regr_slope / regr_intercept /
      * regr_r2 / corr): per-type trend of value over event-time days —
      * one partial-aggregable pass, the scale-out form of fitting a
      * per-group OLS line.
      */
    QueryDef(
      "q102_regr_family",
      """SELECT event_type,
        |  round(regr_slope(value, date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))), 6) AS slope,
        |  round(regr_intercept(value, date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))), 4) AS icept,
        |  round(regr_r2(value, date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))), 6) AS r2,
        |  round(corr(value, date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))), 6) AS c,
        |  count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val day = datediff(to_date(col("ts")), lit("2024-01-01")).cast("double")
      Tables.events(s, d)
        .withColumn("day", day)
        .groupBy("event_type")
        .agg(r6(regr_slope(col("value"), col("day"))).as("slope"),
          round(regr_intercept(col("value"), col("day")), 4).as("icept"),
          r6(regr_r2(col("value"), col("day"))).as("r2"),
          r6(corr(col("value"), col("day"))).as("c"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    },

    /** Distribution shape per group: Shannon entropy (bits) of the
      * value-bucket histogram plus the deterministic modal bucket
      * (smallest bucket among the max-count ties). Pure relational
      * two-level aggregation — the form that scales where a
      * collect-and-count would not.
      */
    QueryDef(
      "q103_entropy_dist",
      """WITH b AS (
        |  SELECT event_type, CAST(floor(value/100) AS BIGINT) AS bucket, count(*) AS c
        |  FROM events GROUP BY event_type, bucket),
        |e AS (
        |  SELECT event_type, bucket, c,
        |    sum(c) OVER (PARTITION BY event_type) AS n,
        |    max(c) OVER (PARTITION BY event_type) AS mx
        |  FROM b)
        |SELECT event_type,
        |  round(-sum((c/n) * log2(c/n)), 6) AS entropy,
        |  count(*) AS n_buckets,
        |  min(CASE WHEN c = mx THEN bucket END) AS mode_bucket
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("event_type"))
      Tables.events(s, d)
        .groupBy(col("event_type"), floor(col("value") / 100).cast("long").as("bucket"))
        .agg(count(lit(1)).as("c"))
        .withColumn("n", sum(col("c")).over(w))
        .withColumn("mx", max(col("c")).over(w))
        .groupBy("event_type")
        .agg(r6(-sum((col("c") / col("n")) * log2(col("c") / col("n")))).as("entropy"),
          count(lit(1)).as("n_buckets"),
          min(when(col("c") === col("mx"), col("bucket"))).as("mode_bucket"))
        .orderBy("event_type")
    },

    /** LATERAL correlated derived table (SQL:1999 lateral join): each
      * customer's single highest-value order via a per-row ORDER BY +
      * LIMIT subquery — the "top-1 per key without a window over the
      * whole fact table" idiom. Catalyst decorrelates it into a
      * ranked join rather than executing per-row.
      */
    QueryDef(
      "q104_lateral_topk",
      """SELECT c.c_custkey, l.o_orderkey, round(l.o_totalprice, 2) AS top_price
        |FROM customer c, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) l
        |WHERE c.c_custkey % 50 = 0
        |ORDER BY c.c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d).createOrReplaceTempView("graft_customer_v")
      Tables.orders(s, d).createOrReplaceTempView("graft_orders_v")
      s.sql(
        """SELECT c.c_custkey, l.o_orderkey, round(l.o_totalprice, 2) AS top_price
          |FROM graft_customer_v c, LATERAL (
          |  SELECT o_orderkey, o_totalprice FROM graft_orders_v o
          |  WHERE o.o_custkey = c.c_custkey
          |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) l
          |WHERE c.c_custkey % 50 = 0
          |ORDER BY c.c_custkey""".stripMargin)
    },

    /** CUBE with explicit grouping() markers: unlike q15's
      * coalesce-based labels, the grouping flags distinguish a real
      * NULL group value from a rolled-up level — the lineage columns a
      * reporting layer needs over multi-level aggregates.
      */
    QueryDef(
      "q111_grouping_cube",
      """WITH t AS (SELECT event_type, user_id % 4 AS ub, value FROM events)
        |SELECT coalesce(event_type, 'ALL') AS etype,
        |  coalesce(CAST(ub AS VARCHAR), 'ALL') AS ubucket,
        |  CAST(grouping(event_type) AS BIGINT) AS g_type,
        |  CAST(grouping(ub) AS BIGINT) AS g_user,
        |  count(*) AS n, round(sum(value), 2) AS total
        |FROM t GROUP BY CUBE(event_type, ub)
        |ORDER BY etype, ubucket""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .select(col("event_type"), (col("user_id") % 4).as("ub"), col("value"))
        .cube(col("event_type"), col("ub"))
        .agg(grouping(col("event_type")).cast("long").as("g_type"),
          grouping(col("ub")).cast("long").as("g_user"),
          count(lit(1)).as("n"), r2(sum(col("value"))).as("total"))
        .select(coalesce(col("event_type"), lit("ALL")).as("etype"),
          coalesce(col("ub").cast("string"), lit("ALL")).as("ubucket"),
          col("g_type"), col("g_user"), col("n"), col("total"))
        .orderBy("etype", "ubucket")
    },

    /** Top-k per group through the engine's custom whole-operator plan
      * ([[graft.plans.TopKPerGroup]]: logical node → TopKStrategy →
      * partial/final bounded-heap exec). Hash-verified against the
      * window-function formulation, so the custom operator's
      * partial-combine + shuffle + final-combine path provably computes
      * row_number() <= k semantics. q40 keeps the window form for
      * comparison.
      */
    QueryDef(
      "q108_topk_operator",
      """SELECT event_type, event_id, round(value,2) AS value
        |FROM (
        |  SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type
        |                       ORDER BY value DESC, event_id) AS rn
        |  FROM events) t
        |WHERE rn <= 3 ORDER BY event_type, event_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      graft.plans.TopKPerGroupOps
        .topKPerGroup(s, ev, Seq(ev("event_type")),
          Seq(ev("value").desc, ev("event_id").asc), 3)
        .select(col("event_type"), col("event_id"), r2(col("value")).as("value"))
        .orderBy("event_type", "event_id")
    },

    /** Join-strategy hints: the explicit-control surface for when the
      * optimizer's size estimates are wrong at scale. SHUFFLE_HASH on
      * the build side picks a shuffled hash join (no sort of either
      * side — right when the build side fits per-partition memory but
      * exceeds the broadcast threshold). PlanSpec asserts the strategy
      * actually took effect; the result is hint-invariant and
      * hash-verified.
      */
    QueryDef(
      "q115_join_hints",
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .join(Tables.customer(s, d).hint("shuffle_hash"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), r2(sum(col("o_totalprice"))).as("total"))
        .orderBy("c_mktsegment")
    },

    /** Map higher-order functions (map_zip_with / map_filter over
      * per-user maps): a totals map zipped with a counts map, entries
      * kept where the mean clears a threshold — the oracle states the
      * equivalent flat relation (same pattern as q89's map round-trip).
      * The ROUNDED outputs are the sum and count, not the mean: 24 of
      * the sf0.01 group means sit exactly on a half-cent boundary, so
      * rounding the mean would hang the hash match on bit-identical
      * double summation order between engines; the sums have no
      * boundary groups.
      */
    QueryDef(
      "q119_map_transform",
      """SELECT user_id, event_type, round(sum(value), 2) AS total, count(*) AS n
        |FROM events GROUP BY user_id, event_type
        |HAVING sum(value)/count(*) >= 50
        |ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
      val flat = Tables.events(s, d)
        .groupBy("user_id", "event_type")
        .agg(sum(col("value")).as("total"), count(lit(1)).as("n"))
      flat.groupBy("user_id")
        .agg(
          map_from_entries(array_sort(
            collect_list(struct(col("event_type"), col("total"))))).as("mt"),
          map_from_entries(array_sort(
            collect_list(struct(col("event_type"), col("n"))))).as("mn"))
        .select(col("user_id"),
          explode(map_filter(
            map_zip_with(col("mt"), col("mn"),
              (_, t, c) => struct(t.as("t"), c.as("c"))),
            (_, v) => v.getField("t") / v.getField("c") >= 50))
            .as(Seq("event_type", "tc")))
        .select(col("user_id"), col("event_type"),
          r2(col("tc.t")).as("total"), col("tc.c").as("n"))
        .orderBy("user_id", "event_type")
    },

    /** Array algebra over token lists: position lookup, overlap test,
      * slice+flatten, remove, and element-wise zip_with against the
      * reversed list — each with its DuckDB list-function counterpart.
      * The len >= 3 guard keeps the two engines' divergent short-list
      * edges out of scope (Spark's slice(l,-3,3) is empty when |start|
      * exceeds the length where DuckDB's l[-3:] returns the whole list,
      * and element_at on an empty zip throws under ANSI mode).
      */
    QueryDef(
      "q120_array_algebra",
      """WITH d AS (
        |  SELECT doc_id, list_filter(string_split(text,' '), w -> w != '') AS l
        |  FROM documents WHERE doc_id % 17 = 0)
        |SELECT doc_id,
        |  CAST(len(l) AS BIGINT) AS n_words,
        |  CAST(coalesce(list_position(l, 'data'), 0) AS BIGINT) AS pos_data,
        |  len(list_intersect(l, ['data','model'])) > 0 AS has_overlap,
        |  CAST(len(flatten([l[1:3], l[-3:]])) AS BIGINT) AS n_flat,
        |  CAST(len(list_filter(l, w -> w != 'the')) AS BIGINT) AS n_no_the,
        |  list_transform(range(1, len(l)+1), i -> l[i] || '_' || l[len(l)-i+1])[1] AS first_zip
        |FROM d WHERE len(l) >= 3 ORDER BY doc_id""".stripMargin) { (s, d) =>
      val l = col("l")
      Tables.documents(s, d)
        .where(col("doc_id") % 17 === 0)
        .select(col("doc_id"), wordsCol(col("text")).as("l"))
        .where(size(col("l")) >= 3)
        .select(col("doc_id"),
          size(l).cast("long").as("n_words"),
          array_position(l, "data").as("pos_data"),
          arrays_overlap(l, array(lit("data"), lit("model"))).as("has_overlap"),
          size(flatten(array(slice(l, 1, 3), slice(l, -3, 3)))).cast("long").as("n_flat"),
          size(array_remove(l, "the")).cast("long").as("n_no_the"),
          element_at(zip_with(l, reverse(l), (a, b) => concat(a, lit("_"), b)), 1)
            .as("first_zip"))
        .orderBy("doc_id")
    },

    /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): the NULL
      * key group joins to itself instead of silently dropping — the
      * semantics a keyed merge of two sketchy feature extracts needs.
      * With a plain `=` this query would lose the NULL row on both
      * sides; the oracle states the same null-safe predicate.
      */
    QueryDef(
      "q118_nullsafe_join",
      """WITH a AS (
        |  SELECT nullif(user_id % 5, 0) AS k, count(*) AS na,
        |    round(sum(value), 2) AS sa
        |  FROM events WHERE event_id % 2 = 0 GROUP BY k),
        |b AS (
        |  SELECT nullif(user_id % 5, 0) AS k, count(*) AS nb
        |  FROM events WHERE event_id % 2 = 1 GROUP BY k)
        |SELECT coalesce(CAST(a.k AS VARCHAR), 'NULL') AS k, na, sa, nb
        |FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
        |ORDER BY k""".stripMargin) { (s, d) =>
      val key = nullif(col("user_id") % 5, lit(0)).as("k")
      val a = Tables.events(s, d).where(col("event_id") % 2 === 0)
        .groupBy(key).agg(count(lit(1)).as("na"), r2(sum(col("value"))).as("sa"))
      val b = Tables.events(s, d).where(col("event_id") % 2 === 1)
        .groupBy(key).agg(count(lit(1)).as("nb"))
        .withColumnRenamed("k", "bk")
      a.join(b, col("k") <=> col("bk"))
        .select(coalesce(col("k").cast("string"), lit("NULL")).as("k"),
          col("na"), col("sa"), col("nb"))
        .orderBy("k")
    },

    /** Spark 4 VARIANT path for semi-structured data: parse the JSON
      * props column once into a variant, extract typed fields with
      * variant_get — the columnar-JSON engine path (shredded access,
      * no per-row string re-parse per field). Oracle reads the same
      * field through DuckDB's JSON extraction.
      */
    /** Recursive CTE (Spark 4's `WITH RECURSIVE`, the last SQL-surface
      * operator group): a recursive calendar spine densifies the event
      * stream — days past the data's end stay as explicit zero rows.
      * Bounded, acyclic recursion (Spark supports UNION ALL recursion
      * only; cyclic closure stays on the q135 iterative path). Both
      * engines run structurally identical recursive SQL.
      */
    QueryDef(
      "q136_recursive_cte",
      """WITH RECURSIVE days(d) AS (
        |  SELECT DATE '2024-01-01'
        |  UNION ALL
        |  SELECT d + 1 FROM days WHERE d < DATE '2024-02-05')
        |SELECT strftime(d, '%Y-%m-%d') AS day,
        |  count(e.user_id) AS n,
        |  round(coalesce(sum(e.value), 0), 2) AS total
        |FROM days LEFT JOIN events e ON CAST(e.ts AS DATE) = d
        |GROUP BY d ORDER BY day""".stripMargin) { (s, d) =>
      Tables.events(s, d).createOrReplaceTempView("graft_events_r")
      s.sql(
        """WITH RECURSIVE days(d) AS (
          |  SELECT DATE '2024-01-01'
          |  UNION ALL
          |  SELECT date_add(d, 1) FROM days WHERE d < DATE '2024-02-05')
          |SELECT date_format(d, 'yyyy-MM-dd') AS day,
          |  count(e.user_id) AS n,
          |  round(coalesce(sum(e.value), 0), 2) AS total
          |FROM days LEFT JOIN graft_events_r e ON CAST(e.ts AS DATE) = d
          |GROUP BY d ORDER BY day""".stripMargin)
    },

    /** Multiset set operations (group 6 completes: q11-q13 cover the
      * DISTINCT forms; these are the bag forms — INTERSECT ALL keeps
      * min(m₁,m₂) copies, EXCEPT ALL subtracts multiplicities, both
      * plan as a single count-compare aggregation, no join blowup).
      */
    QueryDef(
      "q131_set_ops_all",
      """WITH a AS (SELECT o_custkey AS ck FROM orders WHERE o_orderstatus = 'F'),
        |     b AS (SELECT o_custkey AS ck FROM orders WHERE o_orderstatus = 'O'),
        |     ia AS (SELECT ck FROM a INTERSECT ALL SELECT ck FROM b),
        |     ea AS (SELECT ck FROM a EXCEPT ALL SELECT ck FROM b)
        |SELECT 'except_all' AS op, count(*) AS n,
        |  CAST(COALESCE(sum(ck), 0) AS BIGINT) AS ck_sum FROM ea
        |UNION ALL
        |SELECT 'intersect_all' AS op, count(*) AS n,
        |  CAST(COALESCE(sum(ck), 0) AS BIGINT) AS ck_sum FROM ia
        |ORDER BY op""".stripMargin) { (s, d) =>
      val orders = Tables.orders(s, d)
      val a = orders.where(col("o_orderstatus") === "F").select(col("o_custkey").as("ck"))
      val b = orders.where(col("o_orderstatus") === "O").select(col("o_custkey").as("ck"))
      def agg(df: DataFrame, op: String): DataFrame =
        df.agg(count(lit(1)).as("n"),
            coalesce(sum(col("ck")), lit(0)).cast("long").as("ck_sum"))
          .select(lit(op).as("op"), col("n"), col("ck_sum"))
      agg(a.exceptAll(b), "except_all")
        .unionAll(agg(a.intersectAll(b), "intersect_all"))
        .orderBy("op")
    },

    /** Deterministic k-fold assignment (the reference's train/eval
      * split R4, industrialized): fold = portable-hash(key) % 5, so the
      * split is stable across engines, runs, and partitionings — no RNG
      * — and the oracle can verify it bit-for-bit. The 60-bit md5 slice
      * is the cross-engine hash contract both sides share.
      */
    QueryDef(
      "q132_cv_folds",
      """SELECT CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT % 5 AS INT) AS fold,
        |  count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY fold ORDER BY fold""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .select((conv(substring(md5(col("o_orderkey").cast("string")), 1, 15), 16, 10)
          .cast("long") % 5).cast("int").as("fold"), col("o_totalprice"))
        .groupBy("fold")
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy("fold")
    },

    /** Stratified sampling — a per-stratum fraction over event_type, the
      * curriculum/class-balance sampler of a training-data pipeline.
      * Selection is the q132/q220/q275 portable-hash idiom instead of
      * `sampleBy`'s seeded RNG: keep a row iff md5(event_id)'s 60-bit
      * slice mod 10⁶ falls under fraction·10⁶ — deterministic across
      * engines, runs, AND file-split layouts (sampleBy's seed is only
      * stable for a fixed partitioning), so the oracle verifies it
      * bit-for-bit. Still a pure map-side filter: no shuffle, no state,
      * fractions folded into one CASE expression (no join).
      */
    QueryDef(
      "q127_sample_stratified",
      """SELECT event_id, event_type, user_id FROM events
        |WHERE ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT % 1000000
        |  < CASE event_type WHEN 'click' THEN 500000 WHEN 'view' THEN 250000
        |      WHEN 'purchase' THEN 1000000 WHEN 'error' THEN 50000
        |      WHEN 'signup' THEN 100000 ELSE 0 END
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      val fractions = Map("click" -> 500000L, "view" -> 250000L,
        "purchase" -> 1000000L, "error" -> 50000L, "signup" -> 100000L)
      val cut = fractions.foldLeft(lit(0L)) { case (acc, (et, ppm)) =>
        when(col("event_type") === et, ppm).otherwise(acc)
      }
      Tables.events(s, d)
        .where(conv(substring(md5(col("event_id").cast("string")), 1, 15), 16, 10)
          .cast("long") % 1000000L < cut)
        .select("event_id", "event_type", "user_id")
        .orderBy("event_id")
    },

    /** Fixed-width histogram via `width_bucket` (group 4): the exact,
      * mergeable form of a value-distribution profile (each row maps to
      * a bucket independently ⇒ partial aggregation does all the work
      * map-side; contrast q38's sketch path). Oracle computes the same
      * buckets arithmetically, INCLUDING width_bucket's overflow
      * bucket n+1: events.value exceeds 500 at sf0.1 (max 560.21), so
      * an unclamped oracle would diverge above sf0.01.
      */
    QueryDef(
      "q128_value_histogram",
      """SELECT LEAST(CAST(floor(value/50) AS BIGINT) + 1, CAST(11 AS BIGINT)) AS bucket,
        |  count(*) AS n,
        |  round(min(value),2) AS lo, round(max(value),2) AS hi
        |FROM events GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .select(expr("width_bucket(value, 0.0D, 500.0D, 10)").as("bucket"), col("value"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          round(min(col("value")), 2).as("lo"),
          round(max(col("value")), 2).as("hi"))
        .orderBy("bucket")
    },

    QueryDef(
      "q107_variant_json",
      """SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_mod,
        |  count(*) AS n,
        |  min(CAST(json_extract(props, '$.k') AS BIGINT)) AS k_min,
        |  max(CAST(json_extract(props, '$.k') AS BIGINT)) AS k_max
        |FROM events GROUP BY k_mod ORDER BY k_mod""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .select(expr("variant_get(parse_json(props), '$.k', 'long')").as("k"))
        .groupBy((col("k") % 10).as("k_mod"))
        .agg(count(lit(1)).as("n"),
          min(col("k")).as("k_min"),
          max(col("k")).as("k_max"))
        .orderBy("k_mod")
    },

    /** Keyset (seek) pagination (round 7): page 3 of the lineitem feed
      * ordered by (l_orderkey, l_linenumber), fetched by the composite
      * seek predicate `k > anchor` rather than OFFSET. The anchor (last
      * key of page 2) comes from a bounded top-100 (TakeOrdered — a
      * heap, not a global sort); in production it's the client's page
      * token and costs nothing. With a literal token the seek predicate
      * is a pushable scan filter (here, composed self-contained, it
      * evaluates right after the 1-row broadcast — still one streamed
      * pass + a bounded heap), so page N of 100 TB reads O(page) rows where
      * ORDER BY + OFFSET re-sorts and discards N·page rows every call —
      * the difference between pagination that survives scale and one
      * that dies by page 1000. Both engines evaluate the identical
      * expanded tuple comparison.
      */
    QueryDef(
      "q236_keyset_page",
      """WITH anchor AS (
        |  SELECT l_orderkey AS a1, l_linenumber AS a2
        |  FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 1 OFFSET 99)
        |SELECT l.l_orderkey, l.l_linenumber, round(l.l_extendedprice, 2) AS price
        |FROM lineitem l, anchor a
        |WHERE l.l_orderkey > a.a1
        |   OR (l.l_orderkey = a.a1 AND l.l_linenumber > a.a2)
        |ORDER BY l.l_orderkey, l.l_linenumber LIMIT 50""".stripMargin) { (s, d) =>
      val li = Tables.load(s, d, "lineitem")
      val anchor = li.select(col("l_orderkey"), col("l_linenumber"))
        .orderBy("l_orderkey", "l_linenumber")
        .offset(99).limit(1)
        .select(col("l_orderkey").as("a1"), col("l_linenumber").as("a2"))
      li.crossJoin(broadcast(anchor))
        .where(col("l_orderkey") > col("a1") ||
          (col("l_orderkey") === col("a1") && col("l_linenumber") > col("a2")))
        .orderBy("l_orderkey", "l_linenumber").limit(50)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice"), 2).as("price"))
    },

    /** Runtime BLOOM-FILTER pruned join (round 9): the selective filter
      * on orders builds a bloom filter at runtime that is pushed into
      * the lineitem scan side of the shuffle join — fact rows whose
      * l_orderkey cannot match are dropped BEFORE the shuffle, which at
      * 100 TB is the difference between shuffling the whole fact table
      * and shuffling the ~4% that survives. Spark's InjectRuntimeFilter
      * only fires when the application side looks big, so the fn
      * lowers applicationSideScanSizeThreshold (and disables broadcast,
      * which at real scale the optimizer would do itself) FOR THE
      * DURATION OF THE ACTION — the plan is forced eagerly with
      * localCheckpoint inside the conf window and every conf restored
      * in a finally, so no other query in the session ever plans under
      * these thresholds. PlanSpec pins might_contain in the optimized
      * plan via [[bloomJoinPlan]]. Results are conf-independent (bloom
      * only prunes); the oracle is the plain join.
      */
    QueryDef(
      "q289_bloom_join",
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |  count(*) AS n_lines,
        |  round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,12))) AS DOUBLE), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val confs = Seq(
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
      val old = confs.map { case (k, _) => k -> s.conf.getOption(k) }
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      try bloomJoinPlan(s, d).localCheckpoint()
      finally old.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None)    => s.conf.unset(k)
      }
    }
  )

  /** The q289 join, un-checkpointed, so PlanSpec can assert the
    * bloom_filter/might_contain pair lands in the optimized plan under
    * the same confs the query fn sets. */
  private[graft] def bloomJoinPlan(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val li = Tables.load(s, d, "lineitem")
    val o = Tables.load(s, d, "orders")
      .where(col("o_orderpriority") === "1-URGENT" && col("o_orderstatus") === "F")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
      .agg(count(lit(1)).as("n_lines"),
        r2(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(28,12)")).cast("double")).as("revenue"))
      .orderBy("ship_month")
  }
}
