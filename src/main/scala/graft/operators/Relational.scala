package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.Kernels
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core relational operator surface (SURVEY.md §2.B groups 2,3,4,6,7).
  *
  * The reference itself has no joins/sorts/set-ops (SURVEY.md §2.A "not
  * present"); these are the [ASM]/[EXT] operators the engine needs to
  * assemble the reference's dense inputs from raw tables and to serve the
  * LLM-pipeline north star. Scale posture: every join either broadcasts a
  * dimension or shuffles on its equi-key; aggregates rely on Spark's
  * partial+final (map-side combine) plan; all scans are parquet with
  * filters/projections pushed down.
  */
object Relational {
  private def r4(c: Column) = round(c, 4)
  import CausalOps.{r2, r6}

  /** Deterministic per-row logit + label used by the metric queries.
    * Mirrors the reference's score/label contract (`model.py:153-158`):
    * z is a linear functional of the feature row, y a 0/1 label.
    * Pure +,*,/ double arithmetic => bit-identical across engines.
    */
  private def zCol: Column =
    col("l_quantity") / 10.0 - col("l_discount") * 20.0 + col("l_tax") * 5.0 - lit(1.5)
  private def yCol: Column = (col("l_returnflag") === "R").cast("double")

  /** The q20/q21 scored set with each row's mid-rank mr of its score z
    * (`scored`, `ranked`): q21 and q365. */
  private[operators] val scoredRankSql =
    """scored AS (
      |  SELECT l_quantity/10.0 - l_discount*20.0 + l_tax*5.0 - 1.5 AS z,
      |    CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y
      |  FROM lineitem),
      |ranked AS (
      |  SELECT y, rank() OVER (ORDER BY z) + (count(*) OVER (PARTITION BY z) - 1)/2.0 AS mr
      |  FROM scored)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ---- group 4: the flagship pricing-summary aggregate (SURVEY.md §7.2) ----
    QueryDef(
      "q01_pricing_summary",
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity),2) AS sum_qty,
        |  round(sum(l_extendedprice),2) AS sum_base_price,
        |  round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
        |  round(sum(l_extendedprice*(1-l_discount)*(1+l_tax)),2) AS sum_charge,
        |  round(avg(l_quantity),6) AS avg_qty,
        |  round(avg(l_extendedprice),6) AS avg_price,
        |  round(avg(l_discount),6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-06-30 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .where(col("l_shipdate") <= lit("2000-06-30").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          r2(sum(col("l_quantity"))).as("sum_qty"),
          r2(sum(col("l_extendedprice"))).as("sum_base_price"),
          r2(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc_price"),
          r2(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))).as("sum_charge"),
          r6(avg(col("l_quantity"))).as("avg_qty"),
          r6(avg(col("l_extendedprice"))).as("avg_price"),
          r6(avg(col("l_discount"))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // ---- group 2: predicates ----
    QueryDef(
      "q02_filter_predicates",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
        |  CAST(l_shipdate AS DATE) AS ship_day
        |FROM lineitem
        |WHERE l_quantity BETWEEN 10 AND 20
        |  AND l_returnflag IN ('A','R')
        |  AND (l_discount > 0.05 OR l_tax < 0.03)
        |  AND l_extendedprice IS NOT NULL
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .where(col("l_quantity").between(10, 20)
          && col("l_returnflag").isin("A", "R")
          && (col("l_discount") > 0.05 || col("l_tax") < 0.03)
          && col("l_extendedprice").isNotNull)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_shipdate").cast("date").as("ship_day"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    QueryDef(
      "q03_case_cast",
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_quantity < 10 THEN 'low'
        |       WHEN l_quantity < 25 THEN 'mid' ELSE 'high' END AS qty_bucket,
        |  CAST(floor(l_quantity) AS INT) AS qty_floor,
        |  l_returnflag = 'R' AS is_returned
        |FROM lineitem
        |WHERE l_orderkey % 10 = 0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .where(col("l_orderkey") % 10 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          when(col("l_quantity") < 10, "low")
            .when(col("l_quantity") < 25, "mid")
            .otherwise("high").as("qty_bucket"),
          floor(col("l_quantity")).cast("int").as("qty_floor"),
          (col("l_returnflag") === "R").as("is_returned"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // ---- group 3: joins ----
    QueryDef(
      "q04_join_inner_agg",
      """SELECT o_orderpriority,
        |  count(DISTINCT o.o_orderkey) AS n_orders,
        |  round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      // Aggregation pushed BELOW the join (round 12): the naive form —
      // join 60M lineitems to orders, then countDistinct(o_orderkey) —
      // shuffles the full lineitem-grain (priority, orderkey) pair stream
      // through a two-phase distinct expand, and that wide shuffle went
      // super-linear at the sf10 rung (14.1x isolated for 10x data:
      // spill-bound). Pre-aggregating lineitem per l_orderkey first cuts
      // the joined row count to ORDER grain before anything wide moves:
      // one map-side-combined 15M-key shuffle, an order-grain join, and a
      // plain count (each surviving orderkey appears exactly once, and an
      // order has one priority, so count == the oracle's COUNT(DISTINCT)
      // over the join — orders without lineitems appear in neither).
      val lrev = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
      lrev.join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
          count(lit(1)).as("n_orders"),
          r2(sum(col("rev"))).as("revenue"))
        .orderBy("o_orderpriority")
    },

    QueryDef(
      "q05_join_left_agg",
      """SELECT c_custkey, c_name,
        |  count(o_orderkey) AS n_orders,
        |  coalesce(round(sum(o_totalprice),2), 0.0) AS total_spent
        |FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |GROUP BY c_custkey, c_name
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey", "c_name")
        .agg(
          count(col("o_orderkey")).as("n_orders"),
          coalesce(r2(sum(col("o_totalprice"))), lit(0.0)).as("total_spent"))
        .orderBy("c_custkey")
    },

    QueryDef(
      "q06_join_semi",
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d).where(col("o_orderstatus") === "O"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    QueryDef(
      "q07_join_anti",
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d).where(col("o_orderstatus") === "O"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    /** Multi-way star join; dims are broadcast so only the two fact-side
      * shuffles (lineitem-orders, orders-customer) remain at scale.
      */
    QueryDef(
      "q08_star_join",
      """SELECT r_name, n_name,
        |  round(sum(l_extendedprice*(1-l_discount)),2) AS revenue,
        |  count(*) AS n_rows
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
          r2(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue"),
          count(lit(1)).as("n_rows"))
        .orderBy("r_name", "n_name")
    },

    /** Theta-join READOUT via order statistics (round 14, the sf10-rung
      * find): the equi-plus-inequality join's returned aggregate — pair
      * count and mean balance gap per nation — is computable without
      * materializing a single pair. The naive hash-join-with-residual
      * form is Θ(C·S) per nation BY THE PREDICATE (every qualifying pair
      * is a row) and measured 53× at the sf10 rung (100× pair work from
      * 10× data — the one shape no join strategy can save). Instead:
      * union both sides, order by (acctbal, side) within the nation —
      * customers first on ties, so the strict `>` excludes equal
      * balances — and a running supplier (count, Σbal) gives each
      * customer row its qualifying-pair count `scnt` and gap
      * contribution `scnt·c_bal − Σs_bal` in one O((C+S) log) window
      * pass. Decimal(38,12) accumulation (money doubles quantize back
      * exactly) keeps the totals order-free-exact; the ORACLE keeps the
      * literal pair enumeration, so DuckDB independently cross-checks
      * the rewrite pair-for-pair. Parallelism is the nation count here;
      * at 100 TB grain the same pass range-partitions by (nation,
      * acctbal) with per-range supplier offsets (the TwoPhase
      * prefix-sum idiom).
      */
    QueryDef(
      "q09_theta_join",
      """SELECT n_name,
        |  count(*) AS n_pairs,
        |  round(avg(c_acctbal - s_acctbal),6) AS avg_gap
        |FROM customer c
        |JOIN supplier s ON c.c_nationkey = s.s_nationkey AND c.c_acctbal > s.s_acctbal
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin) { (s, d) =>
      val su = Tables.supplier(s, d).select(col("s_nationkey").as("nk"),
        col("s_acctbal").as("bal"), lit(1L).as("isS"))
      val cu = Tables.customer(s, d).select(col("c_nationkey").as("nk"),
        col("c_acctbal").as("bal"), lit(0L).as("isS"))
      val w = Window.partitionBy(col("nk")).orderBy(col("bal"), col("isS"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val dec = "decimal(38,12)"
      val uni = su.unionByName(cu)
        .withColumn("scnt", sum(col("isS")).over(w))
        .withColumn("ssum", sum(when(col("isS") === 1,
          col("bal").cast(dec)).otherwise(lit(null))).over(w))
      uni.where(col("isS") === 0)
        .groupBy("nk")
        .agg(sum(col("scnt")).as("n_pairs"),
          sum(col("scnt") * col("bal").cast(dec) -
            coalesce(col("ssum"), lit(0).cast(dec))).as("gapsum"))
        .where(col("n_pairs") > 0)
        .join(broadcast(Tables.nation(s, d)), col("nk") === col("n_nationkey"))
        .select(col("n_name"), col("n_pairs"),
          r6(col("gapsum").cast("double") / col("n_pairs").cast("double")).as("avg_gap"))
        .orderBy("n_name")
    },

    // ---- group 6: set ops / sort / top-k ----
    QueryDef(
      "q11_union_distinct",
      """SELECT nk FROM (
        |  SELECT c_nationkey AS nk FROM customer
        |  UNION
        |  SELECT s_nationkey AS nk FROM supplier) t
        |ORDER BY nk""".stripMargin) { (s, d) =>
      Tables.customer(s, d).select(col("c_nationkey").as("nk"))
        .union(Tables.supplier(s, d).select(col("s_nationkey").as("nk")))
        .distinct()
        .orderBy("nk")
    },

    QueryDef(
      "q12_intersect",
      """SELECT p_brand FROM part WHERE p_type = 'ECONOMY'
        |INTERSECT
        |SELECT p_brand FROM part WHERE p_type = 'PROMO'
        |ORDER BY p_brand""".stripMargin) { (s, d) =>
      val p = Tables.part(s, d)
      p.where(col("p_type") === "ECONOMY").select("p_brand")
        .intersect(p.where(col("p_type") === "PROMO").select("p_brand"))
        .orderBy("p_brand")
    },

    QueryDef(
      "q13_except",
      """SELECT p_brand FROM part
        |EXCEPT
        |SELECT p_brand FROM part WHERE p_type = 'LARGE'
        |ORDER BY p_brand""".stripMargin) { (s, d) =>
      val p = Tables.part(s, d)
      p.select("p_brand")
        .except(p.where(col("p_type") === "LARGE").select("p_brand"))
        .orderBy("p_brand")
    },

    QueryDef(
      "q35_topk_orders",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 10) t
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .orderBy("o_orderkey")
    },

    QueryDef(
      "q34_distinct",
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d).select("l_returnflag", "l_linestatus").distinct()
        .orderBy("l_returnflag", "l_linestatus")
    },

    // ---- group 4: grouping sets family ----
    QueryDef(
      "q14_rollup",
      """SELECT coalesce(l_returnflag,'ALL') AS rf, coalesce(l_linestatus,'ALL') AS ls,
        |  count(*) AS n, round(sum(l_quantity),2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), r2(sum(col("l_quantity"))).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"), col("n"), col("sum_qty"))
        .orderBy("rf", "ls")
    },

    QueryDef(
      "q15_cube",
      """SELECT coalesce(o_orderstatus,'ALL') AS st, coalesce(o_orderpriority,'ALL') AS pri,
        |  count(*) AS n, round(sum(o_totalprice),2) AS total
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY st, pri""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), r2(sum(col("o_totalprice"))).as("total"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("pri"), col("n"), col("total"))
        .orderBy("st", "pri")
    },

    QueryDef(
      "q16_grouping_sets",
      """SELECT coalesce(event_type,'ALL') AS etype,
        |  coalesce(CAST(CAST(ts AS DATE) AS VARCHAR),'ALL') AS day,
        |  count(*) AS n, round(sum(value),2) AS total
        |FROM events
        |GROUP BY GROUPING SETS ((event_type, CAST(ts AS DATE)), (event_type), ())
        |ORDER BY etype, day""".stripMargin) { (s, d) =>
      Tables.events(s, d).createOrReplaceTempView("events_gs")
      s.sql(
        """SELECT coalesce(event_type,'ALL') AS etype,
          |  coalesce(CAST(CAST(ts AS DATE) AS STRING),'ALL') AS day,
          |  count(*) AS n, round(sum(value),2) AS total
          |FROM events_gs
          |GROUP BY GROUPING SETS ((event_type, CAST(ts AS DATE)), (event_type), ())
          |ORDER BY etype, day""".stripMargin)
    },

    // ---- group 4: distinct aggregation / argmin / norms ----
    QueryDef(
      "q17_count_distinct",
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    },

    /** Argmin snapshot (reference R28 running-minimum, `model.py:248-262`):
      * the ordering key is a (value, event_id) struct — lexicographic tuple
      * order, no arithmetic encoding, so ties break identically in any
      * engine at any magnitude. DuckDB's min_by lacks struct keys, so the
      * oracle states the same argmin as a row_number()=1 subquery.
      */
    QueryDef(
      "q18_min_by",
      """SELECT event_type, event_id AS min_event, round(value,2) AS min_value
        |FROM (
        |  SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY event_type""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(min_by(col("event_id"), struct(col("value"), col("event_id"))).as("min_event"),
          r2(min(col("value"))).as("min_value"))
        .orderBy("event_type")
    },

    /** L1/L2 norms as aggregates (reference R22/R24, `model.py:178-181`). */
    QueryDef(
      "q19_norms_agg",
      """SELECT event_type,
        |  round(sum(abs(value - 100)),2) AS l1_dev,
        |  round(sqrt(sum((value - 100)*(value - 100))),4) AS l2_dev
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(r2(sum(abs(col("value") - 100))).as("l1_dev"),
          r4(sqrt(sum((col("value") - 100) * (col("value") - 100)))).as("l2_dev"))
        .orderBy("event_type")
    },

    // ---- group 4: reference metric aggregates (R18/R19/R20) ----
    /** Accuracy@0.5 and stable sigmoid-CE over a deterministic logit
      * (reference `model.py:158-159`). Single pass, one global agg.
      */
    QueryDef(
      "q20_metrics_acc_ce",
      """SELECT
        |  round(100.0*avg(CASE WHEN ((1.0/(1.0+exp(-z)) >= 0.5) = (y = 1.0)) THEN 1.0 ELSE 0.0 END),6) AS acc_pct,
        |  round(avg(greatest(z, 0) - z*y + ln(1.0 + exp(-abs(z)))),6) AS ce_loss,
        |  count(*) AS n
        |FROM (SELECT l_quantity/10.0 - l_discount*20.0 + l_tax*5.0 - 1.5 AS z,
        |        CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y
        |      FROM lineitem) t""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .select(zCol.as("z"), yCol.as("y"))
        .agg(
          r6(Kernels.accuracyPct(Kernels.sigmoid(col("z")), col("y"))).as("acc_pct"),
          r6(avg(Kernels.sigmoidCrossEntropy(col("z"), col("y")))).as("ce_loss"),
          count(lit(1)).as("n"))
    },

    /** Exact AUC in rank form (reference R18, `model.py:157`; SURVEY.md
      * group 4). Mid-ranks handle ties exactly; rank sums are multiples of
      * 0.5 below 2^53 so the double arithmetic is exact and
      * order-independent. The global `Window.orderBy` is the documented
      * exact form — at 100 TB this becomes a fixed-width histogram AUC
      * (bin by score, one groupBy) with no total order.
      */
    QueryDef(
      "q21_auc_rank",
      s"""WITH $scoredRankSql
        |SELECT
        |  round((sum(CASE WHEN y = 1.0 THEN mr END) - sum(y)*(sum(y)+1)/2) / (sum(y)*sum(1.0-y)), 6) AS auc,
        |  CAST(sum(y) AS BIGINT) AS n_pos,
        |  CAST(sum(1.0-y) AS BIGINT) AS n_neg
        |FROM ranked""".stripMargin) { (s, d) =>
      val scored = Tables.lineitem(s, d).select(zCol.as("z"), yCol.as("y"))
      val ranked = scored.withColumn("mr",
        rank().over(Window.orderBy(col("z"))) +
          (count(lit(1)).over(Window.partitionBy(col("z"))) - 1) / 2.0)
      ranked.agg(
        sum(when(col("y") === 1.0, col("mr"))).as("spr"),
        sum(col("y")).as("np"),
        sum(lit(1.0) - col("y")).as("nn"))
        .select(
          r6((col("spr") - col("np") * (col("np") + 1) / 2) / (col("np") * col("nn"))).as("auc"),
          col("np").cast("long").as("n_pos"),
          col("nn").cast("long").as("n_neg"))
    },

    // ---- group 7: scalar function families ----
    QueryDef(
      "q29_date_funcs",
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INT) AS yr,
        |  CAST(month(o_orderdate) AS INT) AS mo,
        |  CAST(quarter(o_orderdate) AS INT) AS qtr,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |  CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since,
        |  last_day(CAST(o_orderdate AS DATE)) AS month_end
        |FROM orders WHERE o_orderkey % 7 = 0
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .where(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"),
          year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"),
          quarter(col("o_orderdate")).as("qtr"),
          date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
          datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date")).as("days_since"),
          last_day(col("o_orderdate")).as("month_end"))
        .orderBy("o_orderkey")
    },

    QueryDef(
      "q30_string_funcs",
      """SELECT p_partkey,
        |  upper(p_name) AS name_upper,
        |  CAST(length(p_name) AS INT) AS name_len,
        |  CAST(len(string_split(p_name, ' ')) AS INT) AS n_words,
        |  string_split(p_name, ' ')[1] AS first_word,
        |  CAST(regexp_extract(p_brand, '#(\d+)', 1) AS INT) AS brand_num,
        |  concat(p_type, '-', p_brand) AS type_brand,
        |  p_name LIKE '%widget%' AS is_widget,
        |  substr(p_name, 1, 3) AS name_pfx
        |FROM part ORDER BY p_partkey""".stripMargin) { (s, d) =>
      Tables.part(s, d)
        .select(col("p_partkey"),
          upper(col("p_name")).as("name_upper"),
          length(col("p_name")).as("name_len"),
          size(split(col("p_name"), " ")).as("n_words"),
          element_at(split(col("p_name"), " "), 1).as("first_word"),
          regexp_extract(col("p_brand"), "#(\\d+)", 1).cast("int").as("brand_num"),
          concat(col("p_type"), lit("-"), col("p_brand")).as("type_brand"),
          col("p_name").like("%widget%").as("is_widget"),
          substring(col("p_name"), 1, 3).as("name_pfx"))
        .orderBy("p_partkey")
    },

    QueryDef(
      "q31_json_extract",
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    },

    QueryDef(
      "q32_math_funcs",
      """SELECT l_orderkey, l_linenumber,
        |  round(exp(l_quantity/25.0),6) AS e_qty,
        |  round(ln(l_quantity + 1),6) AS ln_qty,
        |  round((exp(2*(l_discount*10))-1)/(exp(2*(l_discount*10))+1),6) AS tanh_disc,
        |  round(sqrt(l_extendedprice),6) AS sqrt_price,
        |  round(pow(1 + l_tax, 3),6) AS tax_cubed,
        |  round(greatest(l_quantity, l_extendedprice/1000.0),6) AS gmax,
        |  round(abs(l_discount - 0.05),6) AS dev,
        |  round(1.0/(1.0+exp(-(l_quantity/10.0 - 2))),6) AS sig
        |FROM lineitem WHERE l_orderkey % 97 = 0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .where(col("l_orderkey") % 97 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          r6(exp(col("l_quantity") / 25.0)).as("e_qty"),
          r6(log(col("l_quantity") + 1)).as("ln_qty"),
          r6(tanh(col("l_discount") * 10)).as("tanh_disc"),
          r6(sqrt(col("l_extendedprice"))).as("sqrt_price"),
          r6(pow(lit(1) + col("l_tax"), 3)).as("tax_cubed"),
          r6(greatest(col("l_quantity"), col("l_extendedprice") / 1000.0)).as("gmax"),
          r6(abs(col("l_discount") - 0.05)).as("dev"),
          r6(Kernels.sigmoid(col("l_quantity") / 10.0 - 2)).as("sig"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    QueryDef(
      "q33_having",
      """SELECT l_suppkey, count(*) AS n, round(sum(l_extendedprice),2) AS total
        |FROM lineitem GROUP BY l_suppkey
        |HAVING count(*) > 100
        |ORDER BY l_suppkey""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_suppkey")
        .agg(count(lit(1)).as("n"), r2(sum(col("l_extendedprice"))).as("total"))
        .where(col("n") > 100)
        .orderBy("l_suppkey")
    },

    // ---- group 2: sampling (RNG-dependent => no oracle; driver does a
    //      rows-only check). Reference R4 `model.py:191`. ----
    QueryDef.noOracle("q36_sample_bernoulli") { (s, d) =>
      Tables.lineitem(s, d)
        .sample(withReplacement = false, 0.1, 42)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    },

    /** Exact-k sample — the engine's analogue of the reference's
      * `np.random.choice(n, 128, replace=False)` (`model.py:191`),
      * drawn as a portable-hash ORDER STATISTIC (round 13, the q127/q166
      * idiom that made the stratified sample oracle-checkable): rank
      * every row by md5 of its (l_orderkey, l_linenumber) key and keep
      * the 128 smallest — uniform without replacement under the hash's
      * uniformity, fully deterministic, and bit-identical in any engine
      * that has md5. The key is not unique in the test data (up to 6
      * rows share one pair), so l_quantity breaks md5 ties: rows that
      * still tie are identical, and either engine's pick among them
      * yields the same rows.
      * The plan is TakeOrderedAndProject (per-partition 128-row heaps,
      * only k rows reach the driver merge) — the 100 TB shape; the old
      * `orderBy(rand(seed))` form had the same plan but engine-private
      * RNG semantics, leaving this the only rows-only query R4 still
      * owned.
      */
    QueryDef(
      "q37_sample_exactk",
      """WITH s AS (
        |  SELECT l_orderkey, l_linenumber, l_quantity
        |  FROM lineitem
        |  ORDER BY md5(CAST(l_orderkey AS VARCHAR) || '#' ||
        |    CAST(l_linenumber AS VARCHAR)), l_quantity
        |  LIMIT 128)
        |SELECT l_orderkey, l_linenumber, l_quantity FROM s
        |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy(md5(concat(col("l_orderkey").cast("string"), lit("#"),
          col("l_linenumber").cast("string"))), col("l_quantity"))
        .limit(128)
        .orderBy("l_orderkey", "l_linenumber", "l_quantity")
    },

    /** Sketch aggregates — HLL distinct + KLL-style approx_percentile
      * (the mergeable one-pass forms that replace exact distinct /
      * exact percentile at 100 TB). Approximate ⇒ rows-only check;
      * exact counterparts are oracled in q17/q22.
      */
    QueryDef.noOracle("q38_approx_distinct") { (s, d) =>
      // scalar columns only: the driver's rows-only compare loads the
      // result through pandas, which cannot hash an array cell.
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
          expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("approx_price_p50"),
          expr("approx_percentile(l_extendedprice, 0.95, 1000)").as("approx_price_p95"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }
  )
}
