package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 temporal/operational analytics: interval sweep-line peak
  * concurrency (with a DISTRIBUTED two-phase prefix sum — the one
  * operator in this family where the naive form is a single-partition
  * global window), CUSUM changepoint ranking, last-touch attribution,
  * deterministic A/B assignment + two-proportion z-test, point-in-time
  * (as-of) snapshot reads over the q150 SCD2 stream, and a referential
  * integrity audit.
  */
object TemporalOps {
  import CausalOps.r6

  val defs: Seq[QueryDef] = Seq(

    /** Peak concurrency by sweep-line: every click opens a 30-minute
      * presence interval; +1/-1 boundary points, running sum, global
      * max. The textbook form sorts ALL boundary points into ONE window
      * partition — a driver-killer at 100 TB. This plan does the
      * scalable two-phase prefix sum instead: range-partition boundary
      * points by (t, d), cumulative-sum WITHIN each partition (window
      * partitioned by partition id — parallel), take the 32 per-
      * partition totals to the driver, and broadcast the exclusive
      * prefix offsets back. Identical result, no global sort on one
      * node. Ties ((t, d) runs straddling a range boundary) cannot
      * change the max or its first timestamp: any interleaving of equal
      * keys yields the same value multiset.
      */
    QueryDef(
      "q160_peak_concurrency",
      """WITH iv AS (
        |  SELECT ts AS st, ts + INTERVAL 30 MINUTE AS en
        |  FROM events WHERE event_type = 'click'),
        |pts AS (
        |  SELECT st AS t, 1 AS d FROM iv UNION ALL SELECT en, -1 FROM iv),
        |sweep AS (
        |  SELECT t, sum(d) OVER (ORDER BY t, d ROWS UNBOUNDED PRECEDING) AS conc
        |  FROM pts)
        |SELECT CAST(max(conc) AS BIGINT) AS peak,
        |  strftime(min(t), '%Y-%m-%d %H:%M:%S') AS first_peak_at
        |FROM sweep WHERE conc = (SELECT max(conc) FROM sweep)""".stripMargin) { (s, d) =>
      val clicks = Tables.events(s, d).where(col("event_type") === "click")
      val pts = clicks.select(col("ts").as("t"), lit(1).as("d"))
        .unionAll(clicks.select((col("ts") + expr("INTERVAL 30 MINUTES")).as("t"),
          lit(-1).as("d")))
      val parts = pts.repartitionByRange(32, col("t"), col("d"))
        .withColumn("pid", spark_partition_id())
      // phase 1: parallel within-partition running sums + per-partition totals
      val wIn = Window.partitionBy(col("pid")).orderBy(col("t"), col("d"))
        .rowsBetween(Window.unboundedPreceding, 0)
      // PlanCache, not a fresh .cache() per invocation (round-7 ADVICE):
      // phase 2 re-reads this exact frame after the totals collect, and
      // repeated verify/bench runs reuse one persisted entry
      val local = graft.PlanCache.cached(s, s"peak_sweep_local|$d") {
        parts.withColumn("cs", sum(col("d")).over(wIn))
      }
      val totals = local.groupBy("pid").agg(sum(col("d")).as("tot"))
        .orderBy("pid").collect()
      // phase 2: exclusive prefix offsets (O(partitions) on the driver)
      val prevOff = udfFreeOffsets(totals.map(r => (r.getInt(0), r.getLong(1))))
      val sweep = local.withColumn("conc", col("cs") + prevOff)
      val peak = sweep.agg(max(col("conc")).as("m"))
      sweep.join(broadcast(peak), col("conc") === col("m"))
        .agg(max(col("conc")).cast("long").as("peak"),
          date_format(min(col("t")), "yyyy-MM-dd HH:mm:ss").as("first_peak_at"))
    },

    /** CUSUM changepoint ranking over the daily mean series: cumulative
      * sum of deviations from the global mean; the top-|CUSUM| days are
      * the level-shift candidates. Aggregate-first discipline: the
      * window runs over ~O(days) rows, never over raw events, so the
      * "global" ordered window is fine at any scale. Exact-decimal
      * means keep both engines bit-identical (q145's trick).
      */
    QueryDef(
      "q161_cusum_changepoint",
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(sum(CAST(value AS DECIMAL(18,3))) AS DOUBLE) / count(*) AS v
        |  FROM events GROUP BY 1),
        |g AS (SELECT CAST(sum(CAST(v AS DECIMAL(18,9))) AS DOUBLE) / count(*) AS mu FROM daily),
        |c AS (
        |  SELECT day, v,
        |    sum(v - (SELECT mu FROM g)) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cusum
        |  FROM daily)
        |SELECT strftime(day, '%Y-%m-%d') AS day, round(v, 6) AS v,
        |  round(abs(cusum), 6) AS abs_cusum
        |FROM c ORDER BY abs(cusum) DESC, day LIMIT 5""".stripMargin) { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(col("ts").cast("date").as("day"))
        .agg((sum(col("value").cast("decimal(18,3)")).cast("double") /
          count(lit(1))).as("v"))
      val mu = daily.agg((sum(col("v").cast("decimal(18,9)")).cast("double") /
        count(lit(1))).as("mu"))
      val w = Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, 0)
      daily.crossJoin(broadcast(mu))
        .withColumn("cusum", sum(col("v") - col("mu")).over(w))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          r6(col("v")).as("v"), r6(abs(col("cusum"))).as("abs_cusum"))
        .orderBy(abs(col("cusum")).desc, col("day")).limit(5)
    },

    /** Last-touch attribution: each purchase credits the user's most
      * recent click/view before it (else 'organic'). One user_id
      * shuffle; the carry is an IGNORE NULLS last_value over the
      * preceding frame — no per-purchase lookback join.
      */
    QueryDef(
      "q162_attribution",
      """WITH tagged AS (
        |  SELECT user_id, ts, event_id, event_type, value,
        |    last_value(CASE WHEN event_type IN ('click','view') THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        |  FROM events)
        |SELECT coalesce(touch, 'organic') AS touch,
        |  CAST(count(*) AS BIGINT) AS n_purchases,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,3))), 3) AS DOUBLE) AS revenue
        |FROM tagged WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, d)
        .withColumn("touch",
          last(when(col("event_type").isin("click", "view"), col("event_type")),
            ignoreNulls = true).over(w))
        .where(col("event_type") === "purchase")
        .groupBy(coalesce(col("touch"), lit("organic")).as("touch"))
        .agg(count(lit(1)).as("n_purchases"),
          round(sum(col("value").cast("decimal(18,3)")), 3)
            .cast("double").as("revenue"))
        .orderBy("touch")
    },

    /** Deterministic A/B experiment readout: variant = parity of the
      * portable 60-bit hash of user_id + salt (RNG-free, so the split
      * itself hash-verifies), conversion = any purchase over 250, and
      * the pooled two-proportion z-score — the whole analysis in two
      * aggregates. The salt-hash assignment is exactly how a 100 TB
      * experiment pipeline buckets users (stable under reruns/backfill).
      */
    QueryDef(
      "q163_ab_test",
      """WITH assign AS (
        |  SELECT user_id,
        |    CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':ab1'), 1, 15))::BIGINT % 2 = 0
        |         THEN 'A' ELSE 'B' END AS variant
        |  FROM (SELECT DISTINCT user_id FROM events)),
        |conv AS (
        |  SELECT a.variant, e.user_id,
        |    max(CASE WHEN e.event_type = 'purchase' AND e.value > 250 THEN 1 ELSE 0 END) AS converted
        |  FROM events e JOIN assign a ON e.user_id = a.user_id GROUP BY 1, 2),
        |w AS (
        |  SELECT CAST(count_if(variant = 'A') AS BIGINT) AS na,
        |    CAST(count_if(variant = 'B') AS BIGINT) AS nb,
        |    CAST(sum(CASE WHEN variant = 'A' THEN converted ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN variant = 'B' THEN converted ELSE 0 END) AS BIGINT) AS cb
        |  FROM conv)
        |SELECT na, nb, ca, cb,
        |  round(CAST(ca AS DOUBLE) / na, 6) AS rate_a,
        |  round(CAST(cb AS DOUBLE) / nb, 6) AS rate_b,
        |  round((CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb) /
        |    sqrt((CAST(ca + cb AS DOUBLE) / (na + nb)) * (1 - CAST(ca + cb AS DOUBLE) / (na + nb))
        |         * (CAST(1 AS DOUBLE) / na + CAST(1 AS DOUBLE) / nb)), 6) AS z
        |FROM w""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
      val assign = e.select(col("user_id")).distinct()
        .withColumn("variant",
          when(conv(substring(md5(concat(col("user_id").cast("string"), lit(":ab1"))),
            1, 15), 16, 10).cast("long") % 2 === 0, "A").otherwise("B"))
      val convd = e.join(assign, Seq("user_id"))
        .groupBy("variant", "user_id")
        .agg(max(when(col("event_type") === "purchase" && col("value") > 250, 1)
          .otherwise(0)).as("converted"))
      val wide = convd.agg(
        count_if(col("variant") === "A").as("na"),
        count_if(col("variant") === "B").as("nb"),
        sum(when(col("variant") === "A", col("converted")).otherwise(0)).as("ca"),
        sum(when(col("variant") === "B", col("converted")).otherwise(0)).as("cb"))
      val rateA = col("ca").cast("double") / col("na")
      val rateB = col("cb").cast("double") / col("nb")
      val pool = (col("ca") + col("cb")).cast("double") / (col("na") + col("nb"))
      wide.select(col("na"), col("nb"), col("ca"), col("cb"),
        r6(rateA).as("rate_a"), r6(rateB).as("rate_b"),
        r6((rateA - rateB) / sqrt(pool * (lit(1) - pool) *
          (lit(1).cast("double") / col("na") + lit(1).cast("double") / col("nb"))))
          .as("z"))
    },

    /** Point-in-time (as-of / time-travel) snapshot over the q150 SCD2
      * stream: each user's purchase state as of 2024-02-15. The
      * row_number-DESC top-1 per user is exactly the WindowTopKRewrite
      * idiom, so under GraftExtensions this plans as the bounded-heap
      * TopKPerGroup — an as-of read costs one k=1 heap pass, not a full
      * per-user sort.
      */
    QueryDef(
      "q164_asof_snapshot",
      """WITH snap AS (
        |  SELECT user_id, ts, event_id, CAST(floor(value / 20) AS BIGINT) AS state
        |  FROM events
        |  WHERE event_type = 'purchase' AND ts <= TIMESTAMP '2024-02-15 00:00:00'),
        |r AS (
        |  SELECT user_id, state, ts,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM snap)
        |SELECT user_id, state, strftime(ts, '%Y-%m-%d %H:%M:%S') AS since
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.events(s, d)
        .where(col("event_type") === "purchase" &&
          col("ts") <= lit("2024-02-15 00:00:00").cast("timestamp"))
        .select(col("user_id"), floor(col("value") / 20).cast("long").as("state"),
          col("ts"), col("event_id"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("user_id"), col("state"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("since"))
        .orderBy("user_id")
    },

    /** Referential-integrity / data-quality audit: orphan foreign keys
      * (anti-joins) and domain rules, one row per check. Anti-joins
      * broadcast the key side where small; each check partial-
      * aggregates to a single count, so the audit costs one pass per
      * table regardless of scale. Zero AND nonzero checks both prove
      * the machinery (all-zero output can't distinguish "clean" from
      * "broken audit").
      */
    QueryDef(
      "q165_integrity_audit",
      """SELECT 'docs_under_100_chars' AS check_name, CAST(count(*) AS BIGINT) AS n_bad
        |  FROM documents WHERE n_chars < 100
        |UNION ALL
        |SELECT 'lineitem_without_order', CAST(count(*) AS BIGINT) FROM lineitem l
        |  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        |UNION ALL
        |SELECT 'orders_before_1996', CAST(count(*) AS BIGINT) FROM orders
        |  WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
        |UNION ALL
        |SELECT 'orders_without_customer', CAST(count(*) AS BIGINT) FROM orders o
        |  WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        |ORDER BY check_name""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val orders = Tables.load(s, d, "orders")
      val li = Tables.load(s, d, "lineitem")
      val cust = Tables.load(s, d, "customer")
      // referential-integrity anti-joins run UNHINTED (round-10 sweep):
      // the orders/customer key sets grow with SF, so a forced broadcast
      // would override AQE's size check; AQE still elects broadcast when
      // the key side measures small at runtime
      def check(name: String, df: DataFrame) =
        df.agg(count(lit(1)).as("n_bad"))
          .select(lit(name).as("check_name"), col("n_bad"))
      check("docs_under_100_chars", docs.where(col("n_chars") < 100))
        .unionAll(check("lineitem_without_order",
          li.join(orders.select("o_orderkey"),
            col("l_orderkey") === col("o_orderkey"), "left_anti")))
        .unionAll(check("orders_before_1996",
          orders.where(col("o_orderdate") < lit("1996-01-01").cast("timestamp"))))
        .unionAll(check("orders_without_customer",
          orders.join(cust.select("c_custkey"),
            col("o_custkey") === col("c_custkey"), "left_anti")))
        .orderBy("check_name")
    },

    /** MERGE / CDC-apply semantics (the warehouse upsert the reference's
      * nightly retrain would feed from): base = per-user rollup of the
      * first 19 days; delta = purchase activity after, carrying an op
      * column (DELETE for heavy purchasers, else UPSERT). One full-outer
      * join on the entity key resolves kept / updated / inserted /
      * deleted exactly like MERGE INTO ... WHEN [NOT] MATCHED — and at
      * 100 TB it's the same single co-partitioned shuffle (or a
      * broadcast when the delta is a day's worth of keys).
      */
    QueryDef(
      "q170_merge_upsert",
      """WITH base AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |    round(sum(CAST(value AS DECIMAL(18,3))), 3) AS total
        |  FROM events WHERE ts < TIMESTAMP '2024-01-20 00:00:00' GROUP BY user_id),
        |delta AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS d_n,
        |    round(sum(CAST(value AS DECIMAL(18,3))), 3) AS d_total,
        |    CASE WHEN count(*) > 8 THEN 'D' ELSE 'U' END AS op
        |  FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-20 00:00:00' AND event_type = 'purchase'
        |  GROUP BY user_id),
        |merged AS (
        |  SELECT coalesce(b.user_id, d.user_id) AS user_id,
        |    CASE WHEN d.user_id IS NULL THEN 'kept'
        |         WHEN d.op = 'D' THEN 'deleted'
        |         WHEN b.user_id IS NULL THEN 'inserted'
        |         ELSE 'updated' END AS action,
        |    CASE WHEN d.user_id IS NULL THEN b.n
        |         WHEN b.user_id IS NULL THEN d.d_n
        |         ELSE b.n + d.d_n END AS n,
        |    CASE WHEN d.user_id IS NULL THEN b.total
        |         WHEN b.user_id IS NULL THEN d.d_total
        |         ELSE b.total + d.d_total END AS total
        |  FROM base b FULL OUTER JOIN delta d ON b.user_id = d.user_id)
        |SELECT user_id, action, n, CAST(total AS DOUBLE) AS total FROM merged
        |WHERE action <> 'deleted' ORDER BY user_id""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
      val split = lit("2024-01-20 00:00:00").cast("timestamp")
      val base = e.where(col("ts") < split)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(18,3)")), 3).as("total"))
      val delta = e.where(col("ts") >= split && col("event_type") === "purchase")
        .groupBy(col("user_id").as("d_user"))
        .agg(count(lit(1)).as("d_n"),
          round(sum(col("value").cast("decimal(18,3)")), 3).as("d_total"))
        .withColumn("op", when(col("d_n") > 8, "D").otherwise("U"))
      base.join(delta, col("user_id") === col("d_user"), "full_outer")
        .select(coalesce(col("user_id"), col("d_user")).as("user_id"),
          when(col("d_user").isNull, "kept")
            .when(col("op") === "D", "deleted")
            .when(col("user_id").isNull, "inserted")
            .otherwise("updated").as("action"),
          when(col("d_user").isNull, col("n"))
            .when(col("user_id").isNull, col("d_n"))
            .otherwise(col("n") + col("d_n")).as("n"),
          when(col("d_user").isNull, col("total"))
            .when(col("user_id").isNull, col("d_total"))
            .otherwise(col("total") + col("d_total"))
            .cast("double").as("total"))
        .where(col("action") =!= "deleted")
        .orderBy("user_id")
    },

    /** Islands-and-gaps over the purchase event_id sequence — the
      * missing-data / continuity audit (did ingestion drop a range?).
      * The classic id − row_number() grouping key: consecutive ids
      * share a key, so islands fall out of one grouped aggregate.
      *
      * The global row_number is computed by q160's two-phase form, not
      * a single-partition window: ids range-partition on event_id,
      * each partition numbers locally in parallel, and an
      * O(partitions) driver-collected offset table lifts local numbers
      * to the exact global ones (range order == event_id order). No
      * stage ever funnels the ~20% purchase subset through one task —
      * the shape that survives a 100× scale-up. PlanSpec pins it.
      */
    QueryDef(
      "q174_id_islands",
      """WITH ids AS (SELECT event_id FROM events WHERE event_type = 'purchase'),
        |grp AS (
        |  SELECT event_id, event_id - row_number() OVER (ORDER BY event_id) AS g
        |  FROM ids)
        |SELECT CAST(min(event_id) AS BIGINT) AS island_start,
        |  CAST(max(event_id) AS BIGINT) AS island_end,
        |  CAST(count(*) AS BIGINT) AS island_len
        |FROM grp GROUP BY g ORDER BY island_start LIMIT 20""".stripMargin) { (s, d) =>
      // phase 1: parallel within-partition row numbers + partition
      // sizes. PlanCache-persisted (not a fresh .cache() per call):
      // the offsets collect and the downstream aggregate share one
      // entry, and repeated bench/verify invocations reuse it instead
      // of accumulating copies (round-7 ADVICE).
      val local = graft.PlanCache.cached(s, s"q174_local|$d") {
        val parts = Tables.events(s, d)
          .where(col("event_type") === "purchase")
          .select(col("event_id"))
          .repartitionByRange(32, col("event_id"))
          .withColumn("pid", spark_partition_id())
        val wIn = Window.partitionBy(col("pid")).orderBy(col("event_id"))
        parts.withColumn("rn_local", row_number().over(wIn).cast("long"))
      }
      val totals = local.groupBy("pid").agg(count(lit(1)).as("tot"))
        .orderBy("pid").collect()
      // phase 2: exclusive prefix offsets (O(partitions) on the driver)
      val off = udfFreeOffsets(totals.map(r => (r.getInt(0), r.getLong(1))))
      local
        .withColumn("g", col("event_id") - (col("rn_local") + off))
        .groupBy("g")
        .agg(min(col("event_id")).as("island_start"),
          max(col("event_id")).as("island_end"),
          count(lit(1)).as("island_len"))
        .drop("g")
        .orderBy("island_start").limit(20)
    },

    /** Snapshot diff — the change-data-feed producer that inverts q170's
      * MERGE consumer: given two table versions, classify every key as
      * insert / update / delete / unchanged and emit the changeset
      * summary. v2 is a deterministic mutation of the documents
      * snapshot (every 17th id deleted, every 5th updated, every 23rd
      * re-inserted under a new id). ONE co-partitioned full-outer join
      * on the key does the whole classification map-side after the
      * shuffle — at 100 TB this is the standard "diff two snapshots
      * without a CDC log" pass (both sides bucket-able on the same key).
      */
    QueryDef(
      "q235_snapshot_diff",
      """WITH v1 AS (SELECT doc_id, n_chars FROM documents),
        |v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN n_chars + 7 ELSE n_chars END AS n_chars
        |  FROM documents WHERE doc_id % 17 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, n_chars FROM documents WHERE doc_id % 23 = 0),
        |d AS (
        |  SELECT coalesce(v1.doc_id, v2.doc_id) AS id,
        |    CASE WHEN v1.doc_id IS NULL THEN 'insert'
        |         WHEN v2.doc_id IS NULL THEN 'delete'
        |         WHEN v1.n_chars <> v2.n_chars THEN 'update'
        |         ELSE 'unchanged' END AS change
        |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
        |SELECT change, CAST(count(*) AS BIGINT) AS n,
        |  CAST(min(id) AS BIGINT) AS min_id, CAST(max(id) AS BIGINT) AS max_id
        |FROM d GROUP BY 1 ORDER BY change""".stripMargin) { (s, d) =>
      val doc = Tables.documents(s, d)
      val v1 = doc.select(col("doc_id"), col("n_chars"))
      val v2 = doc.where(col("doc_id") % 17 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, col("n_chars") + 7)
            .otherwise(col("n_chars")).as("n_chars"))
        .unionAll(doc.where(col("doc_id") % 23 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("n_chars")))
      val j = v1.select(col("doc_id").as("id1"), col("n_chars").as("c1"))
        .join(v2.select(col("doc_id").as("id2"), col("n_chars").as("c2")),
          col("id1") === col("id2"), "full_outer")
      j.select(coalesce(col("id1"), col("id2")).as("id"),
          when(col("id1").isNull, "insert")
            .when(col("id2").isNull, "delete")
            .when(col("c1") =!= col("c2"), "update")
            .otherwise("unchanged").as("change"))
        .groupBy("change")
        .agg(count(lit(1)).as("n"), min(col("id")).as("min_id"),
          max(col("id")).as("max_id"))
        .orderBy("change")
    },

    /** Sequential pattern mining, PrefixSpan's first pass (Pei et al.,
      * ICDE 2001) at length 3: per-user event-type journeys in
      * (ts, event_id) order, consecutive 3-step motifs, support =
      * distinct users + total occurrences, top-15. The ORDERED
      * counterpart of q218's unordered baskets and the discovery
      * companion of q153's FIXED funnel pattern. One groupBy(user)
      * builds each journey; motifs expand map-side from the sequence
      * array (the basket idiom applied to ordered data).
      */
    QueryDef(
      "q334_seq_patterns",
      """WITH j AS (
        |  SELECT user_id, list(event_type ORDER BY ts, event_id) AS seq
        |  FROM events GROUP BY 1),
        |m AS (
        |  SELECT user_id,
        |    unnest([seq[i] || '>' || seq[i+1] || '>' || seq[i+2]
        |            FOR i IN range(1, len(seq) - 1)]) AS motif
        |  FROM j WHERE len(seq) >= 3),
        |c AS (
        |  SELECT motif, count(DISTINCT user_id) AS n_users, count(*) AS n_occ
        |  FROM m GROUP BY 1)
        |SELECT motif, CAST(n_users AS BIGINT) AS n_users, CAST(n_occ AS BIGINT) AS n_occ
        |FROM c ORDER BY n_users DESC, n_occ DESC, motif LIMIT 15""".stripMargin) { (s, d) =>
      val j = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
          e => e.getField("event_type")).as("seq"))
        .where(size(col("seq")) >= 3)
      j.select(col("user_id"),
          explode(expr(
            """transform(sequence(1, size(seq) - 2),
              |  i -> concat(element_at(seq, i), '>', element_at(seq, i + 1),
              |              '>', element_at(seq, i + 2)))""".stripMargin)).as("motif"))
        .groupBy(col("motif"))
        .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n_occ"))
        .select(col("motif"), col("n_users").cast("long").as("n_users"),
          col("n_occ").cast("long").as("n_occ"))
        .orderBy(col("n_users").desc, col("n_occ").desc, col("motif")).limit(15)
    },

    /** Watermark-lateness planning sweep: how much data would each
      * candidate watermark delay drop? Arrival order is approximated by
      * event_id batches of 500 (the ingestion-batch proxy); each
      * event's lateness is measured against the max event-time of all
      * PRIOR batches (exactly what a per-batch watermark tracker sees),
      * and the 1h/6h/24h/72h sweep reduces to four rows in one pass.
      * The tuning readout for every withWatermark() in the streaming
      * layer (q80/q83/q216): pick the delay whose drop fraction is
      * acceptable. Scale: batch maxes are an O(B)-row aggregate; the
      * cumulative prior-max window runs over those B rows, never
      * events; the sweep is a 4-row broadcast fan-out.
      */
    QueryDef(
      "q335_lateness_sweep",
      """WITH e AS (
        |  SELECT event_id, ts, event_id // 500 AS batch FROM events),
        |bm AS (SELECT batch, max(ts) AS bmax FROM e GROUP BY 1),
        |pm AS (
        |  SELECT batch,
        |    max(bmax) OVER (ORDER BY batch ROWS BETWEEN UNBOUNDED PRECEDING
        |                    AND 1 PRECEDING) AS prior_max
        |  FROM bm),
        |lt AS (
        |  SELECT e.event_id,
        |    CASE WHEN pm.prior_max IS NULL THEN 0
        |         ELSE greatest(0, epoch_us(pm.prior_max) - epoch_us(e.ts)) END AS late_us
        |  FROM e JOIN pm ON pm.batch = e.batch)
        |SELECT d.hours,
        |  CAST(count_if(late_us > d.hours * 3600000000) AS BIGINT) AS n_dropped,
        |  round(CAST(count_if(late_us > d.hours * 3600000000) AS DOUBLE) / count(*), 6)
        |    AS frac_dropped
        |FROM lt CROSS JOIN (VALUES (1), (6), (24), (72)) AS d(hours)
        |GROUP BY d.hours ORDER BY d.hours""".stripMargin) { (s, d) =>
      import s.implicits._
      // exact integer MICROSECONDS end to end: ts carries sub-second
      // precision, and a seconds-truncating comparison would disagree
      // between engines on events within a second of a cut
      val e = Tables.events(s, d)
        .select(col("event_id"), col("ts"), (col("event_id") / 500).cast("long").as("batch"))
      // BATCH-grain exclusive prefix max via the two-phase form (round
      // 10): batch count = events/500 grows with volume, so the old
      // single-partition ORDER BY batch window is the fenced pattern.
      // Phase 1 computes pid-local exclusive running maxes in parallel;
      // the driver prefix-maxes the O(partitions) per-pid maxima and a
      // CASE chain injects each pid's carry-in; greatest() ignores NULL
      // (Spark semantics), so the stitched prior_max is value-identical
      // to the oracle's global window, including the leading NULL.
      val local = graft.PlanCache.cached(s, s"q335_batchmax_local|$d") {
        e.groupBy(col("batch").as("bmb")).agg(max(col("ts")).as("bmax"))
          .repartitionByRange(32, col("bmb"))
          .withColumn("pid", spark_partition_id())
          .withColumn("lpm", max(col("bmax")).over(
            Window.partitionBy(col("pid")).orderBy(col("bmb"))
              .rowsBetween(Window.unboundedPreceding, -1)))
      }
      val pidMax = local.groupBy("pid").agg(max(col("bmax")).as("m"))
        .orderBy("pid").collect().map(r => (r.getInt(0), r.getTimestamp(1))).toSeq
      val carry = pidMax.sortBy(_._1)
        .scanLeft((Int.MinValue, null: java.sql.Timestamp)) {
          case ((_, acc), (pid, m)) =>
            (pid, if (acc == null || m.after(acc)) m else acc)
        }
        .sliding(2).collect { case Seq((_, prev), (pid, _)) => (pid, prev) }
        .toSeq
      val carryCol = carry.foldLeft(lit(null).cast("timestamp")) {
        case (acc, (pid, ts)) =>
          when(col("pid") === pid, if (ts == null) lit(null).cast("timestamp") else lit(ts))
            .otherwise(acc)
      }
      val pm = local.select(col("bmb"),
        greatest(col("lpm"), carryCol).as("prior_max"))
      // pm is BATCH-grain (events/500 — grows with volume), so the
      // attach join runs unhinted (round-10 sweep); AQE broadcasts it
      // only while it actually measures small
      val lt = e.join(pm, col("bmb") === col("batch"))
        .select(col("event_id"),
          when(col("prior_max").isNull, lit(0L))
            .otherwise(greatest(lit(0L),
              unix_micros(col("prior_max")) - unix_micros(col("ts"))))
            .as("late_us"))
      val sweep = Seq(1, 6, 24, 72).toDF("hours")
      lt.crossJoin(broadcast(sweep))
        .groupBy(col("hours"))
        .agg(count_if(col("late_us") > col("hours").cast("long") * 3600000000L)
            .cast("long").as("n_dropped"),
          round(count_if(col("late_us") > col("hours").cast("long") * 3600000000L)
            .cast("double") / count(lit(1)), 6).as("frac_dropped"))
        .orderBy("hours")
    },

    /** Right-to-be-forgotten erasure audit: given the deletion cohort
      * (user_id / custkey ≡ 0 mod 97 — the stand-in for a DSAR list),
      * count surviving rows per table BEFORE the purge runs, including
      * the indirect reach through foreign keys (orders via custkey,
      * lineitem via its order). The compliance pre-flight every
      * lakehouse purge pipeline runs; each table is one scan + one
      * tiny-dim semi-join, output is O(tables) rows.
      */
    QueryDef(
      "q336_erasure_audit",
      """WITH del_users AS (SELECT DISTINCT user_id FROM events WHERE user_id % 97 = 0),
        |del_cust AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
        |del_orders AS (
        |  SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT c_custkey FROM del_cust)),
        |a AS (
        |  SELECT 'events' AS tbl,
        |    count_if(user_id % 97 = 0) AS n_erase, count(*) AS n_total FROM events
        |  UNION ALL
        |  SELECT 'customer', count_if(c_custkey % 97 = 0), count(*) FROM customer
        |  UNION ALL
        |  SELECT 'orders', count_if(o_custkey % 97 = 0), count(*) FROM orders
        |  UNION ALL
        |  SELECT 'lineitem',
        |    count_if(l_orderkey IN (SELECT o_orderkey FROM del_orders)), count(*)
        |  FROM lineitem)
        |SELECT tbl, CAST(n_erase AS BIGINT) AS n_erase, CAST(n_total AS BIGINT) AS n_total,
        |  round(CAST(n_erase AS DOUBLE) / n_total, 6) AS frac
        |FROM a ORDER BY tbl""".stripMargin) { (s, d) =>
      def audit(name: String, df: DataFrame, flag: Column): DataFrame =
        df.agg(count_if(flag).as("n_erase"), count(lit(1)).as("n_total"))
          .select(lit(name).as("tbl"), col("n_erase"), col("n_total"))
      // ~1% of orders — grows with SF, so no forced broadcast (round-10
      // sweep): AQE sizes the join side at runtime
      val delOrders = Tables.orders(s, d)
        .where(col("o_custkey") % 97 === 0).select(col("o_orderkey").as("dok"))
      val li = Tables.lineitem(s, d)
        .join(delOrders, col("dok") === col("l_orderkey"), "left")
        .agg(count_if(col("dok").isNotNull).as("n_erase"), count(lit(1)).as("n_total"))
        .select(lit("lineitem").as("tbl"), col("n_erase"), col("n_total"))
      audit("events", Tables.events(s, d), col("user_id") % 97 === 0)
        .unionByName(audit("customer", Tables.customer(s, d), col("c_custkey") % 97 === 0))
        .unionByName(audit("orders", Tables.orders(s, d), col("o_custkey") % 97 === 0))
        .unionByName(li)
        .select(col("tbl"), col("n_erase").cast("long").as("n_erase"),
          col("n_total").cast("long").as("n_total"),
          round(col("n_erase").cast("double") / col("n_total"), 6).as("frac"))
        .orderBy("tbl")
    },

    /** Bitemporal (valid-time × transaction-time) reconstruction — the
      * dimension q150's SCD2 and q164's as-of snapshot each cover HALF
      * of: "what did we believe on tx-date T_k the world looked like on
      * valid-date T_v". Versions are synthesized deterministically
      * (every 10th order receives a +1% restated price recorded 150
      * days later); the readout reconstructs the SAME effective date
      * 1998-01-01 as known at two transaction cuts, so the restatement
      * wave is visible as n_corrected and total drift between the two
      * snapshots. Per-(cut, order) version pick = max_by on
      * (tx_from, version) — one key-grain aggregate after a 2-row cut
      * fan-out; no window wider than the order key.
      */
    QueryDef(
      "q344_bitemporal",
      """WITH v AS (
        |  SELECT o_orderkey AS ok, o_orderstatus AS st, o_orderdate AS valid_from,
        |    o_orderdate AS tx_from, o_totalprice AS price, 1 AS ver
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_orderdate,
        |    o_orderdate + INTERVAL 150 DAY, o_totalprice * 1.01, 2
        |  FROM orders WHERE o_orderkey % 10 = 0),
        |cuts AS (SELECT unnest(['1998-06-01', '1999-06-01']) AS tx_cut),
        |vis AS (
        |  SELECT c.tx_cut, v.ok, v.st, v.price, v.ver,
        |    row_number() OVER (PARTITION BY c.tx_cut, v.ok
        |                       ORDER BY v.tx_from DESC, v.ver DESC) AS rn
        |  FROM v CROSS JOIN cuts c
        |  WHERE v.valid_from <= TIMESTAMP '1998-01-01'
        |    AND v.tx_from <= CAST(c.tx_cut AS TIMESTAMP)),
        |st AS (SELECT tx_cut, ok, st, price, ver FROM vis WHERE rn = 1)
        |SELECT tx_cut, st AS status, CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(sum(CAST(round(price, 2) AS DECIMAL(18,2))) AS DOUBLE), 2) AS total,
        |  CAST(sum(CASE WHEN ver = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_corrected
        |FROM st GROUP BY 1, 2 ORDER BY tx_cut, status""".stripMargin) { (s, d) =>
      import s.implicits._
      val o = Tables.orders(s, d)
      val v1 = o.select(col("o_orderkey").as("ok"), col("o_orderstatus").as("st"),
        col("o_orderdate").as("valid_from"), col("o_orderdate").as("tx_from"),
        col("o_totalprice").as("price"), lit(1).as("ver"))
      val v2 = o.where(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey").as("ok"), col("o_orderstatus").as("st"),
          col("o_orderdate").as("valid_from"),
          (col("o_orderdate") + expr("INTERVAL 150 DAY")).as("tx_from"),
          (col("o_totalprice") * 1.01).as("price"), lit(2).as("ver"))
      val cuts = Seq("1998-06-01", "1999-06-01").toDF("tx_cut")
      v1.unionByName(v2)
        .crossJoin(broadcast(cuts))
        .where(col("valid_from") <= lit("1998-01-01").cast("timestamp") &&
          col("tx_from") <= col("tx_cut").cast("timestamp"))
        .groupBy(col("tx_cut"), col("ok"))
        .agg(max_by(struct(col("st"), col("price"), col("ver")),
          struct(col("tx_from"), col("ver"))).as("pick"))
        .select(col("tx_cut"), col("pick.st").as("status"),
          col("pick.price").as("price"), col("pick.ver").as("ver"))
        .groupBy(col("tx_cut"), col("status"))
        .agg(count(lit(1)).cast("long").as("n"),
          round(sum(round(col("price"), 2).cast("decimal(18,2)")).cast("double"), 2).as("total"),
          sum(when(col("ver") === 2, 1).otherwise(0)).cast("long").as("n_corrected"))
        .orderBy("tx_cut", "status")
    }
  )

  /** Exclusive prefix offset of this row's range partition — the shared
    * two-phase idiom, now hoisted to [[TwoPhase.offsets]] (round 10). */
  private def udfFreeOffsets(totals: Seq[(Int, Long)]): Column =
    TwoPhase.offsets(totals)
}
