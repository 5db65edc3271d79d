package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 statistics and maintenance operators: event-sequence Markov
  * transitions, table profiling (the ANALYZE pass that feeds a
  * cost-based optimizer), skyline/Pareto filtering, incremental
  * aggregate maintenance (partial-agg merge — how a 100 TB rollup
  * absorbs a daily delta without a full recompute), and triangle
  * counting on the q142/q151 host graph.
  */
object StatsOps {
  import CausalOps.{dsum, r6}

  val defs: Seq[QueryDef] = Seq(

    /** First-order Markov transition matrix over each user's event
      * sequence: P(next event_type | current). One user_id shuffle for
      * the lead() pass, then a 5×5-cell aggregate; the normalizing
      * per-row window runs over ≤25 rows. The sequence-model features
      * (R7's time-ordered grid) restated as a transition profile.
      */
    QueryDef(
      "q155_markov_transitions",
      """WITH seq AS (
        |  SELECT user_id, event_type AS cur,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        |  FROM events),
        |c AS (SELECT cur, nxt, count(*) AS n FROM seq WHERE nxt IS NOT NULL
        |      GROUP BY cur, nxt)
        |SELECT cur, nxt, n, round(n / sum(n) OVER (PARTITION BY cur), 6) AS p
        |FROM c ORDER BY cur, nxt""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val counts = Tables.events(s, d)
        .select(col("user_id"), col("event_type").as("cur"),
          lead(col("event_type"), 1).over(w).as("nxt"))
        .where(col("nxt").isNotNull)
        .groupBy("cur", "nxt").agg(count(lit(1)).as("n"))
      counts.select(col("cur"), col("nxt"), col("n"),
          r6(col("n") / sum(col("n")).over(Window.partitionBy(col("cur")))).as("p"))
        .orderBy("cur", "nxt")
    },

    /** Table profile — the ANALYZE/stats-collection pass: per column
      * null count, NDV, min, max (stringified into one uniform schema).
      * ONE scan computes every column's stats in a single aggregate
      * (count distinct co-plans via expand), then the wide row unpivots
      * to the per-column profile — no per-column rescans, which is the
      * difference between O(cols) and O(1) passes over 100 TB.
      */
    QueryDef(
      "q156_table_profile",
      """SELECT 'event_type' AS col, CAST(count(*) - count(event_type) AS BIGINT) AS n_null,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_distinct,
        |  CAST(min(event_type) AS VARCHAR) AS min_v, CAST(max(event_type) AS VARCHAR) AS max_v
        |FROM events
        |UNION ALL
        |SELECT 'user_id', CAST(count(*) - count(user_id) AS BIGINT),
        |  CAST(count(DISTINCT user_id) AS BIGINT),
        |  CAST(min(user_id) AS VARCHAR), CAST(max(user_id) AS VARCHAR) FROM events
        |UNION ALL
        |SELECT 'value', CAST(count(*) - count(value) AS BIGINT),
        |  CAST(count(DISTINCT value) AS BIGINT),
        |  CAST(round(min(value), 4) AS VARCHAR), CAST(round(max(value), 4) AS VARCHAR)
        |FROM events
        |ORDER BY col""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
      val wide = e.agg(
        count(lit(1)).as("n"),
        count(col("event_type")).as("nn_et"), countDistinct(col("event_type")).as("nd_et"),
        min(col("event_type")).as("min_et"), max(col("event_type")).as("max_et"),
        count(col("user_id")).as("nn_uid"), countDistinct(col("user_id")).as("nd_uid"),
        min(col("user_id")).as("min_uid"), max(col("user_id")).as("max_uid"),
        count(col("value")).as("nn_v"), countDistinct(col("value")).as("nd_v"),
        min(col("value")).as("min_v"), max(col("value")).as("max_v"))
      def rowOf(name: String, nn: String, nd: String, mn: Column, mx: Column) =
        struct(lit(name).as("col"), (col("n") - col(nn)).as("n_null"),
          col(nd).as("n_distinct"), mn.cast("string").as("min_v"),
          mx.cast("string").as("max_v"))
      wide.select(explode(array(
          rowOf("event_type", "nn_et", "nd_et", col("min_et"), col("max_et")),
          rowOf("user_id", "nn_uid", "nd_uid", col("min_uid"), col("max_uid")),
          rowOf("value", "nn_v", "nd_v", round(col("min_v"), 4), round(col("max_v"), 4))
        )).as("p"))
        .select(col("p.col").as("col"), col("p.n_null"), col("p.n_distinct"),
          col("p.min_v"), col("p.max_v"))
        .orderBy("col")
    },

    /** Skyline (Pareto front) of parts under (minimize retail price,
      * maximize size): a row survives iff nothing dominates it. The
      * naive form is a quadratic self-anti-join (the oracle keeps it —
      * DuckDB doesn't need to scale); the Spark plan reduces dominance
      * to two aggregates: per-size min price (|sizes| rows), a running
      * min over that TINY frame in size-descending order, then one
      * broadcast join back. A row survives iff it matches its size's
      * min price AND every strictly-larger size's best price is worse.
      * Total cost: one scan + one broadcast — no self-join, no O(n²).
      */
    QueryDef(
      "q157_skyline_pareto",
      """SELECT p_partkey, p_size, round(p_retailprice, 2) AS price
        |FROM part a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part b
        |  WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
        |    AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size))
        |ORDER BY p_partkey""".stripMargin) { (s, d) =>
      val p = Tables.load(s, d, "part")
      val perSize = p.groupBy("p_size").agg(min(col("p_retailprice")).as("mp"))
      val wLarger = Window.orderBy(col("p_size").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val front = perSize.withColumn("mp_larger", min(col("mp")).over(wLarger))
      p.join(broadcast(front), Seq("p_size"))
        .where(col("p_retailprice") === col("mp") &&
          (col("mp_larger").isNull || col("mp_larger") > col("p_retailprice")))
        .select(col("p_partkey"), col("p_size"),
          round(col("p_retailprice"), 2).as("price"))
        .orderBy("p_partkey")
    },

    /** Incremental aggregate maintenance: the per-user rollup is kept as
      * BASE (events before the split date) partial aggregates; the DELTA
      * (after) partial-aggregates independently; merging is a re-agg of
      * the two partial sets — count and sum are commutative monoids, so
      * merge(base, delta) == full recompute, which is the oracle. At
      * 100 TB this is the nightly pipeline: the base never rescans.
      */
    QueryDef(
      "q158_incremental_agg",
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,3))), 3) AS DOUBLE) AS total
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
      val split = lit("2024-02-01").cast("timestamp")
      def partial(df: DataFrame) = df.groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,3)")).as("total"))
      val base = partial(e.where(col("ts") < split))
      val delta = partial(e.where(col("ts") >= split))
      base.union(delta)
        .groupBy("user_id")
        .agg(sum(col("n")).as("n"),
          round(sum(col("total")), 3).cast("double").as("total"))
        .orderBy("user_id")
    },

    /** Triangle count on the undirected q151 host graph — the standard
      * graph-metric companion to PageRank/components. Edges dedup to
      * (lo, hi) ordered pairs; triangles join e1⋈e2⋈e3 with a<b<c so
      * each triangle counts once. The graph is O(hosts²) AFTER the
      * per-doc dedup, so the joins are broadcast-tiny; the only big
      * pass is the one dedup scan of documents.
      */
    QueryDef(
      "q159_triangle_count",
      """WITH links AS (
        |  SELECT DISTINCT least(source || '.example.com',
        |                        'src' || ((doc_id // 7) % 20) || '.example.com') AS a,
        |    greatest(source || '.example.com',
        |             'src' || ((doc_id // 7) % 20) || '.example.com') AS b
        |  FROM documents
        |  WHERE source || '.example.com' <> 'src' || ((doc_id // 7) % 20) || '.example.com'),
        |tri AS (
        |  SELECT e1.a, e1.b, e2.b AS c
        |  FROM links e1 JOIN links e2 ON e2.a = e1.b
        |  JOIN links e3 ON e3.a = e1.a AND e3.b = e2.b)
        |SELECT CAST(count(*) AS BIGINT) AS n_triangles,
        |  CAST((SELECT count(*) FROM links) AS BIGINT) AS n_edges
        |FROM tri""".stripMargin) { (s, d) =>
      val doc = Tables.documents(s, d)
      val src = concat(col("source"), lit(".example.com"))
      val dst = concat(lit("src"), expr("doc_id DIV 7") % 20, lit(".example.com"))
      val links = graft.PlanCache.cached(s, s"tri_links|$d") {
        doc.where(src =!= dst)
          .select(least(src, dst).as("a"), greatest(src, dst).as("b"))
          .distinct()
      }
      val e1 = links
      val e2 = links.select(col("a").as("b2a"), col("b").as("c"))
      val e3 = links.select(col("a").as("a3"), col("b").as("c3"))
      val tri = e1.join(broadcast(e2), col("b") === col("b2a"))
        .join(broadcast(e3), col("a") === col("a3") && col("c") === col("c3"))
      tri.agg(count(lit(1)).as("n_triangles"))
        .crossJoin(links.agg(count(lit(1)).as("n_edges")))
        .select(col("n_triangles"), col("n_edges"))
    },

    /** Count-min sketch (round 7) — the point-query counting sketch that
      * completes the family next to HLL (q106, distinct) and Misra-Gries
      * (q196, heavy hitters). d=4 portable md5-salted hash rows × w=64
      * buckets: the build is ONE map-side-combined aggregate that
      * reduces any input to ≤256 cells (the partial aggregates ARE the
      * sketch merge — mergeability for free), and a point estimate is
      * min over the key's d cells, never below the true count. Probing
      * the 10 heaviest users demonstrates the bound: est_n ≥ true_n,
      * with the overestimate coming from collisions in 64 buckets.
      * RNG-free salted hashing keeps the sketch hash-verifiable.
      */
    QueryDef(
      "q231_count_min",
      """WITH rows_ AS (SELECT * FROM (VALUES (0), (1), (2), (3)) AS r(j)),
        |cells AS (
        |  SELECT r.j,
        |    ('0x' || substr(md5(CAST(e.user_id AS VARCHAR) || ':cms' || CAST(r.j AS VARCHAR)), 1, 15))::BIGINT % 64 AS bucket,
        |    count(*) AS n
        |  FROM events e CROSS JOIN rows_ r
        |  GROUP BY 1, 2),
        |truth AS (SELECT user_id, count(*) AS true_n FROM events GROUP BY 1),
        |probes AS (SELECT user_id, true_n FROM truth ORDER BY true_n DESC, user_id LIMIT 10),
        |est AS (
        |  SELECT p.user_id, p.true_n, min(c.n) AS est_n
        |  FROM probes p CROSS JOIN rows_ r
        |  JOIN cells c ON c.j = r.j
        |    AND c.bucket = ('0x' || substr(md5(CAST(p.user_id AS VARCHAR) || ':cms' || CAST(r.j AS VARCHAR)), 1, 15))::BIGINT % 64
        |  GROUP BY 1, 2)
        |SELECT user_id, CAST(true_n AS BIGINT) AS true_n, CAST(est_n AS BIGINT) AS est_n
        |FROM est ORDER BY true_n DESC, user_id""".stripMargin) { (s, d) =>
      import s.implicits._
      def bucket(key: Column, j: Column): Column =
        conv(substring(md5(concat(key.cast("string"), lit(":cms"), j.cast("string"))),
          1, 15), 16, 10).cast("long") % 64
      val e = Tables.events(s, d)
      val rowsJ = Seq(0, 1, 2, 3).toDF("j")
      val cells = e.crossJoin(broadcast(rowsJ))
        .groupBy(col("j"), bucket(col("user_id"), col("j")).as("bucket"))
        .agg(count(lit(1)).as("n"))
      val truth = e.groupBy("user_id").agg(count(lit(1)).as("true_n"))
      val probes = truth.orderBy(col("true_n").desc, col("user_id")).limit(10)
      val cellsR = cells.withColumnRenamed("j", "cj")
      probes.crossJoin(broadcast(rowsJ))
        .withColumn("pb", bucket(col("user_id"), col("j")))
        .join(broadcast(cellsR), col("j") === col("cj") && col("pb") === col("bucket"))
        .groupBy(col("user_id"), col("true_n"))
        .agg(min(col("n")).as("est_n"))
        .orderBy(col("true_n").desc, col("user_id"))
    },

    /** First/last-touch attribution (round 7): each purchase is credited
      * to the user's earliest (first-touch) and latest (last-touch)
      * preceding click/view, via IGNORE-NULLS first/last over the
      * strictly-preceding frame — the funnel-credit assignment every
      * events warehouse runs. One user_id shuffle for the sequence
      * window (the same exchange shape as q155/q222), then a 5-group
      * aggregate; purchases with no prior touch report as 'none'.
      */
    QueryDef(
      "q232_attribution",
      """WITH seq AS (
        |  SELECT user_id, event_type, value,
        |    last_value(CASE WHEN event_type IN ('click','view') THEN event_type END IGNORE NULLS)
        |      OVER w AS last_t,
        |    first_value(CASE WHEN event_type IN ('click','view') THEN event_type END IGNORE NULLS)
        |      OVER w AS first_t
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |sel AS (
        |  SELECT coalesce(last_t, 'none') AS last_t, coalesce(first_t, 'none') AS first_t, value
        |  FROM seq WHERE event_type = 'purchase')
        |SELECT model, touch, CAST(n AS BIGINT) AS n, amount FROM (
        |  SELECT 'last' AS model, last_t AS touch, count(*) AS n,
        |    round(CAST(sum(CAST(value AS DECIMAL(18,3))) AS DOUBLE), 2) AS amount
        |  FROM sel GROUP BY 2
        |  UNION ALL
        |  SELECT 'first' AS model, first_t AS touch, count(*) AS n,
        |    round(CAST(sum(CAST(value AS DECIMAL(18,3))) AS DOUBLE), 2) AS amount
        |  FROM sel GROUP BY 2)
        |ORDER BY model, touch""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val touch = when(col("event_type").isin("click", "view"), col("event_type"))
      val sel = Tables.events(s, d)
        .select(col("event_type"), col("value"),
          last(touch, ignoreNulls = true).over(w).as("last_t"),
          first(touch, ignoreNulls = true).over(w).as("first_t"))
        .where(col("event_type") === "purchase")
        .select(coalesce(col("last_t"), lit("none")).as("last_t"),
          coalesce(col("first_t"), lit("none")).as("first_t"), col("value"))
      def agg(model: String, c: String) = sel.groupBy(col(c).as("touch"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(18,3)")).cast("double"), 2).as("amount"))
        .select(lit(model).as("model"), col("touch"), col("n"), col("amount"))
      agg("last", "last_t").unionAll(agg("first", "first_t"))
        .orderBy("model", "touch")
    },

    /** Spearman rank correlation (round 7): does a user's click volume
      * RANK-predict their purchase spend? Average-rank tie handling
      * (rank + (ties−1)/2 — the textbook definition, exact under the
      * heavy tie mass of count data, where the n(n²−1)/6 shortcut is
      * wrong), then Pearson over the ranks from exact decimal moment
      * sums. Ranks are integers+halves, so the moment sums are exact
      * and both engines agree bit-for-bit. The rank windows run over
      * the AGGREGATED entity space (O(users) rows after one shuffle);
      * past driver-window scale the q174 two-phase range-partition
      * form applies unchanged.
      */
    QueryDef(
      "q241_spearman_rank",
      """WITH u AS (
        |  SELECT user_id,
        |    CAST(count_if(event_type = 'click') AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(value AS DECIMAL(18,3)) ELSE 0 END) AS DOUBLE) AS y
        |  FROM events GROUP BY user_id),
        |r AS (
        |  SELECT
        |    rank() OVER (ORDER BY x) + (count(*) OVER (PARTITION BY x) - 1) / 2.0 AS ax,
        |    rank() OVER (ORDER BY y) + (count(*) OVER (PARTITION BY y) - 1) / 2.0 AS ay
        |  FROM u),
        |m AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(CAST(ax AS DECIMAL(38,12))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(ay AS DECIMAL(38,12))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(ax * ay AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(ax * ax AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(ay * ay AS DECIMAL(38,12))) AS DOUBLE) AS syy
        |  FROM r)
        |SELECT CAST(n AS BIGINT) AS n_users,
        |  round((n*sxy - sx*sy)
        |    / nullif(sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)), 0), 6) AS spearman_rho
        |FROM m""".stripMargin) { (s, d) =>
      val u = Tables.events(s, d).groupBy("user_id")
        .agg(count_if(col("event_type") === "click").as("x"),
          sum(when(col("event_type") === "purchase",
              col("value").cast("decimal(18,3)"))
            .otherwise(lit(0).cast("decimal(18,3)"))).cast("double").as("y"))
      def avgRank(c: String) =
        rank().over(Window.orderBy(col(c))) +
          (count(lit(1)).over(Window.partitionBy(col(c))) - 1) / lit(2.0)
      val r = u.select(avgRank("x").as("ax"), avgRank("y").as("ay"))
      val m = r.agg(count(lit(1)).as("n"),
        dsum(col("ax")).as("sx"), dsum(col("ay")).as("sy"),
        dsum(col("ax") * col("ay")).as("sxy"),
        dsum(col("ax") * col("ax")).as("sxx"),
        dsum(col("ay") * col("ay")).as("syy"))
      m.select(col("n").as("n_users"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          nullif(sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
            (col("n") * col("syy") - col("sy") * col("sy"))), lit(0.0)), 6)
          .as("spearman_rho"))
    },

    /** Weighted median (round 7): the activity-weighted middle user —
      * per element, the user-level mean value at which the cumulative
      * event-count weight crosses half the total. Classic
      * "median income weighted by population" shape: aggregate to the
      * entity grain first (one shuffle), then a per-element running
      * weight window finds the crossing; min(v) over the qualifying
      * side IS the crossing value, so no second pass. Exact decimal
      * user means keep the crossing comparison bit-identical.
      */
    QueryDef(
      "q242_weighted_median",
      """WITH u AS (
        |  SELECT event_type, user_id, count(*) AS wt,
        |    CAST(sum(CAST(value AS DECIMAL(18,3))) AS DOUBLE) / count(*) AS v
        |  FROM events GROUP BY 1, 2),
        |c AS (
        |  SELECT event_type, v, wt,
        |    sum(wt) OVER (PARTITION BY event_type ORDER BY v, user_id) AS cw,
        |    sum(wt) OVER (PARTITION BY event_type) AS tw
        |  FROM u)
        |SELECT event_type, round(min(v), 6) AS weighted_median,
        |  CAST(count(*) AS BIGINT) AS n_above_half
        |FROM c WHERE 2*cw >= tw GROUP BY 1 ORDER BY event_type""".stripMargin) { (s, d) =>
      val u = Tables.events(s, d).groupBy("event_type", "user_id")
        .agg(count(lit(1)).as("wt"),
          (sum(col("value").cast("decimal(18,3)")).cast("double") /
            count(lit(1))).as("v"))
      val wr = Window.partitionBy(col("event_type")).orderBy(col("v"), col("user_id"))
      val wt = Window.partitionBy(col("event_type"))
      u.select(col("event_type"), col("v"),
          sum(col("wt")).over(wr).as("cw"), sum(col("wt")).over(wt).as("tw"))
        .where(lit(2) * col("cw") >= col("tw"))
        .groupBy("event_type")
        .agg(round(min(col("v")), 6).as("weighted_median"),
          count(lit(1)).as("n_above_half"))
        .orderBy("event_type")
    },

    /** Bitmap-index retention intersection (round 7): day-over-day
      * retained users counted WITHOUT ever shuffling user sets. Each
      * day's audience compresses 63:1 into (word_idx, 63-bit presence
      * word) rows via bit_or (bit 63 stays clear — the sign bit is
      * engine-portability poison); distinct counts are word popcounts
      * and the day-1 ∩ day-2 audience is popcount(word AND word) over a
      * word-aligned join. The COUNT(DISTINCT)-intersection that
      * explodes at 100 TB becomes an O(|users|/63) bitmap join — the
      * hand-rolled form of a roaring-bitmap index.
      */
    QueryDef(
      "q243_bitmap_retention",
      """WITH b AS (
        |  SELECT CAST(ts AS DATE) AS day, user_id // 63 AS w_idx,
        |    bit_or(1::BIGINT << CAST(user_id % 63 AS INT)) AS word
        |  FROM events
        |  WHERE CAST(ts AS DATE) = DATE '2024-01-05'
        |     OR CAST(ts AS DATE) = DATE '2024-01-12'
        |  GROUP BY 1, 2),
        |d1 AS (SELECT w_idx, word FROM b WHERE day = DATE '2024-01-05'),
        |d2 AS (SELECT w_idx, word FROM b WHERE day = DATE '2024-01-12'),
        |j AS (
        |  SELECT CAST(coalesce(sum(bit_count(d1.word & d2.word)), 0) AS BIGINT) AS n_both
        |  FROM d1 JOIN d2 USING (w_idx))
        |SELECT
        |  (SELECT CAST(sum(bit_count(word)) AS BIGINT) FROM d1) AS n_day1,
        |  (SELECT CAST(sum(bit_count(word)) AS BIGINT) FROM d2) AS n_day2,
        |  n_both,
        |  round(n_both / (SELECT CAST(sum(bit_count(word)) AS DOUBLE) FROM d1), 6)
        |    AS retention
        |FROM j""".stripMargin) { (s, d) =>
      val day = col("ts").cast("date")
      val b = Tables.events(s, d)
        .where(day === lit("2024-01-05").cast("date") ||
          day === lit("2024-01-12").cast("date"))
        .groupBy(day.as("day"), expr("user_id DIV 63").as("w_idx"))
        .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(user_id % 63 AS INT)))")
          .as("word"))
      val d1 = b.where(col("day") === lit("2024-01-05").cast("date"))
        .select(col("w_idx"), col("word").as("w1"))
      val d2 = b.where(col("day") === lit("2024-01-12").cast("date"))
        .select(col("w_idx").as("w_idx2"), col("word").as("w2"))
      val n1 = d1.agg(sum(expr("bit_count(w1)")).cast("long").as("n_day1"))
      val n2 = d2.agg(sum(expr("bit_count(w2)")).cast("long").as("n_day2"))
      val both = d1.join(d2, col("w_idx") === col("w_idx2"))
        .agg(coalesce(sum(expr("bit_count(w1 & w2)")), lit(0L)).cast("long")
          .as("n_both"))
      n1.crossJoin(n2).crossJoin(both)
        .select(col("n_day1"), col("n_day2"), col("n_both"),
          round(col("n_both") / col("n_day1").cast("double"), 6).as("retention"))
    },

    /** Audience concentration (round 7): per element, the Gini
      * coefficient of user spend plus the top-20% share — the Lorenz
      * readout behind "how 80/20 is this audience". User totals stay
      * exact DECIMAL through the rank-weighted sums (rank·value
      * products are integer×decimal, exact), so only the two final
      * divisions are floating — both engines agree bit-for-bit. The
      * rank windows run per element over the aggregated user grain,
      * one shuffle total.
      */
    QueryDef(
      "q244_gini_concentration",
      """WITH u AS (
        |  SELECT event_type, user_id, sum(CAST(value AS DECIMAL(18,3))) AS v
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT event_type, v,
        |    row_number() OVER (PARTITION BY event_type ORDER BY v, user_id) AS i,
        |    row_number() OVER (PARTITION BY event_type ORDER BY v DESC, user_id DESC) AS rd,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM u),
        |a AS (
        |  SELECT event_type, max(n) AS n,
        |    CAST(sum(i * v) AS DOUBLE) AS siv,
        |    CAST(sum(v) AS DOUBLE) AS sv,
        |    CAST(sum(CASE WHEN rd <= ceil(n/5.0) THEN v
        |             ELSE CAST(0 AS DECIMAL(18,3)) END) AS DOUBLE) AS topv
        |  FROM r GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n_users,
        |  round((2*siv - (n+1)*sv) / (n*sv), 6) AS gini,
        |  round(topv / sv, 6) AS top20_share
        |FROM a ORDER BY event_type""".stripMargin) { (s, d) =>
      val u = Tables.events(s, d).groupBy("event_type", "user_id")
        .agg(sum(col("value").cast("decimal(18,3)")).as("v"))
      val wa = Window.partitionBy(col("event_type")).orderBy(col("v"), col("user_id"))
      val wd = Window.partitionBy(col("event_type"))
        .orderBy(col("v").desc, col("user_id").desc)
      val wn = Window.partitionBy(col("event_type"))
      val r = u.select(col("event_type"), col("v"),
        row_number().over(wa).as("i"), row_number().over(wd).as("rd"),
        count(lit(1)).over(wn).as("n"))
      val a = r.groupBy("event_type").agg(max(col("n")).as("n"),
        sum(col("i") * col("v")).cast("double").as("siv"),
        sum(col("v")).cast("double").as("sv"),
        sum(when(col("rd") <= ceil(col("n") / lit(5.0)), col("v"))
          .otherwise(lit(0).cast("decimal(18,3)"))).cast("double").as("topv"))
      a.select(col("event_type"), col("n").as("n_users"),
          round((lit(2) * col("siv") - (col("n") + 1) * col("sv")) /
            (col("n") * col("sv")), 6).as("gini"),
          round(col("topv") / col("sv"), 6).as("top20_share"))
        .orderBy("event_type")
    },

    /** Time-to-convert distribution (round 7): exact interpolated p50/
      * p90 of the click→purchase latency, reusing q222's running-max
      * precedence window (one user shuffle, no self-join lookback).
      * Deltas are exact integer micros scaled to seconds; both engines
      * run the same linear-interpolation percentile over identical
      * doubles. At 100 TB the drop-in is approx_percentile with the
      * same plan shape (the docstringed q168 trade).
      */
    QueryDef(
      "q245_time_to_convert",
      """WITH w AS (
        |  SELECT event_type, ts,
        |    max(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click
        |  FROM events),
        |c AS (
        |  SELECT (epoch_us(ts) - last_click) / 1e6 AS dt
        |  FROM w WHERE event_type = 'purchase' AND last_click IS NOT NULL)
        |SELECT CAST(count(*) AS BIGINT) AS n_conversions,
        |  round(quantile_cont(dt, 0.5), 3) AS p50_sec,
        |  round(quantile_cont(dt, 0.9), 3) AS p90_sec
        |FROM c""".stripMargin) { (s, d) =>
      val wp = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, d)
        .withColumn("last_click",
          max(when(col("event_type") === "click", unix_micros(col("ts")))).over(wp))
        .where(col("event_type") === "purchase" && col("last_click").isNotNull)
        .select(((unix_micros(col("ts")) - col("last_click")) / lit(1e6)).as("dt"))
        .agg(count(lit(1)).as("n_conversions"),
          round(expr("percentile(dt, 0.5)"), 3).as("p50_sec"),
          round(expr("percentile(dt, 0.9)"), 3).as("p90_sec"))
    },

    /** KMV (k-minimum-values / theta) distinct sketch with SET ALGEBRA
      * (round 9): the member of the sketch family (HLL q106, count-min
      * q231, Misra-Gries q196, histogram q279) that supports union AND
      * intersection estimates. Per audience the k = 64 smallest salted-
      * hash values of the distinct users ARE the sketch; D̂ = (k−1)/h(k)
      * (or the exact count below k — the sketch degrades to the set).
      * Union sketch = k smallest of the merged hash sets; intersection
      * by inclusion-exclusion. The md5 hash is the engine-portable
      * q166 uniform, so every estimate hash-verifies. Scale: the
      * sketch cut runs through the bounded-heap TopKPerGroup — ≤ k
      * rows per audience ever shuffle, the 100 TB distinct-counting
      * shape; truths are one exact distinct aggregate for the audit
      * columns.
      */
    QueryDef(
      "q299_kmv_theta", {
        val hs = "1152921504606846977.0"
        val hv = s"(('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':kmv'), 1, 15))::BIGINT + 1.0) / $hs"
        s"""WITH du AS (
           |  SELECT DISTINCT event_type AS et, user_id FROM events
           |  WHERE event_type IN ('click', 'purchase')),
           |h AS (SELECT et, user_id, $hv AS hv FROM du),
           |rk AS (
           |  SELECT et, hv, row_number() OVER (PARTITION BY et ORDER BY hv) AS rn,
           |    count(*) OVER (PARTITION BY et) AS nd
           |  FROM h),
           |sk AS (SELECT et, hv, rn, nd FROM rk WHERE rn <= 64),
           |est AS (
           |  SELECT et AS scope,
           |    CASE WHEN max(nd) < 64 THEN CAST(max(nd) AS DOUBLE)
           |         ELSE 63 / max(CASE WHEN rn = 64 THEN hv END) END AS est,
           |    CAST(max(nd) AS BIGINT) AS truth
           |  FROM sk GROUP BY 1),
           |uh AS (SELECT DISTINCT hv FROM sk),
           |urk AS (
           |  SELECT hv, row_number() OVER (ORDER BY hv) AS rn, count(*) OVER () AS m
           |  FROM uh),
           |uest AS (
           |  SELECT CASE WHEN max(m) < 64 THEN CAST(max(m) AS DOUBLE)
           |              ELSE 63 / max(CASE WHEN rn = 64 THEN hv END) END AS est
           |  FROM urk WHERE rn <= 64),
           |tu AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS truth FROM du),
           |ti AS (
           |  SELECT CAST(count(*) AS BIGINT) AS truth FROM (
           |    SELECT user_id FROM du GROUP BY 1 HAVING count(DISTINCT et) = 2) q),
           |ab AS (
           |  SELECT max(CASE WHEN scope = 'click' THEN est END) AS ea,
           |    max(CASE WHEN scope = 'purchase' THEN est END) AS eb
           |  FROM est)
           |SELECT scope, round(est, 2) AS est, truth,
           |  round(abs(est - truth) / truth, 6) AS rel_err
           |FROM (
           |  SELECT scope, est, truth FROM est
           |  UNION ALL SELECT 'union', uest.est, tu.truth FROM uest CROSS JOIN tu
           |  UNION ALL SELECT 'intersection', ab.ea + ab.eb - uest.est, ti.truth
           |    FROM ab CROSS JOIN uest CROSS JOIN ti) f
           |ORDER BY scope""".stripMargin
      }) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val hs = 1152921504606846977.0
      val du = Tables.events(s, d)
        .where(col("event_type").isin("click", "purchase"))
        .select(col("event_type").as("et"), col("user_id")).distinct()
      val h = du.select(col("et"), col("user_id"),
        ((conv(substring(md5(concat(col("user_id").cast("string"), lit(":kmv"))),
          1, 15), 16, 10).cast("double") + 1.0) / hs).as("hv"))
      // bounded-heap cut: at most k rows per audience reach the window
      val cut = graft.plans.TopKPerGroupOps.topKPerGroup(s, h,
        Seq(col("et")), Seq(col("hv").asc, col("user_id")), 64)
      val nd = h.groupBy(col("et").as("net")).agg(count(lit(1)).as("nd"))
      val sk = cut.join(broadcast(nd), col("net") === col("et"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("et")).orderBy(col("hv"))))
      val est = sk.groupBy(col("et").as("scope")).agg(
        when(max(col("nd")) < 64, max(col("nd")).cast("double"))
          .otherwise(lit(63) / max(when(col("rn") === 64, col("hv")))).as("est"),
        max(col("nd")).cast("long").as("truth"))
      val uh = sk.select(col("hv")).distinct()
      val urk = uh.select(col("hv"),
        row_number().over(Window.orderBy(col("hv"))).as("rn"),
        count(lit(1)).over(Window.partitionBy()).as("m"))
      val uest = urk.where(col("rn") <= 64).agg(
        when(max(col("m")) < 64, max(col("m")).cast("double"))
          .otherwise(lit(63) / max(when(col("rn") === 64, col("hv")))).as("est"))
      val tu = du.agg(countDistinct(col("user_id")).cast("long").as("truth"))
      val ti = du.groupBy("user_id").agg(countDistinct(col("et")).as("ne"))
        .where(col("ne") === 2).agg(count(lit(1)).cast("long").as("truth"))
      val ab = est.agg(
        max(when(col("scope") === "click", col("est"))).as("ea"),
        max(when(col("scope") === "purchase", col("est"))).as("eb"))
      val uRow = uest.crossJoin(broadcast(tu))
        .select(lit("union").as("scope"), col("est"), col("truth"))
      val iRow = ab.crossJoin(broadcast(uest.select(col("est").as("ue"))))
        .crossJoin(broadcast(ti))
        .select(lit("intersection").as("scope"),
          (col("ea") + col("eb") - col("ue")).as("est"), col("truth"))
      est.select(col("scope"), col("est"), col("truth"))
        .unionByName(uRow).unionByName(iRow)
        .select(col("scope"), round(col("est"), 2).as("est"), col("truth"),
          r6(abs(col("est") - col("truth")) / col("truth")).as("rel_err"))
        .orderBy("scope")
    },

    /** Join-cardinality estimation bake-off — the statistic a
      * cost-based planner actually consumes (q255 proved stats flip a
      * join strategy; this measures how good the estimate is): for the
      * filtered orders ⋈ lineitem equi-join, the TRUE output size
      * Σ_k ca_k·cb_k (computed from per-key count tables — the join
      * itself never runs), the 1024-bucket hashed-histogram estimate
      * Σ_b ca_b·cb_b (what a bounded-memory planner stores; an upper
      * bound by Cauchy-Schwarz within buckets), and the textbook
      * containment estimate |A|·|B|/max(ndv) — with their error
      * ratios. All integer arithmetic on count tables; the widest
      * shuffle is key-grain counts.
      */
    QueryDef(
      "q346_join_card_estimate",
      """WITH a AS (
        |  SELECT o_orderkey AS k, count(*) AS ca FROM orders
        |  WHERE o_totalprice > 200000 GROUP BY 1),
        |b AS (SELECT l_orderkey AS k, count(*) AS cb FROM lineitem GROUP BY 1),
        |ex AS (SELECT sum(a.ca * b.cb) AS true_card FROM a JOIN b ON b.k = a.k),
        |ab AS (SELECT ('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15))::BIGINT % 1024 AS bk,
        |              sum(ca) AS ca FROM a GROUP BY 1),
        |bb AS (SELECT ('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15))::BIGINT % 1024 AS bk,
        |              sum(cb) AS cb FROM b GROUP BY 1),
        |es AS (SELECT sum(ab.ca * bb.cb) AS bucket_est FROM ab JOIN bb ON bb.bk = ab.bk),
        |tot AS (
        |  SELECT (SELECT sum(ca) FROM a) AS na, (SELECT sum(cb) FROM b) AS nb,
        |    (SELECT count(*) FROM a) AS ndva, (SELECT count(*) FROM b) AS ndvb)
        |SELECT CAST(ex.true_card AS BIGINT) AS true_card,
        |  CAST(es.bucket_est AS BIGINT) AS bucket_est,
        |  round(CAST(es.bucket_est AS DOUBLE) / ex.true_card, 4) AS bucket_ratio,
        |  CAST(tot.na * tot.nb // greatest(tot.ndva, tot.ndvb) AS BIGINT) AS containment_est,
        |  round(CAST(tot.na * tot.nb // greatest(tot.ndva, tot.ndvb) AS DOUBLE)
        |    / ex.true_card, 4) AS containment_ratio
        |FROM ex CROSS JOIN es CROSS JOIN tot""".stripMargin) { (s, d) =>
      val a = Tables.orders(s, d).where(col("o_totalprice") > 200000)
        .groupBy(col("o_orderkey").as("k")).agg(count(lit(1)).as("ca"))
      val b = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey").as("k2")).agg(count(lit(1)).as("cb"))
      val ex = a.join(b, col("k2") === col("k"))
        .agg(sum(col("ca") * col("cb")).as("true_card"))
      def bucketed(df: DataFrame, key: String, cnt: String) =
        df.groupBy((conv(substring(md5(col(key).cast("string")), 1, 15), 16, 10)
            .cast("long") % 1024).as("bk"))
          .agg(sum(col(cnt)).as(cnt))
      val es = bucketed(a, "k", "ca")
        .join(bucketed(b, "k2", "cb").withColumnRenamed("bk", "bk2"),
          col("bk2") === col("bk"))
        .agg(sum(col("ca") * col("cb")).as("bucket_est"))
      val tot = a.agg(sum(col("ca")).as("na"), count(lit(1)).as("ndva"))
        .crossJoin(b.agg(sum(col("cb")).as("nb"), count(lit(1)).as("ndvb")))
      ex.crossJoin(es).crossJoin(tot)
        .select(col("true_card").cast("long").as("true_card"),
          col("bucket_est").cast("long").as("bucket_est"),
          round(col("bucket_est").cast("double") / col("true_card"), 4).as("bucket_ratio"),
          expr("(na * nb) div greatest(ndva, ndvb)").as("containment_est"),
          round(expr("(na * nb) div greatest(ndva, ndvb)").cast("double") /
            col("true_card"), 4).as("containment_ratio"))
    },

    /** Foreign-key discovery by inclusion-dependency profiling — the
      * data-catalog pass that finds joinable columns without schema
      * metadata: for each candidate (child, parent) key pair, the
      * fraction of the child's DISTINCT values contained in the parent
      * (semi-join on the key-grain distinct sets, never row-grain);
      * containment ≥ 0.999 flags an FK candidate. Includes a designed
      * NEGATIVE pair so the flag demonstrably discriminates.
      */
    QueryDef(
      "q350_fk_discovery",
      """WITH t AS (
        |  SELECT 'events.user_id->customer.c_custkey' AS pair,
        |    (SELECT count(DISTINCT user_id) FROM events) AS child_ndv,
        |    (SELECT count(*) FROM (SELECT DISTINCT user_id AS k FROM events) c
        |     WHERE c.k IN (SELECT c_custkey FROM customer)) AS contained
        |  UNION ALL
        |  SELECT 'orders.o_custkey->customer.c_custkey',
        |    (SELECT count(DISTINCT o_custkey) FROM orders),
        |    (SELECT count(*) FROM (SELECT DISTINCT o_custkey AS k FROM orders) c
        |     WHERE c.k IN (SELECT c_custkey FROM customer))
        |  UNION ALL
        |  SELECT 'lineitem.l_orderkey->orders.o_orderkey',
        |    (SELECT count(DISTINCT l_orderkey) FROM lineitem),
        |    (SELECT count(*) FROM (SELECT DISTINCT l_orderkey AS k FROM lineitem) c
        |     WHERE c.k IN (SELECT o_orderkey FROM orders))
        |  UNION ALL
        |  SELECT 'lineitem.l_partkey->part.p_partkey',
        |    (SELECT count(DISTINCT l_partkey) FROM lineitem),
        |    (SELECT count(*) FROM (SELECT DISTINCT l_partkey AS k FROM lineitem) c
        |     WHERE c.k IN (SELECT p_partkey FROM part))
        |  UNION ALL
        |  SELECT 'orders.o_orderkey->part.p_partkey',
        |    (SELECT count(DISTINCT o_orderkey) FROM orders),
        |    (SELECT count(*) FROM (SELECT DISTINCT o_orderkey AS k FROM orders) c
        |     WHERE c.k IN (SELECT p_partkey FROM part)))
        |SELECT pair, CAST(child_ndv AS BIGINT) AS child_ndv,
        |  CAST(contained AS BIGINT) AS contained,
        |  round(CAST(contained AS DOUBLE) / child_ndv, 6) AS containment,
        |  CAST(CAST(contained AS DOUBLE) / child_ndv >= 0.999 AS INT) AS fk_candidate
        |FROM t ORDER BY pair""".stripMargin) { (s, d) =>
      def probe(name: String, child: DataFrame, childKey: String,
          parent: DataFrame, parentKey: String): DataFrame = {
        val ck = child.select(col(childKey).as("k")).distinct()
        val pk = parent.select(col(parentKey).as("pk")).distinct()
        ck.join(pk, col("pk") === col("k"), "left")
          .agg(count(lit(1)).as("child_ndv"), count(col("pk")).as("contained"))
          .select(lit(name).as("pair"), col("child_ndv"), col("contained"))
      }
      val e = Tables.events(s, d); val c = Tables.customer(s, d)
      val o = Tables.orders(s, d); val li = Tables.lineitem(s, d)
      val p = Tables.part(s, d)
      probe("events.user_id->customer.c_custkey", e, "user_id", c, "c_custkey")
        .unionByName(probe("orders.o_custkey->customer.c_custkey", o, "o_custkey", c, "c_custkey"))
        .unionByName(probe("lineitem.l_orderkey->orders.o_orderkey", li, "l_orderkey", o, "o_orderkey"))
        .unionByName(probe("lineitem.l_partkey->part.p_partkey", li, "l_partkey", p, "p_partkey"))
        .unionByName(probe("orders.o_orderkey->part.p_partkey", o, "o_orderkey", p, "p_partkey"))
        .select(col("pair"), col("child_ndv").cast("long").as("child_ndv"),
          col("contained").cast("long").as("contained"),
          round(col("contained").cast("double") / col("child_ndv"), 6).as("containment"),
          (col("contained").cast("double") / col("child_ndv") >= 0.999)
            .cast("int").as("fk_candidate"))
        .orderBy("pair")
    },

    /** Neyman-optimal stratified sampling allocation (Neyman 1934):
      * split a 1000-row sample budget across event-type strata
      * ∝ N_h·σ_h (big AND volatile strata get more), integerized by
      * the same Hamilton largest-remainder as q343, with proportional
      * allocation (∝ N_h) alongside to show what variance-awareness
      * changes. Per-stratum moments are one decimal aggregate; the
      * apportionment windows run over the 5-row stratum table.
      */
    QueryDef(
      "q351_neyman_allocation",
      """WITH m AS (
        |  SELECT event_type AS h, count(*) AS nh,
        |    CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE) AS sxx
        |  FROM events GROUP BY 1),
        |sd AS (
        |  SELECT h, nh,
        |    sqrt((nh * sxx - sx * sx) / (CAST(nh AS DOUBLE) * (nh - 1))) AS sh
        |  FROM m),
        |w AS (
        |  SELECT h, nh, sh, nh * sh AS wh,
        |    sum(nh * sh) OVER () AS wt, sum(nh) OVER () AS nt
        |  FROM sd),
        |alloc AS (
        |  SELECT h, nh, sh,
        |    CAST(floor(1000 * wh / wt) AS BIGINT) AS nbase,
        |    1000 * wh / wt - floor(1000 * wh / wt) AS nrem,
        |    CAST(floor(1000.0 * nh / nt) AS BIGINT) AS pbase,
        |    1000.0 * nh / nt - floor(1000.0 * nh / nt) AS prem
        |  FROM w),
        |rk AS (
        |  SELECT *,
        |    row_number() OVER (ORDER BY nrem DESC, h) AS nr,
        |    row_number() OVER (ORDER BY prem DESC, h) AS pr,
        |    1000 - sum(nbase) OVER () AS nleft,
        |    1000 - sum(pbase) OVER () AS pleft
        |  FROM alloc)
        |SELECT h AS stratum, CAST(nh AS BIGINT) AS n_pop, round(sh, 6) AS sd,
        |  CAST(nbase + CASE WHEN nr <= nleft THEN 1 ELSE 0 END AS BIGINT) AS neyman_n,
        |  CAST(pbase + CASE WHEN pr <= pleft THEN 1 ELSE 0 END AS BIGINT) AS proportional_n
        |FROM rk ORDER BY stratum""".stripMargin) { (s, d) =>
      val m = Tables.events(s, d)
        .groupBy(col("event_type").as("h"))
        .agg(count(lit(1)).as("nh"),
          sum(col("value").cast("decimal(38,12)")).cast("double").as("sx"),
          sum((col("value") * col("value")).cast("decimal(38,12)")).cast("double").as("sxx"))
      val sd = m.select(col("h"), col("nh"),
        sqrt((col("nh") * col("sxx") - col("sx") * col("sx")) /
          (col("nh").cast("double") * (col("nh") - 1))).as("sh"))
      val wAll = Window.partitionBy(lit(1)).rowsBetween(Long.MinValue, Long.MaxValue)
      val w = sd
        .withColumn("wh", col("nh") * col("sh"))
        .withColumn("wt", sum(col("nh") * col("sh")).over(wAll))
        .withColumn("nt", sum(col("nh")).over(wAll))
      val alloc = w.select(col("h"), col("nh"), col("sh"),
        floor(lit(1000) * col("wh") / col("wt")).cast("long").as("nbase"),
        (lit(1000) * col("wh") / col("wt") -
          floor(lit(1000) * col("wh") / col("wt"))).as("nrem"),
        floor(lit(1000.0) * col("nh") / col("nt")).cast("long").as("pbase"),
        (lit(1000.0) * col("nh") / col("nt") -
          floor(lit(1000.0) * col("nh") / col("nt"))).as("prem"))
      alloc
        .withColumn("nr", row_number().over(Window.orderBy(col("nrem").desc, col("h"))))
        .withColumn("pr", row_number().over(Window.orderBy(col("prem").desc, col("h"))))
        .withColumn("nleft", lit(1000L) - sum(col("nbase")).over(wAll))
        .withColumn("pleft", lit(1000L) - sum(col("pbase")).over(wAll))
        .select(col("h").as("stratum"), col("nh").cast("long").as("n_pop"),
          round(col("sh"), 6).as("sd"),
          (col("nbase") + when(col("nr") <= col("nleft"), 1L).otherwise(0L))
            .cast("long").as("neyman_n"),
          (col("pbase") + when(col("pr") <= col("pleft"), 1L).otherwise(0L))
            .cast("long").as("proportional_n"))
        .orderBy("stratum")
    }
  )
}
