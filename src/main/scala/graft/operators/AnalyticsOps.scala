package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 analytics operators: SCD2 interval derivation (CDC-style
  * change capture), iterative graph ranking (PageRank over the q142
  * host graph), Lloyd k-means vector quantization (the IVF coarse
  * quantizer q65/q90 presuppose), ordered funnel analysis, and cohort
  * retention — the warehouse-analytics layer above the reference's
  * per-entity time grid (`run.py:17-18`'s year×feature tensor is
  * exactly an SCD-snapshot table after densification).
  *
  * Scale notes inline per query; the shared theme is that every
  * iteration/stage is one hash shuffle on its natural key and all
  * per-iteration state that must round-trip the driver is O(k·dims)
  * (k-means centroids, 20-node rank vector) — never O(rows).
  */
object AnalyticsOps {
  import CausalOps.r6

  /** k-means configuration shared by the Spark plan and the generated
    * oracle SQL: first `Dims` embedding components, `K` clusters seeded
    * from vec_id 0..K-1, `Iters` Lloyd rounds. Exact-decimal centroid
    * sums (sum of DECIMAL(18,9), then one double division) make the
    * per-iteration centroids BIT-IDENTICAL across engines, so the
    * assignment argmin — and therefore the hash — agrees without any
    * tolerance. */
  private val K = 4
  private val Dims = 8
  private val Iters = 3

  val defs: Seq[QueryDef] = Seq(

    /** SCD2 (slowly-changing-dimension type 2) interval derivation from
      * an event snapshot stream — the CDC "merge into history" pass a
      * warehouse runs on every load. State = the 20-wide value bucket;
      * consecutive same-state snapshots collapse into one validity
      * interval [valid_from, valid_to) with an is_current flag on the
      * open tail. One shuffle (user_id), two window passes over it —
      * change detection (lag) and interval close (lead) share the same
      * sort, and at 100 TB the shuffle is on the natural entity key so
      * AQE sizes it like any per-user pass.
      */
    QueryDef(
      "q150_scd2_intervals",
      """WITH snap AS (
        |  SELECT user_id, ts, event_id, CAST(floor(value / 20) AS BIGINT) AS state
        |  FROM events WHERE event_type = 'purchase'),
        |chg AS (
        |  SELECT user_id, ts, event_id, state,
        |    lag(state) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_state
        |  FROM snap),
        |runs AS (
        |  SELECT user_id, ts, state,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts
        |  FROM chg WHERE prev_state IS NULL OR prev_state <> state)
        |SELECT user_id, state,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
        |  coalesce(strftime(next_ts, '%Y-%m-%d %H:%M:%S'), 'open') AS valid_to,
        |  CAST(next_ts IS NULL AS INT) AS is_current
        |FROM runs ORDER BY user_id, valid_from""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val snap = Tables.events(s, d)
        .where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"),
          floor(col("value") / 20).cast("long").as("state"))
      val runs = snap
        .withColumn("prev_state", lag(col("state"), 1).over(w))
        .where(col("prev_state").isNull || col("prev_state") =!= col("state"))
        .withColumn("next_ts", lead(col("ts"), 1).over(w))
      runs.select(col("user_id"), col("state"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
          coalesce(date_format(col("next_ts"), "yyyy-MM-dd HH:mm:ss"), lit("open"))
            .as("valid_to"),
          col("next_ts").isNull.cast("int").as("is_current"))
        .orderBy("user_id", "valid_from")
    },

    /** Weighted PageRank (3 iterations, damping 0.85) over the q142
      * host graph: host(doc) links to host `src<(doc_id/7) % 20>` — a
      * deterministic synthetic web graph (doc_id%20 would self-loop:
      * the generator sets source = src<doc_id%20>). Each iteration is ONE shuffle:
      * join rank onto the (tiny, pre-aggregated) edge list and re-group
      * by destination. The edge aggregate and node count are computed
      * once; at 100 TB the edge list is the only big table and the rank
      * vector stays O(hosts), exactly how graph rank jobs shape on
      * Spark (the rank side broadcasts once it fits).
      */
    QueryDef(
      "q151_host_pagerank", {
        val iter = (i: Int) => s"""pr$i AS (
           |  SELECT n.host,
           |    (1 - 0.85) / (SELECT cnt FROM nn) +
           |      0.85 * coalesce(sum(p.rank * e.w / od.outw), 0) AS rank
           |  FROM nodes n
           |  LEFT JOIN edges e ON e.dst = n.host
           |  LEFT JOIN pr${i - 1} p ON p.host = e.src
           |  LEFT JOIN outdeg od ON od.src = e.src
           |  GROUP BY n.host)"""
        s"""WITH links AS (
           |  SELECT source || '.example.com' AS src,
           |    'src' || ((doc_id // 7) % 20) || '.example.com' AS dst
           |  FROM documents),
           |edges AS (
           |  SELECT src, dst, CAST(count(*) AS DOUBLE) AS w FROM links GROUP BY src, dst),
           |nodes AS (SELECT DISTINCT src AS host FROM links
           |          UNION SELECT DISTINCT dst FROM links),
           |nn AS (SELECT CAST(count(*) AS DOUBLE) AS cnt FROM nodes),
           |outdeg AS (SELECT src, sum(w) AS outw FROM edges GROUP BY src),
           |pr0 AS (SELECT host, 1.0 / (SELECT cnt FROM nn) AS rank FROM nodes),
           |${(1 to Iters).map(iter).mkString(",\n")}
           |SELECT host, round(rank, 9) AS rank FROM pr$Iters ORDER BY host"""
          .stripMargin
      }) { (s, d) =>
      val links = Tables.documents(s, d)
        .select(concat(col("source"), lit(".example.com")).as("src"),
          concat(lit("src"), expr("doc_id DIV 7") % 20, lit(".example.com")).as("dst"))
      // PlanCache, not fresh .cache() per invocation (round-7 ADVICE
      // accumulation pattern): tiny (hosts**2), reused by all iterations
      val edges = graft.PlanCache.cached(s, s"pr_edges|$d") {
        links.groupBy("src", "dst")
          .agg(count(lit(1)).cast("double").as("w"))
      }
      val nodes = graft.PlanCache.cached(s, s"pr_nodes|$d") {
        links.select(col("src").as("host"))
          .union(links.select(col("dst"))).distinct()
      }
      val n = nodes.count().toDouble
      val outdeg = edges.groupBy("src").agg(sum(col("w")).as("outw"))
      var pr = nodes.select(col("host"), (lit(1.0) / n).as("rank"))
      for (_ <- 1 to Iters) {
        val contrib = edges
          .join(broadcast(pr.withColumnRenamed("host", "src")), Seq("src"))
          .join(broadcast(outdeg), Seq("src"))
          .groupBy(col("dst").as("host"))
          .agg(sum(col("rank") * col("w") / col("outw")).as("c"))
        pr = nodes.join(contrib, Seq("host"), "left")
          .select(col("host"),
            (lit((1 - 0.85) / n) + lit(0.85) * coalesce(col("c"), lit(0.0)))
              .as("rank"))
      }
      pr.select(col("host"), round(col("rank"), 9).as("rank")).orderBy("host")
    },

    /** Lloyd k-means over the first 8 embedding dims (K=4, 3
      * iterations, seeds = vec_id 0..3) — the coarse quantizer an IVF
      * index trains (q65/q90 consume exactly this artifact). The Spark
      * shape is the canonical one: centroids round-trip the driver
      * (O(K·Dims) doubles) and come back as broadcast literals, so the
      * data never shuffles at all — every iteration is a map-side argmin
      * + one partial-aggregated groupBy(K rows). Exact-decimal centroid
      * sums keep both engines bit-identical (see [[K]] doc).
      */
    QueryDef("q152_kmeans_lloyd", kmeansOracle) { (s, d) =>
      val e = graft.PlanCache.cached(s, s"kmeans_feat|$d") {
        Tables.embeddings(s, d)
          .select(col("vec_id") +: (0 until Dims).map(i =>
            element_at(col("embedding"), i + 1).cast("double").as(s"d$i")): _*)
      } // Dims doubles per row; read once per Lloyd iteration
      // seed: the first K vectors by id
      var cents: Array[(Int, Array[Double])] = e.where(col("vec_id") < K)
        .orderBy("vec_id").collect()
        .zipWithIndex
        .map { case (r, i) => (i, (0 until Dims).map(j => r.getDouble(1 + j)).toArray) }
      for (_ <- 1 to Iters) {
        val dist = (c: Array[Double]) =>
          (0 until Dims).map(j => (col(s"d$j") - c(j)) * (col(s"d$j") - c(j)))
            .reduce(_ + _)
        val assigned = e.withColumn("cluster",
          least(cents.map { case (k, c) => struct(dist(c).as("d"), lit(k).as("k")) }: _*)
            .getField("k"))
        cents = assigned.groupBy("cluster")
          .agg(count(lit(1)).as("n"),
            (0 until Dims).map(j =>
              (sum(col(s"d$j").cast("decimal(18,9)")).cast("double") / count(lit(1)))
                .as(s"c$j")): _*)
          .collect()
          .map(r => (r.getInt(0), (0 until Dims).map(j => r.getDouble(2 + j)).toArray))
          .sortBy(_._1)
      }
      val finalDist = (c: Array[Double]) =>
        (0 until Dims).map(j => (col(s"d$j") - c(j)) * (col(s"d$j") - c(j)))
          .reduce(_ + _)
      e.withColumn("cluster",
          least(cents.map { case (k, c) => struct(finalDist(c).as("d"), lit(k).as("k")) }: _*)
            .getField("k"))
        .groupBy("cluster")
        .agg(count(lit(1)).as("n"),
          r6(sum(col("d0").cast("decimal(18,9)")).cast("double") / count(lit(1))).as("mean_d0"),
          r6(sum(col("d1").cast("decimal(18,9)")).cast("double") / count(lit(1))).as("mean_d1"))
        .orderBy("cluster")
    },

    /** Ordered conversion funnel signup → click → purchase: each stage's
      * timestamp is the FIRST qualifying event strictly after the prior
      * stage (min over a conditional, not a join), so the whole funnel
      * is one groupBy(user_id) with three chained conditional mins —
      * a single shuffle, no self-joins. The per-user stage times then
      * roll up into reach counts + median inter-stage hours. The
      * no-self-join form is what survives 100 TB: funnels as joins
      * explode quadratically on active users.
      */
    QueryDef(
      "q153_event_funnel",
      """WITH st AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'signup' THEN ts END) AS t1
        |  FROM events GROUP BY user_id),
        |st2 AS (
        |  SELECT e.user_id, st.t1,
        |    min(CASE WHEN e.event_type = 'click' AND e.ts > st.t1 THEN e.ts END) AS t2
        |  FROM events e JOIN st ON e.user_id = st.user_id
        |  GROUP BY e.user_id, st.t1),
        |st3 AS (
        |  SELECT e.user_id, st2.t1, st2.t2,
        |    min(CASE WHEN e.event_type = 'purchase' AND e.ts > st2.t2 THEN e.ts END) AS t3
        |  FROM events e JOIN st2 ON e.user_id = st2.user_id
        |  GROUP BY e.user_id, st2.t1, st2.t2)
        |SELECT
        |  CAST(count_if(t1 IS NOT NULL) AS BIGINT) AS n_signup,
        |  CAST(count_if(t1 IS NOT NULL AND t2 IS NOT NULL) AS BIGINT) AS n_click,
        |  CAST(count_if(t1 IS NOT NULL AND t2 IS NOT NULL AND t3 IS NOT NULL) AS BIGINT) AS n_purchase,
        |  round(median(CASE WHEN t1 IS NOT NULL AND t2 IS NOT NULL
        |    THEN date_diff('second', t1, t2) / 3600.0 END), 4) AS med_h_s2c,
        |  round(median(CASE WHEN t2 IS NOT NULL AND t3 IS NOT NULL
        |    THEN date_diff('second', t2, t3) / 3600.0 END), 4) AS med_h_c2p
        |FROM st3""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
      // One aggregation pass: per-user signup time, then (via the same
      // grouped frame re-joined narrowly) conditional firsts. Spark
      // can't nest "min after t1" in one agg without the join on the
      // grouped result, but both joins are on the SAME user_id hash
      // partitioning, so AQE plans them shuffle-free after stage one.
      val st = e.groupBy("user_id")
        .agg(min(when(col("event_type") === "signup", col("ts"))).as("t1"))
      val st2 = e.join(st, Seq("user_id"))
        .groupBy("user_id", "t1")
        .agg(min(when(col("event_type") === "click" && col("ts") > col("t1"),
          col("ts"))).as("t2"))
      val st3 = e.join(st2, Seq("user_id"))
        .groupBy("user_id", "t1", "t2")
        .agg(min(when(col("event_type") === "purchase" && col("ts") > col("t2"),
          col("ts"))).as("t3"))
      st3.agg(
        count_if(col("t1").isNotNull).as("n_signup"),
        count_if(col("t1").isNotNull && col("t2").isNotNull).as("n_click"),
        count_if(col("t1").isNotNull && col("t2").isNotNull && col("t3").isNotNull)
          .as("n_purchase"),
        round(median(when(col("t1").isNotNull && col("t2").isNotNull,
          (unix_timestamp(col("t2")) - unix_timestamp(col("t1"))) / 3600.0)), 4)
          .as("med_h_s2c"),
        round(median(when(col("t2").isNotNull && col("t3").isNotNull,
          (unix_timestamp(col("t3")) - unix_timestamp(col("t2"))) / 3600.0)), 4)
          .as("med_h_c2p"))
    },

    /** Cohort retention matrix: cohort = ISO week of a user's first
      * event; each (cohort, weeks-since) cell counts distinct users
      * active that week. Two shuffles total — first-event per user
      * (entity key), then the matrix aggregate on the composite key;
      * the distinct is per-cell user dedup and partial-aggregates
      * map-side. The standard growth-analytics rollup, stated so the
      * 100 TB plan is two clean hash aggregations.
      */
    QueryDef(
      "q154_retention_cohort",
      """WITH first_ev AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS d0 FROM events GROUP BY user_id),
        |activity AS (
        |  SELECT DISTINCT e.user_id,
        |    CAST(date_trunc('week', f.d0) AS DATE) AS cohort_week,
        |    CAST(floor(date_diff('day', date_trunc('week', f.d0),
        |                         date_trunc('week', CAST(e.ts AS DATE))) / 7) AS BIGINT) AS week_n
        |  FROM events e JOIN first_ev f ON e.user_id = f.user_id)
        |SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week, week_n,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM activity GROUP BY cohort_week, week_n
        |ORDER BY cohort_week, week_n""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
      val firstEv = e.groupBy("user_id")
        .agg(min(col("ts").cast("date")).as("d0"))
      e.join(firstEv, Seq("user_id"))
        .select(col("user_id"),
          date_trunc("week", col("d0")).cast("date").as("cohort_week"),
          floor(datediff(date_trunc("week", col("ts").cast("date")),
            date_trunc("week", col("d0"))) / 7).cast("long").as("week_n"))
        .distinct()
        .groupBy("cohort_week", "week_n")
        .agg(count(lit(1)).as("n_users"))
        .select(date_format(col("cohort_week"), "yyyy-MM-dd").as("cohort_week"),
          col("week_n"), col("n_users"))
        .orderBy("cohort_week", "week_n")
    },

    /** Cohort lifetime-value curves — q154's retention grid upgraded
      * from presence to MONEY: per signup-week cohort, cumulative
      * purchase value per cohort member at each week of age. The
      * payback-period readout every acquisition team reads ("when does
      * a cohort's cumulative LTV cross CAC"). One user-grain first-day
      * aggregate joined back, one (cohort, age) decimal-sum aggregate,
      * then the cumulative window runs over the TINY cohort×age grid —
      * never event grain; spend/size division is an exact ratio of
      * decimal-summed values so both engines emit identical doubles.
      */
    QueryDef(
      "q337_cohort_ltv",
      """WITH first_ev AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS d0 FROM events GROUP BY user_id),
        |csize AS (
        |  SELECT CAST(date_trunc('week', d0) AS DATE) AS cw, count(*) AS nu
        |  FROM first_ev GROUP BY 1),
        |spend AS (
        |  SELECT CAST(date_trunc('week', f.d0) AS DATE) AS cw,
        |    CAST(floor(date_diff('day', date_trunc('week', f.d0),
        |                         date_trunc('week', CAST(e.ts AS DATE))) / 7) AS BIGINT) AS age_w,
        |    CAST(sum(CAST(e.value AS DECIMAL(18,3))) AS DOUBLE) AS v
        |  FROM events e JOIN first_ev f ON e.user_id = f.user_id
        |  WHERE e.event_type = 'purchase'
        |  GROUP BY 1, 2),
        |cum AS (
        |  SELECT cw, age_w,
        |    sum(v) OVER (PARTITION BY cw ORDER BY age_w) AS cv
        |  FROM spend)
        |SELECT strftime(c.cw, '%Y-%m-%d') AS cohort_week, cum.age_w,
        |  CAST(c.nu AS BIGINT) AS n_users,
        |  round(cum.cv / c.nu, 6) AS cum_ltv
        |FROM cum JOIN csize c ON c.cw = cum.cw
        |ORDER BY cohort_week, age_w""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
      val firstEv = e.groupBy("user_id")
        .agg(min(col("ts").cast("date")).as("d0"))
      val csize = firstEv
        .groupBy(date_trunc("week", col("d0")).cast("date").as("cw"))
        .agg(count(lit(1)).as("nu"))
      val spend = e.join(firstEv, Seq("user_id"))
        .where(col("event_type") === "purchase")
        .groupBy(date_trunc("week", col("d0")).cast("date").as("cw"),
          floor(datediff(date_trunc("week", col("ts").cast("date")),
            date_trunc("week", col("d0"))) / 7).cast("long").as("age_w"))
        .agg(sum(col("value").cast("decimal(18,3)")).cast("double").as("v"))
      val wcw = Window.partitionBy(col("cw")).orderBy(col("age_w"))
      val cum = spend.withColumn("cv", sum(col("v")).over(wcw))
      cum.join(csize.withColumnRenamed("cw", "ccw"), col("ccw") === col("cw"))
        .select(date_format(col("cw"), "yyyy-MM-dd").as("cohort_week"),
          col("age_w"), col("nu").cast("long").as("n_users"),
          round(col("cv") / col("nu"), 6).as("cum_ltv"))
        .orderBy("cohort_week", "age_w")
    }
  )

  /** Generated k-means oracle: the same seeds, exact-decimal centroid
    * updates, and struct-argmin assignment as the Spark plan, unrolled
    * over [[Iters]] chained CTEs. */
  private lazy val kmeansOracle: String = {
    val dims = 0 until Dims
    val vecCols = dims.map(j => s"CAST(embedding[${j + 1}] AS DOUBLE) AS d$j").mkString(", ")
    val seed = s"""SELECT CAST(vec_id AS INT) AS cluster, ${dims.map(j => s"d$j AS c$j").mkString(", ")}
       |  FROM v WHERE vec_id < $K"""
    def distExpr(alias: String) =
      dims.map(j => s"(v.d$j - $alias.c$j) * (v.d$j - $alias.c$j)").mkString(" + ")
    def assignCte(i: Int) = s"""a$i AS (
       |  SELECT v.vec_id, min(struct_pack(d := ${distExpr("c")}, k := c.cluster)).k AS cluster,
       |    ${dims.map(j => s"min(v.d$j) AS d$j").mkString(", ")}
       |  FROM v CROSS JOIN cent$i c GROUP BY v.vec_id)"""
    def centCte(i: Int) = s"""cent${i + 1} AS (
       |  SELECT cluster,
       |    ${dims.map(j => s"CAST(sum(CAST(d$j AS DECIMAL(18,9))) AS DOUBLE) / count(*) AS c$j").mkString(", ")}
       |  FROM a$i GROUP BY cluster)"""
    val loops = (0 until Iters)
      .map(i => s"${assignCte(i)},\n${centCte(i)}").mkString(",\n")
    s"""WITH v AS (SELECT vec_id, $vecCols FROM embeddings),
       |cent0 AS ($seed),
       |$loops,
       |fin AS (
       |  SELECT v.vec_id, min(struct_pack(d := ${distExpr("c")}, k := c.cluster)).k AS cluster,
       |    min(v.d0) AS d0, min(v.d1) AS d1
       |  FROM v CROSS JOIN cent$Iters c GROUP BY v.vec_id)
       |SELECT cluster, count(*) AS n,
       |  round(CAST(sum(CAST(d0 AS DECIMAL(18,9))) AS DOUBLE) / count(*), 6) AS mean_d0,
       |  round(CAST(sum(CAST(d1 AS DECIMAL(18,9))) AS DOUBLE) / count(*), 6) AS mean_d1
       |FROM fin GROUP BY cluster ORDER BY cluster""".stripMargin
  }
}
