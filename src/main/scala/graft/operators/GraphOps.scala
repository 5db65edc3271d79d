package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-9 graph-analytics operators: Adamic-Adar link prediction over
  * the co-order part graph (the q218 market-basket graph promoted to a
  * scored edge-prediction readout) and Markov-chain removal-effect
  * attribution (the absorbing-chain upgrade of q232's position-based
  * attribution — "how much conversion probability disappears if a
  * channel is deleted from every journey").
  *
  * Scale discipline shared by both: the raw fact table reduces to a
  * bounded graph/matrix (distinct co-order edges with a min-support
  * floor and a hub cap; a |states|² transition matrix), and every
  * iterative/quadratic step runs on that reduced object — never on raw
  * rows. The absorption solve is a fold KERNEL (functions.aggregate),
  * so the 15-step recursion is a constant-size expression evaluated in
  * one pass, not 15 chained self-joins.
  */
object GraphOps {
  import CausalOps.{dsum, r6}

  /** Support-floored co-order part pairs — the ONE basket materialization
    * the whole co-purchase family shares (round 17, guide §2.4 "remove
    * redundant passes"): q218 (support counts), q285/q349 (edge set),
    * q331 (cosine numerator), q364 (triangle edges), q376 (k-core e0),
    * q383 (LPA e0) all derive the identical pair table — previously six
    * separate basket-explode + pair-shuffle materializations under three
    * different PlanCache keys (`q364_edges`, `coorder_edges`) plus two
    * uncached sites. One groupBy(order) collects each basket, pairs
    * expand MAP-SIDE from the sorted array (never a fact self-join), one
    * grouped count applies the ≥2 support floor. collect_set dedups, so
    * the explicit DISTINCT the op-form sites used is structural here. */
  private[operators] def coorderPairs(s: SparkSession, d: String): DataFrame =
    graft.PlanCache.cached(s, s"coorder_paircnt|$d") {
      Tables.lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(array_sort(collect_set(col("l_partkey"))).as("ps"))
        .select(explode(flatten(transform(col("ps"), (x, i) =>
          transform(slice(col("ps"), i + 2, size(col("ps"))),
            y => struct(x.as("u"), y.as("v")))))).as("pr"))
        .select(col("pr.u").as("u"), col("pr.v").as("v"))
        .groupBy("u", "v").agg(count(lit(1)).as("nco"))
        .where(col("nco") >= 2)
    }

  /** Oracle of [[coorderEdges]]: `op` and the pairs of parts ordered
    * together in ≥ 2 orders, as the CTE declared by `cte` (e.g.
    * "ed AS"). */
  private[operators] def coorderEdgesSql(cte: String): String =
    s"""op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |$cte (
       |  SELECT a.p AS u, b.p AS v
       |  FROM op a JOIN op b ON b.o = a.o AND b.p > a.p
       |  GROUP BY 1, 2 HAVING count(*) >= 2)""".stripMargin

  /** The pair set without its support counts — the edge-set view. */
  private[operators] def coorderEdges(s: SparkSession, d: String): DataFrame =
    coorderPairs(s, d).select(col("u"), col("v"))

  /** Journey states (the non-conversion event types). Fixed, like the
    * q93 dimension literal: the attribution contract is over the known
    * channel vocabulary; 'purchase' is the absorbing conversion. */
  private val Channels = Seq("click", "error", "signup", "view")

  val defs: Seq[QueryDef] = Seq(

    /** Adamic-Adar link prediction on the co-order part graph: nodes
      * are parts, edges are pairs co-ordered ≥ 2 times (min-support
      * floors the noise pairs that dominate raw co-occurrence), and
      * every NON-adjacent pair with a common neighbor scores
      * Σ_w 1/ln(deg w) — common neighbors weighted up when they are
      * selective. Top-20 predicted links by round-6 score. The path-2
      * enumeration is the quadratic step: it runs on the support-
      * floored edge set only, and common neighbors with deg > 256 are
      * excluded (a hub cap — high-degree nodes contribute ~0 weight at
      * ~16× the rows; the cap is the difference between Σdeg² of a
      * floored graph and of a 100 TB co-occurrence hairball). One
      * shuffle keys the path join on the middle node; the rounded
      * score is the cut key (q261 margin discipline).
      */
    QueryDef(
      "q285_adamic_adar",
      s"""WITH ${coorderEdgesSql("ed AS")},
        |sym AS (SELECT u, v FROM ed UNION ALL SELECT v, u FROM ed),
        |dg AS (SELECT u AS w, count(*) AS deg FROM sym GROUP BY 1),
        |p2 AS (
        |  SELECT e1.v AS w, e1.u AS a, e2.v AS b
        |  FROM sym e1 JOIN sym e2 ON e2.u = e1.v AND e1.u < e2.v),
        |sc AS (
        |  SELECT p2.a AS u, p2.b AS v, count(*) AS n_common,
        |    CAST(sum(CAST(1.0 / ln(dg.deg) AS DECIMAL(38,12))) AS DOUBLE) AS score
        |  FROM p2 JOIN dg ON dg.w = p2.w
        |  WHERE dg.deg <= 256
        |  GROUP BY 1, 2),
        |nw AS (
        |  SELECT u, v, n_common, score FROM sc
        |  WHERE NOT EXISTS (SELECT 1 FROM ed WHERE ed.u = sc.u AND ed.v = sc.v))
        |SELECT u, v, CAST(n_common AS BIGINT) AS n_common,
        |  round(score, 6) AS score
        |FROM nw ORDER BY round(score, 6) DESC, u, v LIMIT 20""".stripMargin) { (s, d) =>
      // q218's basket idiom: ONE groupBy(order) builds the sorted item
      // set, pairs expand MAP-SIDE from each basket (no fact-table
      // self-join — at 100 TB that join's shuffle dwarfs the basket agg);
      // the materialization is the family-shared [[coorderPairs]] entry
      val ed = coorderEdges(s, d)
      val sym = ed.unionByName(ed.select(col("v").as("u"), col("u").as("v")))
      val dg = sym.groupBy(col("u").as("w")).agg(count(lit(1)).as("deg"))
      val e2 = sym.select(col("u").as("w2"), col("v").as("b2"))
      val p2 = sym.join(e2, col("w2") === col("v") && col("u") < col("b2"))
        .select(col("v").as("wmid"), col("u").as("ua"), col("b2").as("vb"))
      val sc = p2.join(dg, col("w") === col("wmid"))
        .where(col("deg") <= 256)
        .groupBy(col("ua").as("u"), col("vb").as("v"))
        .agg(count(lit(1)).as("n_common"),
          dsum(lit(1.0) / log(col("deg"))).as("score"))
      val nw = sc.join(ed.select(col("u").as("eu"), col("v").as("ev")),
        col("eu") === col("u") && col("ev") === col("v"), "left_anti")
      nw.select(col("u"), col("v"), col("n_common").cast("long").as("n_common"),
          r6(col("score")).as("score"))
        .orderBy(r6(col("score")).desc, col("u"), col("v")).limit(20)
    },

    /** Item-item collaborative-filtering similarity (the Amazon
      * recommender primitive, Linden et al., IEEE IC 2003): cosine
      * similarity co(u,v)/√(n_u·n_v) over the order×part incidence —
      * the NORMALIZED companion of q218's raw support counts (support
      * favors popular items; cosine surfaces genuinely associated
      * ones). Same 100 TB shape as q285: baskets aggregate once,
      * pairs expand MAP-SIDE per basket (never a fact self-join),
      * item frequencies join on the part key. Integer counts →
      * identical doubles on both engines; top-20 cut on the rounded
      * score with (u, v) tie-break. */
    QueryDef(
      "q331_item_cf",
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |ni AS (SELECT p AS w, count(*) AS n FROM op GROUP BY 1),
        |co AS (
        |  SELECT a.p AS u, b.p AS v, count(*) AS nco
        |  FROM op a JOIN op b ON b.o = a.o AND b.p > a.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT u, v, CAST(nco AS BIGINT) AS n_co,
        |  round(nco / sqrt(na.n * nb.n), 6) AS cosine_sim
        |FROM co JOIN ni na ON na.w = u JOIN ni nb ON nb.w = v
        |ORDER BY round(nco / sqrt(na.n * nb.n), 6) DESC, u, v
        |LIMIT 20""".stripMargin) { (s, d) =>
      val op = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      val ni = op.groupBy(col("p").as("w")).agg(count(lit(1)).as("n"))
      // the support-floored pair counts are the family-shared
      // [[coorderPairs]] materialization (round 17)
      val co = coorderPairs(s, d)
      co.join(ni.select(col("w").as("wa"), col("n").as("na")), col("wa") === col("u"))
        .join(ni.select(col("w").as("wb"), col("n").as("nb")), col("wb") === col("v"))
        .select(col("u"), col("v"), col("nco").cast("long").as("n_co"),
          round(col("nco") / sqrt(col("na") * col("nb")), 6).as("cosine_sim"))
        .orderBy(col("cosine_sim").desc, col("u"), col("v")).limit(20)
    },

    /** Shapley-value channel attribution (Shapley 1953 applied to
      * conversion credit, Zhao et al. 2018) — the ORDER-FREE
      * counterpart of q284's path-based Markov removal effect: each
      * user's touched-channel SET is a coalition, v(S) = observed
      * conversion rate of users with exactly that set (0 for unseen
      * coalitions), and each channel's credit is the
      * coalition-weighted marginal Σ w(\|S\|)·(v(S) − v(S∖i)). With
      * the 4-channel universe the coalition table is ≤16 rows, so
      * everything after the one user-grain aggregate is constant-size
      * joins — the classic "aggregate to coalitions, then game-theory
      * on tiny tables" shape that holds at any event volume.
      */
    QueryDef(
      "q338_shapley_attribution",
      """WITH fe AS (
        |  SELECT user_id, event_type FROM (
        |    SELECT user_id, event_type,
        |      row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |    FROM events) t WHERE rn <= 5),
        |us AS (
        |  SELECT user_id,
        |    coalesce(list_sort(list_distinct(list(event_type)
        |      FILTER (WHERE event_type IN ('click', 'error', 'signup', 'view')))),
        |      CAST([] AS VARCHAR[])) AS s,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |  FROM fe GROUP BY 1),
        |co AS (
        |  SELECT array_to_string(s, ',') AS k, len(s) AS sz,
        |    count(*) AS nu, sum(conv) AS nc
        |  FROM us GROUP BY 1, 2),
        |pairs AS (
        |  SELECT ch.c, co.sz, CAST(co.nc AS DOUBLE) / co.nu AS v,
        |    array_to_string(list_filter(string_split(co.k, ','), x -> x <> ch.c), ',') AS mk
        |  FROM co JOIN (VALUES ('click'), ('error'), ('signup'), ('view')) ch(c)
        |    ON list_contains(string_split(co.k, ','), ch.c)),
        |j AS (
        |  SELECT p.c, p.sz, p.v,
        |    coalesce(CAST(c2.nc AS DOUBLE) / c2.nu, 0.0) AS v0
        |  FROM pairs p LEFT JOIN co c2 ON c2.k = p.mk)
        |SELECT c AS channel, CAST(count(*) AS BIGINT) AS n_coalitions,
        |  round(CAST(sum(CAST(
        |    (CASE sz WHEN 1 THEN 0.25 WHEN 2 THEN 1.0/12 WHEN 3 THEN 1.0/12 ELSE 0.25 END)
        |      * (v - v0) AS DECIMAL(38,12))) AS DOUBLE), 6) AS shapley
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import s.implicits._
      // early-journey window (first 5 events per user, the onboarding
      // attribution frame): at full history every user touches every
      // channel and the coalition table degenerates to one row
      val wu = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val fe = Tables.events(s, d)
        .withColumn("rn", row_number().over(wu)).where(col("rn") <= 5)
      val us = fe
        .groupBy(col("user_id"))
        .agg(sort_array(collect_set(
            when(col("event_type").isin(Channels: _*), col("event_type")))).as("st"),
          max(when(col("event_type") === "purchase", 1).otherwise(0)).as("conv"))
      val co = us.groupBy(array_join(col("st"), ",").as("k"), size(col("st")).as("sz"))
        .agg(count(lit(1)).as("nu"), sum(col("conv")).as("nc"))
      val chDf = Channels.toDF("c")
      val pairs = co.join(broadcast(chDf),
          array_contains(split(col("k"), ","), col("c")))
        .select(col("c"), col("sz"), (col("nc").cast("double") / col("nu")).as("v"),
          array_join(filter(split(col("k"), ","), x => x =!= col("c")), ",").as("mk"))
      val co2 = co.select(col("k").as("k2"),
        (col("nc").cast("double") / col("nu")).as("v2"))
      pairs.join(co2, col("k2") === col("mk"), "left")
        .select(col("c"), col("sz"), col("v"), coalesce(col("v2"), lit(0.0)).as("v0"))
        .groupBy(col("c").as("channel"))
        .agg(count(lit(1)).cast("long").as("n_coalitions"),
          r6(dsum((when(col("sz") === 1, 0.25)
            .when(col("sz") === 2, 1.0 / 12).when(col("sz") === 3, 1.0 / 12)
            .otherwise(0.25)) * (col("v") - col("v0")))).as("shapley"))
        .orderBy("channel")
    },

    /** Degree assortativity (Newman, PRL 89:208701, 2002) of the
      * co-purchase graph: the Pearson correlation of endpoint degrees
      * across directed edge instances — do popular parts co-occur with
      * popular parts (assortative, r > 0) or with niche ones
      * (disassortative, r < 0)? The one-number mixing summary
      * completing the structural shelf (q151 PageRank, q159 triangles,
      * q285 Adamic-Adar, q311 HITS, q331 item-CF). Basket-idiom edge
      * build (no fact self-join), degree table joined to both
      * endpoints, decimal moment sums — one scalar row out.
      */
    QueryDef(
      "q349_assortativity",
      s"""WITH ${coorderEdgesSql("ed AS")},
        |sym AS (SELECT u, v FROM ed UNION ALL SELECT v, u FROM ed),
        |dg AS (SELECT u AS w, count(*) AS deg FROM sym GROUP BY 1),
        |pe AS (
        |  SELECT CAST(du.deg AS DOUBLE) AS x, CAST(dv.deg AS DOUBLE) AS y
        |  FROM sym JOIN dg du ON du.w = sym.u JOIN dg dv ON dv.w = sym.v),
        |mm AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE) AS syy
        |  FROM pe)
        |SELECT CAST(n AS BIGINT) AS n_edge_ends,
        |  round(sx / n, 4) AS mean_deg,
        |  round((n * sxy - sx * sy)
        |    / nullif(sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 0), 6) AS assortativity
        |FROM mm""".stripMargin) { (s, d) =>
      // the support-floored co-order edge set is the family-shared
      // [[coorderPairs]] materialization (round 17)
      val ed = coorderEdges(s, d)
      val sym = ed.unionByName(ed.select(col("v").as("u"), col("u").as("v")))
      val dg = sym.groupBy(col("u").as("w")).agg(count(lit(1)).as("deg"))
      val pe = sym
        .join(dg.select(col("w").as("wu"), col("deg").as("du")), col("wu") === col("u"))
        .join(dg.select(col("w").as("wv"), col("deg").as("dv")), col("wv") === col("v"))
        .select(col("du").cast("double").as("x"), col("dv").cast("double").as("y"))
      pe.agg(count(lit(1)).as("n"),
          dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
          dsum(col("x") * col("y")).as("sxy"),
          dsum(col("x") * col("x")).as("sxx"),
          dsum(col("y") * col("y")).as("syy"))
        .select(col("n").cast("long").as("n_edge_ends"),
          round(col("sx") / col("n"), 4).as("mean_deg"),
          r6((col("n") * col("sxy") - col("sx") * col("sy")) /
            nullif(sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
              (col("n") * col("syy") - col("sy") * col("sy"))), lit(0.0)))
            .as("assortativity"))
    },

    /** Markov-chain (removal-effect) attribution: per-session journeys
      * (q54's 1800 s sessionization, consecutive duplicate states
      * collapsed, cut at the first purchase) define an absorbing chain
      * start → {click,error,signup,view} → conv|null; each channel's
      * credit is the share of start-to-conv probability that vanishes
      * when that channel is deleted (its column zeroed — redirected to
      * the null absorber). Absorption probabilities are the 15-step
      * truncation a_{k+1} = p_conv + T·a_k, computed as a fold kernel
      * over the 5-scenario × 25-entry matrix rows — the recursion is
      * ONE constant-size expression per scenario row (no 15-deep join
      * chain, no driver loop), with each 4-term matrix·vector dot
      * decimal-accumulated in fixed order so both engines produce
      * bit-identical truncated absorption values. Heavy lifting — the
      * sessionize window and transition count — is the only part that
      * sees raw rows; everything after is O(|states|²) per scenario.
      */
    QueryDef(
      "q284_markov_attribution", {
        val chans = Channels
        // matrix entry aliases: pcs/tsJ (start row), pcI/tIJ (channel rows)
        def entrySql(f: String, t: String): String =
          s"sum(CASE WHEN f = '$f' AND t = '$t' THEN p ELSE 0 END)"
        val matCols = (
          Seq(s"${entrySql("start", "conv")} AS pcs") ++
            chans.zipWithIndex.map { case (c, j) => s"${entrySql("start", c)} AS ts${j + 1}" } ++
            chans.zipWithIndex.map { case (c, i) => s"${entrySql(c, "conv")} AS pc${i + 1}" } ++
            (for { (ci, i) <- chans.zipWithIndex; (cj, j) <- chans.zipWithIndex }
              yield s"${entrySql(ci, cj)} AS t${i + 1}${j + 1}")
          ).mkString(",\n    ")
        // per-scenario zeroing: rmidx = 0 keeps everything (full chain)
        def z(colName: String, j: Int): String =
          s"CASE WHEN rmidx = $j THEN 0.0 ELSE $colName END AS $colName"
        val mscCols = (
          Seq("pcs") ++
            (1 to 4).map(j => z(s"ts$j", j)) ++
            (1 to 4).map(i => s"pc$i") ++
            (for { i <- 1 to 4; j <- 1 to 4 } yield z(s"t$i$j", j))
          ).mkString(",\n    ")
        def dot4(terms: Seq[String]): String =
          "CAST(" + terms.map(t => s"CAST($t AS DECIMAL(38,12))").mkString(" + ") +
            " AS DOUBLE)"
        val stepRows = (1 to 4).map { i =>
          s"m.pc$i + ${dot4((1 to 4).map(j => s"m.t$i$j * ab.a$j"))}"
        }.mkString(",\n      ")
        val scenarios = ("('full', 0)" +: chans.zipWithIndex.map {
          case (c, j) => s"('rm_$c', ${j + 1})"
        }).mkString(", ")
        s"""WITH flagged AS (
           |  SELECT user_id, event_id, ts, event_type,
           |    CASE WHEN lag(ts) OVER w IS NULL
           |           OR date_diff('second', lag(ts) OVER w, ts) > 1800 THEN 1 ELSE 0 END AS new_s
           |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
           |sess AS (
           |  SELECT user_id, event_id, ts, event_type,
           |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |                     ROWS UNBOUNDED PRECEDING) AS sid
           |  FROM flagged),
           |coll AS (
           |  SELECT user_id, sid, event_type,
           |    row_number() OVER (PARTITION BY user_id, sid ORDER BY ts, event_id) AS rn2
           |  FROM (
           |    SELECT user_id, sid, event_type, ts, event_id,
           |      lag(event_type) OVER (PARTITION BY user_id, sid ORDER BY ts, event_id) AS prev
           |    FROM sess) x
           |  WHERE prev IS NULL OR prev <> event_type),
           |sj AS (
           |  SELECT user_id, sid,
           |    min(CASE WHEN event_type = 'purchase' THEN rn2 END) AS minp
           |  FROM coll GROUP BY 1, 2),
           |jr AS (
           |  SELECT c.user_id, c.sid, c.event_type, c.rn2,
           |    sj.minp IS NOT NULL AS conv
           |  FROM coll c JOIN sj ON sj.user_id = c.user_id AND sj.sid = c.sid
           |  WHERE c.rn2 < coalesce(sj.minp, 1000000)),
           |tr0 AS (
           |  SELECT event_type AS f,
           |    coalesce(lead(event_type) OVER (PARTITION BY user_id, sid ORDER BY rn2),
           |      CASE WHEN conv THEN 'conv' ELSE 'null' END) AS t
           |  FROM jr
           |  UNION ALL
           |  SELECT 'start' AS f,
           |    coalesce(arg_min(event_type, rn2),
           |      CASE WHEN max(CASE WHEN conv THEN 1 ELSE 0 END) = 1
           |           THEN 'conv' ELSE 'null' END) AS t
           |  FROM jr GROUP BY user_id, sid
           |  UNION ALL
           |  SELECT 'start' AS f, 'conv' AS t
           |  FROM sj WHERE minp = 1),
           |cnt AS (SELECT f, t, count(*) AS n FROM tr0 GROUP BY 1, 2),
           |tp AS (
           |  SELECT f, t, CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY f) AS p
           |  FROM cnt),
           |mat AS (
           |  SELECT
           |    $matCols
           |  FROM tp),
           |msc AS (
           |  SELECT s.sc, s.rmidx,
           |    $mscCols
           |  FROM mat CROSS JOIN (VALUES $scenarios) s(sc, rmidx)),
           |ab AS (
           |  SELECT sc, rmidx, a[1] AS a1, a[2] AS a2, a[3] AS a3, a[4] AS a4
           |  FROM (
           |    SELECT m.sc, m.rmidx,
           |      reduce(
           |        [[0.0, 0.0, 0.0, 0.0]] ||
           |          [[CAST(k AS DOUBLE), 0.0, 0.0, 0.0] FOR k IN range(1, 16)],
           |        (ab_acc, xk) -> [
           |          ${(1 to 4).map(i =>
                s"m.pc$i + ${dot4((1 to 4).map(j => s"m.t$i$j * ab_acc[$j]"))}"
              ).mkString(",\n          ")}
           |        ]) AS a
           |    FROM msc m) q),
           |pconv AS (
           |  SELECT m.sc, m.rmidx,
           |    m.pcs + ${dot4((1 to 4).map(j => s"m.ts$j * ab.a$j"))} AS pc
           |  FROM msc m JOIN ab ON ab.sc = m.sc),
           |touch AS (
           |  SELECT event_type AS ch, count(DISTINCT user_id * 1000000 + sid) AS n_touch
           |  FROM jr WHERE conv GROUP BY 1),
           |re AS (
           |  SELECT r.sc, substr(r.sc, 4) AS channel, f.pc AS p_full, r.pc AS p_removed,
           |    1.0 - r.pc / f.pc AS removal_effect
           |  FROM pconv r CROSS JOIN (SELECT pc FROM pconv WHERE sc = 'full') f
           |  WHERE r.sc <> 'full'),
           |tot AS (SELECT sum(CAST(removal_effect AS DECIMAL(38,12))) AS sre FROM re)
           |SELECT re.channel, CAST(coalesce(touch.n_touch, 0) AS BIGINT) AS n_touch,
           |  round(re.p_full, 6) AS p_conv_full,
           |  round(re.p_removed, 6) AS p_conv_removed,
           |  round(re.removal_effect, 6) AS removal_effect,
           |  round(re.removal_effect / CAST(tot.sre AS DOUBLE), 6) AS share
           |FROM re LEFT JOIN touch ON touch.ch = re.channel CROSS JOIN tot
           |ORDER BY re.channel""".stripMargin
      }) { (s, d) =>
      import s.implicits._
      val chans = Channels
      val wo = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val sess = Tables.events(s, d)
        .withColumn("new_s",
          when(lag(col("ts"), 1).over(wo).isNull
            || unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(wo)) > 1800, 1)
            .otherwise(0))
        .withColumn("sid", sum(col("new_s")).over(wo.rowsBetween(Window.unboundedPreceding, 0)))
      val ws = Window.partitionBy(col("user_id"), col("sid")).orderBy(col("ts"), col("event_id"))
      val coll = sess
        .withColumn("prev", lag(col("event_type"), 1).over(ws))
        .where(col("prev").isNull || col("prev") =!= col("event_type"))
        .withColumn("rn2", row_number().over(ws))
        .select(col("user_id"), col("sid"), col("event_type"), col("rn2"))
      // sj and jr feed four consumers (transition branches + touch);
      // without a persist the whole sessionize window chain recomputes
      // per consumer — PlanCache (round-7 advice idiom) makes the
      // journey table a one-build per (session, sf-dir) intermediate
      val sj = graft.PlanCache.cached(s, s"markov_sj|$d") {
        coll.groupBy(col("user_id").as("su"), col("sid").as("ss"))
          .agg(min(when(col("event_type") === "purchase", col("rn2"))).as("minp"))
      }
      val jr = graft.PlanCache.cached(s, s"markov_jr|$d") {
        coll.join(sj, col("su") === col("user_id") && col("ss") === col("sid"))
          .where(col("rn2") < coalesce(col("minp"), lit(1000000)))
          .select(col("user_id"), col("sid"), col("event_type"), col("rn2"),
            col("minp").isNotNull.as("conv"))
      }
      val wj = Window.partitionBy(col("user_id"), col("sid")).orderBy(col("rn2"))
      val trA = jr.select(col("event_type").as("f"),
        coalesce(lead(col("event_type"), 1).over(wj),
          when(col("conv"), "conv").otherwise("null")).as("t"))
      val trB = jr.groupBy("user_id", "sid")
        .agg(coalesce(min_by(col("event_type"), col("rn2")),
          when(max(when(col("conv"), 1).otherwise(0)) === 1, "conv").otherwise("null")).as("t"))
        .select(lit("start").as("f"), col("t"))
      val trC = sj.where(col("minp") === 1)
        .select(lit("start").as("f"), lit("conv").as("t"))
      val cnt = trA.unionByName(trB).unionByName(trC)
        .groupBy("f", "t").agg(count(lit(1)).as("n"))
      val tp = cnt.withColumn("p",
        col("n").cast("double") / sum(col("n")).over(Window.partitionBy(col("f"))))
      def entry(f: String, t: String): Column =
        sum(when(col("f") === f && col("t") === t, col("p")).otherwise(0.0))
      val mat = tp.agg(
        entry("start", "conv").as("pcs"),
        (chans.zipWithIndex.map { case (c, j) => entry("start", c).as(s"ts${j + 1}") } ++
          chans.zipWithIndex.map { case (c, i) => entry(c, "conv").as(s"pc${i + 1}") } ++
          (for { (ci, i) <- chans.zipWithIndex; (cj, j) <- chans.zipWithIndex }
            yield entry(ci, cj).as(s"t${i + 1}${j + 1}"))): _*)
      val scen = (("full", 0) +: chans.zipWithIndex.map { case (c, j) => (s"rm_$c", j + 1) })
        .toDF("sc", "rmidx")
      def zeroed(name: String, j: Int): Column =
        when(col("rmidx") === j, 0.0).otherwise(col(name)).as(name)
      val msc = mat.crossJoin(broadcast(scen)).select(
        col("sc") +: col("rmidx") +: col("pcs") +:
          ((1 to 4).map(j => zeroed(s"ts$j", j)) ++
            (1 to 4).map(i => col(s"pc$i")) ++
            (for { i <- 1 to 4; j <- 1 to 4 } yield zeroed(s"t$i$j", j))): _*)
      // the 15-step absorption recursion as ONE fold-kernel expression:
      // a' = p_conv + T·a with each 4-term dot decimal-summed in fixed order
      def dot4Sql(terms: Seq[String]): String =
        "CAST(" + terms.map(t => s"CAST($t AS DECIMAL(38,12))").mkString(" + ") + " AS DOUBLE)"
      val foldSql = s"""aggregate(sequence(1, 15),
        array(cast(0.0 as double), cast(0.0 as double), cast(0.0 as double), cast(0.0 as double)),
        (ab_acc, k) -> array(
          ${(1 to 4).map(i =>
        s"pc$i + ${dot4Sql((1 to 4).map(j => s"t$i$j * ab_acc[${j - 1}]"))}"
      ).mkString(",\n          ")}
        ))"""
      // 5 rows, but its lineage is the whole transition aggregation —
      // downstream consumers (full, re, tot) would each recompute it
      val ab = graft.PlanCache.cached(s, s"markov_ab|$d") {
        msc.withColumn("a", expr(foldSql))
          .withColumn("pc", col("pcs") +
            expr(dot4Sql((1 to 4).map(j => s"ts$j * a[${j - 1}]"))))
          .select(col("sc"), col("pc"))
      }
      val full = ab.where(col("sc") === "full").select(col("pc").as("p_full"))
      val re = ab.where(col("sc") =!= "full")
        .crossJoin(broadcast(full))
        .select(expr("substr(sc, 4)").as("channel"), col("p_full"),
          col("pc").as("p_removed"),
          (lit(1.0) - col("pc") / col("p_full")).as("removal_effect"))
      val tot = re.agg(sum(col("removal_effect").cast("decimal(38,12)")).as("sre"))
      val touch = jr.where(col("conv"))
        .groupBy(col("event_type").as("ch"))
        .agg(countDistinct(col("user_id") * 1000000 + col("sid")).as("n_touch"))
      re.join(touch, col("ch") === col("channel"), "left")
        .crossJoin(broadcast(tot))
        .select(col("channel"),
          coalesce(col("n_touch"), lit(0L)).cast("long").as("n_touch"),
          r6(col("p_full")).as("p_conv_full"),
          r6(col("p_removed")).as("p_conv_removed"),
          r6(col("removal_effect")).as("removal_effect"),
          r6(col("removal_effect") / col("sre").cast("double")).as("share"))
        .orderBy("channel")
    },

    /** HITS hubs-and-authorities (Kleinberg, JACM 1999) on the BIPARTITE
      * customer→part purchase graph: authority(part) ← Σ hub(customer),
      * hub(customer) ← Σ authority(part), two and a half unrolled
      * iterations from uniform hubs with sum-normalization between
      * steps — the mutual-reinforcement ranking ("parts bought by
      * well-connected customers") that degree alone (iteration 1 IS the
      * degree) cannot produce; the directed companion of q151's
      * PageRank and q285's Adamic-Adar. Every iteration is one
      * edge-grain join + aggregate on the DISTINCT (custkey, partkey)
      * edge set — the standard bounded-iteration graph shape that holds
      * at any fact volume — and all score sums are exact decimal
      * accumulations, so engine and oracle doubles are bit-identical
      * (no libm anywhere) and the top-20 cut cannot flip. Scores are
      * reported ×1000 so the round-6 readout keeps meaningful digits
      * after normalization.
      */
    QueryDef(
      "q311_hits",
      """WITH edges AS (
        |  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        |a1 AS (SELECT p, CAST(count(*) AS DOUBLE) AS s FROM edges GROUP BY 1),
        |t1 AS (SELECT CAST(sum(CAST(s AS DECIMAL(38,12))) AS DOUBLE) AS t FROM a1),
        |a1n AS (SELECT p, s / t AS s FROM a1, t1),
        |h1 AS (SELECT e.c, CAST(sum(CAST(a.s AS DECIMAL(38,12))) AS DOUBLE) AS s
        |       FROM edges e JOIN a1n a ON a.p = e.p GROUP BY 1),
        |t2 AS (SELECT CAST(sum(CAST(s AS DECIMAL(38,12))) AS DOUBLE) AS t FROM h1),
        |h1n AS (SELECT c, s / t AS s FROM h1, t2),
        |a2 AS (SELECT e.p, CAST(sum(CAST(h.s AS DECIMAL(38,12))) AS DOUBLE) AS s
        |       FROM edges e JOIN h1n h ON h.c = e.c GROUP BY 1),
        |t3 AS (SELECT CAST(sum(CAST(s AS DECIMAL(38,12))) AS DOUBLE) AS t FROM a2),
        |a2n AS (SELECT p, s / t AS s FROM a2, t3),
        |rk AS (SELECT p, s, row_number() OVER (ORDER BY s DESC, p) AS r FROM a2n)
        |SELECT CAST(p AS BIGINT) AS p_partkey, CAST(r AS BIGINT) AS rank,
        |  round(s * 1000, 6) AS authority_x1000
        |FROM rk WHERE r <= 20 ORDER BY r""".stripMargin) { (s, d) =>
      // the edge set feeds all three iteration joins — persist it once
      // per (session, sf-dir) so HITS never re-derives it from the fact
      // tables (and repeated verify/bench runs reuse the same entry)
      val edges = graft.PlanCache.cached(s, s"hits_edges|$d") {
        Tables.orders(s, d).select(col("o_custkey").as("c"), col("o_orderkey"))
          .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey").as("p")),
            col("l_orderkey") === col("o_orderkey"))
          .select("c", "p").distinct()
      }
      // Sum-normalize via PlanCache + a broadcast 1-row decimal total
      // (round 10, VERDICT r9 #2). History of this spot: the original
      // crossJoin(broadcast(df.agg(...))) re-derived `df`'s subtree for
      // the total (2× per stage); the round-9 fix used a lit(1) global
      // window over the aggregated table — fine at sf0.1 but the
      // part/customer dimension GROWS with sf, so at the 100 TB point
      // each normalize serialized a dimension-grain table through one
      // partition. Materializing the stage once closes the
      // double-derivation hole AND keeps every row parallel; the decimal
      // total is exact and order-free either way, so scores stay
      // bit-identical to both earlier forms.
      def normalize(df: DataFrame, key: String, stage: String): DataFrame = {
        val base = graft.PlanCache.cached(s, s"hits_$stage|$d")(df)
        val tot = base.agg(
          sum(col("s").cast("decimal(38,12)")).as("stot"))
        base.crossJoin(broadcast(tot))
          .select(col(key), (col("s") / col("stot").cast("double")).as("s"))
      }
      val a1 = normalize(
        edges.groupBy("p").agg(count(lit(1)).cast("double").as("s")), "p", "a1")
      val h1 = normalize(
        edges.join(a1.withColumnRenamed("p", "ap").withColumnRenamed("s", "as1"),
            col("ap") === col("p"))
          .groupBy("c").agg(dsum(col("as1")).as("s")), "c", "h1")
      val a2 = normalize(
        edges.join(h1.withColumnRenamed("c", "hc").withColumnRenamed("s", "hs"),
            col("hc") === col("c"))
          .groupBy("p").agg(dsum(col("hs")).as("s")), "p", "a2")
      // bounded-heap global cut (the q202 idiom) — never a full sort of
      // the part-score table; the 20 survivors then rank locally
      val top = graft.plans.TopKPerGroupOps.topKPerGroup(s, a2,
        Seq.empty, Seq(col("s").desc, col("p")), 20)
      top.withColumn("r",
          row_number().over(Window.orderBy(col("s").desc, col("p"))))
        .select(col("p").cast("long").as("p_partkey"), col("r").cast("long").as("rank"),
          r6(col("s") * 1000).as("authority_x1000"))
        .orderBy("rank")
    }
  )
}
