package graft.operators

import graft.{PlanCache, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-26 batch: distribution-free causal significance, burst
  * synchrony, point-process shape, plus two LLM-pipeline readouts —
  *
  *  - q446 circular-shift surrogate test (Theiler surrogates, the
  *    deterministic variant): the lag-1 cross-correlation's empirical
  *    p-value against ALL n circular shifts of the source series — a
  *    distribution-free significance for q229's lead-lag that needs no
  *    RNG, no normality, and no Bartlett assumption, enumerable
  *    exactly because the grid is calendar-bounded;
  *  - q447 burst synchronization (Quiroga 2002 event-sync, hour-
  *    binned): do two elements' BURST hours (count > μ + 2σ) coincide,
  *    and which one leads by an hour — directional, threshold-defined,
  *    the point-process companion of q426's Hawkes matrix;
  *  - q448 Flesch reading-ease per source over `documents` — the
  *    classic readability gate for training-data quality next to
  *    q317's perplexity filter;
  *  - q449 Markov entropy rate of the per-user event-type chain:
  *    H = −Σ_ab (c_ab/c)·ln(c_ab/c_a) — how predictable is the NEXT
  *    event given this one, per origin state and overall;
  *  - q450 hard-negative mining over `embeddings`: per bounded query
  *    set, the top-3 highest-cosine DIFFERENT-label corpus vectors and
  *    the margin to the best same-label positive — the contrastive-
  *    training data miner on top of the ANN family;
  *  - q451 Goh–Barabási burstiness + memory per element from per-user
  *    inter-event gaps: B = (σ−μ)/(σ+μ), M = corr of consecutive gaps
  *    — clumpy vs Poisson arrivals, the summary q426's kernel assumed.
  *
  * Scale shapes: q446 is O(P²·T²) on the bounded grid; q447 an hour-
  * grid presence join; q448/q449/q451 single scans with user-grain
  * windows (bounded per user); q450's rank cut lowers to the bounded-
  * heap TopKPerGroup via WindowTopKRewrite like q66/q90.
  */
object Round26Ops {
  private def r6(c: Column) = round(c, 6)
  private def dsum(c: Column): Column = sum(c.cast("decimal(38,12)")).cast("double")
  private def dsumSql(x: String) = s"CAST(sum(CAST($x AS DECIMAL(38,12))) AS DOUBLE)"

  /** Unrounded circular-shift surrogate columns — shared by q446's
    * readout and q452's consensus scoreboard. Columns:
    * (src, dst, r_obs, n_exceed, n_shifts, p).
    */
  private[graft] def circularNull(s: SparkSession, g: DataFrame): DataFrame = {
    val ig = g.select(col("el"), col("v"),
      (row_number().over(Window.partitionBy(col("el")).orderBy(col("di"))) - 1)
        .as("t"),
      count(lit(1)).over(Window.partitionBy(col("el"))).as("n"))
    val sh = s.range(1).select(explode(sequence(lit(0), lit(29))).as("s"))
    val x = ig.select(col("el").as("src"), col("t").as("xt"), col("v").as("xv"))
    val rs = ig.crossJoin(broadcast(sh)).where(col("s") < col("n"))
      .join(x, col("src") =!= col("el") &&
        col("xt") === (col("t") - 1 + col("s") + col("n")) % col("n"))
      .groupBy(col("src"), col("el").as("dst"), col("s"))
      .agg(count(lit(1)).as("np"),
        ((count(lit(1)) * dsum(col("xv") * col("v")) -
          dsum(col("xv")) * dsum(col("v"))) /
          sqrt((count(lit(1)) * dsum(col("xv") * col("xv")) -
            dsum(col("xv")) * dsum(col("xv"))) *
            (count(lit(1)) * dsum(col("v") * col("v")) -
              dsum(col("v")) * dsum(col("v"))))).as("r"))
    val ob = rs.where(col("s") === 0)
      .select(col("src").as("osrc"), col("dst").as("odst"), col("r").as("r_obs"))
    rs.join(broadcast(ob), col("osrc") === col("src") && col("odst") === col("dst"))
      .groupBy("src", "dst")
      .agg(max(col("r_obs")).as("r_obs"),
        count_if(col("s") > 0 && abs(col("r")) >= abs(col("r_obs")))
          .cast("long").as("n_exceed"),
        count(lit(1)).cast("long").as("n_shifts"),
        ((lit(1.0) + count_if(col("s") > 0 &&
          abs(col("r")) >= abs(col("r_obs")))) / count(lit(1))).as("p"))
  }

  /** Oracle of [[circularNull]]'s shift correlations (`ig`, `sh`, `rs`,
    * `ob`): q446, q452 and q470; `extraCols` adds rs columns. */
  private[operators] def circularShiftSql(extraCols: String): String =
    s"""ig AS (
       |  SELECT el, v,
       |    row_number() OVER (PARTITION BY el ORDER BY di) - 1 AS t,
       |    count(*) OVER (PARTITION BY el) AS n
       |  FROM daily),
       |sh AS (SELECT unnest(generate_series(0, 29)) AS s),
       |rs AS (
       |  SELECT x.el AS src, y.el AS dst, sh.s,$extraCols
       |    (count(*) * ${dsumSql("x.v * y.v")} - ${dsumSql("x.v")} * ${dsumSql("y.v")})
       |      / sqrt((count(*) * ${dsumSql("x.v * x.v")} - ${dsumSql("x.v")} * ${dsumSql("x.v")})
       |        * (count(*) * ${dsumSql("y.v * y.v")} - ${dsumSql("y.v")} * ${dsumSql("y.v")}))
       |      AS r
       |  FROM ig y
       |  JOIN sh ON sh.s < y.n
       |  JOIN ig x ON x.el <> y.el AND x.t = (y.t - 1 + sh.s + y.n) % y.n
       |  GROUP BY 1, 2, 3),
       |ob AS (SELECT src, dst, r AS r_obs FROM rs WHERE s = 0)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    /** Circular-shift surrogate p-value for the lag-1 lead-lag: for
      * every directed pair and every shift s ∈ [0, n), correlate
      * dst(t) with src((t−1+s) mod n) on the zero-based day rank; s=0
      * is the observed statistic, the other n−1 shifts are exact
      * surrogates preserving src's full autocorrelation structure.
      * p = (1 + #{s>0 : |r_s| ≥ |r_obs|})/n. O(P²·T·T) rows — bounded.
      */
    QueryDef(
      "q446_circular_shift_null",
      s"""WITH ${CausalOps.dailySql},
         |${circularShiftSql(" count(*) AS np,")}
         |SELECT rs.src, rs.dst, round(ob.r_obs, 6) AS r_lag1,
         |  CAST(count_if(rs.s > 0 AND abs(rs.r) >= abs(ob.r_obs)) AS BIGINT)
         |    AS n_exceed,
         |  CAST(count(*) AS BIGINT) AS n_shifts,
         |  round((1.0 + count_if(rs.s > 0 AND abs(rs.r) >= abs(ob.r_obs)))
         |    / count(*), 6) AS p_surrogate
         |FROM rs JOIN ob ON ob.src = rs.src AND ob.dst = rs.dst
         |GROUP BY 1, 2, 3 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      circularNull(s, CausalOps.daily(s, d))
        .select(col("src"), col("dst"), r6(col("r_obs")).as("r_lag1"),
          col("n_exceed"), col("n_shifts"), r6(col("p")).as("p_surrogate"))
        .orderBy("src", "dst")
    },

    /** Burst synchronization per element pair on the hour grid: burst
      * hours are count > μ + 2σ (per-element hourly moments), then
      * same-hour coincidences and ±1-hour directional leads;
      * Q = (same + leads + lags)/√(nᵢnⱼ) and the delay asymmetry
      * (leadsⱼ − leadsᵢ)/(leadsⱼ + leadsᵢ) — which element's bursts
      * come first. All presence joins on the bounded hour grid.
      */
    QueryDef(
      "q447_burst_sync",
      s"""WITH ${Round23Ops.hourGridSql},
         |st AS (
         |  SELECT el, ${dsumSql("n")} / count(*) AS mu,
         |    sqrt((${dsumSql("n * n")} - ${dsumSql("n")} * ${dsumSql("n")}
         |      / count(*)) / (count(*) - 1)) AS sg
         |  FROM hg GROUP BY 1),
         |bu AS (
         |  SELECT hg.el, hg.h
         |  FROM hg JOIN st ON st.el = hg.el
         |  WHERE hg.n > st.mu + 2.0 * st.sg),
         |nb AS (SELECT el, count(*) AS nb FROM bu GROUP BY 1),
         |pr AS (
         |  SELECT a.el AS eli, b.el AS elj,
         |    count_if(b.h = a.h) AS same_hour,
         |    count_if(b.h = a.h - 1) AS j_leads,
         |    count_if(b.h = a.h + 1) AS i_leads
         |  FROM bu a JOIN bu b
         |    ON a.el < b.el AND b.h BETWEEN a.h - 1 AND a.h + 1
         |  GROUP BY 1, 2)
         |SELECT pr.eli, pr.elj,
         |  CAST(na.nb AS BIGINT) AS n_burst_i, CAST(nj.nb AS BIGINT) AS n_burst_j,
         |  CAST(pr.same_hour AS BIGINT) AS same_hour,
         |  CAST(pr.j_leads AS BIGINT) AS j_leads_i,
         |  CAST(pr.i_leads AS BIGINT) AS i_leads_j,
         |  round((pr.same_hour + pr.j_leads + pr.i_leads)
         |    / sqrt(CAST(na.nb AS DOUBLE) * nj.nb), 6) AS sync_q,
         |  CASE WHEN pr.j_leads + pr.i_leads > 0
         |    THEN round(CAST(pr.j_leads - pr.i_leads AS DOUBLE)
         |      / (pr.j_leads + pr.i_leads), 6) END AS delay_asym
         |FROM pr
         |JOIN nb na ON na.el = pr.eli
         |JOIN nb nj ON nj.el = pr.elj
         |ORDER BY eli, elj""".stripMargin) { (s, d) =>
      val hg = Round23Ops.hourGrid(s, d)
      val st = hg.groupBy("el").agg(
        (dsum(col("n")) / count(lit(1))).as("mu"),
        sqrt((dsum(col("n") * col("n")) -
          dsum(col("n")) * dsum(col("n")) / count(lit(1))) /
          (count(lit(1)) - 1)).as("sg"))
      val bu = hg.join(broadcast(st), "el")
        .where(col("n") > col("mu") + lit(2.0) * col("sg"))
        .select(col("el"), col("h"))
      val nb = bu.groupBy("el").agg(count(lit(1)).as("nb"))
      val b2 = bu.select(col("el").as("elj"), col("h").as("hj"))
      val pr = bu.join(b2, col("el") < col("elj") &&
          col("hj") >= col("h") - 1 && col("hj") <= col("h") + 1)
        .groupBy(col("el").as("eli"), col("elj"))
        .agg(count_if(col("hj") === col("h")).as("same_hour"),
          count_if(col("hj") === col("h") - 1).as("j_leads"),
          count_if(col("hj") === col("h") + 1).as("i_leads"))
      pr.join(broadcast(nb.select(col("el").as("nai"), col("nb").as("nbi"))),
          col("nai") === col("eli"))
        .join(broadcast(nb.select(col("el").as("naj"), col("nb").as("nbj"))),
          col("naj") === col("elj"))
        .select(col("eli"), col("elj"),
          col("nbi").cast("long").as("n_burst_i"),
          col("nbj").cast("long").as("n_burst_j"),
          col("same_hour").cast("long").as("same_hour"),
          col("j_leads").cast("long").as("j_leads_i"),
          col("i_leads").cast("long").as("i_leads_j"),
          r6((col("same_hour") + col("j_leads") + col("i_leads")) /
            sqrt(col("nbi").cast("double") * col("nbj"))).as("sync_q"),
          when(col("j_leads") + col("i_leads") > 0,
            r6((col("j_leads") - col("i_leads")).cast("double") /
              (col("j_leads") + col("i_leads")))).as("delay_asym"))
        .orderBy("eli", "elj")
    },

    /** Flesch reading-ease per source: words by \\S+ tokens, sentences
      * by [.!?]+ runs (floored at 1), syllables by [aeiouy]+ vowel
      * groups — the classic 206.835 − 1.015·W/S − 84.6·Syl/W, averaged
      * per source with min/max. Map-side regexp counting, one shuffle
      * to the 5-row source grain — the readability gate next to q317's
      * perplexity filter.
      */
    QueryDef(
      "q448_flesch_readability",
      """WITH f AS (
        |  SELECT source,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS w,
        |    CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS DOUBLE)
        |      AS sen,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE)
        |      AS syl
        |  FROM documents),
        |sc AS (
        |  SELECT source,
        |    206.835 - 1.015 * (w / sen) - 84.6 * (syl / w) AS flesch
        |  FROM f WHERE w > 0)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  round(CAST(sum(CAST(flesch AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6)
        |    AS avg_flesch,
        |  round(min(flesch), 6) AS min_flesch,
        |  round(max(flesch), 6) AS max_flesch,
        |  CAST(count_if(flesch < 30) AS BIGINT) AS n_hard
        |FROM sc GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val f = Tables.documents(s, d).select(col("source"),
        size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
          .cast("double").as("w"),
        greatest(lit(1), size(regexp_extract_all(col("text"), lit("[.!?]+"),
          lit(0)))).cast("double").as("sen"),
        size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0)))
          .cast("double").as("syl"))
      val sc = f.where(col("w") > 0).select(col("source"),
        (lit(206.835) - lit(1.015) * (col("w") / col("sen")) -
          lit(84.6) * (col("syl") / col("w"))).as("flesch"))
      sc.groupBy("source").agg(
          count(lit(1)).cast("long").as("n_docs"),
          r6(dsum(col("flesch")) / count(lit(1))).as("avg_flesch"),
          r6(min(col("flesch"))).as("min_flesch"),
          r6(max(col("flesch"))).as("max_flesch"),
          count_if(col("flesch") < 30).cast("long").as("n_hard"))
        .orderBy("source")
    },

    /** Markov entropy rate of the per-user event-type chain: bigram
      * transitions from user-grain lag windows (deterministic (ts,
      * value) order), per-origin conditional entropy H_a =
      * −Σ_b p(b|a)·ln p(b|a), stationary weight π_a = origin share,
      * contribution π_a·H_a — and the chain's entropy rate is their
      * sum (readable off the 5 rows). Low H_a means that state's next
      * event is predictable — sequence structure the marginal entropy
      * (q103) cannot see.
      */
    QueryDef(
      "q449_markov_entropy_rate",
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, value)
        |      AS next_type
        |  FROM events),
        |tr AS (
        |  SELECT event_type AS a, next_type AS b, count(*) AS c
        |  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |ca AS (SELECT a, sum(c) AS ctot FROM tr GROUP BY 1),
        |tot AS (SELECT sum(c) AS call FROM tr),
        |h AS (
        |  SELECT tr.a, max(ca.ctot) AS ctot, max(tot.call) AS call,
        |    CAST(sum(CAST(-(CAST(tr.c AS DOUBLE) / ca.ctot)
        |      * ln(CAST(tr.c AS DOUBLE) / ca.ctot) AS DECIMAL(38,12)))
        |      AS DOUBLE) AS ha
        |  FROM tr JOIN ca ON ca.a = tr.a CROSS JOIN tot
        |  GROUP BY 1)
        |SELECT a AS state, CAST(ctot AS BIGINT) AS n_from,
        |  round(CAST(ctot AS DOUBLE) / call, 6) AS pi,
        |  round(ha, 6) AS h_cond,
        |  round((CAST(ctot AS DOUBLE) / call) * ha, 6) AS rate_contrib
        |FROM h ORDER BY state""".stripMargin) { (s, d) =>
      val seq = Tables.events(s, d).select(col("user_id"), col("event_type"),
        lead(col("event_type"), 1).over(Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("value"))).as("next_type"))
      val tr = seq.where(col("next_type").isNotNull)
        .groupBy(col("event_type").as("a"), col("next_type").as("b"))
        .agg(count(lit(1)).as("c"))
      val ca = tr.groupBy("a").agg(sum(col("c")).as("ctot"))
      val tot = tr.agg(sum(col("c")).as("call"))
      val p = col("c").cast("double") / col("ctot")
      tr.join(broadcast(ca.select(col("a").as("ca_a"), col("ctot"))),
          col("ca_a") === col("a"))
        .crossJoin(broadcast(tot))
        .groupBy("a")
        .agg(max(col("ctot")).as("ctotm"), max(col("call")).as("callm"),
          dsum(-p * log(p)).as("ha"))
        .select(col("a").as("state"), col("ctotm").cast("long").as("n_from"),
          r6(col("ctotm").cast("double") / col("callm")).as("pi"),
          r6(col("ha")).as("h_cond"),
          r6((col("ctotm").cast("double") / col("callm")) * col("ha"))
            .as("rate_contrib"))
        .orderBy("state")
    },

    /** Hard-negative mining for contrastive training: for each of the
      * 16 lowest-vec_id query vectors, the top-3 highest-cosine
      * DIFFERENT-label corpus vectors (the confusable impostors) and
      * the margin to the best same-label positive. The per-query rank
      * cut lowers to the bounded-heap TopKPerGroup (WindowTopKRewrite),
      * the query set is an O(1) broadcast — one corpus pass at any
      * scale.
      */
    QueryDef(
      "q450_hard_negatives",
      """WITH qs AS (
        |  SELECT vec_id AS qid, embedding::DOUBLE[] AS qv, label AS qlabel
        |  FROM embeddings WHERE vec_id < 16),
        |sc AS (
        |  SELECT qs.qid, qs.qlabel, e.vec_id, e.label,
        |    list_cosine_similarity(e.embedding::DOUBLE[], qs.qv) AS cos
        |  FROM embeddings e CROSS JOIN qs
        |  WHERE e.vec_id <> qs.qid),
        |pos AS (
        |  SELECT qid, max(cos) AS pos_cos
        |  FROM sc WHERE label = qlabel GROUP BY 1),
        |neg AS (
        |  SELECT qid, qlabel, vec_id, label, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id)
        |      AS rn
        |  FROM sc WHERE label <> qlabel)
        |SELECT neg.qid AS qid, neg.qlabel AS qlabel, CAST(neg.rn AS INT) AS neg_rank,
        |  neg.vec_id AS neg_id, neg.label AS neg_label,
        |  round(neg.cos, 6) AS neg_cos, round(pos.pos_cos, 6) AS pos_cos,
        |  round(pos.pos_cos - neg.cos, 6) AS margin
        |FROM neg JOIN pos ON pos.qid = neg.qid
        |WHERE neg.rn <= 3 ORDER BY qid, neg_rank""".stripMargin) { (s, d) =>
      import graft.functions.Kernels
      val e = Tables.embeddings(s, d)
        .withColumn("emb", col("embedding").cast("array<double>"))
      val qs = e.where(col("vec_id") < 16)
        .select(col("vec_id").as("qid"), col("emb").as("qv"),
          col("label").as("qlabel"))
      val sc = e.crossJoin(broadcast(qs))
        .where(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("qlabel"), col("vec_id"), col("label"),
          Kernels.cosine(col("emb"), col("qv")).as("cos"))
      val pos = sc.where(col("label") === col("qlabel"))
        .groupBy(col("qid").as("pqid")).agg(max(col("cos")).as("pos_cos"))
      val neg = sc.where(col("label") =!= col("qlabel"))
        .select(col("qid"), col("qlabel"), col("vec_id"), col("label"), col("cos"),
          row_number().over(Window.partitionBy(col("qid"))
            .orderBy(col("cos").desc, col("vec_id"))).as("rn"))
        .where(col("rn") <= 3)
      neg.join(broadcast(pos), col("pqid") === col("qid"))
        .select(col("qid"), col("qlabel"), col("rn").cast("int").as("neg_rank"),
          col("vec_id").as("neg_id"), col("label").as("neg_label"),
          r6(col("cos")).as("neg_cos"), r6(col("pos_cos")).as("pos_cos"),
          r6(col("pos_cos") - col("cos")).as("margin"))
        .orderBy("qid", "neg_rank")
    },

    /** Goh–Barabási burstiness and memory per element from per-user
      * inter-event gaps (user-grain lag windows — bounded per user,
      * shuffle on user_id): B = (σ−μ)/(σ+μ) ∈ (−1, 1) (−1 periodic,
      * 0 Poisson, →1 bursty), M = Pearson correlation of consecutive
      * gaps within a user's sequence. The arrival-process shape q426's
      * exponential kernel assumed — now measured.
      */
    QueryDef(
      "q451_burstiness",
      s"""WITH ev AS (
         |  SELECT event_type AS el, user_id, epoch_us(ts) AS mic, value
         |  FROM events),
         |gp AS (
         |  SELECT el, user_id,
         |    (lead(mic) OVER w - mic) / 1000000.0 AS g,
         |    (lead(mic, 2) OVER w - lead(mic) OVER w) / 1000000.0 AS g2
         |  FROM ev
         |  WINDOW w AS (PARTITION BY el, user_id ORDER BY mic, value)),
         |bs AS (
         |  SELECT el, count(*) AS ng,
         |    ${dsumSql("g")} / count(*) AS mu,
         |    sqrt((${dsumSql("g * g")} - ${dsumSql("g")} * ${dsumSql("g")}
         |      / count(*)) / (count(*) - 1)) AS sg
         |  FROM gp WHERE g IS NOT NULL GROUP BY 1),
         |mm AS (
         |  SELECT el, count(*) AS npair,
         |    (count(*) * ${dsumSql("g * g2")} - ${dsumSql("g")} * ${dsumSql("g2")})
         |      / sqrt((count(*) * ${dsumSql("g * g")} - ${dsumSql("g")} * ${dsumSql("g")})
         |        * (count(*) * ${dsumSql("g2 * g2")} - ${dsumSql("g2")} * ${dsumSql("g2")}))
         |      AS mem
         |  FROM gp WHERE g IS NOT NULL AND g2 IS NOT NULL GROUP BY 1)
         |SELECT bs.el AS el, CAST(bs.ng AS BIGINT) AS n_gaps,
         |  round(bs.mu, 6) AS mean_gap_s,
         |  round((bs.sg - bs.mu) / (bs.sg + bs.mu), 6) AS burstiness,
         |  round(mm.mem, 6) AS memory,
         |  CAST(mm.npair AS BIGINT) AS n_gap_pairs
         |FROM bs JOIN mm ON mm.el = bs.el ORDER BY el""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("el"), col("user_id"))
        .orderBy(col("mic"), col("value"))
      val ev = Tables.events(s, d).select(col("event_type").as("el"),
        col("user_id"), unix_micros(col("ts").cast("timestamp")).as("mic"),
        col("value"))
      val gp = ev.select(col("el"), col("user_id"),
        ((lead(col("mic"), 1).over(w) - col("mic")) / 1000000.0).as("g"),
        ((lead(col("mic"), 2).over(w) - lead(col("mic"), 1).over(w)) /
          1000000.0).as("g2"))
      val bs = gp.where(col("g").isNotNull).groupBy("el").agg(
        count(lit(1)).as("ng"),
        (dsum(col("g")) / count(lit(1))).as("mu"),
        sqrt((dsum(col("g") * col("g")) -
          dsum(col("g")) * dsum(col("g")) / count(lit(1))) /
          (count(lit(1)) - 1)).as("sg"))
      val mm = gp.where(col("g").isNotNull && col("g2").isNotNull)
        .groupBy(col("el").as("mel")).agg(
          count(lit(1)).as("npair"),
          ((count(lit(1)) * dsum(col("g") * col("g2")) -
            dsum(col("g")) * dsum(col("g2"))) /
            sqrt((count(lit(1)) * dsum(col("g") * col("g")) -
              dsum(col("g")) * dsum(col("g"))) *
              (count(lit(1)) * dsum(col("g2") * col("g2")) -
                dsum(col("g2")) * dsum(col("g2"))))).as("mem"))
      bs.join(mm, col("mel") === col("el"))
        .select(col("el"), col("ng").cast("long").as("n_gaps"),
          r6(col("mu")).as("mean_gap_s"),
          r6((col("sg") - col("mu")) / (col("sg") + col("mu"))).as("burstiness"),
          r6(col("mem")).as("memory"),
          col("npair").cast("long").as("n_gap_pairs"))
        .orderBy("el")
    }
  )
}
