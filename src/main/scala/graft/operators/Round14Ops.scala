package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-14 batch: statistics / causal-inference / evaluation operators a
  * 100 TB analytics stack still lacked after round 13 —
  *
  *  - q372 Kendall's τ-b rank association (Kendall 1938; tie correction
  *    per Kendall 1945) between element daily series — the robust
  *    complement to q241's Spearman ρ: exact concordant/discordant pair
  *    counting with the τ-b tie normalization, all-integer until the
  *    final ratio;
  *  - q373 instrumental-variables 2SLS (Wald 1940 single-instrument
  *    form; Stock & Watson ch. 12) with the first-stage F diagnostic —
  *    the causal-effect estimator when the regressor is endogenous,
  *    closed-form from nine decimal-exact moment sums in ONE scan;
  *  - q374 precision-recall readouts: exact average precision (the
  *    PR-AUC used when classes are imbalanced and q21's ROC-AUC is
  *    optimistic), precision@100 and R-precision, over a two-phase
  *    global rank that never funnels the fact table through one
  *    partition.
  *
  * All hash-verified against DuckDB on the same parquet tables.
  */
object Round14Ops {
  private def r6(c: Column) = round(c, 6)
  private def dsum(c: Column): Column = sum(c.cast("decimal(38,12)")).cast("double")
  private def dsumSql(x: String) = s"CAST(sum(CAST($x AS DECIMAL(38,12))) AS DOUBLE)"

  val defs: Seq[QueryDef] = Seq(

    /** Kendall's τ-b between every element pair's daily mean series on
      * their common days — the O(T²)-pair exact form with the τ-b tie
      * correction: τ-b = (C − D) / √((N₀−N₁)(N₀−N₂)) where N₀ is the
      * day-pair count and N₁/N₂ the pairs tied in each series. Unlike
      * q241's Spearman (moments over ranks), every count here is integer
      * exact in BOTH engines — concordance is decided by boolean
      * comparisons, never float sign arithmetic — so the only float op
      * is the final ratio.
      *
      * Scale shape: the aligned pair table is the q229 grid join
      * (guarded by guardFullEnum — past 2048 elements the engine fails
      * loudly toward the q251 screen), and the day-pair self-join is
      * O(P²·T²) on the BOUNDED (element, day) grid, not on raw events:
      * P=10, T=365 ⇒ 3M comparisons regardless of fact-table bytes. At
      * larger T the documented drop-in is the O(T log T) merge-sort
      * inversion count per pair (mapGroups over the ≤T-row pair
      * series), same answer.
      */
    QueryDef(
      "q372_kendall_tau",
      s"""WITH ${CausalOps.dailySql},
        |ali AS (
        |  SELECT a.el AS sa, b.el AS sb, a.di AS di, a.v AS va, b.v AS vb
        |  FROM daily a JOIN daily b ON a.el < b.el AND a.di = b.di),
        |pp AS (
        |  SELECT x.sa, x.sb, count(*) AS np,
        |    sum(CASE WHEN (x.va < y.va AND x.vb < y.vb)
        |              OR (x.va > y.va AND x.vb > y.vb) THEN 1 ELSE 0 END) AS conc,
        |    sum(CASE WHEN (x.va < y.va AND x.vb > y.vb)
        |              OR (x.va > y.va AND x.vb < y.vb) THEN 1 ELSE 0 END) AS disc,
        |    sum(CASE WHEN x.va = y.va THEN 1 ELSE 0 END) AS tx,
        |    sum(CASE WHEN x.vb = y.vb THEN 1 ELSE 0 END) AS ty
        |  FROM ali x JOIN ali y
        |    ON y.sa = x.sa AND y.sb = x.sb AND y.di > x.di
        |  GROUP BY 1, 2),
        |nd AS (SELECT sa, sb, count(*) AS n_days FROM ali GROUP BY 1, 2)
        |SELECT p.sa AS src, p.sb AS dst, CAST(nd.n_days AS BIGINT) AS n_days,
        |  CAST(p.conc AS BIGINT) AS concordant, CAST(p.disc AS BIGINT) AS discordant,
        |  round(CAST(p.conc - p.disc AS DOUBLE)
        |    / nullif(sqrt(CAST((p.np - p.tx) * (p.np - p.ty) AS DOUBLE)), 0), 6) AS tau_b
        |FROM pp p JOIN nd ON nd.sa = p.sa AND nd.sb = p.sb
        |ORDER BY src, dst""".stripMargin) { (s, d) =>
      val g = CausalOps.daily(s, d)
      CausalOps.guardFullEnum(g, "q372_kendall_tau")
      val ali = g.as("a").join(g.as("b"),
          col("a.el") < col("b.el") && col("a.di") === col("b.di"))
        .select(col("a.el").as("sa"), col("b.el").as("sb"), col("a.di").as("di"),
          col("a.v").as("va"), col("b.v").as("vb"))
      val pp = ali.as("x").join(ali.as("y"),
          col("y.sa") === col("x.sa") && col("y.sb") === col("x.sb") &&
            col("y.di") > col("x.di"))
        .groupBy(col("x.sa").as("sa"), col("x.sb").as("sb"))
        .agg(
          count(lit(1)).as("np"),
          sum(when((col("x.va") < col("y.va") && col("x.vb") < col("y.vb")) ||
            (col("x.va") > col("y.va") && col("x.vb") > col("y.vb")), 1)
            .otherwise(0)).as("conc"),
          sum(when((col("x.va") < col("y.va") && col("x.vb") > col("y.vb")) ||
            (col("x.va") > col("y.va") && col("x.vb") < col("y.vb")), 1)
            .otherwise(0)).as("disc"),
          sum(when(col("x.va") === col("y.va"), 1).otherwise(0)).as("tx"),
          sum(when(col("x.vb") === col("y.vb"), 1).otherwise(0)).as("ty"))
      val nd = ali.groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("n_days"))
      pp.join(nd, Seq("sa", "sb"))
        .select(col("sa").as("src"), col("sb").as("dst"),
          col("n_days").cast("long").as("n_days"),
          col("conc").cast("long").as("concordant"),
          col("disc").cast("long").as("discordant"),
          r6((col("conc") - col("disc")).cast("double") /
            nullif(sqrt(((col("np") - col("tx")) * (col("np") - col("ty")))
              .cast("double")), lit(0.0))).as("tau_b"))
        .orderBy("src", "dst")
    },

    /** Instrumental-variables two-stage least squares, single-instrument
      * Wald form: the discount→revenue effect per return-flag stratum
      * with part size as the instrument. β_IV = cov(z,y)/cov(z,x) — the
      * ratio that stays consistent when cov(x,ε) ≠ 0 biases the OLS
      * slope — reported NEXT TO β_OLS so the endogeneity gap is the
      * readout; the first-stage slope π = cov(z,x)/var(z) and its
      * F statistic F = (n−2)·ρ²_{zx}/(1−ρ²_{zx}) give the weak-
      * instrument diagnostic (F < 10 rule of thumb).
      *
      * Scale shape: one fact-scan joined to the part dimension (plain
      * equi-join — AQE decides broadcast; no forced hint per the
      * round-10 broadcast governance rule), then ONE grouped aggregate
      * onto nine decimal-exact moment sums per stratum — the q230/q320
      * closed-form-from-moments discipline: no iterative fit, no second
      * pass, identical math in both engines.
      */
    QueryDef(
      "q373_iv_2sls",
      s"""WITH j AS (
        |  SELECT l_returnflag AS rf,
        |    l_extendedprice * (1.0 - l_discount) AS y,
        |    l_discount AS x,
        |    CAST(p_size AS DOUBLE) AS z
        |  FROM lineitem JOIN part ON p_partkey = l_partkey),
        |m AS (
        |  SELECT rf, CAST(count(*) AS DOUBLE) AS n,
        |    ${dsumSql("x")} AS sx, ${dsumSql("y")} AS sy, ${dsumSql("z")} AS sz,
        |    ${dsumSql("x*y")} AS sxy, ${dsumSql("z*y")} AS szy,
        |    ${dsumSql("z*x")} AS szx, ${dsumSql("z*z")} AS szz,
        |    ${dsumSql("x*x")} AS sxx
        |  FROM j GROUP BY rf)
        |SELECT rf, CAST(n AS BIGINT) AS n_rows,
        |  round((n*szy - sz*sy) / nullif(n*szx - sz*sx, 0), 6) AS beta_iv,
        |  round((n*sxy - sx*sy) / nullif(n*sxx - sx*sx, 0), 6) AS beta_ols,
        |  round((n*szx - sz*sx) / nullif(n*szz - sz*sz, 0), 6) AS first_stage_pi,
        |  round((n - 2) * ((n*szx - sz*sx) * (n*szx - sz*sx)
        |      / nullif((n*szz - sz*sz) * (n*sxx - sx*sx), 0))
        |    / nullif(1.0 - (n*szx - sz*sx) * (n*szx - sz*sx)
        |      / nullif((n*szz - sz*sz) * (n*sxx - sx*sx), 0), 0), 6) AS first_stage_f
        |FROM m ORDER BY rf""".stripMargin) { (s, d) =>
      val j = Tables.lineitem(s, d)
        .join(Tables.part(s, d), col("p_partkey") === col("l_partkey"))
        .select(col("l_returnflag").as("rf"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("y"),
          col("l_discount").as("x"),
          col("p_size").cast("double").as("z"))
      val m = j.groupBy("rf").agg(
        count(lit(1)).cast("double").as("n"),
        dsum(col("x")).as("sx"), dsum(col("y")).as("sy"), dsum(col("z")).as("sz"),
        dsum(col("x") * col("y")).as("sxy"), dsum(col("z") * col("y")).as("szy"),
        dsum(col("z") * col("x")).as("szx"), dsum(col("z") * col("z")).as("szz"),
        dsum(col("x") * col("x")).as("sxx"))
      val covZX = col("n") * col("szx") - col("sz") * col("sx")
      val varZ = col("n") * col("szz") - col("sz") * col("sz")
      val varX = col("n") * col("sxx") - col("sx") * col("sx")
      val r2 = covZX * covZX / nullif(varZ * varX, lit(0.0))
      m.select(col("rf"), col("n").cast("long").as("n_rows"),
          r6((col("n") * col("szy") - col("sz") * col("sy")) /
            nullif(covZX, lit(0.0))).as("beta_iv"),
          r6((col("n") * col("sxy") - col("sx") * col("sy")) /
            nullif(varX, lit(0.0))).as("beta_ols"),
          r6(covZX / nullif(varZ, lit(0.0))).as("first_stage_pi"),
          r6((col("n") - 2) * r2 / nullif(lit(1.0) - r2, lit(0.0)))
            .as("first_stage_f"))
        .orderBy("rf")
    },

    /** Precision-recall readouts for q21's scorer: exact average
      * precision AP = (1/n⁺)·Σ_{positives} precision@rank — the PR-AUC
      * that stays honest under class imbalance where ROC-AUC saturates —
      * plus precision@100 and R-precision (precision at rank n⁺). Ties
      * in the score are broken by the unique (orderkey, linenumber) key
      * IDENTICALLY in both engines, so the rank — and therefore AP — is
      * deterministic and hash-exact; the per-positive precision terms
      * are folded through the decimal-exact sum so accumulation order
      * cannot flip a bit.
      *
      * Scale shape: the global rank AND the cumulative positive count
      * both come from ONE two-phase range-partitioned pass (the
      * TwoPhase/q174 idiom — per-partition windows in parallel, O(32)
      * driver-collected offsets to stitch), so no data-grain table ever
      * serializes through a single partition; the final readout is a
      * scalar aggregate. q87's bucketed histogram remains the
      * sketch-grade drop-in when even one sorted pass is too much.
      */
    QueryDef(
      "q374_pr_auc",
      s"""WITH scored AS (
        |  SELECT l_quantity/10.0 - l_discount*20.0 + l_tax*5.0 - 1.5 AS z,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
        |    l_orderkey AS k1, l_linenumber AS k2
        |  FROM lineitem),
        |ranked AS (
        |  SELECT y,
        |    row_number() OVER (ORDER BY z DESC, k1, k2) AS rn,
        |    sum(y) OVER (ORDER BY z DESC, k1, k2
        |      ROWS UNBOUNDED PRECEDING) AS cp
        |  FROM scored),
        |np AS (SELECT sum(y) AS n_pos, count(*) AS n FROM scored)
        |SELECT CAST(np.n AS BIGINT) AS n_rows, CAST(np.n_pos AS BIGINT) AS n_pos,
        |  round(CAST(np.n_pos AS DOUBLE) / np.n, 6) AS prevalence,
        |  round(${dsumSql("CASE WHEN y = 1 THEN CAST(cp AS DOUBLE)/rn END")}
        |    / np.n_pos, 6) AS avg_precision,
        |  round(sum(CASE WHEN rn <= 100 THEN CAST(y AS DOUBLE) END) / 100.0, 6)
        |    AS prec_at_100,
        |  round(sum(CASE WHEN rn <= np.n_pos THEN CAST(y AS DOUBLE) END)
        |    / np.n_pos, 6) AS r_precision
        |FROM ranked CROSS JOIN np
        |GROUP BY np.n, np.n_pos""".stripMargin) { (s, d) =>
      val scored = Tables.lineitem(s, d).select(
        (col("l_quantity") / 10.0 - col("l_discount") * 20.0 +
          col("l_tax") * 5.0 - 1.5).as("z"),
        when(col("l_returnflag") === "R", 1).otherwise(0).as("y"),
        col("l_orderkey").as("k1"), col("l_linenumber").as("k2"))
      // two-phase global rank + cumulative positives: range-partition on
      // the total order, window per partition, stitch with the
      // driver-collected per-partition (row, positive) totals
      val sort = Seq(col("z").desc, col("k1").asc, col("k2").asc)
      val local = graft.PlanCache.cached(s, s"q374_local|$d") {
        scored.repartitionByRange(32, sort: _*)
          .withColumn("pid", spark_partition_id())
          .withColumn("rl", row_number().over(
            Window.partitionBy(col("pid")).orderBy(sort: _*)))
          .withColumn("cl", sum(col("y")).over(
            Window.partitionBy(col("pid")).orderBy(sort: _*)
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      }
      val totals = local.groupBy("pid")
        .agg(count(lit(1)).as("c"), sum(col("y")).as("yp"))
        .orderBy("pid").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      val n = totals.map(_._2).sum
      val nPos = totals.map(_._3).sum
      val offN = TwoPhase.offsets(totals.map(t => (t._1, t._2)).toSeq)
      val offY = TwoPhase.offsets(totals.map(t => (t._1, t._3)).toSeq)
      local.withColumn("rn", col("rl") + offN)
        .withColumn("cp", col("cl") + offY)
        .agg(
          dsum(when(col("y") === 1, col("cp").cast("double") / col("rn")))
            .as("sap"),
          sum(when(col("rn") <= 100, col("y").cast("double"))).as("p100"),
          sum(when(col("rn") <= nPos, col("y").cast("double"))).as("rp"))
        .select(lit(n).as("n_rows"), lit(nPos).as("n_pos"),
          r6(lit(nPos.toDouble) / n).as("prevalence"),
          r6(col("sap") / nPos).as("avg_precision"),
          r6(col("p100") / 100.0).as("prec_at_100"),
          r6(col("rp") / nPos).as("r_precision"))
    },

    /** Isotonic calibration curve via pool-adjacent-violators, in the
      * closed max-min form (Ayer et al. 1955; Barlow & Brunk 1972):
      * fitted(k) = max_{i≤k} min_{j≥k} mean(y over bins i..j). Scores
      * are bucketed into fixed width-0.2 bins, so every pooled mean is a
      * ratio of INTEGER prefix sums — bit-identical in both engines —
      * and the max/min lattice runs over the ≤40-row bin grid as O(B³)
      * column math, the q313-style "fit on the aggregate, not the rows"
      * discipline. The readout is the reliability diagram (raw bin mean
      * vs isotonic fit) that q287's Brier decomposition reads as its
      * calibration term; the spec pins monotonicity and the
      * pool-average invariant.
      *
      * Scale shape: ONE fact-scan groupBy onto the bin grid; everything
      * after is bounded-grid joins (B² prefix, B³ lattice — 64k
      * expression evals at B=40, independent of fact bytes).
      */
    QueryDef(
      "q375_isotonic_calibration",
      """WITH scored AS (
        |  SELECT l_quantity/10.0 - l_discount*20.0 + l_tax*5.0 - 1.5 AS z,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        |  FROM lineitem),
        |b AS (
        |  SELECT CAST(floor(z * 5) AS INT) AS bin, count(*) AS w, sum(y) AS sy
        |  FROM scored GROUP BY 1),
        |pre AS (
        |  SELECT a.bin,
        |    sum(CASE WHEN c.bin <= a.bin THEN c.w ELSE 0 END) AS cw,
        |    sum(CASE WHEN c.bin <= a.bin THEN c.sy ELSE 0 END) AS cs,
        |    sum(CASE WHEN c.bin < a.bin THEN c.w ELSE 0 END) AS cwe,
        |    sum(CASE WHEN c.bin < a.bin THEN c.sy ELSE 0 END) AS cse
        |  FROM b a CROSS JOIN b c GROUP BY 1),
        |mn AS (
        |  SELECT k.bin AS kb, pi.bin AS ib,
        |    min(CAST(pj.cs - pi.cse AS DOUBLE) / (pj.cw - pi.cwe)) AS m
        |  FROM b k
        |  JOIN pre pi ON pi.bin <= k.bin
        |  JOIN pre pj ON pj.bin >= k.bin
        |  GROUP BY 1, 2),
        |fit AS (SELECT kb AS bin, max(m) AS f FROM mn GROUP BY 1)
        |SELECT b.bin, round(b.bin / 5.0, 6) AS bin_lo,
        |  CAST(b.w AS BIGINT) AS n,
        |  round(CAST(b.sy AS DOUBLE) / b.w, 6) AS raw_rate,
        |  round(fit.f, 6) AS isotonic_rate
        |FROM b JOIN fit ON fit.bin = b.bin
        |ORDER BY b.bin""".stripMargin) { (s, d) =>
      val b = Tables.lineitem(s, d)
        .select((col("l_quantity") / 10.0 - col("l_discount") * 20.0 +
          col("l_tax") * 5.0 - 1.5).as("z"),
          when(col("l_returnflag") === "R", 1).otherwise(0).as("y"))
        .groupBy(floor(col("z") * 5).cast("int").as("bin"))
        .agg(count(lit(1)).as("w"), sum(col("y")).as("sy"))
      val pre = b.as("a").join(b.as("c"))
        .groupBy(col("a.bin").as("bin"))
        .agg(
          sum(when(col("c.bin") <= col("a.bin"), col("c.w")).otherwise(0)).as("cw"),
          sum(when(col("c.bin") <= col("a.bin"), col("c.sy")).otherwise(0)).as("cs"),
          sum(when(col("c.bin") < col("a.bin"), col("c.w")).otherwise(0)).as("cwe"),
          sum(when(col("c.bin") < col("a.bin"), col("c.sy")).otherwise(0)).as("cse"))
      val mn = b.select(col("bin").as("kb"))
        .join(pre.select(col("bin").as("ibin"), col("cwe"), col("cse")),
          col("ibin") <= col("kb"))
        .join(pre.select(col("bin").as("jbin"), col("cw"), col("cs")),
          col("jbin") >= col("kb"))
        .groupBy(col("kb"), col("ibin"))
        .agg(min((col("cs") - col("cse")).cast("double") /
          (col("cw") - col("cwe"))).as("m"))
      val fit = mn.groupBy(col("kb").as("bin")).agg(max(col("m")).as("f"))
      b.join(fit, Seq("bin"))
        .select(col("bin"), r6(col("bin") / 5.0).as("bin_lo"),
          col("w").cast("long").as("n"),
          r6(col("sy").cast("double") / col("w")).as("raw_rate"),
          r6(col("f")).as("isotonic_rate"))
        .orderBy("bin")
    },

    /** 3-core decomposition of the co-purchase graph by iterative
      * peeling (Seidman 1983; Batagelj–Zaveršnik in its synchronous
      * round form): drop nodes of degree < 3, drop edges touching a
      * dropped node, repeat. Twelve rounds are unrolled — the
      * spec pins that the fixture reaches its fixpoint by round 10
      * (measured at sf0.01: rounds 10-12 all emit 935 nodes / 1970
      * edges; at sf0.1 the 3-core is empty by round 2), so the unroll
      * is a PROVEN bound with two rounds of slack, not a hope. The
      * readout is the per-round (nodes, edges) trajectory —
      * the core-collapse curve — ending at the 3-core.
      *
      * Scale shape: the edge set is the SAME PlanCache entry q364/q285
      * share (one basket expansion per session); each peel round is two
      * semi-joins keyed on node id against a degree aggregate —
      * shuffle-partitioned, no broadcast hints, monotonically shrinking
      * input. A data-dependent-depth fixpoint would use iterative
      * checkpointing (the q151 pagerank discipline); the fixed unroll
      * with a pinned convergence spec is the deterministic-oracle form.
      */
    QueryDef(
      "q376_kcore", {
        // MATERIALIZED: each round reads the previous THREE times, so an
        // inlined CTE chain would blow up 3^12 in the oracle engine too
        val rounds = (1 to 12).map { r =>
          s"""n$r AS MATERIALIZED (
             |  SELECT w FROM (SELECT u AS w FROM e${r - 1}
             |    UNION ALL SELECT v FROM e${r - 1})
             |  GROUP BY 1 HAVING count(*) >= 3),
             |e$r AS MATERIALIZED (
             |  SELECT u, v FROM e${r - 1}
             |  WHERE u IN (SELECT w FROM n$r) AND v IN (SELECT w FROM n$r))"""
            .stripMargin
        }.mkString(",\n")
        val stats = (0 to 12).map { r =>
          s"""SELECT $r AS round,
             |  (SELECT CAST(count(DISTINCT w) AS BIGINT) FROM
             |    (SELECT u AS w FROM e$r UNION ALL SELECT v FROM e$r)) AS n_nodes,
             |  (SELECT CAST(count(*) AS BIGINT) FROM e$r) AS n_edges"""
            .stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH ${GraphOps.coorderEdgesSql("e0 AS MATERIALIZED")},
           |$rounds
           |SELECT * FROM (
           |$stats
           |) ORDER BY round""".stripMargin
      }) { (s, d) =>
      // the edge set is the family-shared GraphOps.coorderPairs
      // materialization (round 17 — was the shared `q364_edges` key)
      val e0 = GraphOps.coorderEdges(s, d)
      // peel rounds: each round references the previous round's plan
      // THREE times (degree + two semi-joins), so an un-truncated
      // lineage grows 3^r — Catalyst analysis alone would spin for
      // minutes by round 8. Eager localCheckpoint per round (the q135
      // connected-components discipline) truncates the lineage AND
      // materializes the shrinking edge set; PlanCache keys the rounds
      // so repeated invocations reuse the same checkpoints.
      val edges = (1 to 12).scanLeft(e0) { (e, r) =>
        graft.PlanCache.cached(s, s"q376_e$r|$d") {
          val keep = e.select(col("u").as("w"))
            .unionAll(e.select(col("v").as("w")))
            .groupBy("w").agg(count(lit(1)).as("dg"))
            .where(col("dg") >= 3).select(col("w"))
          e.join(keep.select(col("w").as("ku")), col("ku") === col("u"))
            .join(keep.select(col("w").as("kv")), col("kv") === col("v"))
            .select(col("u"), col("v"))
            .localCheckpoint(true)
        }
      }
      edges.zipWithIndex.map { case (e, r) =>
        val nodes = e.select(col("u").as("w")).unionAll(e.select(col("v").as("w")))
          .agg(countDistinct(col("w")).as("n_nodes"))
        nodes.crossJoin(e.agg(count(lit(1)).as("n_edges")))
          .select(lit(r).as("round"), col("n_nodes").cast("long").as("n_nodes"),
            col("n_edges").cast("long").as("n_edges"))
      }.reduce(_ unionAll _).orderBy("round")
    },

    /** Entropy and recursive (c,l)-diversity audit (Machanavajjhala et
      * al., ICDE 2006) — the refinement of q322's distinct-l count: per
      * quasi-identifier group (nation, acctbal-thousand bin) over the
      * joined order history, the sensitive attribute is the order
      * priority; entropy l-diversity exp(−Σ p·ln p) measures how evenly
      * the sensitive values spread (≥ l is the privacy bar), and
      * recursive (2,2)-diversity checks the most frequent value is not
      * the majority by factor 2 over the rest. Groups failing either
      * are the re-generalization worklist q323's ladder widens.
      *
      * Scale shape: one customer⋈orders equi-join (AQE decides the
      * strategy), ONE (group, value) aggregate, then group-grain column
      * math; the ≤5-term entropy sums fold through decimal so
      * accumulation order cannot flip a bit.
      */
    QueryDef(
      "q377_l_diversity",
      s"""WITH jo AS (
        |  SELECT c_nationkey AS nat,
        |    CAST(floor(c_acctbal / 1000.0) AS INT) AS bin,
        |    o_orderpriority AS sens
        |  FROM customer JOIN orders ON o_custkey = c_custkey),
        |gv AS (
        |  SELECT nat, bin, sens, count(*) AS cnt
        |  FROM jo GROUP BY 1, 2, 3),
        |gk AS (
        |  SELECT nat, bin, cnt,
        |    sum(cnt) OVER (PARTITION BY nat, bin) AS kt
        |  FROM gv),
        |g AS (
        |  SELECT nat, bin, sum(cnt) AS k, count(*) AS l_distinct,
        |    max(cnt) AS maxc,
        |    ${dsumSql("-(CAST(cnt AS DOUBLE)/kt) * ln(CAST(cnt AS DOUBLE)/kt)")} AS h
        |  FROM gk GROUP BY 1, 2)
        |SELECT nat, bin, CAST(k AS BIGINT) AS k,
        |  CAST(l_distinct AS BIGINT) AS l_distinct,
        |  round(exp(h), 6) AS entropy_l,
        |  CAST(maxc < 2 * (k - maxc) AS INT) AS rcl2_ok
        |FROM g ORDER BY nat, bin""".stripMargin) { (s, d) =>
      val jo = Tables.customer(s, d)
        .join(Tables.orders(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey").as("nat"),
          floor(col("c_acctbal") / 1000.0).cast("int").as("bin"),
          col("o_orderpriority").as("sens"))
      val gv = jo.groupBy("nat", "bin", "sens").agg(count(lit(1)).as("cnt"))
      val gk = gv.withColumn("kt",
        sum(col("cnt")).over(Window.partitionBy(col("nat"), col("bin"))))
      val g = gk.groupBy("nat", "bin").agg(
        sum(col("cnt")).as("k"), count(lit(1)).as("l_distinct"),
        max(col("cnt")).as("maxc"),
        dsum(-(col("cnt").cast("double") / col("kt")) *
          log(col("cnt").cast("double") / col("kt"))).as("h"))
      g.select(col("nat"), col("bin"), col("k").cast("long").as("k"),
          col("l_distinct").cast("long").as("l_distinct"),
          r6(exp(col("h"))).as("entropy_l"),
          (col("maxc") < (col("k") - col("maxc")) * 2).cast("int").as("rcl2_ok"))
        .orderBy("nat", "bin")
    })

  private def nullif(c: Column, v: Column): Column = when(c === v, lit(null)).otherwise(c)
}
