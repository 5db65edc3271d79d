package graft.operators

import graft.{PlanCache, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Statistical causality operators (rounds 7-8) — the classical-
  * statistics counterpart of the RETAIN B-matrix (reference `model.py:214-224`
  * learns "contribution of element j to element i"; these compute the
  * model-free lead-lag evidence for the same question directly from the
  * event series).
  *
  * Shared scale shape: ONE map-side-combined shuffle reduces the fact
  * table to the (element, day) grid — O(P·T) rows no matter how many
  * raw events (100 TB in, a few thousand rows out). Every pairwise
  * step (lag joins, P² pair expansion, OLS moment sums) runs on that
  * tiny aggregate, so the correlogram/Granger pass is compute-free
  * relative to the scan. Engines stay hash-identical by the decimal
  * moment-sum idiom (q167): daily means are exact-decimal sums over
  * the raw values, pairwise moment sums are exact-decimal sums over
  * deterministic double products; only the final closed-form doubles
  * (identical IEEE expressions both sides) follow.
  */
object CausalOps {
  /** A result column rounded to the 6 decimals every oracle compares. */
  private[operators] def r6(c: Column): Column = round(c, 6)

  // dailySql / daily / dsum are shared with the round-9 sibling modules
  // (SeriesOps, DriftOps) so every series-shaped query family runs on the
  // SAME PlanCache'd (element, day) grid — one fact-table scan per
  // session, identical decimal-sum semantics everywhere.

  /** Exact-decimal sum of a deterministic double term, back to double. */
  private[operators] def dsum(c: Column): Column = sum(c.cast("decimal(38,12)")).cast("double")

  /** [[dsum]] as oracle SQL over the expression `x`. */
  private[operators] def dsumSql(x: String): String = s"CAST(sum(CAST($x AS DECIMAL(38,12))) AS DOUBLE)"

  private[operators] val dailySql =
    """daily AS (
      |  SELECT event_type AS el,
      |    datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS di,
      |    CAST(sum(CAST(value AS DECIMAL(18,3))) AS DOUBLE) / count(*) AS v
      |  FROM events GROUP BY 1, 2)""".stripMargin

  /** The (element, day-index, exact daily mean) grid every causal query
    * shares — persisted ONCE per (session, sf-dir) through [[PlanCache]],
    * so the whole causal family scans the fact table once, and repeated
    * bench/verify invocations reuse the same single cache entry instead
    * of accumulating fresh ones (round-7 ADVICE).
    */
  private[graft] def daily(s: SparkSession, d: String): DataFrame =
    PlanCache.cached(s, s"causal_daily|$d") {
      Tables.events(s, d)
        .groupBy(col("event_type").as("el"),
          datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")).as("di"))
        .agg((sum(col("value").cast("decimal(18,3)")).cast("double") /
          count(lit(1))).as("v"))
    }

  /** Hard ceiling for the FULL O(P²) pair-enumeration paths (q229/q230/
    * q246/q247/q248). Their pair joins are keyed on the low-cardinality
    * day column, which is fine at survey-scale element counts but a
    * skewed O(P²·T) blowup at, say, 10⁵ elements — so past this bound
    * the engine fails LOUDLY with a pointer to the candidate-pruned
    * variants (q251/q252/q253) instead of silently launching a
    * cluster-killing join. The guard's countDistinct runs on the
    * [[PlanCache]]-cached grid — one tiny job, no extra fact-table scan.
    */
  private[operators] val MaxFullEnumElements = 2048L

  private[graft] def guardFullEnum(g: DataFrame, qname: String): Unit = {
    val p = g.agg(countDistinct(col("el"))).head.getLong(0)
    if (p > MaxFullEnumElements)
      throw new IllegalStateException(
        s"$qname enumerates all O(P^2) element pairs and P=$p exceeds the " +
          s"MaxFullEnumElements=$MaxFullEnumElements guard; use the " +
          "candidate-pruned variants (q251_causal_screen / q252_mi_pruned / " +
          "q253_te_pruned), which screen pairs by |lag-0 correlation| and " +
          "top-m partner rank before any pairwise histogram work")
  }

  /** q229's correlogram computed from any (el, di, v) grid — factored
    * out so the batch query (PlanCache grid) and the streaming refresh
    * (q249's per-micro-batch grid) run the IDENTICAL expression tree
    * and therefore produce bit-identical doubles.
    */
  private[graft] def leadLagFromGrid(s: SparkSession, g: DataFrame): DataFrame = {
    import s.implicits._
    val a = g.select(col("el").as("src"), col("di"), col("v").as("x"))
    val b = g.select(col("el").as("dst"), col("di").as("dib"), col("v").as("y"))
    val lags = Seq(0, 1, 2, 3).toDF("lag")
    val m = a.crossJoin(broadcast(lags))
      .join(b, col("dst") =!= col("src") && col("dib") === col("di") + col("lag"))
      .groupBy("src", "dst", "lag")
      .agg(count(lit(1)).as("n"),
        dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
        dsum(col("x") * col("y")).as("sxy"),
        dsum(col("x") * col("x")).as("sxx"),
        dsum(col("y") * col("y")).as("syy"))
    m.select(col("src"), col("dst"), col("lag"), col("n").as("n_days"),
        r6((col("n") * col("sxy") - col("sx") * col("sy")) /
          nullif(sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
            (col("n") * col("syy") - col("sy") * col("sy"))), lit(0.0)))
          .as("xcorr"))
      .orderBy("src", "dst", "lag")
  }

  /** q230's Granger-lite computed from any (el, di, v) grid — shared by
    * the batch query and q256's streaming refresh (identical trees ⇒
    * bit-identical doubles).
    */
  private[graft] def grangerFromGrid(g0: DataFrame): DataFrame = {
    val y = g0.select(col("el").as("dst"), col("di"), col("v").as("yt"))
    val yl = g0.select(col("el").as("ell"), col("di").as("dil"), col("v").as("yl1"))
    val x = g0.select(col("el").as("src"), col("di").as("dix"), col("v").as("xl1"))
    val grid = y
      .join(yl, col("ell") === col("dst") && col("dil") === col("di") - 1)
      .join(x, col("src") =!= col("dst") && col("dix") === col("di") - 1)
    val m = grid.groupBy("src", "dst").agg(count(lit(1)).as("n"),
      dsum(col("yt")).as("sy"), dsum(col("yl1")).as("s1"), dsum(col("xl1")).as("s2"),
      dsum(col("yt") * col("yt")).as("syy"),
      dsum(col("yl1") * col("yl1")).as("s11"),
      dsum(col("xl1") * col("xl1")).as("s22"),
      dsum(col("yl1") * col("xl1")).as("s12"),
      dsum(col("yl1") * col("yt")).as("s1y"),
      dsum(col("xl1") * col("yt")).as("s2y"))
    val c = m.select(col("src"), col("dst"), col("n"),
      (col("syy") - col("sy") * col("sy") / col("n")).as("cyy"),
      (col("s11") - col("s1") * col("s1") / col("n")).as("c11"),
      (col("s22") - col("s2") * col("s2") / col("n")).as("c22"),
      (col("s12") - col("s1") * col("s2") / col("n")).as("c12"),
      (col("s1y") - col("s1") * col("sy") / col("n")).as("c1y"),
      (col("s2y") - col("s2") * col("sy") / col("n")).as("c2y"))
    val det = col("c11") * col("c22") - col("c12") * col("c12")
    val f = c.select(col("src"), col("dst"), col("n"), col("cyy"), col("c1y"), col("c2y"),
      (col("cyy") - col("c1y") * col("c1y") / nullif(col("c11"), lit(0.0))).as("sse_r"),
      ((col("c1y") * col("c22") - col("c2y") * col("c12")) / nullif(det, lit(0.0))).as("b1"),
      ((col("c2y") * col("c11") - col("c1y") * col("c12")) / nullif(det, lit(0.0))).as("b2"))
    f.select(col("src"), col("dst"), col("n").as("n_days"),
        r6(lit(1.0) - col("sse_r") / nullif(col("cyy"), lit(0.0))).as("ar1_r2"),
        r6((col("sse_r") - (col("cyy") - col("b1") * col("c1y") - col("b2") * col("c2y"))) /
          nullif(col("sse_r"), lit(0.0))).as("granger_gain"))
      .orderBy("src", "dst")
  }

  /** q248's market-adjusted partial correlation from any (el, di, v)
    * grid — shared by the batch query and q257's streaming refresh.
    */
  /** Per unordered pair (src < dst): the day count n and the ten
    * decimal moment sums of x, y and the cross-element market mean m
    * over any (el, di, v) grid — q248 and q265. */
  private def marketMoments(g0: DataFrame): DataFrame = {
    val mkt = g0.groupBy(col("di").as("dik"))
      .agg((dsum(col("v")) / count(lit(1))).as("mv"))
    val x = g0.select(col("el").as("src"), col("di"), col("v").as("xv"))
    val y = g0.select(col("el").as("dst"), col("di").as("diy"), col("v").as("yv"))
    val g = x.join(y, col("src") < col("dst") && col("diy") === col("di"))
      .join(mkt, col("dik") === col("di"))
    g.groupBy("src", "dst").agg(count(lit(1)).as("n"),
      dsum(col("xv")).as("sx"), dsum(col("yv")).as("sy"), dsum(col("mv")).as("sm"),
      dsum(col("xv") * col("xv")).as("sxx"),
      dsum(col("yv") * col("yv")).as("syy"),
      dsum(col("mv") * col("mv")).as("smm"),
      dsum(col("xv") * col("yv")).as("sxy"),
      dsum(col("xv") * col("mv")).as("sxm"),
      dsum(col("yv") * col("mv")).as("sym"))
  }

  /** The raw correlations rxy, rxm and rym of [[marketMoments]] rows. */
  private def marketCorrs(m: DataFrame): DataFrame = {
    def corr2(sab: Column, sa: Column, sb: Column, saa: Column, sbb: Column) =
      (col("n") * sab - sa * sb) /
        nullif(sqrt((col("n") * saa - sa * sa) * (col("n") * sbb - sb * sb)), lit(0.0))
    m.select(col("src"), col("dst"), col("n"),
      corr2(col("sxy"), col("sx"), col("sy"), col("sxx"), col("syy")).as("rxy"),
      corr2(col("sxm"), col("sx"), col("sm"), col("sxx"), col("smm")).as("rxm"),
      corr2(col("sym"), col("sy"), col("sm"), col("syy"), col("smm")).as("rym"))
  }

  private[graft] def partialCorrFromGrid(g0: DataFrame): DataFrame = {
      val r = marketCorrs(marketMoments(g0))
      val partial = (col("rxy") - col("rxm") * col("rym")) /
        nullif(sqrt((lit(1.0) - col("rxm") * col("rxm")) *
          (lit(1.0) - col("rym") * col("rym"))), lit(0.0))
      r.select(col("src"), col("dst"), col("n").cast("long").as("n_days"),
          r6(col("rxy")).as("r_raw"),
          r6(partial).as("r_partial"),
          r6(col("rxy") - partial).as("confound_drop"))
        .orderBy("src", "dst")
  }

  /** q263's periodogram from any (el, di, v) grid — shared by the batch
    * query and q267's streaming refresh (identical trees ⇒ bit-identical
    * doubles, the causalRefresh contract).
    */
  private[graft] def periodogramFromGrid(g: DataFrame): DataFrame = {
    val s = g.sparkSession
    import s.implicits._
    val st = g.groupBy(col("el").as("sel")).agg(count(lit(1)).as("n"),
      (dsum(col("v")) / count(lit(1))).as("mu"))
    val t = g.join(st, col("el") === col("sel"))
      .select(col("el"), col("di"), (col("v") - col("mu")).as("vc"), col("n"))
    val periods = Seq(7.0, 14.0, 30.0).toDF("pd")
    val ang = lit(2.0) * lit(math.Pi) * col("di") / col("pd")
    t.crossJoin(broadcast(periods))
      .groupBy(col("el"), col("n"), col("pd"))
      .agg(dsum(col("vc") * cos(ang)).as("ca"),
        dsum(col("vc") * sin(ang)).as("sb"))
      .select(col("el"), col("pd").cast("int").as("period"),
        col("n").as("n_days"),
        r6((col("ca") * col("ca") + col("sb") * col("sb")) /
          (col("n") * col("n"))).as("power"))
      .orderBy("el", "period")
  }

  /** q269's forecast backtest from any (el, di, v) grid — shared by the
    * batch query and q270's streaming refresh (identical trees ⇒
    * bit-identical doubles, the causalRefresh contract).
    */
  private[graft] def backtestFromGrid(g: DataFrame): DataFrame = {
    val c = g.select(col("el"), col("di"), col("v"))
    val l1 = g.select(col("el").as("e1"), col("di").as("d1"), col("v").as("f_naive"))
    val l7 = g.select(col("el").as("e7"), col("di").as("d7"), col("v").as("f_snaive"))
    val ev = c
      .join(l1, col("e1") === col("el") && col("d1") === col("di") - 1)
      .join(l7, col("e7") === col("el") && col("d7") === col("di") - 7)
    val ag = ev.groupBy(col("el")).agg(count(lit(1)).as("n"),
      (dsum(abs(col("v") - col("f_naive"))) / count(lit(1))).as("mae_naive"),
      (dsum(abs(col("v") - col("f_snaive"))) / count(lit(1))).as("mae_snaive"),
      (dsum(lit(2) * abs(col("v") - col("f_snaive")) /
        nullif(abs(col("f_snaive")) + abs(col("v")), lit(0.0))) /
        count(lit(1))).as("smape"))
    ag.select(col("el"), col("n").as("n_eval"),
        r6(col("mae_naive")).as("mae_naive"),
        r6(col("mae_snaive")).as("mae_snaive"),
        r6(col("mae_snaive") / nullif(col("mae_naive"), lit(0.0))).as("mase"),
        r6(col("smape")).as("smape"))
      .orderBy("el")
  }

  /** q233's CUSUM changepoint readout from any (el, di, v) grid —
    * shared by the batch query and q258's streaming refresh.
    */
  private[graft] def cusumFromGrid(g: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
      val st = g.groupBy(col("el").as("sel")).agg(count(lit(1)).as("n"),
        dsum(col("v")).as("sv"), dsum(col("v") * col("v")).as("svv"))
      val mu = col("sv") / col("n")
      val sig = sqrt(col("svv") / col("n") - mu * mu)
      val wc = Window.partitionBy(col("el")).orderBy(col("di"))
      val z = g.join(st, col("el") === col("sel"))
        .select(col("el"), col("di"),
          sum((col("v") - mu) / sig).over(wc).as("cusum"))
      val wr = Window.partitionBy(col("el")).orderBy(abs(col("cusum")).desc, col("di"))
      val cp = z.select(col("el"), col("di"), col("cusum"),
          row_number().over(wr).as("r"))
        .where(col("r") === 1)
        .select(col("el").as("cel"), col("di").as("cp_di"), col("cusum"))
      def sideMean(cond: Column) =
        sum(when(cond, col("v").cast("decimal(38,12)"))).cast("double") /
          nullif(count_if(cond), lit(0L))
      val shift = g.join(cp, col("el") === col("cel"))
        .groupBy(col("el"))
        .agg((sideMean(col("di") > col("cp_di")) -
          sideMean(col("di") <= col("cp_di"))).as("mean_shift"))
        .select(col("el").as("shel"), col("mean_shift"))
      cp.join(shift, col("cel") === col("shel"))
        .select(col("cel").as("el"), col("cp_di"),
          r6(abs(col("cusum"))).as("cusum_max"),
          r6(col("mean_shift")).as("mean_shift"))
        .orderBy("el")
  }

  /** Each grid row with its centered 7-row moving-average `trend`
    * (exact-decimal window sum): q264, q268. */
  private def trend7(g: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("el")).orderBy(col("di")).rowsBetween(-3, 3)
    g.select(col("el"), col("di"), col("v"),
      (sum(col("v").cast("decimal(38,12)")).over(w).cast("double") /
        count(lit(1)).over(w)).as("trend"))
  }

  /** Quartile-binned grid — q246 (full) and q252 (pruned) share the
    * identical expression tree, so the pruned MI rows equal the full
    * rows bit-for-bit on surviving pairs. */
  private[operators] def quartileBins(g: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wb = Window.partitionBy(col("el")).orderBy(col("v"), col("di"))
    g.select(col("el"), col("di"), ntile(4).over(wb).as("bin"))
  }

  /** Above-own-mean binary state grid — q247 (full) / q253 (pruned). */
  private[operators] def meanBits(g: DataFrame): DataFrame = {
    val am = g.groupBy(col("el").as("ael"))
      .agg((dsum(col("v")) / count(lit(1))).as("mu"))
    g.join(am, col("el") === col("ael"))
      .select(col("el"), col("di"),
        when(col("v") > col("mu"), lit(1)).otherwise(lit(0)).as("bit"))
  }

  /** MI readout from a per-pair joint histogram `cells(src,dst,ba,bb,n)`:
    * window marginals over the ≤16 cells, then the decimal-exact
    * p·ln(p/(px·py)) sums. Shared by q246/q252. */
  private[operators] def miReadout(cells: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wp = Window.partitionBy(col("src"), col("dst"))
    val w = cells.select(col("src"), col("dst"), col("n"),
      sum(col("n")).over(wp.partitionBy(col("src"), col("dst"), col("ba"))).as("cx"),
      sum(col("n")).over(wp.partitionBy(col("src"), col("dst"), col("bb"))).as("cy"),
      sum(col("n")).over(wp).as("nt"))
    def plogTerm(den: Column): Column =
      (col("n").cast("double") / col("nt")) *
        log((col("n") * col("nt")).cast("double") / den.cast("double"))
    def hTerm(cm: Column): Column =
      (col("n").cast("double") / col("nt")) *
        log(col("nt").cast("double") / cm.cast("double"))
    val agg = w.groupBy("src", "dst").agg(
      max(col("nt")).cast("long").as("n_days"),
      count(lit(1)).cast("long").as("n_cells"),
      dsum(plogTerm(col("cx") * col("cy"))).as("mi"),
      dsum(hTerm(col("cx"))).as("hx"),
      dsum(hTerm(col("cy"))).as("hy"))
    agg.select(col("src"), col("dst"), col("n_days"), col("n_cells"),
        r6(col("mi")).as("mi"),
        r6(col("mi") / nullif(least(col("hx"), col("hy")), lit(0.0))).as("nmi"))
      .orderBy("src", "dst")
  }

  /** TE readout from a per-pair triple histogram `tri(src,dst,b1,b0,bx,n)`:
    * conditional marginals as window sums over ≤8 cells, then the
    * integer-ratio log sum. Shared by q247/q253. */
  private def teReadout(tri: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wp = Window.partitionBy(col("src"), col("dst"))
    val w = tri.select(col("src"), col("dst"), col("n"),
      sum(col("n")).over(wp.partitionBy(col("src"), col("dst"), col("b0"))).as("ny0"),
      sum(col("n")).over(wp.partitionBy(col("src"), col("dst"), col("b0"), col("bx"))).as("ny0x"),
      sum(col("n")).over(wp.partitionBy(col("src"), col("dst"), col("b1"), col("b0"))).as("ny1y0"),
      sum(col("n")).over(wp).as("nt"))
    val term = (col("n").cast("double") / col("nt")) *
      log((col("n") * col("ny0")).cast("double") /
        (col("ny0x") * col("ny1y0")).cast("double"))
    w.groupBy("src", "dst")
      .agg(max(col("nt")).cast("long").as("n_trans"),
        r6(dsum(term)).as("te"))
      .orderBy("src", "dst")
  }

  /** Candidate-screen parameters (q251, round 8 — VERDICT #2): a pair
    * survives when its |lag-0 correlation| ≥ [[ScreenTau]] OR it ranks
    * within either endpoint's [[ScreenTopM]] strongest partners. The τ
    * cut keeps every materially-correlated pair (CausalSpec pins
    * pruned == full above τ); the top-m floor guarantees each element
    * keeps partners even in a low-correlation regime. Both cuts are
    * computed from exact-decimal moment sums, so the survivor set is
    * deterministic and identical across engines — the screen oracles.
    */
  private[graft] val ScreenTau = 0.05
  private[graft] val ScreenTopM = 2

  /** Per-unordered-pair lag-0 correlation WITHOUT a day-keyed all-pairs
    * join — the large-P shape the round-7 verdict demanded. Each
    * element's series is first compacted to ONE row holding a
    * di→v map (a groupBy on the high-cardinality element key); the P×P
    * pair enumeration then joins those COMPACT rows (broadcast
    * nested-loop over O(P) rows, zero day-key skew) and computes the
    * common-day moment sums as map-intersection HOFs with
    * DECIMAL(38,12) accumulators — exact, order-free, and therefore
    * bit-identical to the oracle's day-join decimal sums. Per-pair work
    * is a local O(T) array scan; nothing materializes O(P²·T) rows and
    * no shuffle is keyed on the 365-value day column. Past ~10⁴
    * elements the compact pair join itself wants banding — the
    * SRP/SimHash bucketing in operators/Lsh.scala applied to the
    * z-normalized series vectors — which composes in front of this
    * screen without changing its contract.
    *
    * Grid-parameterized (round 11): the screen runs over a
    * caller-supplied (el, di, v) grid so the streaming refreshes
    * (q324/q328) can re-screen each micro-batch's grid state and stay
    * bit-identical to the batch path; [[screen]] passes the PlanCache'd
    * batch grid.
    */
  private[operators] def screenOf(s: SparkSession, grid: DataFrame): DataFrame =
    screenFromPairs(s, pairCorrOf(grid))

  /** The screen's decision layer over a pair-correlation table.
    * NOTE (round 9): this tree references `pc` THREE times (both top-m
    * union branches + the final evidence join), so an uncached pc
    * re-runs its fold arithmetic 3× — measured as the dominant cost of
    * the P=2000 screen. The batch path ([[screen]]) therefore feeds a
    * [[graft.PlanCache]]-materialized pc (which q251/q252/q253 and the
    * VAR/series consumers then share session-wide); the streaming
    * refreshes keep the uncached [[screenOf]] form — their per-batch
    * grids are a handful of elements, where 3× of trivial is trivial
    * and caching per micro-batch would leak entries.
    */
  private[operators] def screenFromPairs(s: SparkSession, pc: DataFrame): DataFrame = {
    val dirp = pc.select(col("src").as("el"), col("dst").as("partner"), col("r0"))
      .unionByName(pc.select(col("dst").as("el"), col("src").as("partner"), col("r0")))
    // Register the TopK strategy on the GRID's session, not the caller's:
    // inside foreachBatch the grid belongs to the stream's cloned session,
    // which does not see strategies lazily added to the outer session
    // after the clone was taken (q324's streaming refresh hit exactly
    // this as a planner "No plan for TopKPerGroup" internal error).
    val top = graft.plans.TopKPerGroupOps.topKPerGroup(pc.sparkSession, dirp,
      Seq(col("el")), Seq(abs(col("r0")).desc, col("partner")), ScreenTopM)
    val ta = top.select(col("el").as("ael"), col("partner").as("apartner"),
      lit(1).as("ahit"))
    val tb = top.select(col("el").as("bel"), col("partner").as("bpartner"),
      lit(1).as("bhit"))
    pc.join(ta, col("src") === col("ael") && col("dst") === col("apartner"), "left")
      .join(tb, col("dst") === col("bel") && col("src") === col("bpartner"), "left")
      .select(col("src"), col("dst"), col("n"), col("r0"),
        when(abs(col("r0")) >= ScreenTau, lit(1)).otherwise(lit(0)).as("by_tau"),
        when(col("ahit").isNotNull || col("bhit").isNotNull, lit(1)).otherwise(lit(0))
          .as("by_topm"))
      .where(col("by_tau") === 1 || col("by_topm") === 1)
  }

  /** Per-element compact series map: el → (di → v), entries in di
    * order. The causal family's "one row per element" representation. */
  private[operators] def seriesMaps(grid: DataFrame): DataFrame =
    grid.groupBy(col("el"))
      .agg(map_from_entries(sort_array(collect_list(struct(col("di"), col("v")))))
        .as("m"))

  /** Common-day correlation from two compact maps: expects (src, dst,
    * mx, my) rows and returns (src, dst, n, r0). Moment sums are
    * DECIMAL(38,12)-accumulator HOFs over the map intersection — exact,
    * order-free, bit-identical to a day-join decimal-sum formulation.
    * Shared by the all-pairs screen (q251) and the banded LSH screen
    * (q260, candidates only). */
  private def corrFromMaps(pairs: DataFrame): DataFrame = {
    // Round-9 shape fix (found by the P=2000 CausalScaleSpec run): the
    // original form re-evaluated the O(T²) map-intersection HOF SIX
    // times per pair (size + five separate decimal folds). The
    // intersection — with the partner's value resolved into each entry
    // — is now projected ONCE per pair, and all five moment sums come
    // from ONE struct-accumulator fold over it. DECIMAL(38,12) sums are
    // exact (order- and grouping-free), so every r0 is bit-identical to
    // the old form and to the day-join oracles; only the evaluation
    // count changes. ~4× on the all-pairs screen at P=2000.
    val common = transform(
      filter(map_entries(col("mx")),
        e => map_contains_key(col("my"), e.getField("key"))),
      e => struct(e.getField("value").as("x"),
        element_at(col("my"), e.getField("key")).as("y")))
    val dec = "decimal(38,12)"
    def d0 = lit(0).cast(dec)
    val folded = pairs
      .select(col("src"), col("dst"), common.as("ce"))
      .select(col("src"), col("dst"), size(col("ce")).cast("long").as("n"),
        aggregate(col("ce"),
          struct(d0.as("sx"), d0.as("sy"), d0.as("sxy"), d0.as("sxx"), d0.as("syy")),
          (acc, e) => {
            val x = e.getField("x"); val y = e.getField("y")
            struct(
              (acc.getField("sx") + x.cast(dec)).cast(dec).as("sx"),
              (acc.getField("sy") + y.cast(dec)).cast(dec).as("sy"),
              (acc.getField("sxy") + (x * y).cast(dec)).cast(dec).as("sxy"),
              (acc.getField("sxx") + (x * x).cast(dec)).cast(dec).as("sxx"),
              (acc.getField("syy") + (y * y).cast(dec)).cast(dec).as("syy"))
          }).as("m"))
    folded.select(col("src"), col("dst"), col("n"),
        col("m.sx").cast("double").as("sx"), col("m.sy").cast("double").as("sy"),
        col("m.sxy").cast("double").as("sxy"), col("m.sxx").cast("double").as("sxx"),
        col("m.syy").cast("double").as("syy"))
      .select(col("src"), col("dst"), col("n"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          nullif(sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
            (col("n") * col("syy") - col("sy") * col("sy"))), lit(0.0))).as("r0"))
  }

  /** Per-unordered-pair lag-0 correlation stats. Two bit-identical
    * physical forms (round 9, from the P=2000 CausalScaleSpec
    * measurement — the general map-intersection form costs ~1.3 core-ms
    * per pair, almost all of it DECIMAL(38,12) fold arithmetic):
    *
    *  - COMPLETE grid (every element has every day — the shape of the
    *    real daily grid and the scale fixture): per-element marginal
    *    sums (sx, sxx) are computed ONCE per element instead of once
    *    per pair, day alignment is positional (`zip_with` over
    *    di-sorted value arrays — same term sequence as the map
    *    intersection), and the per-pair work collapses to the single
    *    sxy fold — a measured ~15× on the all-pairs screen.
    *  - SPARSE grid: the original compact-map intersection form.
    *
    * Decimal sums are exact and order-free, so both forms — and the
    * day-join oracle — produce identical bits; the completeness probe
    * (nd·ne == rows, valid because the grid is unique per (el, di) by
    * construction) is one tiny aggregate.
    */
  private[operators] def pairCorrOf(grid: DataFrame): DataFrame = {
    val st = grid.agg(countDistinct(col("di")).as("nd"),
      countDistinct(col("el")).as("ne"), count(lit(1)).as("nr")).head()
    if (st.getLong(0) * st.getLong(1) == st.getLong(2)) pairCorrComplete(grid)
    else {
      val sm = seriesMaps(grid)
      corrFromMaps(
        sm.select(col("el").as("src"), col("m").as("mx"))
          .crossJoin(sm.select(col("el").as("dst"), col("m").as("my")))
          .where(col("src") < col("dst")))
    }
  }

  private def pairCorrComplete(grid: DataFrame): DataFrame = {
    val dec = "decimal(38,12)"
    def d0 = lit(0).cast(dec)
    def fold1(arr: Column, term: Column => Column): Column =
      aggregate(arr, d0, (acc, e) => (acc + term(e).cast(dec)).cast(dec))
        .cast("double")
    val per = grid.groupBy(col("el"))
      .agg(transform(sort_array(collect_list(struct(col("di"), col("v")))),
        e => e.getField("v")).as("vs"))
      .select(col("el"), col("vs"), size(col("vs")).cast("long").as("nv"),
        fold1(col("vs"), x => x).as("s1"),
        fold1(col("vs"), x => x * x).as("s2"))
    val a = per.select(col("el").as("src"), col("vs").as("vx"),
      col("nv").as("n"), col("s1").as("sx"), col("s2").as("sxx"))
    val b = per.select(col("el").as("dst"), col("vs").as("vy"),
      col("s1").as("sy"), col("s2").as("syy"))
    a.crossJoin(b).where(col("src") < col("dst"))
      .select(col("src"), col("dst"), col("n"), col("sx"), col("sy"),
        col("sxx"), col("syy"),
        fold1(zip_with(col("vx"), col("vy"), (x, y) => x * y), identity)
          .as("sxy"))
      .select(col("src"), col("dst"), col("n"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          nullif(sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
            (col("n") * col("syy") - col("sy") * col("sy"))), lit(0.0))).as("r0"))
  }

  /** The q260 banded sign-LSH candidate stage, factored out (round 9,
    * VERDICT r8 #2) so the large-P fixture spec can (a) run it on a
    * synthetic P≥2000 grid and (b) vary (bands, rowsPerBand) — q260's
    * shipped (4 bands × 2 rows) is calibrated for the survey-scale
    * fixture; at P=10⁴ the q353 S-curve planner picks sharper bands
    * (more rows/band ⇒ random-pair collision b·2^-r drops
    * exponentially while near-duplicate recall stays ~1). Per element:
    * z-normalize its first-64-day series, dot with `planes`, band the
    * sign bits (rowsPerBand bits → one integer per band), then
    * candidates are same-(band, value) element pairs. With
    * (planes=8, bands=4, rowsPerBand=2) this is bit-identical to the
    * pre-factor q260 inline form.
    */
  private[operators] def lshCandidates(g: DataFrame,
      planes: Array[Array[Double]], bands: Int, rowsPerBand: Int): DataFrame = {
    require(planes.length == bands * rowsPerBand,
      s"planes=${planes.length} must equal bands*rowsPerBand=${bands * rowsPerBand}")
    val st = g.groupBy(col("el").as("sel")).agg(count(lit(1)).as("cn"),
      dsum(col("v")).as("sv"), dsum(col("v") * col("v")).as("svv"))
    val mu = col("sv") / col("cn")
    val sig = sqrt(col("svv") / col("cn") - mu * mu)
    val z = g.join(st, col("el") === col("sel")).where(col("di") < 64)
      .select(col("el"), col("di"), ((col("v") - mu) / sig).as("z"))
    def dotCol(p: Int) =
      dsum(col("z") * element_at(array(planes(p).map(lit): _*),
        (col("di") + 1).cast("int"))).as(s"dot$p")
    val dots = z.groupBy(col("el"))
      .agg(dotCol(0), (1 until planes.length).map(dotCol): _*)
    def bval(b: Int) = (0 until rowsPerBand).map(j =>
      when(col(s"dot${rowsPerBand * b + j}") > 0, lit(1 << j)).otherwise(lit(0)))
      .reduce(_ + _)
    val bandRows = dots.select(col("el"), inline(array((0 until bands).map(b =>
      struct(lit(b).as("band"), bval(b).as("bval"))): _*)))
    bandRows.select(col("el").as("src"), col("band"), col("bval"))
      .join(bandRows.select(col("el").as("dst"), col("band").as("bandb"),
        col("bval").as("bvalb")),
        col("band") === col("bandb") && col("bval") === col("bvalb") &&
          col("src") < col("dst"))
      .select(col("src"), col("dst")).distinct()
  }

  /** q252's joint-histogram stage from an explicit candidate list
    * (csrc, cdst) and a binned grid — element-keyed joins only, so the
    * downstream MI workload is candidates·T rows, never P²·T. Factored
    * for the large-P fixture spec (round 9). */
  private[operators] def miCellsOf(cand: DataFrame, b: DataFrame): DataFrame = {
    val x = b.select(col("el").as("xel"), col("di"), col("bin").as("ba"))
    val y = b.select(col("el").as("yel"), col("di").as("diy"), col("bin").as("bb"))
    cand
      .join(x, col("xel") === col("csrc"))
      .join(y, col("yel") === col("cdst") && col("diy") === col("di"))
      .select(col("csrc").as("src"), col("cdst").as("dst"), col("ba"), col("bb"))
      .groupBy("src", "dst", "ba", "bb").agg(count(lit(1)).as("n"))
  }

  /** Exact common-day correlation of an explicit candidate pair list
    * against a grid — the verify stage every banded screen feeds. */
  private[operators] def corrOfCandidates(g: DataFrame, cand: DataFrame): DataFrame = {
    val sm = seriesMaps(g)
    corrFromMaps(cand
      .join(sm.select(col("el").as("es"), col("m").as("mx")), col("es") === col("src"))
      .join(sm.select(col("el").as("ed"), col("m").as("my")), col("ed") === col("dst"))
      .select(col("src"), col("dst"), col("mx"), col("my")))
  }

  /** The surviving pairs (src < dst) with their screen evidence:
    * (src, dst, n, r0, by_tau, by_topm). Top-m partner rank runs through
    * the in-house bounded-heap TopKPerGroup operator — ≤m rows shuffle
    * per element, never the P² pair table. */
  private[operators] def screen(s: SparkSession, d: String): DataFrame =
    screenFromPairs(s, PlanCache.cached(s, s"causal_pc|$d")(pairCorrOf(daily(s, d))))

  /** Oracle CTE chain for the screen (composes after `daily`): the
    * day-join moment-sum form — the SMALL-P formulation — which is
    * value-identical to the engine's map-intersection form because both
    * are exact decimal sums of the same double terms. */
  private[operators] val screenSql =
    s"""pr AS (
      |  SELECT x.el AS src, y.el AS dst, count(*) AS n,
      |${pairMomentsSql("x", "y")}
      |  FROM daily x JOIN daily y ON x.el < y.el AND x.di = y.di
      |  GROUP BY 1, 2),
      |pc AS (
      |  SELECT src, dst, n,
      |    (n*sxy - sx*sy) / nullif(sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)), 0) AS r0
      |  FROM pr),
      |dirp AS (
      |  SELECT src AS el, dst AS partner, r0 FROM pc
      |  UNION ALL SELECT dst, src, r0 FROM pc),
      |rk AS (
      |  SELECT el, partner,
      |    row_number() OVER (PARTITION BY el ORDER BY abs(r0) DESC, partner) AS rnk
      |  FROM dirp),
      |surv AS (
      |  SELECT c.src, c.dst, c.n, c.r0,
      |    CAST(abs(c.r0) >= $ScreenTau AS INT) AS by_tau,
      |    CAST((ka.rnk <= $ScreenTopM OR kb.rnk <= $ScreenTopM) AS INT) AS by_topm
      |  FROM pc c
      |  JOIN rk ka ON ka.el = c.src AND ka.partner = c.dst
      |  JOIN rk kb ON kb.el = c.dst AND kb.partner = c.src
      |  WHERE abs(c.r0) >= $ScreenTau OR ka.rnk <= $ScreenTopM OR kb.rnk <= $ScreenTopM)""".stripMargin

  /** The five decimal moment sums of a day-aligned value pair, as
    * SELECT-list lines; `x` and `y` are the aliases of the two sides. */
  private[operators] def pairMomentsSql(x: String, y: String): String =
    s"""    CAST(sum(CAST($x.v AS DECIMAL(38,12))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST($y.v AS DECIMAL(38,12))) AS DOUBLE) AS sy,
      |    CAST(sum(CAST($x.v * $y.v AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
      |    CAST(sum(CAST($x.v * $x.v AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
      |    CAST(sum(CAST($y.v * $y.v AS DECIMAL(38,12))) AS DOUBLE) AS syy""".stripMargin

  /** Oracle of [[leadLagFromGrid]]'s lag-0..3 pair moments (`m`), shared
    * by q229 and q259. */
  private[operators] val leadLagMomentsSql =
    s"""m AS (
      |  SELECT a.el AS src, b.el AS dst, l.lag, count(*) AS n,
      |${pairMomentsSql("a", "b")}
      |  FROM daily a
      |  CROSS JOIN (VALUES (0), (1), (2), (3)) AS l(lag)
      |  JOIN daily b ON b.el <> a.el AND b.di = a.di + l.lag
      |  GROUP BY 1, 2, 3)""".stripMargin

  /** Per-element count and decimal value/square sums (`st`): q233, q260. */
  private[operators] val elMomentsSql =
    """st AS (
      |  SELECT el, count(*) AS n,
      |    CAST(sum(CAST(v AS DECIMAL(38,12))) AS DOUBLE) AS sv,
      |    CAST(sum(CAST(v*v AS DECIMAL(38,12))) AS DOUBLE) AS svv
      |  FROM daily GROUP BY 1)""".stripMargin

  /** Oracle of [[quartileBins]] (`b`): q246, q252. */
  private[operators] val quartileBinsSql =
    """b AS (
      |  SELECT el, di, ntile(4) OVER (PARTITION BY el ORDER BY v, di) AS bin
      |  FROM daily)""".stripMargin

  /** Oracle of [[miReadout]] over a `cells` CTE, final SELECT included:
    * q246, q252. */
  private[operators] val miReadoutSql =
    """w AS (
      |  SELECT src, dst, n,
      |    sum(n) OVER (PARTITION BY src, dst, ba) AS cx,
      |    sum(n) OVER (PARTITION BY src, dst, bb) AS cy,
      |    sum(n) OVER (PARTITION BY src, dst) AS nt
      |  FROM cells),
      |agg AS (
      |  SELECT src, dst, CAST(max(nt) AS BIGINT) AS n_days,
      |    CAST(count(*) AS BIGINT) AS n_cells,
      |    CAST(sum(CAST((CAST(n AS DOUBLE)/nt) *
      |      ln(CAST(n*nt AS DOUBLE)/CAST(cx*cy AS DOUBLE))
      |      AS DECIMAL(38,12))) AS DOUBLE) AS mi,
      |    CAST(sum(CAST((CAST(n AS DOUBLE)/nt) *
      |      ln(CAST(nt AS DOUBLE)/CAST(cx AS DOUBLE))
      |      AS DECIMAL(38,12))) AS DOUBLE) AS hx,
      |    CAST(sum(CAST((CAST(n AS DOUBLE)/nt) *
      |      ln(CAST(nt AS DOUBLE)/CAST(cy AS DOUBLE))
      |      AS DECIMAL(38,12))) AS DOUBLE) AS hy
      |  FROM w GROUP BY 1, 2)
      |SELECT src, dst, n_days, n_cells, round(mi, 6) AS mi,
      |  round(mi / nullif(least(hx, hy), 0), 6) AS nmi
      |FROM agg ORDER BY src, dst""".stripMargin

  /** Oracle of [[meanBits]] (`am`, `b`): q247, q253. */
  private[operators] val meanBitsSql =
    """am AS (
      |  SELECT el, CAST(sum(CAST(v AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS mu
      |  FROM daily GROUP BY 1),
      |b AS (
      |  SELECT d.el, d.di, CASE WHEN d.v > a.mu THEN 1 ELSE 0 END AS bit
      |  FROM daily d JOIN am a ON d.el = a.el)""".stripMargin

  /** Oracle of [[teReadout]] over a `tri` CTE, final SELECT included:
    * q247, q253. */
  private[operators] val teReadoutSql =
    """w AS (
      |  SELECT src, dst, n,
      |    sum(n) OVER (PARTITION BY src, dst, b0) AS ny0,
      |    sum(n) OVER (PARTITION BY src, dst, b0, bx) AS ny0x,
      |    sum(n) OVER (PARTITION BY src, dst, b1, b0) AS ny1y0,
      |    sum(n) OVER (PARTITION BY src, dst) AS nt
      |  FROM tri)
      |SELECT src, dst, CAST(max(nt) AS BIGINT) AS n_trans,
      |  round(CAST(sum(CAST((CAST(n AS DOUBLE)/nt) *
      |    ln(CAST(n*ny0 AS DOUBLE)/CAST(ny0x*ny1y0 AS DOUBLE))
      |    AS DECIMAL(38,12))) AS DOUBLE), 6) AS te
      |FROM w GROUP BY 1, 2 ORDER BY src, dst""".stripMargin

  /** Oracle of [[marketMoments]] and [[marketCorrs]] (`mkt`, `g`, `m`,
    * `r`): q248 and q265; `pairs` is what `r` reads (`m`, or a filter
    * of it). */
  private[operators] def marketCorrSql(pairs: String): String =
    s"""mkt AS (
      |  SELECT di, CAST(sum(CAST(v AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS mv
      |  FROM daily GROUP BY 1),
      |g AS (
      |  SELECT x.el AS src, y.el AS dst, x.v AS xv, y.v AS yv, k.mv
      |  FROM daily x
      |  JOIN daily y ON x.el < y.el AND y.di = x.di
      |  JOIN mkt k ON k.di = x.di),
      |m AS (
      |  SELECT src, dst, count(*) AS n,
      |    CAST(sum(CAST(xv AS DECIMAL(38,12))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(yv AS DECIMAL(38,12))) AS DOUBLE) AS sy,
      |    CAST(sum(CAST(mv AS DECIMAL(38,12))) AS DOUBLE) AS sm,
      |    CAST(sum(CAST(xv*xv AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
      |    CAST(sum(CAST(yv*yv AS DECIMAL(38,12))) AS DOUBLE) AS syy,
      |    CAST(sum(CAST(mv*mv AS DECIMAL(38,12))) AS DOUBLE) AS smm,
      |    CAST(sum(CAST(xv*yv AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
      |    CAST(sum(CAST(xv*mv AS DECIMAL(38,12))) AS DOUBLE) AS sxm,
      |    CAST(sum(CAST(yv*mv AS DECIMAL(38,12))) AS DOUBLE) AS sym
      |  FROM g GROUP BY 1, 2),
      |r AS (
      |  SELECT src, dst, n,
      |    (n*sxy - sx*sy) / nullif(sqrt((n*sxx - sx*sx)*(n*syy - sy*sy)), 0) AS rxy,
      |    (n*sxm - sx*sm) / nullif(sqrt((n*sxx - sx*sx)*(n*smm - sm*sm)), 0) AS rxm,
      |    (n*sym - sy*sm) / nullif(sqrt((n*syy - sy*sy)*(n*smm - sm*sm)), 0) AS rym
      |  FROM $pairs)""".stripMargin

  /** The two-regressor OLS fit of the Granger moment table `<p>m`
    * (`<p>c`, `<p>f`): q230, q445 and q452's prefixed chains. */
  private[operators] def grangerFitCtes(p: String): String =
    s"""${p}c AS (
      |  SELECT src, dst, n,
      |    syy - sy*sy/n AS cyy, s11 - s1*s1/n AS c11, s22 - s2*s2/n AS c22,
      |    s12 - s1*s2/n AS c12, s1y - s1*sy/n AS c1y, s2y - s2*sy/n AS c2y
      |  FROM ${p}m),
      |${p}f AS (
      |  SELECT src, dst, n, cyy, c1y, c2y,
      |    cyy - c1y*c1y/nullif(c11, 0) AS sse_r,
      |    (c1y*c22 - c2y*c12)/nullif(c11*c22 - c12*c12, 0) AS b1,
      |    (c2y*c11 - c1y*c12)/nullif(c11*c22 - c12*c12, 0) AS b2
      |  FROM ${p}c)""".stripMargin

  /** [[grangerFitCtes]] with the q230 readout SELECT: q230 and q445. */
  private[operators] val grangerFitSql =
    s"""${grangerFitCtes("")}
      |SELECT src, dst, CAST(n AS BIGINT) AS n_days,
      |  round(1 - sse_r/nullif(cyy, 0), 6) AS ar1_r2,
      |  round((sse_r - (cyy - b1*c1y - b2*c2y))/nullif(sse_r, 0), 6) AS granger_gain
      |FROM f ORDER BY src, dst""".stripMargin

  /** The centered 7-row moving-average trend CTE (`tr`): q264, q268. */
  private[operators] val trendSql =
    """tr AS (
      |  SELECT el, di, v,
      |    CAST(sum(CAST(v AS DECIMAL(38,12))) OVER w AS DOUBLE)
      |      / count(*) OVER w AS trend
      |  FROM daily
      |  WINDOW w AS (PARTITION BY el ORDER BY di
      |               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING))""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    /** Pairwise lead-lag cross-correlogram: corr(src day t, dst day
      * t+lag) for every directed element pair at lags 0–3 — "does src's
      * series lead dst's, and by how many days". The statistical
      * readout of the reference's element-causality question. Lags are
      * a 4-row broadcast; the lag join and the P²·L moment aggregate
      * run entirely on the daily grid.
      */
    QueryDef(
      "q229_lead_lag_corr",
      s"""WITH $dailySql,
        |$leadLagMomentsSql
        |SELECT src, dst, lag, CAST(n AS BIGINT) AS n_days,
        |  round((n*sxy - sx*sy)
        |    / nullif(sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)), 0), 6) AS xcorr
        |FROM m ORDER BY src, dst, lag""".stripMargin) { (s, d) =>
      val g = daily(s, d)
      guardFullEnum(g, "q229_lead_lag_corr")
      leadLagFromGrid(s, g)
    },

    /** Granger-lite causality score per directed pair: how much does
      * adding src's lagged series to an AR(1) model of dst reduce the
      * residual variance? The two-regressor OLS solves in closed form
      * from nine moment sums (one grouped aggregate over the aligned
      * grid — no iterative fitting, no per-pair rescans):
      * SSE_restricted = Cyy − C1y²/C11; the unrestricted fit inverts
      * the 2×2 normal equations; granger_gain = (SSE_r − SSE_u)/SSE_r
      * ∈ [0,1]. ar1_r2 reports the restricted baseline fit. This is
      * the paper-statistics sibling of the learned B-matrix edge
      * weight (`model.py:221` B[i][j]).
      */
    QueryDef(
      "q230_granger_lite",
      s"""WITH $dailySql,
        |g AS (
        |  SELECT x.el AS src, y.el AS dst, y.v AS yt, yl.v AS yl1, x.v AS xl1
        |  FROM daily y
        |  JOIN daily yl ON yl.el = y.el AND yl.di = y.di - 1
        |  JOIN daily x ON x.el <> y.el AND x.di = y.di - 1),
        |m AS (
        |  SELECT src, dst, count(*) AS n,
        |    CAST(sum(CAST(yt AS DECIMAL(38,12))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(yl1 AS DECIMAL(38,12))) AS DOUBLE) AS s1,
        |    CAST(sum(CAST(xl1 AS DECIMAL(38,12))) AS DOUBLE) AS s2,
        |    CAST(sum(CAST(yt*yt AS DECIMAL(38,12))) AS DOUBLE) AS syy,
        |    CAST(sum(CAST(yl1*yl1 AS DECIMAL(38,12))) AS DOUBLE) AS s11,
        |    CAST(sum(CAST(xl1*xl1 AS DECIMAL(38,12))) AS DOUBLE) AS s22,
        |    CAST(sum(CAST(yl1*xl1 AS DECIMAL(38,12))) AS DOUBLE) AS s12,
        |    CAST(sum(CAST(yl1*yt AS DECIMAL(38,12))) AS DOUBLE) AS s1y,
        |    CAST(sum(CAST(xl1*yt AS DECIMAL(38,12))) AS DOUBLE) AS s2y
        |  FROM g GROUP BY 1, 2),
        |$grangerFitSql""".stripMargin) { (s, d) =>
      val g0 = daily(s, d)
      guardFullEnum(g0, "q230_granger_lite")
      grangerFromGrid(g0)
    },

    /** CUSUM changepoint detection per element (round 7): the "when did
      * this element's behavior shift" readout that complements q229/
      * q230's "which element leads which". Standardized cumulative sums
      * S_t = Σ_{i≤t}(v_i − μ)/σ over each element's daily series; the
      * changepoint is argmax|S_t| (ties → earliest day), the classic
      * offline CUSUM estimate of a mean shift. Also reports the
      * before/after mean shift at the split. Everything past the one
      * grid shuffle is windows and aggregates over O(P·T) rows; μ and
      * σ come from decimal moment sums, the cumsum runs over the
      * deterministic (el, di) order, so both engines agree bit-exactly.
      *
      * Bench note: ~1.8 s of the entry is FIRST-RUN whole-stage-codegen
      * of this plan's stages (profiled: 2.5 s first run, 0.67 s on
      * repeats at any SF) — the q228 class of constant, data-independent
      * driver cost, noise at 100 TB where the compiled kernels stream
      * through every partition.
      */
    QueryDef(
      "q233_cusum_changepoint",
      s"""WITH $dailySql,
        |$elMomentsSql,
        |z AS (
        |  SELECT d.el, d.di,
        |    sum((d.v - s.sv/s.n) / sqrt(s.svv/s.n - (s.sv/s.n)*(s.sv/s.n)))
        |      OVER (PARTITION BY d.el ORDER BY d.di) AS cusum
        |  FROM daily d JOIN st s ON d.el = s.el),
        |cp AS (
        |  SELECT el, di AS cp_di, cusum FROM (
        |    SELECT el, di, cusum,
        |      row_number() OVER (PARTITION BY el ORDER BY abs(cusum) DESC, di) AS r
        |    FROM z) WHERE r = 1),
        |shift AS (
        |  SELECT d.el,
        |    CAST(sum(CASE WHEN d.di > c.cp_di THEN CAST(d.v AS DECIMAL(38,12)) END) AS DOUBLE)
        |      / nullif(count_if(d.di > c.cp_di), 0)
        |    - CAST(sum(CASE WHEN d.di <= c.cp_di THEN CAST(d.v AS DECIMAL(38,12)) END) AS DOUBLE)
        |      / nullif(count_if(d.di <= c.cp_di), 0) AS mean_shift
        |  FROM daily d JOIN cp c ON d.el = c.el GROUP BY 1)
        |SELECT c.el, c.cp_di, round(abs(c.cusum), 6) AS cusum_max,
        |  round(s.mean_shift, 6) AS mean_shift
        |FROM cp c JOIN shift s ON c.el = s.el ORDER BY c.el""".stripMargin) { (s, d) =>
      // the O(P·T) grid feeds three plan branches (cusum, argmax pick,
      // side-mean shift) — daily() is PlanCache-persisted, so the fact
      // table is scanned once and repeated invocations reuse ONE entry
      cusumFromGrid(daily(s, d))
    },

    /** Mutual information between element pairs (round 7): the
      * NONLINEAR dependence readout q229's correlation misses (corr
      * only sees linear association; MI sees any). Each element's
      * daily series is discretized into quartile bins (ntile over the
      * unique (v, di) order, identical in both engines), the joint
      * histogram per unordered pair comes from one grouped count, and
      * the marginals fall out of window sums over that same tiny cell
      * table — no second pass. mi = Σ p(a,b)·ln(p(a,b)/(p(a)p(b))) and
      * the marginal entropies reduce to the SAME cell-weighted sums
      * (Σ_cells p·ln(nt/cx) telescopes to H(X)), so everything is one
      * decimal-exact sum of deterministic double terms — order-free,
      * hash-identical. nmi normalizes by min(H) for comparability.
      * 100 TB: the only fact-table work is the q229 grid shuffle;
      * pairs/cells are O(P²·16) rows.
      */
    QueryDef(
      "q246_mutual_information",
      s"""WITH $dailySql,
        |$quartileBinsSql,
        |cells AS (
        |  SELECT x.el AS src, y.el AS dst, x.bin AS ba, y.bin AS bb,
        |    count(*) AS n
        |  FROM b x JOIN b y ON x.el < y.el AND x.di = y.di
        |  GROUP BY 1, 2, 3, 4),
        |$miReadoutSql""".stripMargin) { (s, d) =>
      guardFullEnum(daily(s, d), "q246_mutual_information")
      val b = quartileBins(daily(s, d))
      val x = b.select(col("el").as("src"), col("di"), col("bin").as("ba"))
      val y = b.select(col("el").as("dst"), col("di").as("diy"), col("bin").as("bb"))
      val cells = x.join(y, col("src") < col("dst") && col("di") === col("diy"))
        .groupBy("src", "dst", "ba", "bb").agg(count(lit(1)).as("n"))
      miReadout(cells)
    },

    /** Transfer entropy TE(src→dst) (round 7): the DIRECTED,
      * model-free causality score — how much does knowing src's state
      * yesterday reduce uncertainty about dst's move today, beyond
      * dst's own yesterday? Unlike q230's Granger gain (linear AR),
      * TE is distribution-level: states are binary (day above the
      * element's own long-run mean), the (y_t, y_{t-1}, x_{t-1})
      * triple histogram is one grouped count over a 3-way self-join of
      * the tiny grid, and the three conditional marginals are window
      * sums over those ≤8 cells per pair. te = Σ p(y1,y0,x0)·
      * ln(n(y1,y0,x0)·n(y0) / (n(y0,x0)·n(y1,y0))) — a decimal-exact
      * sum of integer-ratio logs, bit-identical across engines. The
      * asymmetry te(a→b) vs te(b→a) is the reference's B[i][j] vs
      * B[j][i] question answered without training a model.
      */
    QueryDef(
      "q247_transfer_entropy",
      s"""WITH $dailySql,
        |$meanBitsSql,
        |tri AS (
        |  SELECT x.el AS src, y1.el AS dst,
        |    y1.bit AS b1, y0.bit AS b0, x.bit AS bx, count(*) AS n
        |  FROM b y1
        |  JOIN b y0 ON y0.el = y1.el AND y0.di = y1.di - 1
        |  JOIN b x ON x.el <> y1.el AND x.di = y1.di - 1
        |  GROUP BY 1, 2, 3, 4, 5),
        |$teReadoutSql""".stripMargin) { (s, d) =>
      val g = daily(s, d)
      guardFullEnum(g, "q247_transfer_entropy")
      val b = meanBits(g)
      val y1 = b.select(col("el").as("dst"), col("di"), col("bit").as("b1"))
      val y0 = b.select(col("el").as("e0"), col("di").as("di0"), col("bit").as("b0"))
      val x = b.select(col("el").as("src"), col("di").as("dix"), col("bit").as("bx"))
      val tri = y1
        .join(y0, col("e0") === col("dst") && col("di0") === col("di") - 1)
        .join(x, col("src") =!= col("dst") && col("dix") === col("di") - 1)
        .groupBy("src", "dst", "b1", "b0", "bx").agg(count(lit(1)).as("n"))
      teReadout(tri)
    },

    /** Market-adjusted partial correlation (round 7): is the q229
      * association between two elements REAL, or just both following
      * the overall market? Controls each pair's correlation for the
      * cross-element mean series m: r_xy·m = (r_xy − r_xm·r_ym) /
      * √((1−r_xm²)(1−r_ym²)) — the one-confounder partial-correlation
      * closed form, the first rung of the PC-algorithm ladder toward
      * the reference's causal graph. All three raw correlations come
      * from ONE grouped aggregate of ten decimal moment sums over the
      * (pair, day) aligned grid; confound_drop = r_raw − r_partial
      * quantifies how much of the apparent link the market explains.
      */
    QueryDef(
      "q248_partial_corr",
      s"""WITH $dailySql,
        |${marketCorrSql("m")}
        |SELECT src, dst, CAST(n AS BIGINT) AS n_days, round(rxy, 6) AS r_raw,
        |  round((rxy - rxm*rym) / nullif(sqrt((1 - rxm*rxm)*(1 - rym*rym)), 0), 6)
        |    AS r_partial,
        |  round(rxy - (rxy - rxm*rym) / nullif(sqrt((1 - rxm*rxm)*(1 - rym*rym)), 0), 6)
        |    AS confound_drop
        |FROM r ORDER BY src, dst""".stripMargin) { (s, d) =>
      val g0 = daily(s, d)
      guardFullEnum(g0, "q248_partial_corr")
      partialCorrFromGrid(g0)
    },

    /** Candidate screen for the pairwise causal family (round 8,
      * VERDICT #2): the cheap |lag-0 corr| ≥ τ / top-m-partner cut that
      * the expensive MI (q252) and transfer-entropy (q253) histograms
      * consume, so at large P they only ever see surviving pairs. The
      * engine computes pair correlations over COMPACT per-element
      * series maps — see [[pairCorrOf]]: P×P rows of O(T) local work, no
      * day-keyed shuffle, no O(P²·T) materialization — while the oracle
      * states the same decimal moment sums in day-join form; exact
      * decimal arithmetic makes the two bit-identical, so even the
      * survivor SET oracles. by_tau / by_topm report why each pair
      * survived (emitted as INTs to keep the hash compare
      * engine-neutral).
      */
    QueryDef(
      "q251_causal_screen",
      s"""WITH $dailySql,
        |$screenSql
        |SELECT src, dst, CAST(n AS BIGINT) AS n_days, round(r0, 6) AS r0,
        |  by_tau, by_topm
        |FROM surv ORDER BY src, dst""".stripMargin) { (s, d) =>
      screen(s, d)
        .select(col("src"), col("dst"), col("n").as("n_days"),
          r6(col("r0")).as("r0"), col("by_tau"), col("by_topm"))
        .orderBy("src", "dst")
    },

    /** q246's mutual information restricted to the q251 survivors — the
      * large-P path. The expensive joint-histogram stage joins the
      * binned grid to the candidate list ON THE ELEMENT KEY (src, then
      * (dst, day) composite), so no join in this plan is keyed on the
      * low-cardinality day column alone — PlanSpec pins that, and
      * CausalSpec pins pruned ⊆ full with bit-equal values (the shared
      * [[quartileBins]]/[[miReadout]] trees guarantee it).
      */
    QueryDef(
      "q252_mi_pruned",
      s"""WITH $dailySql,
        |$screenSql,
        |$quartileBinsSql,
        |cells AS (
        |  SELECT sv.src, sv.dst, x.bin AS ba, y.bin AS bb, count(*) AS n
        |  FROM surv sv
        |  JOIN b x ON x.el = sv.src
        |  JOIN b y ON y.el = sv.dst AND y.di = x.di
        |  GROUP BY 1, 2, 3, 4),
        |$miReadoutSql""".stripMargin) { (s, d) =>
      val cand = screen(s, d).select(col("src").as("csrc"), col("dst").as("cdst"))
      miReadout(miCellsOf(cand, quartileBins(daily(s, d))))
    },

    /** q247's transfer entropy restricted to the q251 survivors (both
      * orientations of each surviving pair — TE is directed). The
      * triple-histogram joins are all element-keyed; the day index only
      * ever appears WITH an element column in a join key, so the q247
      * skew shape (3-way self-join on the 365-value day column at P²
      * fan-out) never occurs on this path.
      */
    QueryDef(
      "q253_te_pruned",
      s"""WITH $dailySql,
        |$screenSql,
        |surv2 AS (
        |  SELECT src, dst FROM surv UNION ALL SELECT dst, src FROM surv),
        |$meanBitsSql,
        |tri AS (
        |  SELECT s2.src, s2.dst,
        |    y1.bit AS b1, y0.bit AS b0, x.bit AS bx, count(*) AS n
        |  FROM surv2 s2
        |  JOIN b y1 ON y1.el = s2.dst
        |  JOIN b y0 ON y0.el = s2.dst AND y0.di = y1.di - 1
        |  JOIN b x ON x.el = s2.src AND x.di = y1.di - 1
        |  GROUP BY 1, 2, 3, 4, 5),
        |$teReadoutSql""".stripMargin) { (s, d) =>
      val sv = screen(s, d).select(col("src"), col("dst"))
      val cand2 = sv
        .unionByName(sv.select(col("dst").as("src"), col("src").as("dst")))
        .select(col("src").as("csrc"), col("dst").as("cdst"))
      val b = meanBits(daily(s, d))
      val y1 = b.select(col("el").as("e1"), col("di"), col("bit").as("b1"))
      val y0 = b.select(col("el").as("e0"), col("di").as("di0"), col("bit").as("b0"))
      val x = b.select(col("el").as("ex"), col("di").as("dix"), col("bit").as("bx"))
      val tri = cand2
        .join(y1, col("e1") === col("cdst"))
        .join(y0, col("e0") === col("cdst") && col("di0") === col("di") - 1)
        .join(x, col("ex") === col("csrc") && col("dix") === col("di") - 1)
        .select(col("csrc").as("src"), col("cdst").as("dst"),
          col("b1"), col("b0"), col("bx"))
        .groupBy("src", "dst", "b1", "b0", "bx").agg(count(lit(1)).as("n"))
      teReadout(tri)
    },

    /** CAUSAL GRAPH SKELETON (round 8 capstone): the PC-algorithm's
      * order-1 conditional-independence pruning plus a lead-lag
      * orientation — the model-free construction of the directed graph
      * the reference LEARNS as its B matrix (`model.py:214-224`). For
      * every candidate pair (|corr| ≥ τ), the edge survives only if NO
      * single conditioner — any third element, or the cross-element
      * market mean as a pseudo-element — explains it away
      * (|partial corr| < τ); the surviving edges are oriented by
      * lead-lag asymmetry (which direction's lag-1..3 |xcorr| is
      * stronger: '->' src leads, '<-' dst leads, '~' tie). Output per
      * candidate pair: the raw corr, the minimal |partial| and WHICH
      * conditioner achieved it (the edge's best explanation), the
      * surviving-edge flag, and the orientation with its lead gap.
      *
      * Scale shape: ONE grid shuffle; pair correlations come from the
      * compact-map [[pairCorrOf]] (no day-keyed join) over the grid
      * extended with the market pseudo-element; the O(P³) conditioning
      * pass is pure column math on the O(P²)-row correlation table
      * (element-keyed self-joins), and the whole path sits behind
      * [[guardFullEnum]] — at large P, compose the q251 screen in
      * front so only surviving candidate pairs and top-m conditioners
      * enter. Determinism: every correlation/partial is the identical
      * closed form over exact decimal moment sums; the min-conditioner
      * pick tie-breaks on the conditioner name; orientation compares
      * round-6 xcorr magnitudes — all bit-identical across engines.
      */
    QueryDef(
      "q259_causal_skeleton",
      s"""WITH $dailySql,
        |dailyx AS (
        |  SELECT el, di, v FROM daily
        |  UNION ALL
        |  SELECT '__market' AS el, di,
        |    CAST(sum(CAST(v AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS v
        |  FROM daily GROUP BY di),
        |prx AS (
        |  SELECT x.el AS src, y.el AS dst, count(*) AS n,
        |${pairMomentsSql("x", "y")}
        |  FROM dailyx x JOIN dailyx y ON x.el < y.el AND x.di = y.di
        |  GROUP BY 1, 2),
        |pcx AS (
        |  SELECT src, dst, n,
        |    (n*sxy - sx*sy) / nullif(sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)), 0) AS r0
        |  FROM prx),
        |sym AS (
        |  SELECT src, dst, r0 FROM pcx UNION ALL SELECT dst, src, r0 FROM pcx),
        |cand AS (
        |  SELECT src, dst, n, r0 FROM pcx
        |  WHERE src <> '__market' AND dst <> '__market' AND abs(r0) >= $ScreenTau),
        |tri AS (
        |  SELECT c.src, c.dst, c.n, c.r0, s1.dst AS z,
        |    coalesce((c.r0 - s1.r0*s2.r0)
        |      / nullif(sqrt((1 - s1.r0*s1.r0) * (1 - s2.r0*s2.r0)), 0), 0.0) AS p
        |  FROM cand c
        |  JOIN sym s1 ON s1.src = c.src
        |  JOIN sym s2 ON s2.src = c.dst AND s2.dst = s1.dst
        |  WHERE s1.dst <> c.src AND s1.dst <> c.dst),
        |minp AS (
        |  SELECT src, dst, n, r0, z AS blocker, abs(p) AS map FROM (
        |    SELECT *, row_number() OVER (PARTITION BY src, dst ORDER BY abs(p), z) AS rr
        |    FROM tri) WHERE rr = 1),
        |$leadLagMomentsSql,
        |xc AS (
        |  SELECT src, dst, lag,
        |    round((n*sxy - sx*sy)
        |      / nullif(sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)), 0), 6) AS xcorr
        |  FROM m),
        |ll AS (
        |  SELECT src, dst, max(abs(xcorr)) AS fwd FROM xc WHERE lag >= 1
        |  GROUP BY 1, 2)
        |SELECT mp.src, mp.dst, CAST(mp.n AS BIGINT) AS n_days,
        |  round(mp.r0, 6) AS r_raw, round(mp.map, 6) AS min_abs_partial,
        |  mp.blocker,
        |  CAST(abs(mp.r0) >= $ScreenTau AND mp.map >= $ScreenTau AS INT) AS edge,
        |  CASE WHEN f.fwd > r.fwd THEN '->' WHEN r.fwd > f.fwd THEN '<-'
        |    ELSE '~' END AS orient,
        |  round(f.fwd - r.fwd, 6) AS lead_gap
        |FROM minp mp
        |JOIN ll f ON f.src = mp.src AND f.dst = mp.dst
        |JOIN ll r ON r.src = mp.dst AND r.dst = mp.src
        |ORDER BY mp.src, mp.dst""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val g = daily(s, d)
      guardFullEnum(g, "q259_causal_skeleton")
      val mkt = g.groupBy(col("di"))
        .agg((dsum(col("v")) / count(lit(1))).as("v"))
        .select(lit("__market").as("el"), col("di"), col("v"))
      val ext = g.select(col("el"), col("di"), col("v")).unionByName(mkt)
      val pcx = pairCorrOf(ext)
      val sym = pcx.select(col("src"), col("dst"), col("r0"))
        .unionByName(pcx.select(col("dst").as("src"), col("src").as("dst"), col("r0")))
      val cand = pcx.where(col("src") =!= "__market" && col("dst") =!= "__market" &&
        abs(col("r0")) >= ScreenTau)
      val s1 = sym.select(col("src").as("a1"), col("dst").as("z1"), col("r0").as("raz"))
      val s2 = sym.select(col("src").as("b2"), col("dst").as("z2"), col("r0").as("rbz"))
      val tri = cand.join(s1, col("a1") === col("src"))
        .join(s2, col("b2") === col("dst") && col("z2") === col("z1"))
        .where(col("z1") =!= col("src") && col("z1") =!= col("dst"))
        .select(col("src"), col("dst"), col("n"), col("r0"), col("z1").as("z"),
          coalesce((col("r0") - col("raz") * col("rbz")) /
            nullif(sqrt((lit(1.0) - col("raz") * col("raz")) *
              (lit(1.0) - col("rbz") * col("rbz"))), lit(0.0)), lit(0.0)).as("p"))
      val wmin = Window.partitionBy(col("src"), col("dst"))
        .orderBy(abs(col("p")), col("z"))
      val minp = tri.withColumn("rr", row_number().over(wmin)).where(col("rr") === 1)
        .select(col("src"), col("dst"), col("n"), col("r0"),
          col("z").as("blocker"), abs(col("p")).as("map"))
      val ll = leadLagFromGrid(s, g).where(col("lag") >= 1)
        .groupBy(col("src"), col("dst")).agg(max(abs(col("xcorr"))).as("fwd"))
      val f = ll.select(col("src").as("fs"), col("dst").as("fd"), col("fwd"))
      val r = ll.select(col("src").as("rs"), col("dst").as("rd"), col("fwd").as("rev"))
      minp.join(f, col("fs") === col("src") && col("fd") === col("dst"))
        .join(r, col("rs") === col("dst") && col("rd") === col("src"))
        .select(col("src"), col("dst"), col("n").as("n_days"),
          r6(col("r0")).as("r_raw"), r6(col("map")).as("min_abs_partial"),
          col("blocker"),
          when(abs(col("r0")) >= ScreenTau && col("map") >= ScreenTau, lit(1))
            .otherwise(lit(0)).as("edge"),
          when(col("fwd") > col("rev"), lit("->"))
            .when(col("rev") > col("fwd"), lit("<-"))
            .otherwise(lit("~")).as("orient"),
          r6(col("fwd") - col("rev")).as("lead_gap"))
        .orderBy("src", "dst")
    },

    /** BANDED LSH causal screen (round 8): the >10⁴-element composition
      * the compact-map screen's docstring promised, implemented. Each
      * element's z-normalized daily series (first 64 days as the sketch
      * window; exact decimal μ/σ) is sign-sketched against the shared
      * deterministic hyperplane family (operators/Lsh.scala, 8 planes
      * over the day dimension), split into 4 bands × 2 bits; candidate
      * pairs are elements sharing ANY band bucket (the q225 MinHash
      * OR-construction applied to series space), and ONLY candidates
      * get the exact common-day correlation via the compact maps. At
      * large P the pair enumeration is bounded by band-bucket occupancy
      * instead of P² — and every join is element/bucket-keyed.
      *
      * Honesty (measured): on this fixture's weak correlations
      * (|r| ≈ 0.1–0.2) a banded 4×2 sketch keeps 6 of 10 pairs at
      * sf0.01 with 5/8 recall of the τ-survivor set (all 10 collide at
      * sf0.001) — the standard cosine-LSH recall curve near
      * orthogonality; production buys recall with more bands/tables
      * (the documented Lsh scale knob). CausalSpec pins the exact
      * candidate behavior and the bit-equality of candidate r0 with the
      * full screen. Deterministic end-to-end: z, dots (decimal sums of
      * exact-binary-fraction plane weights), sign bits, buckets, and
      * correlations are bit-identical across engines, so even the
      * candidate SET oracles.
      */
    QueryDef(
      "q260_causal_lsh_screen", {
        val planes = Lsh.hyperplanes(8, 64)
        val wRows = (for (p <- 0 until 8; di <- 0 until 64)
          yield s"($p, $di, ${planes(p)(di)})").mkString(",\n        |    ")
        s"""WITH $dailySql,
          |$elMomentsSql,
          |z AS (
          |  SELECT d.el, d.di,
          |    (d.v - s.sv/s.n) / sqrt(s.svv/s.n - (s.sv/s.n)*(s.sv/s.n)) AS z
          |  FROM daily d JOIN st s ON d.el = s.el WHERE d.di < 64),
          |w AS (SELECT * FROM (VALUES
          |    $wRows) AS t(p, di, wv)),
          |dots AS (
          |  SELECT z.el, w.p,
          |    CAST(sum(CAST(z.z * CAST(w.wv AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE) AS dot
          |  FROM z JOIN w ON w.di = z.di GROUP BY 1, 2),
          |bands AS (
          |  SELECT el, p // 2 AS band,
          |    sum(CASE WHEN dot > 0 THEN (CASE WHEN p % 2 = 0 THEN 1 ELSE 2 END)
          |      ELSE 0 END) AS bval
          |  FROM dots GROUP BY 1, 2),
          |cand AS (
          |  SELECT DISTINCT a.el AS src, b.el AS dst
          |  FROM bands a JOIN bands b
          |    ON a.band = b.band AND a.bval = b.bval AND a.el < b.el),
          |pr AS (
          |  SELECT x.el AS src, y.el AS dst, count(*) AS n,
          |${pairMomentsSql("x", "y")}
          |  FROM daily x JOIN daily y ON x.el < y.el AND x.di = y.di
          |  JOIN cand c ON c.src = x.el AND c.dst = y.el
          |  GROUP BY 1, 2)
          |SELECT src, dst, CAST(n AS BIGINT) AS n_days,
          |  round((n*sxy - sx*sy)
          |    / nullif(sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)), 0), 6) AS r0
          |FROM pr ORDER BY src, dst""".stripMargin
      }) { (s, d) =>
      val cand = lshCandidates(daily(s, d), Lsh.hyperplanes(8, 64), 4, 2)
      corrOfCandidates(daily(s, d), cand)
        .select(col("src"), col("dst"), col("n").as("n_days"), r6(col("r0")).as("r0"))
        .orderBy("src", "dst")
    },

    /** Periodogram: DFT power of each element's (mean-removed) daily
      * series at the three calendar-candidate periods (7/14/30 days) —
      * the spectral "is there a weekly cycle" readout that motivates
      * lag choices in the lead-lag family (q229). Runs on the shared
      * [[PlanCache]] daily grid: one fact-table scan ever, then O(P·T·3)
      * map-side cos/sin products reduced by ONE grouped aggregate —
      * partial aggregation does the heavy lifting, so 100 TB of raw
      * events still reduce to P·3 output rows with no extra shuffle
      * beyond the grid's. Decimal moment-sum idiom (cf. q229) keeps the
      * cross-engine sums exact; cos/sin inputs are identical doubles on
      * both sides (2·π·di/period with π the same IEEE literal), and the
      * final round(…,6) absorbs any sub-ULP libm divergence — same
      * transcendental-parity contract q73 (tanh/exp) and q178 (ln)
      * already rely on.
      */
    QueryDef(
      "q263_periodogram",
      s"""WITH $dailySql,
        |st AS (
        |  SELECT el AS sel, count(*) AS n,
        |    CAST(sum(CAST(v AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS mu
        |  FROM daily GROUP BY 1),
        |t AS (
        |  SELECT d.el, d.di, d.v - st.mu AS vc, st.n
        |  FROM daily d JOIN st ON st.sel = d.el),
        |p AS (
        |  SELECT el, n, pd,
        |    CAST(sum(CAST(vc * cos(2 * pi() * di / pd) AS DECIMAL(38,12))) AS DOUBLE) AS ca,
        |    CAST(sum(CAST(vc * sin(2 * pi() * di / pd) AS DECIMAL(38,12))) AS DOUBLE) AS sb
        |  FROM t CROSS JOIN (VALUES (7.0), (14.0), (30.0)) pp(pd)
        |  GROUP BY 1, 2, 3)
        |SELECT el, CAST(pd AS INT) AS period, CAST(n AS BIGINT) AS n_days,
        |  round((ca * ca + sb * sb) / (n * n), 6) AS power
        |FROM p ORDER BY el, period""".stripMargin) { (s, d) =>
      periodogramFromGrid(daily(s, d))
    },

    /** STL-lite seasonal decomposition per element: centered 7-row
      * moving-average trend over the daily grid, day-of-week seasonal
      * means of the detrended series, and the per-element seasonal
      * strength 1 − SS_resid/SS_detrended. Everything runs on the O(P·T)
      * grid: the trend is an element-partitioned ROWS window (never a
      * global sort — the q233 discipline), the seasonal means and the
      * variance readout are two more grouped aggregates on grid-sized
      * data. Window/group sums use the exact-decimal idiom so both
      * engines see identical trend/seasonal doubles.
      */
    QueryDef(
      "q264_seasonal_decompose",
      s"""WITH $dailySql,
        |$trendSql,
        |se AS (
        |  SELECT el, di % 7 AS dow, count(*) AS n_days,
        |    CAST(sum(CAST(v - trend AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS seas
        |  FROM tr GROUP BY 1, 2),
        |j AS (
        |  SELECT t.el, t.v, t.trend, s.seas
        |  FROM tr t JOIN se s ON s.el = t.el AND s.dow = t.di % 7),
        |vr AS (
        |  SELECT el,
        |    CAST(sum(CAST((v - trend) * (v - trend) AS DECIMAL(38,12))) AS DOUBLE) AS ss_detr,
        |    CAST(sum(CAST((v - trend - seas) * (v - trend - seas) AS DECIMAL(38,12))) AS DOUBLE) AS ss_resid
        |  FROM j GROUP BY 1)
        |SELECT s.el, CAST(s.dow AS INT) AS dow, CAST(s.n_days AS BIGINT) AS n_days,
        |  round(s.seas, 6) AS seas,
        |  round(1 - vr.ss_resid / nullif(vr.ss_detr, 0), 6) AS seasonal_strength
        |FROM se s JOIN vr ON vr.el = s.el
        |ORDER BY s.el, dow""".stripMargin) { (s, d) =>
      val tr = trend7(daily(s, d))
      val se = tr.groupBy(col("el"), (col("di") % 7).as("dow"))
        .agg(count(lit(1)).as("n_days"),
          (dsum(col("v") - col("trend")) / count(lit(1))).as("seas"))
      val j = tr.join(se.select(col("el").as("sel"), col("dow"), col("seas")),
        col("sel") === col("el") && col("dow") === col("di") % 7)
      val vr = j.groupBy(col("el").as("vel")).agg(
        dsum((col("v") - col("trend")) * (col("v") - col("trend"))).as("ss_detr"),
        dsum((col("v") - col("trend") - col("seas")) *
          (col("v") - col("trend") - col("seas"))).as("ss_resid"))
      se.join(vr, col("vel") === col("el"))
        .select(col("el"), col("dow").cast("int").as("dow"), col("n_days"),
          r6(col("seas")).as("seas"),
          r6(lit(1) - col("ss_resid") / nullif(col("ss_detr"), lit(0.0)))
            .as("seasonal_strength"))
        .orderBy("el", "dow")
    },

    /** Benjamini-Hochberg discovery control over the causal pair family:
      * Fisher-z p-values for the market-adjusted partial correlations
      * (q248's moment sums, z = atanh(r)·√(n−4), two-sided normal tail
      * via the Abramowitz-Stegun 26.2.17 polynomial — both engines
      * evaluate the IDENTICAL closed form, documented |err| ≤ 7.5e-8,
      * far inside the round-6 output grid), then the BH step-up at
      * α = 0.1: rank p ascending, k* = max{i : p_i ≤ α·i/m}, flag the
      * prefix. The reference dumps EVERY B-matrix cell as causal
      * evidence (`model.py:296-310`); this is the principled cut a user
      * applies to that readout before acting on it. Scale shape: p-values
      * come from the same O(P²)-bounded moment-sum table as q248 (guard
      * applies), and BH's global rank runs on those O(P²) score rows —
      * ≤ 4M rows at the guard ceiling, a single-partition sort of a few
      * MB, nothing like a data-sized global window (the q174 two-phase
      * pattern applies beyond that).
      */
    QueryDef(
      "q265_causal_fdr",
      s"""WITH $dailySql,
        |${marketCorrSql("m WHERE n > 4")},
        |pc AS (
        |  SELECT src, dst, n,
        |    (rxy - rxm*rym) / nullif(sqrt((1 - rxm*rxm)*(1 - rym*rym)), 0) AS rp
        |  FROM r),
        |zt AS (
        |  SELECT src, dst, n, rp,
        |    abs(0.5 * ln((1 + rp) / (1 - rp)) * sqrt(n - 4.0)) AS az
        |  FROM pc),
        |z2 AS (SELECT *, 1 / (1 + 0.2316419 * az) AS tt FROM zt),
        |pv AS (
        |  SELECT src, dst, n, rp,
        |    2 * (exp(-az * az / 2) / sqrt(2 * pi())) *
        |      (((((1.330274429 * tt - 1.821255978) * tt + 1.781477937) * tt
        |        - 0.356563782) * tt + 0.319381530) * tt) AS p
        |  FROM z2),
        |bh AS (
        |  SELECT *, row_number() OVER (ORDER BY p, src, dst) AS i,
        |    count(*) OVER () AS m
        |  FROM pv),
        |kk AS (
        |  SELECT coalesce(max(CASE WHEN p <= 0.1 * i / m THEN i END), 0) AS k
        |  FROM bh)
        |SELECT src, dst, CAST(n AS BIGINT) AS n_days, round(rp, 6) AS r_partial,
        |  round(p, 6) AS p_value, CAST(i AS INT) AS p_rank,
        |  CAST(CASE WHEN i <= kk.k THEN 1 ELSE 0 END AS INT) AS discovery
        |FROM bh, kk ORDER BY src, dst""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val g0 = daily(s, d)
      guardFullEnum(g0, "q265_causal_fdr")
      val r = marketCorrs(marketMoments(g0).where(col("n") > 4))
      val rp = (col("rxy") - col("rxm") * col("rym")) /
        nullif(sqrt((lit(1) - col("rxm") * col("rxm")) *
          (lit(1) - col("rym") * col("rym"))), lit(0.0))
      val pc = r.select(col("src"), col("dst"), col("n"), rp.as("rp"))
      val az = abs(lit(0.5) * log((lit(1) + col("rp")) / (lit(1) - col("rp"))) *
        sqrt(col("n") - 4.0))
      val z2 = pc.withColumn("az", az)
        .withColumn("tt", lit(1) / (lit(1) + lit(0.2316419) * col("az")))
      val tt = col("tt")
      val p = lit(2) * (exp(-col("az") * col("az") / 2) / sqrt(lit(2) * lit(math.Pi))) *
        (((((lit(1.330274429) * tt - lit(1.821255978)) * tt + lit(1.781477937)) * tt
          - lit(0.356563782)) * tt + lit(0.319381530)) * tt)
      val pv = z2.select(col("src"), col("dst"), col("n"), col("rp"), p.as("p"))
      val bh = pv
        .withColumn("i", row_number().over(Window.orderBy(col("p"), col("src"), col("dst"))))
        .withColumn("m", count(lit(1)).over(Window.partitionBy()))
      val kk = bh.agg(coalesce(max(when(
        col("p") <= lit(0.1) * col("i") / col("m"), col("i"))), lit(0L)).as("k"))
      bh.crossJoin(broadcast(kk))
        .select(col("src"), col("dst"), col("n").as("n_days"),
          r6(col("rp")).as("r_partial"), r6(col("p")).as("p_value"),
          col("i").cast("int").as("p_rank"),
          when(col("i") <= col("k"), lit(1)).otherwise(lit(0)).cast("int")
            .as("discovery"))
        .orderBy("src", "dst")
    },

    /** Autocorrelation function: each element's daily series against its
      * OWN lags 0..7 — the self-referential counterpart of q229's
      * cross-correlogram (lag-0 is trivially 1, a built-in sanity row).
      * The lag join is keyed on the (element, day) composite — never the
      * day column alone — so it's O(P·T·8) total work with no skew, on
      * the shared PlanCache grid. Same decimal moment-sum → closed-form
      * correlation idiom as q229.
      */
    QueryDef(
      "q266_acf",
      s"""WITH $dailySql,
        |pr AS (
        |  SELECT a.el, l.lag, count(*) AS n,
        |${pairMomentsSql("a", "b")}
        |  FROM daily a
        |  CROSS JOIN (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) l(lag)
        |  JOIN daily b ON b.el = a.el AND b.di = a.di + l.lag
        |  GROUP BY 1, 2)
        |SELECT el, lag, CAST(n AS BIGINT) AS n_days,
        |  round((n*sxy - sx*sy)
        |    / nullif(sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)), 0), 6) AS acf
        |FROM pr ORDER BY el, lag""".stripMargin) { (s, d) =>
      import s.implicits._
      val g = daily(s, d)
      val a = g.select(col("el"), col("di"), col("v").as("x"))
      val b = g.select(col("el").as("elb"), col("di").as("dib"), col("v").as("y"))
      val lags = (0 to 7).toDF("lag")
      a.crossJoin(broadcast(lags))
        .join(b, col("elb") === col("el") && col("dib") === col("di") + col("lag"))
        .groupBy("el", "lag")
        .agg(count(lit(1)).as("n"),
          dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
          dsum(col("x") * col("y")).as("sxy"),
          dsum(col("x") * col("x")).as("sxx"),
          dsum(col("y") * col("y")).as("syy"))
        .select(col("el"), col("lag"), col("n").as("n_days"),
          r6((col("n") * col("sxy") - col("sx") * col("sy")) /
            nullif(sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
              (col("n") * col("syy") - col("sy") * col("sy"))), lit(0.0)))
            .as("acf"))
        .orderBy("el", "lag")
    },

    /** Robust anomaly readout over the q264 decomposition: per element,
      * the STL residual (v − trend − seasonal) is scored by its
      * MAD-z (dev from the residual median over 1.4826·MAD), and the
      * per-element summary — days observed, |z| > 3 anomaly count, the
      * worst day and its score — is emitted. Exact percentiles (the
      * q179 parity idiom) keep both engines' medians identical; all
      * windows are element-partitioned; output is O(P) rows no matter
      * the raw volume.
      */
    QueryDef(
      "q268_stl_anomaly",
      s"""WITH $dailySql,
        |$trendSql,
        |se AS (
        |  SELECT el, di % 7 AS dow,
        |    CAST(sum(CAST(v - trend AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS seas
        |  FROM tr GROUP BY 1, 2),
        |r AS (
        |  SELECT t.el, t.di, t.v - t.trend - s.seas AS resid
        |  FROM tr t JOIN se s ON s.el = t.el AND s.dow = t.di % 7),
        |st AS (SELECT el AS sel, quantile_cont(resid, 0.5) AS med FROM r GROUP BY 1),
        |r2 AS (
        |  SELECT r.el, r.di, r.resid - st.med AS dev
        |  FROM r JOIN st ON st.sel = r.el),
        |md AS (SELECT el AS mel, quantile_cont(abs(dev), 0.5) AS mad FROM r2 GROUP BY 1),
        |sc AS (
        |  SELECT r2.el, r2.di, r2.dev / nullif(1.4826 * md.mad, 0) AS score
        |  FROM r2 JOIN md ON md.mel = r2.el),
        |w2 AS (
        |  SELECT el, di, score,
        |    row_number() OVER (PARTITION BY el ORDER BY abs(score) DESC, di) AS rn,
        |    count(*) OVER (PARTITION BY el) AS n_days,
        |    sum(CASE WHEN abs(score) > 3 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY el) AS n_anom
        |  FROM sc)
        |SELECT el, CAST(n_days AS BIGINT) AS n_days,
        |  CAST(n_anom AS BIGINT) AS n_anomalies,
        |  di AS worst_di, round(score, 6) AS worst_score
        |FROM w2 WHERE rn = 1 ORDER BY el""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val tr = trend7(daily(s, d))
      val se = tr.groupBy(col("el").as("sel"), (col("di") % 7).as("dow"))
        .agg((dsum(col("v") - col("trend")) / count(lit(1))).as("seas"))
      val r = tr.join(se, col("sel") === col("el") && col("dow") === col("di") % 7)
        .select(col("el"), col("di"),
          (col("v") - col("trend") - col("seas")).as("resid"))
      val st = r.groupBy(col("el").as("stl")).agg(
        expr("percentile(resid, 0.5)").as("med"))
      val r2 = r.join(st, col("stl") === col("el"))
        .select(col("el"), col("di"), (col("resid") - col("med")).as("dev"))
      val md = r2.groupBy(col("el").as("mel")).agg(
        expr("percentile(abs(dev), 0.5)").as("mad"))
      val sc = r2.join(md, col("mel") === col("el"))
        .select(col("el"), col("di"),
          (col("dev") / nullif(lit(1.4826) * col("mad"), lit(0.0))).as("score"))
      val we = Window.partitionBy(col("el"))
      val w2 = sc.select(col("el"), col("di"), col("score"),
        row_number().over(we.orderBy(abs(col("score")).desc, col("di"))).as("rn"),
        count(lit(1)).over(we).as("n_days"),
        sum(when(abs(col("score")) > 3, 1).otherwise(0)).over(we).as("n_anom"))
      w2.where(col("rn") === 1)
        .select(col("el"), col("n_days"), col("n_anom").as("n_anomalies"),
          col("di").as("worst_di"), r6(col("score")).as("worst_score"))
        .orderBy("el")
    },

    /** Rolling-origin forecast backtest per element: one-step-ahead
      * naive (yesterday's value) vs seasonal-naive (last week's value)
      * forecasts evaluated on every day where BOTH references exist,
      * reported as MAE, the scale-free MASE (seasonal MAE over naive
      * MAE — Hyndman & Koehler's scaled error with the naive forecast
      * as the denominator benchmark) and sMAPE. Closes the series
      * pipeline's loop: trend (q264), cycle (q263), anomaly (q268),
      * and now "can the cycle actually predict". Day-arithmetic lag
      * joins keyed on the (element, day) composite — gap-aware, never
      * row-offset — all on the O(P·T) grid; decimal-exact error sums.
      */
    QueryDef(
      "q269_forecast_backtest",
      s"""WITH $dailySql,
        |ev AS (
        |  SELECT c.el, c.di, c.v, l1.v AS f_naive, l7.v AS f_snaive
        |  FROM daily c
        |  JOIN daily l1 ON l1.el = c.el AND l1.di = c.di - 1
        |  JOIN daily l7 ON l7.el = c.el AND l7.di = c.di - 7),
        |ag AS (
        |  SELECT el, count(*) AS n,
        |    CAST(sum(CAST(abs(v - f_naive) AS DECIMAL(38,12))) AS DOUBLE)
        |      / count(*) AS mae_naive,
        |    CAST(sum(CAST(abs(v - f_snaive) AS DECIMAL(38,12))) AS DOUBLE)
        |      / count(*) AS mae_snaive,
        |    CAST(sum(CAST(2 * abs(v - f_snaive)
        |      / nullif(abs(f_snaive) + abs(v), 0) AS DECIMAL(38,12))) AS DOUBLE)
        |      / count(*) AS smape
        |  FROM ev GROUP BY 1)
        |SELECT el, CAST(n AS BIGINT) AS n_eval,
        |  round(mae_naive, 6) AS mae_naive,
        |  round(mae_snaive, 6) AS mae_snaive,
        |  round(mae_snaive / nullif(mae_naive, 0), 6) AS mase,
        |  round(smape, 6) AS smape
        |FROM ag ORDER BY el""".stripMargin) { (s, d) =>
      backtestFromGrid(daily(s, d))
    }
  )
}
