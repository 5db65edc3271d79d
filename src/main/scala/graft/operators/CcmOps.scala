package graft.operators

import graft.QueryDef
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Convergent cross-mapping (CCM, Sugihara et al., "Detecting Causality
  * in Complex Ecosystems", Science 338:496, 2012) — the MODEL-FREE
  * nonlinear causality test that is the methodological counterpart of
  * the reference's learned element-to-element B matrix
  * (`model.py:86-101` reads causal strength out of trained attention
  * weights; CCM reads it out of state-space reconstruction). If element
  * X drives element Y, then Y's history embeds X's states (Takens), so
  * nearest neighbors on Y's SHADOW MANIFOLD recover X: cross-map skill
  * ρ(X̂|M_Y, X) is high AND grows with library size. The suite's
  * linear layer (lead-lag q229, Granger q230/q300, partial corr q248,
  * MI q246, TE q247) misses exactly the deterministic-nonlinear
  * coupling regime CCM was built for; this module closes that gap.
  *
  * Engine shape (the 100 TB discipline shared with the whole causal
  * family): everything runs on the PlanCache'd O(P·T) (element, day)
  * grid — one fact-table scan per session. Pair enumeration is
  * restricted to the q251 screen's survivors (never unguarded O(P²)),
  * each directed pair is ONE row carrying two O(T) series arrays, and
  * the entire simplex projection — kNN search, exponential weighting,
  * skill correlation at two library sizes — is a map-side kernel
  * expression over those arrays (the q288 fold-kernel pattern): no
  * shuffle beyond the screen's, no UDF, per-pair cost O(T² log T) with
  * T calendar-bounded.
  *
  * Engine↔oracle parity: both dialects run the IDENTICAL operation
  * sequence — same neighbor construction, same (distance, index)
  * struct sort, same fold order for the weight and moment sums (plain
  * doubles, sequential by construction) — so results agree to the last
  * ulp except for `exp`'s libm-vs-Math one-ulp slack, which the round-6
  * readout absorbs (Round10Spec measures the actual boundary margin).
  */
object CcmOps {
  import CausalOps.{daily, dailySql, screen, screenSql, seriesMaps}

  /** Embedding dimension E=2, tau=1, k=E+1=3 simplex neighbors. */
  private val K = 3

  /** Spark-dialect neighbor table: for each target time t ∈ [2, n], the
    * K nearest library points j ∈ [2, lend], j ≠ t, by Euclidean
    * distance on the effect-series shadow manifold (y_t, y_{t−1}),
    * ties broken by j. Outer columns in scope: yv, n, and the library
    * end column `lend`. */
  private[graft] def nbSpark(lend: String): String =
    s"""transform(sequence(2, n), t -> slice(array_sort(filter(
       |  transform(sequence(2, $lend), j -> named_struct(
       |    'd', sqrt((element_at(yv, t) - element_at(yv, j)) * (element_at(yv, t) - element_at(yv, j))
       |            + (element_at(yv, t - 1) - element_at(yv, j - 1)) * (element_at(yv, t - 1) - element_at(yv, j - 1))),
       |    'j', j)),
       |  p -> p.j != t)), 1, $K))""".stripMargin

  /** Spark-dialect simplex projection over a neighbor table: per target,
    * fold the K neighbors in rank order into (Σw, Σw·x_j) with
    * w_i = exp(−d_i/d_1) (d_1 floored at 1e-12 — the standard CCM
    * degenerate-neighbor convention). x̂_t = swx/sw, taken downstream. */
  private[graft] def xhSpark(lend: String): String =
    s"""transform(${nbSpark(lend)}, a -> aggregate(a,
       |  named_struct('sw', cast(0.0 as double), 'swx', cast(0.0 as double)),
       |  (acc, p) -> named_struct(
       |    'sw', acc.sw + exp(-p.d / greatest(element_at(a, 1).d, cast(1e-12 as double))),
       |    'swx', acc.swx + exp(-p.d / greatest(element_at(a, 1).d, cast(1e-12 as double))) * element_at(xv, p.j))))""".stripMargin

  /** Spark-dialect Pearson moment fold of (x̂_t, x_t) over targets
    * t = 2..n (position i = t−1 in the x̂ array), plain-double sums in
    * fixed t order — sequential on both engines by construction. */
  private[graft] def momSpark(xh: String): String =
    s"""aggregate(sequence(1, n - 1),
       |  named_struct('n', cast(0.0 as double), 'sx', cast(0.0 as double), 'sy', cast(0.0 as double),
       |               'sxy', cast(0.0 as double), 'sxx', cast(0.0 as double), 'syy', cast(0.0 as double)),
       |  (a, i) -> named_struct(
       |    'n', a.n + 1.0d,
       |    'sx', a.sx + element_at($xh, i).swx / element_at($xh, i).sw,
       |    'sy', a.sy + element_at(xv, i + 1),
       |    'sxy', a.sxy + (element_at($xh, i).swx / element_at($xh, i).sw) * element_at(xv, i + 1),
       |    'sxx', a.sxx + (element_at($xh, i).swx / element_at($xh, i).sw) * (element_at($xh, i).swx / element_at($xh, i).sw),
       |    'syy', a.syy + element_at(xv, i + 1) * element_at(xv, i + 1)))""".stripMargin

  private[graft] def rhoOf(m: String): String =
    s"(($m.n * $m.sxy - $m.sx * $m.sy) / nullif(sqrt(($m.n * $m.sxx - $m.sx * $m.sx) * ($m.n * $m.syy - $m.sy * $m.sy)), cast(0.0 as double)))"

  /** DuckDB-dialect equivalents: same operation sequence (1.0's
    * two-arg list_reduce takes the prepended init element as the
    * accumulator head, exactly the dtwFoldDuck convention). */
  private def xhDuck(lend: String): String =
    s"""list_transform(
       |  list_transform(range(2, n + 1), t ->
       |    list_slice(list_sort([{'d': sqrt((yv[t] - yv[j]) * (yv[t] - yv[j])
       |                                   + (yv[t-1] - yv[j-1]) * (yv[t-1] - yv[j-1])),
       |                           'j': j} FOR j IN range(2, $lend + 1) IF j != t]), 1, $K)),
       |  a -> list_reduce(
       |    [{'sw': CAST(0.0 AS DOUBLE), 'swx': CAST(0.0 AS DOUBLE)}] ||
       |    [{'sw': exp(-(p.d) / greatest(a[1].d, 1e-12)),
       |      'swx': exp(-(p.d) / greatest(a[1].d, 1e-12)) * xv[p.j]} FOR p IN a],
       |    (acc, q) -> {'sw': acc.sw + q.sw, 'swx': acc.swx + q.swx}))""".stripMargin

  private def momDuck(xh: String): String =
    s"""list_reduce(
       |  [{'n': CAST(0.0 AS DOUBLE), 'sx': CAST(0.0 AS DOUBLE), 'sy': CAST(0.0 AS DOUBLE),
       |    'sxy': CAST(0.0 AS DOUBLE), 'sxx': CAST(0.0 AS DOUBLE), 'syy': CAST(0.0 AS DOUBLE)}] ||
       |  [{'n': 1.0, 'sx': $xh[i].swx / $xh[i].sw, 'sy': xv[i + 1],
       |    'sxy': ($xh[i].swx / $xh[i].sw) * xv[i + 1],
       |    'sxx': ($xh[i].swx / $xh[i].sw) * ($xh[i].swx / $xh[i].sw),
       |    'syy': xv[i + 1] * xv[i + 1]} FOR i IN range(1, n)],
       |  (a, b) -> {'n': a.n + b.n, 'sx': a.sx + b.sx, 'sy': a.sy + b.sy,
       |             'sxy': a.sxy + b.sxy, 'sxx': a.sxx + b.sxx, 'syy': a.syy + b.syy})""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    /** CCM cross-map skill per screened directed pair: ρ at library =
      * first half vs library = full series, over targets t = 2..n on
      * the common-day position axis. `converging` (ρ grows with
      * library) is CCM's causality criterion — what separates true
      * coupling from mere correlation (a confounder inflates ρ but not
      * its library-size GROWTH). Both ρ's are compared after the
      * standard round-6 readout so the flag is engine-deterministic.
      */
    QueryDef(
      "q306_ccm_xmap",
      s"""WITH $dailySql,
        |$screenSql,
        |dirs AS (
        |  SELECT src AS cause, dst AS effect FROM surv
        |  UNION ALL SELECT dst, src FROM surv),
        |comm AS (
        |  SELECT p.cause, p.effect, a.di, a.v AS xa, b.v AS yb
        |  FROM dirs p JOIN daily a ON a.el = p.cause
        |              JOIN daily b ON b.el = p.effect AND b.di = a.di),
        |ser AS (
        |  SELECT cause, effect, list(xa ORDER BY di) AS xv, list(yb ORDER BY di) AS yv
        |  FROM comm GROUP BY 1, 2),
        |sz AS (
        |  SELECT cause, effect, xv, yv, len(xv) AS n,
        |    CAST(ceil(len(xv) / 2.0) AS BIGINT) AS nh
        |  FROM ser WHERE len(xv) >= 10),
        |xh2 AS (
        |  SELECT cause, effect, n, xv,
        |    ${xhDuck("nh")} AS xhh,
        |    ${xhDuck("n")} AS xhf
        |  FROM sz),
        |mm AS (
        |  SELECT cause, effect, n,
        |    ${momDuck("xhh")} AS mh,
        |    ${momDuck("xhf")} AS mf
        |  FROM xh2)
        |SELECT cause, effect, CAST(n AS BIGINT) AS n_common,
        |  round(${rhoOf("mh")}, 6) AS rho_half,
        |  round(${rhoOf("mf")}, 6) AS rho_full,
        |  round(round(${rhoOf("mf")}, 6) - round(${rhoOf("mh")}, 6), 6) AS delta,
        |  CAST(round(${rhoOf("mf")}, 6) > round(${rhoOf("mh")}, 6) AS INT) AS converging
        |FROM mm ORDER BY cause, effect""".stripMargin) { (s, d) =>
      raw(s, d).select(col("cause"), col("effect"), col("n").cast("long").as("n_common"),
          expr(s"round(${rhoOf("mh")}, 6)").as("rho_half"),
          expr(s"round(${rhoOf("mf")}, 6)").as("rho_full"),
          expr(s"round(round(${rhoOf("mf")}, 6) - round(${rhoOf("mh")}, 6), 6)").as("delta"),
          expr(s"cast(round(${rhoOf("mf")}, 6) > round(${rhoOf("mh")}, 6) as int)").as("converging"))
        .orderBy("cause", "effect")
    }
  )

  /** The engine pipeline up to the unrounded moment structs — shared by
    * the QueryDef (which applies the round-6 readout) and Round10Spec
    * (which measures the actual rounding-boundary margin of the
    * unrounded ρ's, the q281 margin idiom). */
  private[graft] def raw(s: SparkSession, d: String): DataFrame = {
    val surv = screen(s, d).select(col("src"), col("dst"))
    val dirs = surv.select(col("src").as("cause"), col("dst").as("effect"))
      .unionByName(surv.select(col("dst").as("cause"), col("src").as("effect")))
    val sm = seriesMaps(daily(s, d))
    CointOps.commonDays(dirs
      .join(broadcast(sm.select(col("el").as("cel"), col("m").as("mx"))),
        col("cause") === col("cel"))
      .join(broadcast(sm.select(col("el").as("eel"), col("m").as("my"))),
        col("effect") === col("eel")))
      .withColumn("nh", expr("cast(ceil(n / 2.0) as int)"))
      .withColumn("xhh", expr(xhSpark("nh")))
      .withColumn("xhf", expr(xhSpark("n")))
      .withColumn("mh", expr(momSpark("xhh")))
      .withColumn("mf", expr(momSpark("xhf")))
  }
}
