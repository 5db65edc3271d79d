package graft.operators

import graft.functions.RetainGrad._
import graft.functions.Retain.{F, H, T, numTasks}

/** DuckDB oracle SQL for the RETAIN forward kernel (reference
  * `model.py:129-154`) — the round-7 answer to "the RNN recurrence has
  * no SQL form": it does, once the step count is a known constant. The
  * T=11 LSTM recurrence over both α/β cells is UNROLLED as 11 chained
  * CTEs of list math over the flat checkpointed weight vector
  * (q205's (idx,value) parquet, RetainGrad's documented layout), so the
  * oracle recomputes embed → reverse → LSTM×2 → attention-softmax →
  * β-gates → context → heads from first principles in pure SQL.
  *
  * Determinism: both engines run IEEE-754 double math in the same
  * association order (gate sums start from the bias and add terms in
  * ascending input index, mirroring `Retain.LstmCell.step`); the only
  * divergence is libm exp/tanh ulps (~1e-15 after 11 steps), while the
  * final round(·, 6) sits ≥1e-9 from every rounding boundary at the
  * gate SFs (measured: min margin 1.8e-9 at sf0.01) — so the hash
  * compare is exact in practice, the q199_holt_trend precedent extended
  * to a transcendental recurrence. DuckDB has no tanh; the oracle
  * inlines tanh(z) = 1 − 2/(e^{2z}+1).
  */
object RetainOracleSql {
  private val K = numTasks

  private def sig(z: String) = s"1.0/(1.0 + exp(-($z)))"
  private def th(z: String) = s"(1.0 - 2.0/(exp(2.0*($z))+1.0))"

  /** Flat-vector offsets of the non-cell parameters; the LSTM instance
    * mirrors RetainGrad's pack layout, the GRU instance the layout of
    * [[graft.functions.RetainGrad.packGru]].
    */
  private[operators] final case class Lay(offA: Int, offB: Int, offWAlpha: Int,
      offBAlpha: Int, offWBeta: Int, offBBeta: Int, offHeads: Int, offHeadB: Int)
  private[operators] val lstmLay =
    Lay(OffACell, OffBCell, OffWAlpha, OffBAlpha, OffWBeta, OffBBeta, OffHeads, OffHeadB)
  private val gruSz = 2 * (H * 2 * H) + 2 * H + 2 * (H * H) + H
  private val gruLay = {
    val offA = F * H; val offB = offA + gruSz
    val offWAlpha = offB + gruSz; val offBAlpha = offWAlpha + H
    val offWBeta = offBAlpha + 1; val offBBeta = offWBeta + H * H
    val offHeads = offBBeta + H; val offHeadB = offHeads + K * H
    Lay(offA, offB, offWAlpha, offBAlpha, offWBeta, offBBeta, offHeads, offHeadB)
  }

  /** g[j] = b[j] + Σ_i x_i·wx[i][j] + h_i·wh[i][j] for `nGates`·H gate
    * units of a cell packed at `base` (wx | wh | b, row-major).
    */
  private def gates(base: Int, x: String, h: String, nGates: Int): String = {
    val gH = nGates * H
    s"""list_transform(range($gH), j -> list_sum(list_prepend(
       |      w[$base + ${2 * H} * $gH + j + 1],
       |      list_transform(range($H), i -> $x[i+1]*w[$base + i*$gH + j + 1]
       |        + $h[i+1]*w[$base + $H*$gH + i*$gH + j + 1]))))""".stripMargin
  }

  /** CTE for reversed LSTM step `t` (1-based): consumes s{t-1}'s (c,h)
    * state for both cells, emits the new state plus the accumulated
    * per-step hidden sequences hAs/hBs. nc is computed one nesting
    * level down (nh references it); the input is the reversed embed
    * es[T-t+1]. Gate layout [i, j, f, o], forget bias 1.0
    * (`Retain.LstmCell.step`).
    */
  private def lstmStepCte(t: Int, lay: Lay): String = {
    val x = s"es[${T - t + 1}]"
    def nh(g: String, nc: String) =
      s"list_transform(range($H), k -> (${sig(s"$g[${3 * H}+k+1]")}) * ${th(s"$nc[k+1]")})"
    def nc(g: String, c: String) =
      s"list_transform(range($H), k -> (${sig(s"$g[${2 * H}+k+1]+1.0")})*$c[k+1] + (${sig(s"$g[k+1]")})*${th(s"$g[$H+k+1]")})"
    s"""s$t AS (
       |  SELECT user_id, es, w, ncA AS cA, ${nh("gA", "ncA")} AS hA,
       |    ncB AS cB, ${nh("gB", "ncB")} AS hB,
       |    list_append(hAs, ${nh("gA", "ncA")}) AS hAs,
       |    list_append(hBs, ${nh("gB", "ncB")}) AS hBs
       |  FROM (
       |    SELECT user_id, es, w, hAs, hBs, gA, gB, ${nc("gA", "cA")} AS ncA,
       |      ${nc("gB", "cB")} AS ncB
       |    FROM (
       |      SELECT user_id, es, w, cA, hA, cB, hB, hAs, hBs,
       |        ${gates(lay.offA, x, "hA", 4)} AS gA,
       |        ${gates(lay.offB, x, "hB", 4)} AS gB
       |      FROM s${t - 1})))""".stripMargin
  }

  /** CTE for reversed GRU step `t` (`Retain.GruCell.step`): gate layout
    * [r, u]; cand[j] = bC[j] + Σ_i x_i·wxC[i][j] + (σ(r_i)·h_i)·whC[i][j];
    * h' = u⊙h + (1−u)⊙tanh(cand). The GRU carries no cell state, but the
    * CTE keeps the cA/cB columns (as zeros) so both cell kinds share the
    * s0 seed and the column shape.
    */
  private def gruStepCte(t: Int, lay: Lay): String = {
    val x = s"es[${T - t + 1}]"
    def cand(base: Int, g: String, h: String): String =
      s"""list_transform(range($H), j -> list_sum(list_prepend(
         |      w[$base + ${2 * H * 2 * H + 2 * H + 2 * H * H} + j + 1],
         |      list_transform(range($H), i -> $x[i+1]*w[$base + ${2 * H * 2 * H + 2 * H} + i*$H + j + 1]
         |        + ((${sig(s"$g[i+1]")})*$h[i+1])*w[$base + ${2 * H * 2 * H + 2 * H + H * H} + i*$H + j + 1]))))""".stripMargin
    def nh(g: String, cd: String, h: String) =
      s"list_transform(range($H), k -> (${sig(s"$g[$H+k+1]")})*$h[k+1] + (1.0 - (${sig(s"$g[$H+k+1]")}))*${th(s"$cd[k+1]")})"
    s"""s$t AS (
       |  SELECT user_id, es, w, cA, ${nh("gA", "cdA", "hA")} AS hA,
       |    cB, ${nh("gB", "cdB", "hB")} AS hB,
       |    list_append(hAs, ${nh("gA", "cdA", "hA")}) AS hAs,
       |    list_append(hBs, ${nh("gB", "cdB", "hB")}) AS hBs
       |  FROM (
       |    SELECT user_id, es, w, cA, cB, hA, hB, hAs, hBs, gA, gB,
       |      ${cand(lay.offA, "gA", "hA")} AS cdA,
       |      ${cand(lay.offB, "gB", "hB")} AS cdB
       |    FROM (
       |      SELECT user_id, es, w, cA, hA, cB, hB, hAs, hBs,
       |        ${gates(lay.offA, x, "hA", 2)} AS gA,
       |        ${gates(lay.offB, x, "hB", 2)} AS gB
       |      FROM s${t - 1})))""".stripMargin
  }

  /** Shared pipeline: weights, the [T][F] grid (the cells
    * `RetainOps.base` sums for q76), embeds, the unrolled
    * recurrence, attention softmax and β-gates. Ends with CTEs
    * `alpha(user_id, es, w, hBs, aRev)` / `betas(.., aRev, bRev)` and
    * `ctxt(user_id, w, ctx)`.
    */
  /** The weight-vector + per-user [T][F] grid assembly CTEs (ends with
    * `grid(user_id, xs)` and `w0(w)`), shared with the f32 oracle
    * ([[RetainOracleSqlF32]]) — the data prep is precision-independent
    * (doubles straight from parquet); only the kernel math differs.
    */
  private[operators] def prepCtes(ckptGlob: String): String =
    s"""WITH w0 AS (
       |  SELECT list(value ORDER BY idx) AS w FROM read_parquet('$ckptGlob')),
       |feat AS (
       |  SELECT user_id, date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
       |    event_type, sum(value)/100.0 AS x
       |  FROM events
       |  WHERE ts < TIMESTAMP '2024-01-12 00:00:00'
       |    AND date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) BETWEEN 0 AND ${T - 1}
       |  GROUP BY 1, 2, 3),
       |typed AS (
       |  SELECT user_id, day,
       |    [coalesce(max(CASE WHEN event_type='click' THEN x END), 0.0),
       |     coalesce(max(CASE WHEN event_type='error' THEN x END), 0.0),
       |     coalesce(max(CASE WHEN event_type='purchase' THEN x END), 0.0),
       |     coalesce(max(CASE WHEN event_type='signup' THEN x END), 0.0),
       |     coalesce(max(CASE WHEN event_type='view' THEN x END), 0.0)] AS xv
       |  FROM feat GROUP BY user_id, day),
       |byuser AS (
       |  SELECT user_id, list(CAST(day AS BIGINT) ORDER BY day) AS days,
       |    list(xv ORDER BY day) AS xvs
       |  FROM typed GROUP BY user_id),
       |grid AS (
       |  SELECT user_id,
       |    list_transform(range($T), d ->
       |      CASE WHEN list_position(days, d) > 0 THEN xvs[list_position(days, d)]
       |           ELSE [0.0,0.0,0.0,0.0,0.0] END) AS xs
       |  FROM byuser)""".stripMargin

  private def pipeline(ckptGlob: String, lay: Lay,
      step: (Int, Lay) => String): String = {
    val zeros8 = s"list_transform(range($H), k -> 0.0)"
    s"""${prepCtes(ckptGlob)},
       |emb AS (
       |  SELECT user_id, w,
       |    list_transform(xs, xrow ->
       |      list_transform(range($H), j ->
       |        list_sum(list_transform(range($F), i -> xrow[i+1] * w[i*$H + j + 1])))) AS es
       |  FROM grid, w0),
       |s0 AS (
       |  SELECT user_id, es, w, $zeros8 AS cA, $zeros8 AS hA, $zeros8 AS cB,
       |    $zeros8 AS hB, CAST([] AS DOUBLE[][]) AS hAs, CAST([] AS DOUBLE[][]) AS hBs
       |  FROM emb),
       |${(1 to T).map(t => step(t, lay)).mkString(",\n")},
       |att AS (
       |  SELECT user_id, es, w, hAs, hBs,
       |    list_transform(hAs, hrow ->
       |      list_sum(list_prepend(w[${lay.offBAlpha}+1],
       |        list_transform(range($H), j -> hrow[j+1] * w[${lay.offWAlpha}+j+1])))) AS sc
       |  FROM s$T),
       |soft AS (
       |  SELECT user_id, es, w, hBs, list_transform(sc, x -> exp(x - list_max(sc))) AS ez
       |  FROM att),
       |alpha AS (
       |  SELECT user_id, es, w, hBs, list_transform(ez, x -> x / list_sum(ez)) AS aRev
       |  FROM soft),
       |betas AS (
       |  SELECT user_id, es, w, aRev,
       |    list_transform(hBs, hrow ->
       |      list_transform(range($H), j ->
       |        ${th(s"""list_sum(list_prepend(w[${lay.offBBeta}+j+1],
       |          list_transform(range($H), i -> hrow[i+1] * w[${lay.offWBeta}+i*$H+j+1])))""")})) AS bRev
       |  FROM alpha),
       |ctxt AS (
       |  SELECT user_id, w,
       |    list_transform(range($H), j ->
       |      list_sum(list_transform(range($T), t ->
       |        aRev[$T-t] * bRev[$T-t][j+1] * es[t+1][j+1]))) AS ctx
       |  FROM betas)""".stripMargin
  }

  /** Unrounded per-task head probabilities off `ctxt`. */
  private def prob(k: Int, lay: Lay): String =
    sig(s"list_sum(list_prepend(w[${lay.offHeadB}+${k + 1}], " +
      s"list_transform(range($H), j -> ctx[j+1]*w[${lay.offHeads}+${k * H}+j+1])))")

  /** q76 (and q203 with the GRU layout): per-user scores rounded to
    * 6 decimals. */
  private def scoresSql(ckptGlob: String, lay: Lay, step: (Int, Lay) => String): String =
    s"""${pipeline(ckptGlob, lay, step)}
       |SELECT user_id, ${(0 until K).map(k => s"round(${prob(k, lay)}, 6) AS p$k").mkString(", ")}
       |FROM ctxt ORDER BY user_id""".stripMargin

  def q76(ckptGlob: String): String = scoresSql(ckptGlob, lstmLay, lstmStepCte)

  /** q203: the GRU-fallback scores over [[graft.functions.RetainGrad.packGru]]'s
    * flat checkpoint layout. */
  def q203(ckptGlob: String): String = scoresSql(ckptGlob, gruLay, gruStepCte)

  /** q77: argmax attention step per user (ties → earliest step, the
    * first-position semantics of list_position on the exact max).
    */
  def q77(ckptGlob: String): String =
    s"""${pipeline(ckptGlob, lstmLay, lstmStepCte)},
       |alphaorig AS (
       |  SELECT user_id, list_transform(range($T), t -> aRev[$T-t]) AS al FROM alpha)
       |SELECT user_id, list_position(al, list_max(al)) - 1 AS top_step,
       |  round(list_max(al), 6) AS top_alpha
       |FROM alphaorig ORDER BY user_id""".stripMargin

  /** The recomputed LSTM-path probabilities p0..p2 joined to the
    * post-split labels y0..y2, with per-task mid-ranks mr0..mr2
    * (`probsu`, `labels`, `scoredy`, `ranked`): q78 and q254. */
  private def scoredRankedSql(ckptGlob: String): String = {
    val labelCols = Seq("purchase" -> "y0", "error" -> "y1", "signup" -> "y2")
      .map { case (t, y) =>
        s"max(CASE WHEN event_type='$t' AND value > 140.0 THEN 1.0 ELSE 0.0 END) AS $y"
      }.mkString(",\n    ")
    s"""${pipeline(ckptGlob, lstmLay, lstmStepCte)},
       |probsu AS (
       |  SELECT user_id, ${(0 until K).map(k => s"${prob(k, lstmLay)} AS p$k").mkString(", ")} FROM ctxt),
       |labels AS (
       |  SELECT user_id,
       |    $labelCols
       |  FROM events WHERE ts >= TIMESTAMP '2024-01-12 00:00:00' GROUP BY user_id),
       |scoredy AS (
       |  SELECT p.user_id, ${(0 until K).map(k => s"p.p$k").mkString(", ")},
       |    ${(0 until K).map(k => s"coalesce(l.y$k, 0.0) AS y$k").mkString(", ")}
       |  FROM probsu p LEFT JOIN labels l USING (user_id)),
       |ranked AS (
       |  SELECT *,
       |    ${(0 until K).map(k =>
           s"rank() OVER (ORDER BY p$k) + (count(*) OVER (PARTITION BY p$k) - 1)/2.0 AS mr$k")
           .mkString(",\n    ")}
       |  FROM scoredy)""".stripMargin
  }

  /** q78: per-task accuracy@0.5 / mean CE / exact mid-rank AUC over the
    * UNROUNDED probabilities joined to the post-split labels — the same
    * metric formulas as the q20/q21 oracles.
    */
  def q78(ckptGlob: String): String = {
    def taskSel(k: Int): String =
      s"""SELECT $k AS task,
         |  round(100.0*avg(CASE WHEN (p$k >= 0.5) = (y$k = 1.0) THEN 1.0 ELSE 0.0 END), 4) AS acc_pct,
         |  round(avg(-(y$k*ln(p$k) + (1.0-y$k)*ln(1.0-p$k))), 6) AS ce,
         |  round((sum(CASE WHEN y$k = 1.0 THEN mr$k END) - sum(y$k)*(sum(y$k)+1)/2.0)
         |    / (sum(y$k)*sum(1.0-y$k)), 6) AS auc
         |FROM ranked""".stripMargin
    s"""${scoredRankedSql(ckptGlob)}
       |${(0 until K).map(taskSel).mkString("\nUNION ALL\n")}
       |ORDER BY task""".stripMargin
  }

  /** q254: per-task exact mid-rank AUC vs the 200-bucket histogram AUC
    * (`tf.metrics.auc`'s `num_thresholds` approximation, `model.py:157`)
    * over the same recomputed scores. Bucket counts and mid-rank sums
    * are all half-integers (exactly representable, order-free double
    * sums), so both AUCs — and the |approx − exact| gap — hash-match
    * the engine bit-for-bit; PropertySpec guards the bin-boundary
    * margin of the UNROUNDED probabilities.
    */
  def q254(ckptGlob: String, bins: Int): String = {
    def taskCtes(k: Int): String =
      s"""bins$k AS (
         |  SELECT least(CAST(floor(p$k * $bins) AS INT), ${bins - 1}) AS bin,
         |    count_if(y$k = 1.0) AS pos, count_if(y$k = 0.0) AS neg
         |  FROM scoredy GROUP BY 1),
         |cum$k AS (
         |  SELECT pos, neg,
         |    coalesce(sum(neg) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_neg
         |  FROM bins$k),
         |aucb$k AS (
         |  SELECT sum(pos*cum_neg + 0.5*pos*neg) / (sum(pos) * sum(neg)) AS ab
         |  FROM cum$k),
         |auce$k AS (
         |  SELECT (sum(CASE WHEN y$k = 1.0 THEN mr$k END) - sum(y$k)*(sum(y$k)+1)/2.0)
         |    / (sum(y$k)*sum(1.0-y$k)) AS ae
         |  FROM ranked)""".stripMargin
    def taskSel(k: Int): String =
      s"""SELECT $k AS task, round(e.ae, 6) AS auc_exact, round(a.ab, 6) AS auc_b$bins,
         |  round(abs(a.ab - e.ae), 6) AS approx_err
         |FROM auce$k e CROSS JOIN aucb$k a""".stripMargin
    s"""${scoredRankedSql(ckptGlob)},
       |${(0 until K).map(taskCtes).mkString(",\n")}
       |${(0 until K).map(taskSel).mkString("\nUNION ALL\n")}
       |ORDER BY task""".stripMargin
  }
}
