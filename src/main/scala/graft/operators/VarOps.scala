package graft.operators

import graft.QueryDef
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Round-9 flagship upgrade of the Granger family: a PROPER two-lag
  * VAR Granger causality F-test (q230 is the one-lag "lite" form).
  * For each screened directed pair (x → y), regress
  * y_t ~ [1, y_{t−1}, y_{t−2}, x_{t−1}, x_{t−2}] and test the joint
  * null β_x1 = β_x2 = 0 against the restricted AR(2).
  *
  * The solver is an UNROLLED Gaussian-elimination sweep on the
  * augmented moment matrix [X'X, X'y; y'X, y'y]: eliminating variable
  * k leaves in the y'y cell the SSE of regressing y on variables
  * 1..k — so ONE five-stage sweep yields TSS (after the intercept),
  * the restricted SSE (after the two y-lags) and the unrestricted SSE
  * (after all five), with no explicit inverse, determinant, or
  * coefficient vector. Every stage is plain arithmetic on named moment
  * columns, and the generated expression STRINGS are shared verbatim
  * between the Spark plan (selectExpr) and the DuckDB oracle (chained
  * CTEs), so both engines execute the identical IEEE operation
  * sequence on identical decimal-summed moments — the RetainOracleSql
  * discipline applied to linear algebra.
  *
  * Scale: pairs come from the q251 screen (P·m, never P²); the moment
  * aggregate is the only pass over the grid; the sweep is O(1) column
  * math per pair row. Degenerate pivots null out via nullif and
  * propagate to a NULL F — identically on both engines.
  */
object VarOps {
  import CausalOps.{daily, dailySql, dsum, r6, screenSql}

  /** Sweep stage k: eliminate variable k from the trailing block.
    * Returns (carried, updated) expression lists; names a_ij keep the
    * upper triangle of the symmetric moment matrix. */
  private def stage(k: Int, extras: Seq[String]): Seq[String] = {
    val updated = (for (i <- (k + 1) to 5; j <- i to 5)
      yield s"a$i$j - a$k$i * a$k$j / nullif(a$k$k, 0) AS a$i$j") ++
      ((k + 1) to 5).map(i => s"c$i - a$k$i * c$k / nullif(a$k$k, 0) AS c$i") :+
      s"syy - c$k * c$k / nullif(a$k$k, 0) AS syy"
    Seq("src", "dst", "n") ++ extras ++ updated
  }

  /** The five stage column lists (shared by both dialects). TSS is
    * captured after the intercept stage, SSE_r after the y-lag stages. */
  private val stages: Seq[Seq[String]] = Seq(
    stage(1, Nil),
    stage(2, Seq("syy AS tss")),
    stage(3, Seq("tss")),
    stage(4, Seq("tss", "syy AS sse_r")),
    stage(5, Seq("tss", "sse_r")))

  private val finalCols = Seq(
    "src", "dst", "CAST(n AS BIGINT) AS n_days",
    "round(1 - sse_r / nullif(tss, 0), 6) AS ar2_r2",
    "round(1 - syy / nullif(tss, 0), 6) AS var2_r2",
    "round(((sse_r - syy) / 2) / nullif(syy / (n - 5), 0), 6) AS fstat")

  // ---- q325: VAR(1) coefficient matrix + impulse responses ----------
  // Per screened pair, both VAR(1) equations (x_t and y_t on the lagged
  // pair state) solved in closed form via 2×2 Cramer on the CENTERED
  // lag Gram; the companion matrix A then unrolls to A² and A³ so the
  // x→y dynamic multiplier at horizons 1-3 and the stability radius
  // are plain column arithmetic. The COEFFICIENT/dynamics complement
  // of q300's SSE-only F-test sweep. Stage strings shared verbatim
  // between selectExpr and the oracle CTEs (the house discipline).

  private val irfCm: Seq[String] = Seq(
    "src", "dst", "n",
    "sxlxl - sxl * sxl / n AS gxx",
    "sxlyl - sxl * syl / n AS gxy",
    "sylyl - syl * syl / n AS gyy",
    "sxlxt - sxl * sxt / n AS rxx",
    "sylxt - syl * sxt / n AS ryx",
    "sxlyt - sxl * syt / n AS rxy",
    "sylyt - syl * syt / n AS ryy")

  private val irfSolve: Seq[String] = Seq(
    "src", "dst", "n",
    "(rxx * gyy - gxy * ryx) / nullif(gxx * gyy - gxy * gxy, 0) AS a11",
    "(gxx * ryx - gxy * rxx) / nullif(gxx * gyy - gxy * gxy, 0) AS a12",
    "(rxy * gyy - gxy * ryy) / nullif(gxx * gyy - gxy * gxy, 0) AS a21",
    "(gxx * ryy - gxy * rxy) / nullif(gxx * gyy - gxy * gxy, 0) AS a22")

  private val irfPow: Seq[String] = Seq(
    "src", "dst", "n", "a11", "a12", "a21", "a22",
    "a21 * a11 + a22 * a21 AS b21",
    "a21 * a12 + a22 * a22 AS b22",
    "a11 * a11 + a12 * a21 AS b11",
    "a11 * a12 + a12 * a22 AS b12")

  private val irfOut: Seq[String] = Seq(
    "src", "dst", "CAST(n AS BIGINT) AS n_days",
    "round(a11, 6) AS a_xx", "round(a12, 6) AS a_xy",
    "round(a21, 6) AS a_yx", "round(a22, 6) AS a_yy",
    "round(a21, 6) AS irf1_yx",
    "round(b21, 6) AS irf2_yx",
    "round(b21 * a11 + b22 * a21, 6) AS irf3_yx",
    // spectral radius of A: real case max|eig|, complex case sqrt(det)
    "round(CASE WHEN (a11 + a22) * (a11 + a22) / 4.0 - (a11 * a22 - a12 * a21) >= 0" +
      " THEN greatest(abs((a11 + a22) / 2.0 + sqrt((a11 + a22) * (a11 + a22) / 4.0 - (a11 * a22 - a12 * a21)))," +
      "               abs((a11 + a22) / 2.0 - sqrt((a11 + a22) * (a11 + a22) / 4.0 - (a11 * a22 - a12 * a21))))" +
      " ELSE sqrt(a11 * a22 - a12 * a21) END, 6) AS spec_radius",
    "CAST(round(CASE WHEN (a11 + a22) * (a11 + a22) / 4.0 - (a11 * a22 - a12 * a21) >= 0" +
      " THEN greatest(abs((a11 + a22) / 2.0 + sqrt((a11 + a22) * (a11 + a22) / 4.0 - (a11 * a22 - a12 * a21)))," +
      "               abs((a11 + a22) / 2.0 - sqrt((a11 + a22) * (a11 + a22) / 4.0 - (a11 * a22 - a12 * a21))))" +
      " ELSE sqrt(a11 * a22 - a12 * a21) END, 6) < 1.0 AS INT) AS stable")

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q300_var2_granger", {
        val sweep = stages.zipWithIndex.map { case (cols, i) =>
          s"sw${i + 1} AS (SELECT ${cols.mkString(", ")} FROM ${if (i == 0) "mom" else s"sw$i"})"
        }.mkString(",\n")
        s"""WITH $dailySql,
           |$screenSql,
           |pairs AS (
           |  SELECT src, dst FROM surv
           |  UNION ALL SELECT dst, src FROM surv),
           |gr AS (
           |  SELECT p.src, p.dst, y.di,
           |    y.v AS yt, y1.v AS z2, y2.v AS z3, x1.v AS z4, x2.v AS z5
           |  FROM pairs p
           |  JOIN daily y ON y.el = p.dst
           |  JOIN daily y1 ON y1.el = p.dst AND y1.di = y.di - 1
           |  JOIN daily y2 ON y2.el = p.dst AND y2.di = y.di - 2
           |  JOIN daily x1 ON x1.el = p.src AND x1.di = y.di - 1
           |  JOIN daily x2 ON x2.el = p.src AND x2.di = y.di - 2),
           |mom AS (
           |  SELECT src, dst, CAST(count(*) AS DOUBLE) AS n,
           |    CAST(count(*) AS DOUBLE) AS a11,
           |    ${(2 to 5).map(j =>
              s"CAST(sum(CAST(z$j AS DECIMAL(38,12))) AS DOUBLE) AS a1$j").mkString(",\n    ")},
           |    ${(for (i <- 2 to 5; j <- i to 5) yield
              s"CAST(sum(CAST(z$i * z$j AS DECIMAL(38,12))) AS DOUBLE) AS a$i$j").mkString(",\n    ")},
           |    CAST(sum(CAST(yt AS DECIMAL(38,12))) AS DOUBLE) AS c1,
           |    ${(2 to 5).map(i =>
              s"CAST(sum(CAST(z$i * yt AS DECIMAL(38,12))) AS DOUBLE) AS c$i").mkString(",\n    ")},
           |    CAST(sum(CAST(yt * yt AS DECIMAL(38,12))) AS DOUBLE) AS syy
           |  FROM gr GROUP BY 1, 2 HAVING count(*) >= 8),
           |$sweep
           |SELECT ${finalCols.mkString(", ")}
           |FROM sw5 ORDER BY src, dst""".stripMargin
      }) { (s, d) =>
      val g = daily(s, d)
      val pc = CausalOps.screen(s, d).select(col("src"), col("dst"))
      val pairs = pc.unionByName(pc.select(col("dst").as("src"), col("src").as("dst")))
      def gsel(alias: String, out: String) =
        g.select(col("el").as(s"${alias}_el"), col("di").as(s"${alias}_di"),
          col("v").as(out))
      val y = g.select(col("el").as("yel"), col("di"), col("v").as("yt"))
      val grid = pairs
        .join(y, col("yel") === col("dst"))
        .join(gsel("l1", "z2"),
          col("l1_el") === col("dst") && col("l1_di") === col("di") - 1)
        .join(gsel("l2", "z3"),
          col("l2_el") === col("dst") && col("l2_di") === col("di") - 2)
        .join(gsel("x1", "z4"),
          col("x1_el") === col("src") && col("x1_di") === col("di") - 1)
        .join(gsel("x2", "z5"),
          col("x2_el") === col("src") && col("x2_di") === col("di") - 2)
        .select(col("src"), col("dst"), col("yt"),
          col("z2"), col("z3"), col("z4"), col("z5"))
      val momCols: Seq[Column] =
        Seq(count(lit(1)).cast("double").as("n"),
          count(lit(1)).cast("double").as("a11")) ++
          (2 to 5).map(j => dsum(col(s"z$j")).as(s"a1$j")) ++
          (for (i <- 2 to 5; j <- i to 5)
            yield dsum(col(s"z$i") * col(s"z$j")).as(s"a$i$j")) ++
          Seq(dsum(col("yt")).as("c1")) ++
          (2 to 5).map(i => dsum(col(s"z$i") * col("yt")).as(s"c$i")) ++
          Seq(dsum(col("yt") * col("yt")).as("syy"))
      val mom = grid.groupBy("src", "dst")
        .agg(momCols.head, momCols.tail: _*)
        .where(col("n") >= 8)
      val swept = stages.foldLeft(mom)((df, cols) => df.selectExpr(cols: _*))
      swept.selectExpr(finalCols: _*).orderBy("src", "dst")
    },

    /** VAR(1) companion matrix + impulse responses per screened pair:
      * A from both closed-form OLS equations, the x→y dynamic
      * multiplier [Aʰ]₂₁ at horizons 1-3, and the stability radius.
      * One day-join moment aggregate per pair; everything downstream is
      * shared-string column arithmetic (zero extra passes). */
    QueryDef(
      "q325_var_irf",
      s"""WITH $dailySql,
         |$screenSql,
         |gr AS (
         |  SELECT v.src, v.dst, x.v AS xt, y.v AS yt, xl.v AS xlag, yl.v AS ylag
         |  FROM surv v
         |  JOIN daily x ON x.el = v.src
         |  JOIN daily y ON y.el = v.dst AND y.di = x.di
         |  JOIN daily xl ON xl.el = v.src AND xl.di = x.di - 1
         |  JOIN daily yl ON yl.el = v.dst AND yl.di = x.di - 1),
         |mom AS (
         |  SELECT src, dst, CAST(count(*) AS DOUBLE) AS n,
         |    CAST(sum(CAST(xlag AS DECIMAL(38,12))) AS DOUBLE) AS sxl,
         |    CAST(sum(CAST(ylag AS DECIMAL(38,12))) AS DOUBLE) AS syl,
         |    CAST(sum(CAST(xt AS DECIMAL(38,12))) AS DOUBLE) AS sxt,
         |    CAST(sum(CAST(yt AS DECIMAL(38,12))) AS DOUBLE) AS syt,
         |    CAST(sum(CAST(xlag * xlag AS DECIMAL(38,12))) AS DOUBLE) AS sxlxl,
         |    CAST(sum(CAST(xlag * ylag AS DECIMAL(38,12))) AS DOUBLE) AS sxlyl,
         |    CAST(sum(CAST(ylag * ylag AS DECIMAL(38,12))) AS DOUBLE) AS sylyl,
         |    CAST(sum(CAST(xlag * xt AS DECIMAL(38,12))) AS DOUBLE) AS sxlxt,
         |    CAST(sum(CAST(ylag * xt AS DECIMAL(38,12))) AS DOUBLE) AS sylxt,
         |    CAST(sum(CAST(xlag * yt AS DECIMAL(38,12))) AS DOUBLE) AS sxlyt,
         |    CAST(sum(CAST(ylag * yt AS DECIMAL(38,12))) AS DOUBLE) AS sylyt
         |  FROM gr GROUP BY 1, 2 HAVING count(*) >= 8),
         |cm AS (SELECT ${irfCm.mkString(", ")} FROM mom),
         |sv AS (SELECT ${irfSolve.mkString(", ")} FROM cm),
         |pw AS (SELECT ${irfPow.mkString(", ")} FROM sv)
         |SELECT ${irfOut.mkString(", ")} FROM pw ORDER BY src, dst""".stripMargin) { (s, d) =>
      val g = daily(s, d)
      val surv = CausalOps.screen(s, d).select(col("src"), col("dst"))
      def gsel(alias: String, out: String) =
        g.select(col("el").as(s"${alias}_el"), col("di").as(s"${alias}_di"),
          col("v").as(out))
      val gr = surv
        .join(g.select(col("el").as("xel"), col("di"), col("v").as("xt")),
          col("xel") === col("src"))
        .join(gsel("y", "yt"),
          col("y_el") === col("dst") && col("y_di") === col("di"))
        .join(gsel("xl", "xlag"),
          col("xl_el") === col("src") && col("xl_di") === col("di") - 1)
        .join(gsel("yl", "ylag"),
          col("yl_el") === col("dst") && col("yl_di") === col("di") - 1)
        .select(col("src"), col("dst"), col("xt"), col("yt"), col("xlag"), col("ylag"))
      val mom = gr.groupBy("src", "dst")
        .agg(count(lit(1)).cast("double").as("n"),
          dsum(col("xlag")).as("sxl"), dsum(col("ylag")).as("syl"),
          dsum(col("xt")).as("sxt"), dsum(col("yt")).as("syt"),
          dsum(col("xlag") * col("xlag")).as("sxlxl"),
          dsum(col("xlag") * col("ylag")).as("sxlyl"),
          dsum(col("ylag") * col("ylag")).as("sylyl"),
          dsum(col("xlag") * col("xt")).as("sxlxt"),
          dsum(col("ylag") * col("xt")).as("sylxt"),
          dsum(col("xlag") * col("yt")).as("sxlyt"),
          dsum(col("ylag") * col("yt")).as("sylyt"))
        .where(col("n") >= 8)
      mom.selectExpr(irfCm: _*)
        .selectExpr(irfSolve: _*)
        .selectExpr(irfPow: _*)
        .selectExpr(irfOut: _*)
        .orderBy("src", "dst")
    }
  )
}
