package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.Kernels
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Tensor/array-column kernels (SURVEY.md §2.B M3, reference ops
  * R7/R9/R12-R17): per-step embedding matmul, reverse-time axis, softmax
  * over a sequence, tanh gate, attention-weighted context reduction, and
  * vector norms — expressed as Spark higher-order-function Column
  * expressions (codegen'd, no UDF, no shuffle: every kernel is a narrow
  * per-row map that fuses into the scan).
  *
  * All weight matrices/vectors are deterministic rational literals
  * generated from index formulas, embedded identically into the DuckDB
  * oracle SQL — so the "neural" arithmetic itself is hash-verified
  * across engines.
  */
object Tensor {
  import CausalOps.r6

  /** 64→4 projection matrix V (reference R7 `e_t = x_t · V`,
    * `model.py:119`): exact decimal literals from an index formula.
    */
  private val projV: Array[Array[Double]] =
    Array.tabulate(64, 4)((i, j) => ((i * 7 + j * 13) % 11 - 5) / 10.0)

  /** Fixed attention weights α over 8 positions (rows R13's softmax
    * output shape) — positive, sums to 1 exactly in binary (/16ths).
    */
  private val alpha: Array[Double] =
    Array(1, 1, 2, 2, 3, 3, 2, 2).map(_ / 16.0)

  private def dcol = col("embedding").cast("array<double>")

  val defs: Seq[QueryDef] = Seq(

    /** R7/R12/R16 vec·mat projection: 64-dim embedding × literal 64×4
      * matrix → 4 projected features per row.
      */
    QueryDef(
      "q72_vecmat_project", {
        val cols = (0 until 4).map { j =>
          val terms = (0 until 64)
            .map(i => s"embedding[${i + 1}]::DOUBLE * (${projV(i)(j)})")
            .mkString(" + ")
          s"round($terms, 6) AS p$j"
        }.mkString(",\n        |  ")
        s"""SELECT vec_id,
           |  $cols
           |FROM embeddings WHERE vec_id % 10 = 0
           |ORDER BY vec_id""".stripMargin
      }) { (s, d) =>
      val proj = Kernels.vecMat(dcol, projV)
      Tables.embeddings(s, d)
        .where(col("vec_id") % 10 === 0)
        .select(col("vec_id") +:
          (0 until 4).map(j => r6(element_at(proj, j + 1)).as(s"p$j")): _*)
        .orderBy("vec_id")
    },

    /** R13 softmax over the sequence axis + R14 tanh gate, on the first
      * 8 elements: numerically-stable exp(x-max)/Σ, elementwise tanh,
      * exploded to (vec_id, pos) rows for the hash compare.
      */
    QueryDef(
      "q73_softmax_tanh",
      """WITH sl AS (
        |  SELECT vec_id, list_transform(embedding[1:8], x -> x::DOUBLE) AS v
        |  FROM embeddings WHERE vec_id % 25 = 0),
        |mx AS (
        |  SELECT vec_id, v, list_reduce(v, (a, b) -> CASE WHEN b > a THEN b ELSE a END) AS m
        |  FROM sl),
        |ex AS (
        |  SELECT vec_id, v, list_transform(v, x -> exp(x - m)) AS e FROM mx),
        |sm AS (
        |  SELECT vec_id, v, e, list_reduce(e, (a, b) -> a + b) AS se FROM ex)
        |SELECT vec_id, i - 1 AS pos,
        |  round(ev / se, 6) AS attn,
        |  round((exp(2*xv)-1)/(exp(2*xv)+1), 6) AS gate
        |FROM (
        |  SELECT vec_id, se,
        |    unnest(list_transform(e, (x, ix) -> {'ev': x, 'i': ix}), recursive := true),
        |    unnest(v) AS xv
        |  FROM sm) t
        |ORDER BY vec_id, pos""".stripMargin) { (s, d) =>
      val v = transform(slice(dcol, 1, 8), x => x)
      val m = aggregate(v, lit(Double.MinValue), (a, b) => when(b > a, b).otherwise(a))
      Tables.embeddings(s, d)
        .where(col("vec_id") % 25 === 0)
        .select(col("vec_id"), v.as("v"), m.as("m"))
        .withColumn("e", transform(col("v"), x => exp(x - col("m"))))
        .withColumn("se", aggregate(col("e"), lit(0.0), (a, b) => a + b))
        .select(col("vec_id"), col("se"), col("v"),
          posexplode(col("e")).as(Seq("i", "ev")))
        .select(col("vec_id"), col("i").as("pos"),
          r6(col("ev") / col("se")).as("attn"),
          r6(tanh(element_at(col("v"), col("i") + 1))).as("gate"))
        .orderBy("vec_id", "pos")
    },

    /** R9 reverse-time + R15 attention-weighted context: reverse the
      * 8-step prefix, contract with fixed α weights → one context
      * scalar per row (the reduction that feeds the output head R16).
      */
    QueryDef(
      "q74_reverse_context", {
        val alphaSql = alpha.mkString("[", ", ", "]::DOUBLE[]")
        s"""SELECT vec_id, label,
           |  round(list_dot_product(
           |    list_reverse(list_transform(embedding[1:8], x -> x::DOUBLE)),
           |    $alphaSql), 6) AS context,
           |  round(embedding[8]::DOUBLE, 6) AS rev_first
           |FROM embeddings WHERE vec_id % 10 = 0
           |ORDER BY vec_id""".stripMargin
      }) { (s, d) =>
      val rev = reverse(slice(dcol, 1, 8))
      Tables.embeddings(s, d)
        .where(col("vec_id") % 10 === 0)
        .select(col("vec_id"), col("label"),
          r6(Kernels.arrayDot(rev, array(alpha.map(lit): _*))).as("context"),
          r6(element_at(rev, 1)).as("rev_first"))
        .orderBy("vec_id")
    },

    /** R22/R24 norms + cosine as per-row kernels then a grouped
      * aggregate: avg L1/L2 norm and avg cosine-to-centroid-axis per
      * label (the norm penalties of the AMTL objective,
      * `model.py:178-181`, in relational form).
      */
    QueryDef(
      "q75_array_norms",
      """WITH n AS (
        |  SELECT label,
        |    list_reduce(list_transform(embedding, x -> abs(x::DOUBLE)), (a,b) -> a+b) AS l1,
        |    sqrt(list_reduce(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE), (a,b) -> a+b)) AS l2,
        |    list_reduce(list_transform(embedding, x -> x::DOUBLE), (a,b) -> a+b) AS ssum
        |  FROM embeddings)
        |SELECT label,
        |  round(avg(l1), 6) AS avg_l1,
        |  round(avg(l2), 6) AS avg_l2,
        |  round(avg(ssum / l2), 6) AS avg_sum_over_l2,
        |  count(*) AS n
        |FROM n GROUP BY label ORDER BY label""".stripMargin) { (s, d) =>
      val l1 = aggregate(dcol, lit(0.0), (a, b) => a + abs(b))
      val l2 = Kernels.arrayNorm(dcol)
      val ssum = aggregate(dcol, lit(0.0), (a, b) => a + b)
      Tables.embeddings(s, d)
        .select(col("label"), l1.as("l1"), l2.as("l2"), ssum.as("ssum"))
        .groupBy("label")
        .agg(r6(avg(col("l1"))).as("avg_l1"),
          r6(avg(col("l2"))).as("avg_l2"),
          r6(avg(col("ssum") / col("l2"))).as("avg_sum_over_l2"),
          count(lit(1)).as("n"))
        .orderBy("label")
    }
  )
}
