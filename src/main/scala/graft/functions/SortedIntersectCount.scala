package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Native Catalyst expression: intersection size of two SORTED
  * bigint arrays by linear merge.
  *
  * This is the hot inner loop of every pairwise set-similarity verify
  * (q62 blocked Jaccard, q71 LSH candidate verify): `array_intersect`
  * builds a hash set per PAIR — O(n) allocation × millions of pairs —
  * while a merge over pre-sorted arrays (sorted once per ROW upstream)
  * allocates nothing and stays in whole-stage codegen. Caller contract:
  * both inputs ascending-sorted and duplicate-free, as produced by
  * `array_sort(array_distinct(...))`.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_count"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"sorted_intersect_count requires (array<bigint>, array<bigint>), got ($l, $r)")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var c = 0
    val n = x.numElements(); val m = y.numElements()
    while (i < n && j < m) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c"); val n = ctx.freshName("n")
      val m = ctx.freshName("m"); val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $i = 0, $j = 0, $c = 0;
         |final int $n = $a.numElements();
         |final int $m = $b.numElements();
         |while ($i < $n && $j < $m) {
         |  final long $xv = $a.getLong($i);
         |  final long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $c++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectCount {
  /** Jaccard similarity |a ∩ b| / |a ∪ b| of two ascending,
    * duplicate-free arrays: the expression's linear merge on the JVM
    * arrays of a typed pair loop (q62, q225), allocating nothing.
    */
  def jaccard(a: Array[Long], b: Array[Long]): Double = {
    var i = 0; var j = 0; var c = 0
    while (i < a.length && j < b.length) {
      val av = a(i); val bv = b(j)
      if (av == bv) { c += 1; i += 1; j += 1 }
      else if (av < bv) i += 1
      else j += 1
    }
    c.toDouble / (a.length + b.length - c)
  }

  /** Register `sorted_intersect_count` in the session function registry
    * (idempotent); also shipped via [[graft.GraftExtensions]].
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    val ident = FunctionIdentifier("sorted_intersect_count")
    if (!registry.functionExists(ident)) {
      registry.registerFunction(
        ident,
        new ExpressionInfo(classOf[SortedIntersectCount].getName, "sorted_intersect_count"),
        (children: Seq[Expression]) => {
          require(children.length == 2,
            "sorted_intersect_count(a, b) takes exactly 2 arguments")
          SortedIntersectCount(children.head, children(1))
        })
    }
  }
}
