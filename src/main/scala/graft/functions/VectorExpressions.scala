package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.GraftColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expressions for the similarity-search hot path
  * (SURVEY.md §7 / builder preference order (b): a custom `Expression`
  * where built-ins can't express the op efficiently).
  *
  * The composable alternative — `aggregate(zip_with(a,b,_*_),0,_+_)` —
  * is a higher-order function chain, which Spark evaluates interpreted
  * (CodegenFallback) and which allocates an intermediate array per row.
  * At ANN scale (|queries|×|corpus| rows) that interpretation dominates
  * the query. These expressions generate a tight primitive loop inside
  * whole-stage codegen: no allocation, no virtual calls.
  *
  * Inputs must be non-null-element `array<double>` (cast float
  * embeddings with `.cast("array<double>")`). Summation is
  * left-to-right, matching both the higher-order form and the DuckDB
  * oracle.
  */
object VectorExpressions {

  case class DotProduct(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "vec_dot"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var s = 0.0
      var i = 0
      while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      // fresh names: with non-nullable children, nullSafeCodeGen inlines
      // this block unbraced — fixed locals would collide with a second
      // instance of the expression in the same generated method
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $acc = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $acc += $a.getDouble($i) * $b.getDouble($i);
           |}
           |${ev.value} = $acc;
         """.stripMargin)
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Cosine similarity in one pass: dot, |a|², |b|² in a single loop. */
  case class CosineSimilarity(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "vec_cosine"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val xv = x.getDouble(i); val yv = y.getDouble(i)
        dot += xv * yv; na += xv * xv; nb += yv * yv
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      // fresh names for the same unbraced-inline reason as DotProduct
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $dot = 0.0, $na = 0.0, $nb = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $xv = $a.getDouble($i);
           |  double $yv = $b.getDouble($i);
           |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
           |}
           |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         """.stripMargin)
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Column wrappers via the classic Expression↔Column bridge: they
    * work on any session, and the SQL names `vec_dot` / `vec_cosine`
    * come only from [[GraftExtensions]].
    */
  def vecDot(a: Column, b: Column): Column = GraftColumnBridge.column(
    DotProduct(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  def vecCosine(a: Column, b: Column): Column = GraftColumnBridge.column(
    CosineSimilarity(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
}
