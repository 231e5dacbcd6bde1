package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Snap a double to the smallest element of a SORTED edge array that is
  * >= the value (+∞ when the value exceeds every edge) — the quantile
  * discretization step of the binned numeric split search
  * (C45Params.maxBins). Binary search over a per-query constant edge
  * array, codegen'd: O(log maxBins) compares per row instead of the
  * O(maxBins) per-row lambda filter a higher-order-function
  * formulation would cost. Snapping preserves split semantics exactly:
  * snap(v) <= e ⟺ v <= e for every edge e, under Spark's ordering —
  * NaN is greater than every number, so it snaps to +∞ like a value
  * above every edge, and the fit counts NaN rows on the `>` side
  * where serving routes them. */
case class SortedCeilSnap(child: Expression, edges: Array[Double])
  extends UnaryExpression {

  require(edges.nonEmpty, "edges must be non-empty")
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_snap"

  private def snap(v: Double): Double = {
    var lo = if (v.isNaN) edges.length else 0 // NaN: above every edge
    var hi = edges.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (edges(mid) < v) lo = mid + 1 else hi = mid
    }
    if (lo == edges.length) Double.PositiveInfinity else edges(lo)
  }

  override protected def nullSafeEval(v: Any): Any =
    snap(v.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val e = ctx.addReferenceObj("edges", edges, "double[]")
      val lo = ctx.freshName("lo"); val hi = ctx.freshName("hi")
      val mid = ctx.freshName("mid")
      s"""
         |int $lo = Double.isNaN($v) ? $e.length : 0; int $hi = $e.length;
         |while ($lo < $hi) {
         |  int $mid = ($lo + $hi) >>> 1;
         |  if ($e[$mid] < $v) { $lo = $mid + 1; } else { $hi = $mid; }
         |}
         |${ev.value} = ($lo == $e.length) ? Double.POSITIVE_INFINITY : $e[$lo];
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SortedCeilSnap {
  def snapTo(edges: Array[Double], c: Column): Column =
    ColumnBridge.column(SortedCeilSnap(ColumnBridge.expression(c), edges))
}
