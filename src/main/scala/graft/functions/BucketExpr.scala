package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** The bucket index of a double against sorted edges, shared by the
  * interpreted and the generated path of [[BucketIndexExpr]]. */
object Buckets {

  /** The count of `edges` that are <= `v` under Spark SQL's double order
    * (`SQLOrderingUtil.compareDoubles`: -0.0 equals 0.0, NaN equals NaN
    * and sorts above every other value), by binary search. `edges` must
    * be ascending under that order; [[bucketIndex]] sorts them. */
  def countAtOrBelow(v: Double, edges: Array[Double]): Long = {
    var lo = 0; var hi = edges.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (SQLOrderingUtil.compareDoubles(v, edges(mid)) >= 0) lo = mid + 1 else hi = mid
    }
    lo.toLong
  }

  /** The bucket index of `v`: the count of `edges` <= v, and 0 for NULL —
    * the value of `edges.map(e => when(v >= e, 1).otherwise(0)).reduce(_ + _)`
    * cast to long, as one expression. */
  def bucketIndex(v: Column, edges: Array[Double]): Column = {
    val sorted = edges.clone()
    java.util.Arrays.sort(sorted) // Double.compare: ascending under compareDoubles too
    GraftBridge.column(BucketIndexExpr(GraftBridge.expression(v), sorted))
  }
}

/**
 * [[Buckets.bucketIndex]] as one codegen'd expression. The edges ride in
 * the generated object's `references` and the search is a loop, so the
 * generated method stays the same small size for any number of edges: a
 * sum of one `when` per edge grew by 255 terms per z-order dimension, and
 * at 8 dimensions the projection's method passed the JVM's 64 KB limit
 * and its stage fell back from whole-stage codegen. A NULL input is
 * bucket 0 and the result is never NULL.
 */
case class BucketIndexExpr(child: Expression, edges: Array[Double])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft bucket index needs a double input, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  // array-typed constructor params need value equality (the PqEncodeExpr
  // precedent)
  override def equals(other: Any): Boolean = other match {
    case BucketIndexExpr(c, e) => c == child && java.util.Arrays.equals(e, edges)
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child, Int.box(java.util.Arrays.hashCode(edges)))

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0L else Buckets.countAtOrBelow(v.asInstanceOf[Double], edges)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val edgesRef = ctx.addReferenceObj("edges", edges, "double[]")
    ev.copy(code = code"""
      ${c.code}
      long ${ev.value} = ${c.isNull} ? 0L :
        graft.functions.Buckets.countAtOrBelow(${c.value}, $edgesRef);
    """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): BucketIndexExpr =
    copy(child = newChild)
}
