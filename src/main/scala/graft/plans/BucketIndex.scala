package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Static kernel for [[BucketIndex]], shared by the interpreted and
  * generated code paths.
  */
object BucketKernel {

  /** SQL's `x > b` on doubles: -0.0 equals 0.0, and NaN is equal to
    * itself and greater than every other value.
    */
  private def above(x: Double, b: Double): Boolean =
    x != b && java.lang.Double.compare(x, b) > 0

  /** The non-null boundaries in ascending SQL order. A rank counts
    * boundaries, so their order in the literal does not matter.
    */
  def sortedBoundaries(bs: ArrayData): Array[Double] =
    if (bs == null) Array.emptyDoubleArray
    else {
      val out = (0 until bs.numElements()).filterNot(bs.isNullAt)
        .map(bs.getDouble).toArray
      java.util.Arrays.sort(out)
      out
    }

  /** Number of boundaries strictly below `x`, by binary search over
    * `sorted` (ascending): the first index whose boundary is not below
    * `x`. Called from generated code — must stay a pure static function.
    */
  def rank(x: Double, sorted: Array[Double]): Int = {
    var lo = 0
    var hi = sorted.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (above(x, sorted(mid))) lo = mid + 1 else hi = mid
    }
    lo
  }
}

/** Native Catalyst expression: the bucket index of a double among a
  * constant array of boundaries, i.e. how many boundaries lie STRICTLY
  * below the value, with full whole-stage-codegen support. `Layout`
  * buckets each z-order column with it against its quantile grid.
  *
  * Replaces an `aggregate` fold over the boundary literal: higher-order
  * functions are `CodegenFallback`, so the fold ran interpreted, one
  * lambda call per (row, boundary). Here the boundaries are sorted once
  * per expression and each row costs log2(#boundaries) comparisons.
  * Comparisons follow SQL's `>` (NaN above everything, -0.0 = 0.0), so
  * the result equals the fold's for every input.
  *
  * Null semantics: a null value is below every boundary (bucket 0);
  * null boundaries never count.
  */
case class BucketIndex(child: Expression, boundaries: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def left: Expression = child
  override def right: Expression = boundaries
  override def inputTypes: Seq[DataType] = Seq(DoubleType, ArrayType(DoubleType))

  override def checkInputDataTypes(): TypeCheckResult =
    super.checkInputDataTypes() match {
      case ok if ok.isSuccess && !boundaries.foldable =>
        TypeCheckResult.TypeCheckFailure(
          s"graft_bucket boundaries must be a constant array, got ${boundaries.sql}")
      case other => other
    }
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_bucket"

  @transient private lazy val sorted: Array[Double] =
    BucketKernel.sortedBoundaries(boundaries.eval().asInstanceOf[ArrayData])

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0 else BucketKernel.rank(v.asInstanceOf[Double], sorted)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val bs = ctx.addReferenceObj("boundaries", sorted, "double[]")
    ev.copy(code = code"""
      |${c.code}
      |int ${ev.value} = ${c.isNull} ? 0 :
      |  graft.plans.BucketKernel.rank(${c.value}, $bs);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BucketIndex =
    copy(child = newLeft, boundaries = newRight)
}
