package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import org.apache.spark.sql.graftbridge.Bridge

/** Native Catalyst expressions for the vector-similarity kernels
  * (SURVEY.md §4: tier-(b) custom Expression, justified by the bench — the
  * built-in alternative is a `zip_with`+`aggregate` higher-order chain whose
  * lambdas are evaluated interpretively per element, ~64 virtual calls per
  * pair here; this is one tight fused loop inside WholeStageCodegen).
  *
  * Semantics match the HOF formulation exactly: dot over the common prefix,
  * norms over each full array, left-to-right fold order (so doubles are
  * bit-identical to the DuckDB oracle's list_dot_product).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    CosineSimilarity.compute(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = graft.functions.CosineSimilarity.compute($x, $y);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** Shared by interpreted eval and generated code (static call — the
    * codegen template above compiles to one invokestatic). */
  def compute(x: ArrayData, y: ArrayData): Double = {
    val nx = x.numElements()
    val ny = y.numElements()
    val n = if (nx < ny) nx else ny
    var dot = 0.0
    var sx = 0.0
    var sy = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi
      sx += xi * xi
      sy += yi * yi
      i += 1
    }
    while (i < nx) { val xi = x.getFloat(i).toDouble; sx += xi * xi; i += 1 }
    i = n
    while (i < ny) { val yi = y.getFloat(i).toDouble; sy += yi * yi; i += 1 }
    dot / (math.sqrt(sx) * math.sqrt(sy))
  }
}

/** Dot product of a float vector with a float or double vector — one fused
  * loop over the common prefix, same fold order as the `zip_with`+`aggregate`
  * formulation (bit-identical doubles). Used for the LSH hyperplane
  * projections: 8 plane dots per row is the bucket-assignment hot kernel. */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def vecOk(dt: DataType) = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (vecOk(left.dataType) && vecOk(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  private def leftIsFloat = left.dataType match {
    case ArrayType(FloatType, _) => true; case _ => false
  }
  private def rightIsFloat = right.dataType match {
    case ArrayType(FloatType, _) => true; case _ => false
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    VecDot.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      leftIsFloat, rightIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lf = leftIsFloat
    val rf = rightIsFloat
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = graft.functions.VecDot.compute($x, $y, $lf, $rf);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

object VecDot {
  def compute(x: ArrayData, y: ArrayData, xf: Boolean, yf: Boolean): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) {
      val xi = if (xf) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (yf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xi * yi
      i += 1
    }
    dot
  }
}

object VectorFunctions {
  /** Column-level door for contexts without a session at hand. */
  def vecDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Bridge.columnOf(VecDot(Bridge.expressionOf(a), Bridge.expressionOf(b)))
}
