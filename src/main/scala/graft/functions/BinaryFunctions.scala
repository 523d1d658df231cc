package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType}
import org.apache.spark.sql.graftbridge.Bridge

/** Stride-decimation over a binary payload: keep every `factor`-th byte
  * (positions 0, factor, 2·factor, …). The byte-level stand-in for an image
  * resize in the multimodal pipeline (SURVEY.md §4 tier-(b) Expression).
  *
  * Why native: the built-in formulation (per-byte `substr` folded with
  * `concat`) re-copies the accumulator per byte — O(n²) per row, which on a
  * 10 MB payload is ~10¹⁴ byte moves. This is one allocation and one O(n)
  * loop, fused into WholeStageCodegen.
  */
case class BinaryStride(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (binary, int) arguments, got " +
          s"${l.simpleString} and ${r.simpleString}")
    }
  override def dataType: DataType = BinaryType
  override def prettyName: String = "binary_stride"

  override def nullSafeEval(a: Any, b: Any): Any =
    BinaryStride.compute(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, f) =>
      s"${ev.value} = graft.functions.BinaryStride.compute($x, $f);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BinaryStride =
    copy(left = newLeft, right = newRight)
}

object BinaryStride {
  /** Shared by interpreted eval and generated code. factor <= 1 is the
    * identity (returned array is a copy so the input row buffer is never
    * aliased into the output). */
  def compute(bytes: Array[Byte], factor: Int): Array[Byte] = {
    if (factor <= 1) return java.util.Arrays.copyOf(bytes, bytes.length)
    val out = new Array[Byte]((bytes.length + factor - 1) / factor)
    var i = 0
    var j = 0
    while (i < bytes.length) {
      out(j) = bytes(i)
      j += 1
      i += factor
    }
    out
  }
}

object BinaryFunctions {
  /** Column-level door. */
  def binaryStride(payload: Column, factor: Column): Column =
    Bridge.columnOf(BinaryStride(Bridge.expressionOf(payload), Bridge.expressionOf(factor)))
}
