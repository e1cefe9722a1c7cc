package graft.ops.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression,
  UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native vector arithmetic over `ARRAY<FLOAT|DOUBLE>` columns.
  *
  * The HOF formulations (`aggregate`/`zip_with`) are codegen'd but build an
  * intermediate products array per row per call; ranking paths evaluate them
  * per candidate pair (LSH/IVF/near-dup verify — SURVEY.md §2.3 Group C), so
  * the allocation cost multiplies by the candidate count. These kernels are
  * the same double-accumulator arithmetic in a flat loop over the unsafe
  * array data, no intermediates. [[VecNormalize]] also reads its input
  * once: the equivalent `CASE WHEN norm = 0 THEN v ELSE transform(v, ...)`
  * copies `v`'s expression into the condition and into the lambda body,
  * where CSE reaches neither, so an embed UDF feeding it would run once
  * per component.
  *
  * Element semantics: the loop runs over the common prefix of the two
  * arrays and null elements contribute 0 — embedding columns are
  * fixed-dimension with non-null elements, so both conditions are
  * unreachable there. The exact-DECIMAL forms used by oracle-checked
  * queries (VectorOps.dotExact/l2normExact) stay HOF-based on purpose:
  * their cost is the determinism contract, not the loop shape.
  */
private[expr] object VecType {
  def isVec(t: DataType): Boolean = t match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }

  def isFloat(t: DataType): Boolean = t.asInstanceOf[ArrayType].elementType == FloatType
}

abstract class VecBinaryExpression extends BinaryExpression {
  import VecType.isVec
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes() =
    if (isVec(left.dataType) && isVec(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<float|double> arguments, " +
          s"got ${left.dataType} and ${right.dataType}")

  protected def leftIsFloat: Boolean = VecType.isFloat(left.dataType)
  protected def rightIsFloat: Boolean = VecType.isFloat(right.dataType)
}

/** Σ aᵢ·bᵢ in double accumulation. */
case class VecDot(left: Expression, right: Expression) extends VecBinaryExpression {
  override def nullSafeEval(a: Any, b: Any): Any =
    VecMath.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      leftIsFloat, rightIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.ops.expr.VecMath.dot($a, $b, $leftIsFloat, $rightIsFloat)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDot =
    copy(left = l, right = r)

  override def prettyName: String = "vec_dot"
}

/** Σ (aᵢ-bᵢ)² in double accumulation. */
case class VecDist2(left: Expression, right: Expression) extends VecBinaryExpression {
  override def nullSafeEval(a: Any, b: Any): Any =
    VecMath.dist2(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      leftIsFloat, rightIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.ops.expr.VecMath.dist2($a, $b, $leftIsFloat, $rightIsFloat)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDist2 =
    copy(left = l, right = r)

  override def prettyName: String = "vec_dist2"
}

/** x / ‖x‖ with the norm accumulated in double, each component divided in
  * double and narrowed to float; a zero-norm vector passes through
  * unchanged. Same bits, `dataType` and null behaviour as the HOF form
  * `when(norm === 0, v).otherwise(transform(v, x => (x / norm).cast(float)))`:
  * the element type is the input's (a double input carries the
  * float-narrowed quotients widened back), elements are nullable, and a
  * null element stays null. */
case class VecNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(child.dataType.asInstanceOf[ArrayType].elementType, containsNull = true)

  override def checkInputDataTypes() =
    if (VecType.isVec(child.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an array<float|double> argument, got ${child.dataType}")

  private def isFloat: Boolean = VecType.isFloat(child.dataType)

  override def nullSafeEval(v: Any): Any =
    VecMath.normalize(v.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.ops.expr.VecMath.normalize($v, $isFloat)")

  override protected def withNewChildInternal(c: Expression): VecNormalize =
    copy(child = c)

  override def prettyName: String = "vec_normalize"
}

object VecMath {

  private def elem(arr: ArrayData, i: Int, isFloat: Boolean): Double =
    if (arr.isNullAt(i)) 0.0
    else if (isFloat) arr.getFloat(i).toDouble
    else arr.getDouble(i)

  /** Runtime kernel shared by interpreted eval and generated code. */
  def dot(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += elem(a, i, aFloat) * elem(b, i, bFloat)
      i += 1
    }
    acc
  }

  def dist2(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = elem(a, i, aFloat) - elem(b, i, bFloat)
      acc += d * d
      i += 1
    }
    acc
  }

  def normalize(v: ArrayData, isFloat: Boolean): ArrayData = {
    val norm = math.sqrt(dot(v, v, isFloat, isFloat))
    if (norm == 0.0) v
    else {
      val n = v.numElements()
      val out = UnsafeArrayData.createFreshArray(n, if (isFloat) 4 else 8)
      var i = 0
      while (i < n) {
        if (v.isNullAt(i)) out.setNullAt(i)
        else if (isFloat) out.setFloat(i, (v.getFloat(i).toDouble / norm).toFloat)
        else out.setDouble(i, (v.getDouble(i) / norm).toFloat.toDouble)
        i += 1
      }
      out
    }
  }

  def dotColumn(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(VecDot(GraftBridge.expression(a), GraftBridge.expression(b)))
  }

  def dist2Column(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(VecDist2(GraftBridge.expression(a), GraftBridge.expression(b)))
  }

  def normalizeColumn(v: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(VecNormalize(GraftBridge.expression(v)))
  }
}
