package graft.ops.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

/** Σ aᵢ·bᵢ in double accumulation. */
case class VecDot(left: Expression, right: Expression)
    extends BinaryKernel("vec_dot", In.Vec, In.Vec, "VecMath.dot") {
  override def dataType: DataType = DoubleType
  override protected def constants: Seq[Any] = Seq(In.isFloat(left), In.isFloat(right))
  override def nullSafeEval(a: Any, b: Any): Any =
    VecMath.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], In.isFloat(left), In.isFloat(right))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDot =
    copy(left = l, right = r)
}

/** Σ (aᵢ-bᵢ)² in double accumulation. */
case class VecDist2(left: Expression, right: Expression)
    extends BinaryKernel("vec_dist2", In.Vec, In.Vec, "VecMath.dist2") {
  override def dataType: DataType = DoubleType
  override protected def constants: Seq[Any] = Seq(In.isFloat(left), In.isFloat(right))
  override def nullSafeEval(a: Any, b: Any): Any =
    VecMath.dist2(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], In.isFloat(left), In.isFloat(right))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDist2 =
    copy(left = l, right = r)
}

/** Position of a vector's nearest centroid in a codebook (see
  * [[VecMath.nearest]]): `array<array<bigint>>` centroids measure the exact
  * quantized distance, `array<array<double>>` the double one. */
case class VecNearest(left: Expression, right: Expression)
    extends BinaryKernel("vec_nearest", In.Vec, In.Centroids, "VecMath.nearest") {
  override def dataType: DataType = IntegerType
  private def exact: Boolean =
    right.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[ArrayType].elementType == LongType
  override protected def constants: Seq[Any] = Seq(In.isFloat(left), exact)
  override def nullSafeEval(v: Any, cs: Any): Any =
    VecMath.nearest(v.asInstanceOf[ArrayData], cs.asInstanceOf[ArrayData], In.isFloat(left), exact)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecNearest =
    copy(left = l, right = r)
}

/** x / ‖x‖ with the norm accumulated in double, each component divided in
  * double and narrowed to float; a zero-norm vector passes through
  * unchanged. Same bits, `dataType` and null behaviour as the HOF form
  * `when(norm === 0, v).otherwise(transform(v, x => (x / norm).cast(float)))`:
  * the element type is the input's (a double input carries the
  * float-narrowed quotients widened back), elements are nullable, and a
  * null element stays null. */
case class VecNormalize(child: Expression)
    extends UnaryKernel("vec_normalize", In.Vec, "VecMath.normalize") {
  override def dataType: DataType =
    ArrayType(child.dataType.asInstanceOf[ArrayType].elementType, containsNull = true)
  override protected def constants: Seq[Any] = Seq(In.isFloat(child))
  override def nullSafeEval(v: Any): Any = VecMath.normalize(v.asInstanceOf[ArrayData], In.isFloat(child))
  override protected def withNewChildInternal(c: Expression): VecNormalize = copy(child = c)
}

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

  /** 0-based position of the nearest centroid in `cs` to `v`, the lowest
    * position among ties; −1 when `cs` holds no centroid (a null one is
    * skipped). Each distance is [[VecQuant.dist2]] when `exact` (`cs` holds
    * quantized longs), else [[dist2]] over double centroids, ordered as
    * Spark orders doubles: NaN above every number and equal to NaN, so a
    * vector whose distances are all NaN gets position 0. */
  def nearest(v: ArrayData, cs: ArrayData, vFloat: Boolean, exact: Boolean): Int = {
    var best = -1
    var bestQ = 0L
    var bestD = 0.0
    var i = 0
    while (i < cs.numElements()) {
      if (!cs.isNullAt(i)) {
        val c = cs.getArray(i)
        if (exact) {
          val d = VecQuant.dist2(v, c, vFloat)
          if (best < 0 || d < bestQ) { best = i; bestQ = d }
        } else {
          val d = dist2(v, c, vFloat, false)
          if (best < 0 || d < bestD || (bestD.isNaN && !d.isNaN)) { best = i; bestD = d }
        }
      }
      i += 1
    }
    best
  }

  def dotColumn(a: Column, b: Column): Column = Kernel.column(a, b)(VecDot(_, _))

  def dist2Column(a: Column, b: Column): Column = Kernel.column(a, b)(VecDist2(_, _))

  def normalizeColumn(v: Column): Column = Kernel.column(v)(VecNormalize(_))

  def nearestColumn(v: Column, centroids: Column): Column =
    Kernel.column(v, centroids)(VecNearest(_, _))
}
