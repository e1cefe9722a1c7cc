package graft.ops.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** Quantized-integer vector arithmetic — the determinism contract of the
  * oracle-checked ANN family, at codegen'd long-arithmetic speed.
  *
  * Every float component is mapped to `floor(x · 2²⁴)` — one IEEE double
  * multiply by a power of two (exact: a pure exponent shift) and one floor,
  * so the quantized value is a deterministic function of the input bits that
  * any engine replays with `CAST(floor(CAST(x AS DOUBLE) * 16777216) AS
  * BIGINT)`. Dot products, norms, and squared distances over the quantized
  * components are then EXACT 64-bit integer sums — associative, order- and
  * engine-independent — which is the whole contract the previous
  * DECIMAL(30,15) higher-order-function folds bought, minus their per-element
  * Decimal allocations (the round-4 bench showed those folds costing 24 s
  * across the four LSH/IVF queries at sf0.1).
  *
  * Overflow audit at dim ≤ 512, |x| < 1: |q| < 2²⁴, pair products < 2⁴⁸,
  * Σ over 512 < 2⁵⁷; plane weights |w| ≤ 7 keep weighted sums < 2³⁶;
  * squared diffs < 2⁵⁰ sum to < 2⁵⁹ — all inside Long. The final
  * long→double conversion (for cosine division) is itself exactly-rounded
  * IEEE, hence also engine-independent.
  */
object VecQuant {

  /** Quantization scale: 2²⁴. */
  val Scale: Double = 16777216.0

  /** Driver-side quantizer (seed centroids, specs). */
  def q(x: Double): Long = math.floor(x * Scale).toLong

  private def elemQ(arr: ArrayData, i: Int, isFloat: Boolean): Long = {
    val d = if (arr.isNullAt(i)) 0.0
            else if (isFloat) arr.getFloat(i).toDouble
            else arr.getDouble(i)
    math.floor(d * Scale).toLong
  }

  /** Σ q(aᵢ)·q(bᵢ) — quantized dot (b = a gives the squared quantized norm). */
  def dot(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += elemQ(a, i, aFloat) * elemQ(b, i, bFloat)
      i += 1
    }
    acc
  }

  /** Σ wᵢ·q(aᵢ) — integer-weighted quantized projection (LSH planes). */
  def wdot(a: ArrayData, w: ArrayData, aFloat: Boolean): Long = {
    val n = math.min(a.numElements(), w.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += (if (w.isNullAt(i)) 0L else w.getLong(i)) * elemQ(a, i, aFloat)
      i += 1
    }
    acc
  }

  /** Σ (q(aᵢ) − cᵢ)² — squared distance to an already-quantized centroid. */
  def dist2(a: ArrayData, c: ArrayData, aFloat: Boolean): Long = {
    val n = math.min(a.numElements(), c.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      val d = elemQ(a, i, aFloat) - (if (c.isNullAt(i)) 0L else c.getLong(i))
      acc += d * d
      i += 1
    }
    acc
  }

  def dotColumn(a: Column, b: Column): Column = Kernel.column(a, b)(VecQuantDot(_, _))

  def wdotColumn(a: Column, w: Column): Column = Kernel.column(a, w)(VecQuantWDot(_, _))

  def dist2Column(a: Column, c: Column): Column = Kernel.column(a, c)(VecQuantDist2(_, _))
}

/** Σ q(aᵢ)·q(bᵢ) over two float/double vectors. */
case class VecQuantDot(left: Expression, right: Expression)
    extends BinaryKernel("vec_qdot", In.Vec, In.Vec, "VecQuant.dot") {
  override def dataType: DataType = LongType
  override protected def constants: Seq[Any] = Seq(In.isFloat(left), In.isFloat(right))
  override def nullSafeEval(a: Any, b: Any): Any =
    VecQuant.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], In.isFloat(left), In.isFloat(right))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecQuantDot =
    copy(left = l, right = r)
}

/** Σ wᵢ·q(aᵢ): left a float/double vector, right an integer weight array. */
case class VecQuantWDot(left: Expression, right: Expression)
    extends BinaryKernel("vec_qwdot", In.Vec, In.Bigints, "VecQuant.wdot") {
  override def dataType: DataType = LongType
  override protected def constants: Seq[Any] = Seq(In.isFloat(left))
  override def nullSafeEval(a: Any, w: Any): Any =
    VecQuant.wdot(a.asInstanceOf[ArrayData], w.asInstanceOf[ArrayData], In.isFloat(left))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecQuantWDot =
    copy(left = l, right = r)
}

/** Σ (q(aᵢ) − cᵢ)²: left a float/double vector, right a quantized centroid. */
case class VecQuantDist2(left: Expression, right: Expression)
    extends BinaryKernel("vec_qdist2", In.Vec, In.Bigints, "VecQuant.dist2") {
  override def dataType: DataType = LongType
  override protected def constants: Seq[Any] = Seq(In.isFloat(left))
  override def nullSafeEval(a: Any, c: Any): Any =
    VecQuant.dist2(a.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData], In.isFloat(left))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecQuantDist2 =
    copy(left = l, right = r)
}
