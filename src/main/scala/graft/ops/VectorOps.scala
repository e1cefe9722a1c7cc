package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Vector-math operators over `ARRAY<FLOAT>` embedding columns: native
  * codegen'd kernels in [[graft.ops.expr.VecMath]] (`VecDot`, `VecDist2`,
  * `VecNormalize`) for the per-row and per-pair paths, Spark's higher-order
  * functions for the exact-decimal forms; no UDF in the hot path.
  */
object VectorOps {

  /** L2 normalization with zero-norm passthrough
    * (reference: internal/util/text.go:37-51): norm accumulates in double,
    * each component divides in double and narrows back to float — matching
    * the reference's float32-output/float64-accumulator arithmetic. A zero
    * vector is returned unchanged (reference: internal/util/text.go:43-45).
    * Native kernel ([[graft.ops.expr.VecNormalize]]): `v` is evaluated once
    * per row, so an embed UDF feeding it runs once per row.
    */
  def l2normalize(v: Column): Column = graft.ops.expr.VecMath.normalizeColumn(v)

  /** √Σx² accumulated in double (native kernel; see
    * [[graft.ops.expr.VecMath]]). */
  def l2norm(v: Column): Column = sqrt(graft.ops.expr.VecMath.dotColumn(v, v))

  /** Dot product of two equally-sized float vectors, double accumulation
    * (native kernel — ranking paths evaluate this per candidate pair). */
  def dot(a: Column, b: Column): Column = graft.ops.expr.VecMath.dotColumn(a, b)

  /** Cosine similarity in plain double math (fast path for ranking). */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2norm(a) * l2norm(b))

  /** Exact-decimal dot product (engine- and order-independent); pair with
    * [[l2normExact]] columns precomputed per row so an n×m similarity join
    * does the O(d) decimal work once per vector, not once per pair. */
  def dotExact(a: Column, b: Column): Column = {
    val dec = DecimalType(30, 15)
    aggregate(
      zip_with(a, b, (x, y) => (x.cast(DoubleType) * y.cast(DoubleType)).cast(dec)),
      lit(0).cast(dec), (acc, p) => (acc + p).cast(dec)).cast(DoubleType)
  }

  /** Exact-decimal L2 norm (deterministic across engines). */
  def l2normExact(v: Column): Column = {
    val dec = DecimalType(30, 15)
    sqrt(aggregate(
      transform(v, x => (x.cast(DoubleType) * x.cast(DoubleType)).cast(dec)),
      lit(0).cast(dec), (acc, p) => (acc + p).cast(dec)).cast(DoubleType))
  }

  /** Deterministic cosine similarity for oracle-checked queries: each
    * elementwise product/square (an exact IEEE double op on float inputs) is
    * rounded once into DECIMAL(30,15) and summed **exactly**, so the result
    * is bit-identical regardless of engine or evaluation order; only the
    * final divide runs in double. */
  def cosineExact(a: Column, b: Column): Column = {
    val dec = DecimalType(30, 15)
    def decSum(products: Column): Column =
      aggregate(products, lit(0).cast(dec), (acc, p) => (acc + p.cast(dec)).cast(dec))
        .cast(DoubleType)
    val d = decSum(zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)))
    val na = decSum(transform(a, x => x.cast(DoubleType) * x.cast(DoubleType)))
    val nb = decSum(transform(b, x => x.cast(DoubleType) * x.cast(DoubleType)))
    d / (sqrt(na) * sqrt(nb))
  }

  /** FNV-1a 64-bit hash of a string — the point-id scheme of the Qdrant sink
    * (reference: internal/sink/qdrant/qdrant.go:174-179). Native Catalyst
    * expression with codegen; see [[graft.ops.expr.Fnv1a64]]. */
  def fnv1a64(c: Column): Column = graft.ops.expr.Fnv1a64.column(c)

  /** One FNV-1a extension step (h ⊕ code)·prime, wrapping — equals
    * `fnv1a64(s ∥ chr(code))` given h = fnv1a64(s) and ASCII code. The
    * replicate queries hash the row prefix ONCE and extend per replicate
    * with two ALU ops (see [[graft.ops.expr.FnvStep]]). */
  def fnvStep(h: Column, code: Column): Column =
    graft.ops.expr.Kernel.column(h, code)(graft.ops.expr.FnvStep(_, _))
}
