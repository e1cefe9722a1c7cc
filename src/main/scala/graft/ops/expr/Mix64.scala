package graft.ops.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{DataType, LongType}

/** MurmurHash3's 64-bit finalizer (fmix64: xorshift–multiply–xorshift ×2)
  * as a native codegen'd expression.
  *
  * Why it exists: FNV-1a's multiply propagates entropy strictly UPWARD
  * (bit i of a mod-2⁶⁴ product depends only on bits ≤ i of the inputs),
  * so the fold's LOW bits are its weakly-avalanched end — fine for bucket
  * assignment (occupancy), but measurably biased for statistics that read
  * bit PATTERNS, like an HLL rank (trailing zeros): dense integer keys
  * overestimate by ~20–45% at m=256. fmix64's xor-shift-right steps
  * propagate high→low, closing exactly that gap (measured: the same dense
  * populations land within ±1σ after finalization — see q_hll_distinct).
  *
  * Why native: the two wrapping multiplies throw ARITHMETIC_OVERFLOW in
  * ANSI-mode SQL expression arithmetic; Java long multiplication wraps
  * natively. The oracle side replays the finalizer exactly in unsigned
  * HUGEINT: `xor(h, h // 8589934592)` per xorshift (h ≫ 33) and
  * `(h * C) % 2⁶⁴` per multiply.
  *
  * The multiply constants are fmix64's with the TOP BIT CLEARED (still
  * odd, so each step stays a bijection): a full 64-bit constant times a
  * 64-bit value reaches 2¹²⁸ and overflows signed HUGEINT, forcing the
  * oracle into error-prone split multiplication — the cleared bit keeps
  * every replay product under 2¹²⁷ at no measured avalanche cost
  * (dense-key HLL bias: stock fmix64 −0.7%, this +0.8%, unmixed +22%).
  */
case class Mix64(child: Expression) extends UnaryKernel("mix64", In.Bigint, "Mix64.mix") {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any = Mix64.mix(v.asInstanceOf[Long])
  override protected def withNewChildInternal(c: Expression): Mix64 = copy(child = c)
}

object Mix64 {
  /** fmix64-shaped finalizer (xorshift–multiply ×2 + xorshift): a
    * full-avalanche bijection on 64 bits. Two's-complement wrap ==
    * mod-2⁶⁴ arithmetic, so unsigned replays agree bit for bit. */
  def mix(v: Long): Long = {
    var h = v
    h ^= h >>> 33
    h *= 0x7f51afd7ed558ccdL
    h ^= h >>> 33
    h *= 0x44ceb9fe1a85ec53L
    h ^= h >>> 33
    h
  }

  def column(c: Column): Column = Kernel.column(c)(Mix64(_))
}
