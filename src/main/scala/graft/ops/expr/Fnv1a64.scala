package graft.ops.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** FNV-1a 64-bit hash over a string's UTF-8 bytes.
  *
  * This is the Qdrant sink's point-id scheme in the reference
  * (reference: internal/sink/qdrant/qdrant.go:174-179): external ids are
  * hashed to u64 point ids. Implemented as a native Catalyst expression with
  * whole-stage codegen ([[UnaryKernel]]) so id hashing never breaks a
  * codegen span.
  */
case class Fnv1a64(child: Expression) extends UnaryKernel("fnv1a64", In.Str, "Fnv1a64.hash") {
  override def dataType: DataType = LongType
  override def nullSafeEval(s: Any): Any = Fnv1a64.hash(s.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): Fnv1a64 = copy(child = c)
}

object Fnv1a64 {
  private final val Offset = 0xcbf29ce484222325L
  private final val Prime = 0x100000001b3L

  /** Runtime kernel shared by interpreted eval and generated code. */
  def hash(s: UTF8String): Long = fold(Offset, s)

  def hash(s: String): Long = hash(UTF8String.fromString(s))

  /** One extension step: `step(hash(s), c) == hash(s + chr(c))` for ASCII
    * c — the oracle's single xor-multiply replicate extension. */
  def step(h: Long, code: Long): Long = (h ^ code) * Prime

  /** Continue an FNV-1a fold from an intermediate state — lets callers
    * precompute a salt-prefix state once and stream suffixes through it
    * (`fold(fold(Offset, prefix), suffix) == hash(prefix + suffix)`). */
  def fold(state: Long, s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = state
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= Prime
      i += 1
    }
    h
  }

  /** Continue an FNV-1a fold over the string's Unicode CODEPOINTS — one
    * xor-multiply per codepoint rather than per UTF-8 byte. Identical to
    * [[fold]] on ASCII; on non-ASCII it matches an external SQL engine
    * that replays the fold per CHARACTER (DuckDB's `ascii(c)` over
    * `string_split(s, '')` yields the codepoint), which is the
    * cross-engine contract every oracle-checked TEXT kernel promises
    * (MinHashSigFnv, SimHashFnv64, ChunkSplit, the deterministic
    * embedder). The byte fold above stays the point-id scheme: that one is
    * reference-faithful (qdrant.go:174-179 hashes bytes) and its
    * oracle-checked inputs are ASCII by construction (digit/comma
    * strings), where the two folds coincide. */
  def foldCodePoints(state: Long, s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = state
    var i = 0
    while (i < bytes.length) {
      val b0 = bytes(i) & 0xff
      var cp = b0
      var len = 1
      if (b0 >= 0x80) {
        if ((b0 & 0xe0) == 0xc0) { cp = b0 & 0x1f; len = 2 }
        else if ((b0 & 0xf0) == 0xe0) { cp = b0 & 0x0f; len = 3 }
        else { cp = b0 & 0x07; len = 4 }
        var k = 1
        while (k < len && i + k < bytes.length) {
          cp = (cp << 6) | (bytes(i + k) & 0x3f)
          k += 1
        }
      }
      h ^= cp.toLong
      h *= Prime
      i += len
    }
    h
  }

  def hashCodePoints(s: UTF8String): Long = foldCodePoints(Offset, s)

  def hashCodePoints(s: String): Long = hashCodePoints(UTF8String.fromString(s))

  def column(c: Column): Column = Kernel.column(c)(Fnv1a64(_))

  /** Codepoint-fold variant as a Column — for oracle-checked TEXT hashing
    * (an external engine replays `ascii(c)` per character). */
  def columnCodePoints(c: Column): Column = Kernel.column(c)(Fnv1a64CodePoints(_))
}

/** One FNV-1a extension step from an intermediate state: (h ⊕ code)·prime,
  * wrapping — `FnvStep(fnv1a64(s), c) == fnv1a64(s ∥ chr(c))` for an ASCII
  * code c. The replicate-randomness queries (q_poisson_bootstrap, q_ab_lift,
  * q_permutation_test, q_bh_fdr) derive 16–64 per-row hashes from one row
  * prefix; refolding the full string per replicate cost 16–64 UTF8String
  * concats + refolds per row (measured 10 s at sf1 on the ×16 lineitem
  * amplification), where this step is two ALU ops — and it is EXACTLY the
  * oracle's formulation (`(xor(kh, code) * prime) % 2⁶⁴` in HUGEINT).
  * Wrapping multiply is deliberately NOT expressible in ANSI-mode SQL
  * arithmetic (overflow throws), hence a native kernel — the documented
  * house rule. */
case class FnvStep(left: Expression, right: Expression)
    extends BinaryKernel("fnv_step", In.Bigint, In.Bigint, "Fnv1a64.step") {
  override def dataType: DataType = LongType
  override def nullSafeEval(h: Any, code: Any): Any =
    Fnv1a64.step(h.asInstanceOf[Long], code.asInstanceOf[Long])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): FnvStep =
    copy(left = l, right = r)
}

/** FNV-1a 64-bit over Unicode CODEPOINTS (see [[Fnv1a64.foldCodePoints]]) —
  * the cross-engine text-hashing contract, as a codegen'd expression. */
case class Fnv1a64CodePoints(child: Expression)
    extends UnaryKernel("fnv1a64_cp", In.Str, "Fnv1a64.hashCodePoints") {
  override def dataType: DataType = LongType
  override def nullSafeEval(s: Any): Any = Fnv1a64.hashCodePoints(s.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): Fnv1a64CodePoints = copy(child = c)
}
