package graft.ops.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit SimHash over a token array, as one native codegen'd kernel.
  *
  * Semantics are bit-identical to the HOF formulation it replaces
  * (DedupOps.simhash): per token, `xxhash64(token)` with Spark's default
  * seed 42; counter k gets +1 when bit k of the hash is set, else -1; output
  * bit k is set iff counter k ≥ 0 (so an empty array yields all-ones). The
  * HOF form built a 64-long intermediate array per token per row
  * (O(tokens·64) allocations inside `aggregate`/`zip_with`); this kernel is
  * the same arithmetic in a flat loop with one 64-int scratch array per row,
  * inside whole-stage codegen — the SimHash signature pass stops dominating
  * the near-dup pipeline.
  *
  * SimHash itself models the reference's sanctioned near-dup extension
  * surface (SURVEY.md §2.3 Group C, q_dedup_simhash).
  */
case class SimHash64(child: Expression) extends UnaryKernel("simhash64", In.Strings, "SimHash64.hash") {
  override def dataType: DataType = LongType
  override def nullSafeEval(t: Any): Any = SimHash64.hash(t.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
}

/** [[SimHash64]] with FNV-1a 64 as the per-token hash instead of xxhash64.
  *
  * Same ±1 bit-counting arithmetic; the token hash is
  * [[Fnv1a64.hashCodePoints]] — a linear fold over Unicode CODEPOINTS (a
  * null token contributes the FNV offset basis, i.e. the empty-string
  * hash). An external SQL engine replays exactly that per-character in
  * HUGEINT arithmetic, which makes signatures — and therefore the whole
  * near-dup pair set — cross-engine checkable for arbitrary text, where
  * xxhash64's block mixing is not practically re-expressible.
  * Oracle-facing queries use this variant; [[SimHash64]] remains for
  * xxhash64-keyed paths.
  */
case class SimHashFnv64(child: Expression)
    extends UnaryKernel("simhash_fnv64", In.Strings, "SimHash64.hashFnv") {
  override def dataType: DataType = LongType
  override def nullSafeEval(t: Any): Any = SimHash64.hashFnv(t.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(c: Expression): SimHashFnv64 = copy(child = c)
}

object SimHash64 {
  /** Spark's xxhash64 default seed (XxHash64 expression). */
  private final val Seed = 42L

  /** Runtime kernel shared by interpreted eval and generated code. A null
    * token contributes hash = Seed — exactly the HOF form's `xxhash64(t)`,
    * where a null child leaves the running hash at its seed. */
  def hash(arr: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val h =
        if (arr.isNullAt(i)) Seed
        else {
          val s = arr.getUTF8String(i)
          XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, Seed)
        }
      accumulate(counts, h)
      i += 1
    }
    fold(counts)
  }

  /** FNV hash of the empty string = the offset basis — the null-token
    * value, hoisted so the hot loop's null branch is a constant load
    * instead of an allocation + fold per null token. */
  private val EmptyFnv: Long = Fnv1a64.hash(UTF8String.fromString(""))

  /** [[SimHashFnv64]]'s kernel: identical counting, FNV-1a token hash. */
  def hashFnv(arr: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val h =
        if (arr.isNullAt(i)) EmptyFnv
        else Fnv1a64.hashCodePoints(arr.getUTF8String(i))
      accumulate(counts, h)
      i += 1
    }
    fold(counts)
  }

  private def accumulate(counts: Array[Int], h: Long): Unit = {
    var k = 0
    while (k < 64) {
      counts(k) += (if (((h >>> k) & 1L) == 1L) 1 else -1)
      k += 1
    }
  }

  private def fold(counts: Array[Int]): Long = {
    var out = 0L
    var k = 0
    while (k < 64) {
      if (counts(k) >= 0) out |= (1L << k)
      k += 1
    }
    out
  }

  def column(c: Column): Column = Kernel.column(c)(SimHash64(_))

  def fnvColumn(c: Column): Column = Kernel.column(c)(SimHashFnv64(_))
}
