package graft.ops.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** MinHash signature over a token array in one pass.
  *
  * Permutation i is simulated by salted xxhash64, exactly as the HOF form
  * (DedupOps.minhashSignatureHof) computes `xxhash64(tok, i)`: Spark's
  * XxHash64 folds children left-to-right from seed 42, so the token's bytes
  * hash first (seed 42) and the int salt folds in via hashInt. The HOF form makes
  * `numHashes` passes over the token array, each allocating an intermediate
  * hash array for `array_min`; this kernel hashes each token's bytes ONCE
  * and folds the `numHashes` cheap long-salts in registers — the signature
  * pass over a corpus drops from 16 array traversals per document to one.
  *
  * Empty input yields Long.MaxValue minima on both paths (`array_min` of no
  * elements is null — the HOF form never sees that because token sets are
  * non-empty after filtering; the kernel pins the identity explicitly).
  */
case class MinHashSig(child: Expression, numHashes: Int)
    extends UnaryKernel("minhash_sig", In.Strings, "MinHashSig.signature") {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def constants: Seq[Any] = Seq(numHashes)
  override def nullSafeEval(t: Any): Any = MinHashSig.signature(t.asInstanceOf[ArrayData], numHashes)
  override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
}

/** [[MinHashSig]] with FNV-1a 64 permutation hashes instead of salted
  * xxhash64: permutation p of a token is `fnv1a64("#p#" + token)` (the
  * leading salt avalanches through every subsequent position), minimized
  * in SIGNED 64-bit order on both engines. The fold is per Unicode
  * CODEPOINT ([[Fnv1a64.foldCodePoints]]) — exactly what an external SQL
  * engine replays per character in 128-bit arithmetic — which makes the
  * whole signature, and everything derived from it (band collisions,
  * agreement estimates), cross-engine checkable for ARBITRARY text, not
  * just ASCII where bytes and characters coincide. The kernel folds each
  * permutation's precomputed prefix state through the token's codepoints,
  * so a token streams once per permutation with zero allocations.
  */
case class MinHashSigFnv(child: Expression, numHashes: Int)
    extends UnaryKernel("minhash_sig_fnv", In.Strings, "MinHashSig.signatureFnv") {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def constants: Seq[Any] = Seq(numHashes)
  override def nullSafeEval(t: Any): Any = MinHashSig.signatureFnv(t.asInstanceOf[ArrayData], numHashes)
  override protected def withNewChildInternal(c: Expression): MinHashSigFnv = copy(child = c)
}

object MinHashSig {
  /** Spark's xxhash64 default seed (XxHash64 expression). */
  private final val Seed = 42L

  /** Per-permutation FNV prefix states ("#p#" folded from the offset),
    * cached per hash count — tiny and immutable. */
  private val fnvPrefixes =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()

  /** [[MinHashSigFnv]]'s kernel. A null token contributes the bare prefix
    * state (the hash of "#p#"); empty input yields Long.MaxValue minima
    * like the xxhash64 kernel. */
  def signatureFnv(arr: ArrayData, numHashes: Int): ArrayData = {
    val prefixes = fnvPrefixes.computeIfAbsent(numHashes, n =>
      Array.tabulate(n)(p => Fnv1a64.hash("#" + p + "#")))
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val n = arr.numElements()
    var t = 0
    while (t < n) {
      val tok = if (arr.isNullAt(t)) null else arr.getUTF8String(t)
      var p = 0
      while (p < numHashes) {
        val h =
          if (tok == null) prefixes(p)
          else Fnv1a64.foldCodePoints(prefixes(p), tok)
        if (h < mins(p)) mins(p) = h
        p += 1
      }
      t += 1
    }
    new GenericArrayData(mins)
  }

  def fnvColumn(c: Column, numHashes: Int): Column = Kernel.column(c)(MinHashSigFnv(_, numHashes))

  /** Runtime kernel shared by interpreted eval and generated code. A null
    * token contributes h1 = Seed — exactly the HOF form's `xxhash64(t, i)`,
    * where a null first child leaves the running hash at its seed before
    * the int salt folds in. */
  def signature(arr: ArrayData, numHashes: Int): ArrayData = {
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val n = arr.numElements()
    var t = 0
    while (t < n) {
      val h1 =
        if (arr.isNullAt(t)) Seed
        else {
          val s = arr.getUTF8String(t)
          XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, Seed)
        }
      var i = 0
      while (i < numHashes) {
        val h = XXH64.hashInt(i, h1)
        if (h < mins(i)) mins(i) = h
        i += 1
      }
      t += 1
    }
    new GenericArrayData(mins)
  }

  def column(c: Column, numHashes: Int): Column = Kernel.column(c)(MinHashSig(_, numHashes))
}
