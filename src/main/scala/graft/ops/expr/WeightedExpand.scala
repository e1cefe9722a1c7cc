package graft.ops.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Capped-multiplicity expansion for weighted MinHash (Chum et al.'s
  * histogram-intersection trick): token t with multiplicity c becomes the
  * DISTINCT elements `t~1 … t~min(c,cap)`, so weighted Jaccard with
  * counts capped at `cap` equals exact set Jaccard of the expansions and
  * the whole verified banding machinery applies unchanged.
  *
  * One pass, one hash map, output sorted in Spark's binary string order —
  * semantically identical to the HOF formulation
  * `array_sort(filter(transform(sequence(...), i → tok~occ(i)), notNull))`
  * over a pre-sorted token array, but without its O(len²)
  * `array_position` scans and without materializing the intermediate
  * position sequence (the HOF form measured 381 s at sf0.1 in its naive
  * prefix-count variant and needed an eager checkpoint even when sorted;
  * this kernel is cheap enough to recompute per consuming plan).
  * `WeightedExpandSpec` pins kernel ≡ HOF on multiplicity edge cases and
  * multi-byte text.
  */
case class WeightedExpand(child: Expression, cap: Int)
    extends UnaryKernel("weighted_expand", In.Strings, "WeightedExpand.expand") {
  require(cap >= 1 && cap <= 9,
    "cap must stay single-digit so lexicographic order equals (token, occ) order")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def constants: Seq[Any] = Seq(cap)
  override def nullSafeEval(t: Any): Any = WeightedExpand.expand(t.asInstanceOf[ArrayData], cap)
  override protected def withNewChildInternal(c: Expression): WeightedExpand = copy(child = c)
}

object WeightedExpand {

  /** "~1" … "~cap" suffixes, cached per cap (tiny, immutable). */
  private val suffixes =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[UTF8String]]()

  /** Runtime kernel shared by interpreted eval and generated code. Null
    * tokens are skipped (upstream tokenization emits none; skipping
    * matches the HOF's filter-out-null step). Output strings are freshly
    * allocated by concat, so no view into the input row escapes. */
  def expand(arr: ArrayData, cap: Int): ArrayData = {
    val sfx = suffixes.computeIfAbsent(cap, c =>
      Array.tabulate(c)(k => UTF8String.fromString("~" + (k + 1))))
    val n = arr.numElements()
    val counts = new java.util.HashMap[UTF8String, Integer](Math.max(16, n))
    val out = new java.util.ArrayList[UTF8String](Math.min(n, n))
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val tok = arr.getUTF8String(i)
        val c = counts.merge(tok, 1, Integer.sum(_, _))
        if (c <= cap) out.add(UTF8String.concat(tok, sfx(c - 1)))
      }
      i += 1
    }
    val a = out.toArray(new Array[UTF8String](out.size))
    // UTF8String.compareTo is unsigned byte order — array_sort's collation
    java.util.Arrays.sort(a, (x: UTF8String, y: UTF8String) => x.compareTo(y))
    new GenericArrayData(a.asInstanceOf[Array[AnyRef]])
  }

  def column(c: Column, cap: Int): Column = Kernel.column(c)(WeightedExpand(_, cap))
}
