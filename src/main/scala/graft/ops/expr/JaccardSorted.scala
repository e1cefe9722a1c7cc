package graft.ops.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Exact Jaccard similarity of two SORTED, de-duplicated string arrays, as
  * one merge pass: |A∩B| by two-pointer merge, |A∪B| = |A|+|B|-|A∩B|.
  *
  * This is the open-vocabulary verification kernel for near-dup candidate
  * pairs: `array_intersect`/`array_union` build hash sets and intermediate
  * arrays per pair, and the set-mask popcount trick caps the vocabulary at
  * 256 tokens (DedupOps.setMasksOpt) — the merge needs neither, runs in
  * O(|A|+|B|) with zero allocation, and its integers are identical to both,
  * so oracle results don't depend on which formulation ran.
  *
  * Inputs must be sorted ascending and distinct (`array_sort ∘
  * array_distinct` — UTF8String binary order, the same order `array_sort`
  * uses). Both-empty yields 0.0 (the ≥-threshold filters it either way).
  */
case class JaccardSorted(left: Expression, right: Expression)
    extends BinaryKernel("jaccard_sorted", In.Strings, In.Strings, "JaccardSorted.jaccard") {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    JaccardSorted.jaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaccardSorted =
    copy(left = l, right = r)
}

object JaccardSorted {

  /** Runtime kernel shared by interpreted eval and generated code, over
    * [[IntersectSortedCount.count]]'s merge: null elements sort LAST
    * (array_sort's ordering) and are treated as equal to each other — the
    * production inputs (sortedTokenSet) never contain them, but the
    * function is SQL-registered, so a null element must not NPE the task. */
  def jaccard(a: ArrayData, b: ArrayData): Double = {
    val inter = IntersectSortedCount.count(a, b)
    val union = a.numElements() + b.numElements() - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  def column(a: Column, b: Column): Column = Kernel.column(a, b)(JaccardSorted(_, _))
}
