package graft.ops.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Closed-vocabulary token-set bitmask: maps a token array onto `words`
  * 64-bit words via a broadcast vocabulary index, in one pass.
  *
  * This feeds the popcount-Jaccard verification path (DedupOps): when the
  * corpus vocabulary fits `words·64` tokens, a candidate pair verifies with
  * ~4 AND+popcount ops on 8-byte words instead of a set operation over
  * string arrays — the per-pair payload that rides a multi-million-pair
  * candidate join drops from ~hundreds of bytes to `words·8`. The
  * vocabulary ships with the expression (plan-embedded literal, like a
  * broadcast dim table); tokens outside it are ignored, so callers must
  * build the index over the full corpus first.
  */
case class TokenSetMask(child: Expression, vocab: Map[String, Int], words: Int)
    extends UnaryKernel("token_set_mask", In.Strings, "TokenSetMask.mask") {

  // fail fast on the DRIVER at plan-build time: an out-of-range vocabulary
  // index would otherwise ArrayIndexOutOfBounds per row on executors,
  // mid-job, after the expensive candidate join already ran
  require(vocab.values.forall(i => i >= 0 && i < words * 64),
    s"vocab indices must be in [0, ${words * 64}); got " +
      vocab.values.filterNot(i => i >= 0 && i < words * 64).take(3).toSeq)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  /** UTF8String-keyed lookup built once per executor/deserialization. */
  @transient private lazy val lookup: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer](vocab.size * 2)
    vocab.foreach { case (tok, idx) =>
      m.put(UTF8String.fromString(tok), Int.box(idx))
    }
    m
  }

  override def nullSafeEval(t: Any): Any = TokenSetMask.mask(t.asInstanceOf[ArrayData], lookup, words)

  // the lookup is a reference object, not a constant the base can print
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mapRef = ctx.addReferenceObj("vocabLookup", lookup,
      classOf[java.util.HashMap[UTF8String, Integer]].getName)
    defineCodeGen(ctx, ev, c => call(Seq(c, mapRef, words)))
  }

  override protected def withNewChildInternal(c: Expression): TokenSetMask = copy(child = c)
}

object TokenSetMask {

  /** Runtime kernel shared by interpreted eval and generated code. */
  def mask(arr: ArrayData, vocab: java.util.HashMap[UTF8String, Integer],
           words: Int): ArrayData = {
    val out = new Array[Long](words)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val idx = vocab.get(arr.getUTF8String(i))
        if (idx != null) {
          val k = idx.intValue()
          out(k >> 6) |= (1L << (k & 63))
        }
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  def column(c: Column, vocab: Map[String, Int], words: Int): Column =
    Kernel.column(c)(TokenSetMask(_, vocab, words))
}
