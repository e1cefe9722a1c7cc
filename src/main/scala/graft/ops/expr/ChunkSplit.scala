package graft.ops.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Content-defined chunking of a payload (the rsync/LBFS storage-dedup
  * splitter): a chunk boundary falls after character i when the FNV-1a
  * hash of the trailing 8-character window satisfies hash ≡ 0 (mod 32) —
  * so boundaries move WITH the content and an insertion does not shift
  * every later chunk, unlike fixed-offset framing. Returns the chunk
  * strings between consecutive boundaries (first chunk starts at
  * character 0, last ends at the payload end; expected chunk length = 32
  * characters).
  *
  * The fold is per Unicode CODEPOINT, and boundaries land between
  * characters — never inside a multi-byte sequence, so every chunk is
  * valid UTF-8. This is the same contract the oracle replays (DuckDB
  * `substring`/`length`/`ascii` are all character-based); a byte-offset
  * splitter would agree only on pure-ASCII payloads and could emit
  * invalid-UTF-8 chunk strings on anything else.
  *
  * Native expression rather than a SQL `aggregate` lambda because FNV
  * needs WRAPPING 64-bit multiplication, which ANSI mode (Spark 4's
  * default) rejects in expression arithmetic; the kernel is also one flat
  * pass instead of per-position array slices. An external SQL engine
  * replays the same arithmetic in 128-bit integers (see q_chunk_dedup's
  * oracle), so the split is cross-engine checkable.
  */
case class ChunkSplit(child: Expression) extends UnaryKernel("chunk_split", In.Str, "ChunkSplit.split") {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(s: Any): Any = ChunkSplit.split(s.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): ChunkSplit = copy(child = c)
}

object ChunkSplit {
  private final val Offset = 0xcbf29ce484222325L
  private final val Prime = 0x100000001b3L
  private final val Window = 8
  private final val Mask = 32

  /** Runtime kernel shared by interpreted eval and generated code. */
  def split(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    // one decode pass: codepoint values + the byte offset where each
    // character starts (off(n) = total bytes), so chunk slices cut at
    // character boundaries only
    val cp = new Array[Int](bytes.length)
    val off = new Array[Int](bytes.length + 1)
    var n = 0
    var i = 0
    while (i < bytes.length) {
      off(n) = i
      val b0 = bytes(i) & 0xff
      var c = b0
      var len = 1
      if (b0 >= 0x80) {
        if ((b0 & 0xe0) == 0xc0) { c = b0 & 0x1f; len = 2 }
        else if ((b0 & 0xf0) == 0xe0) { c = b0 & 0x0f; len = 3 }
        else { c = b0 & 0x07; len = 4 }
        var k = 1
        while (k < len && i + k < bytes.length) {
          c = (c << 6) | (bytes(i + k) & 0x3f)
          k += 1
        }
      }
      cp(n) = c
      n += 1
      i += len
    }
    off(n) = bytes.length
    val out = new java.util.ArrayList[UTF8String]()
    var lo = 0 // character index of the current chunk's start
    var j = Window // boundary candidate AFTER char j-1 (window cp[j-8..j-1])
    while (j <= n) {
      var h = Offset
      var k = j - Window
      while (k < j) {
        h ^= cp(k).toLong
        h *= Prime
        k += 1
      }
      if (java.lang.Math.floorMod(h, Mask.toLong) == 0L) {
        out.add(UTF8String.fromBytes(bytes, off(lo), off(j) - off(lo)))
        lo = j
      }
      j += 1
    }
    if (lo < n) out.add(UTF8String.fromBytes(bytes, off(lo), bytes.length - off(lo)))
    new GenericArrayData(out.toArray)
  }

  def column(c: Column): Column = Kernel.column(c)(ChunkSplit(_))
}
