package graft.ops.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing fingerprint kernel: min (as a lowercase-hex string) of MD5
  * over all CHARACTER 8-grams of the input — bit-identical to
  * `array_min(transform(sequence(1, greatest(len-7, 1)), i -> md5(substring(s, i, 8))))`
  * and to the DuckDB twin, in ONE pass.
  *
  * Why native (round-13 finding): the expression form was the textbook
  * O(n²) substring pathology — `substring(s, i, 8)` is O(i) on UTF8String
  * (it re-scans from the start for multibyte safety), times an
  * MD5-hex-string allocation per position, times an `array_min` over n
  * materialized 32-char strings. It was also INVISIBLE for 12 rounds:
  * Bench timed `count()`, and Catalyst pruned the whole fingerprint
  * column away (the q_doc_fingerprint 276× under-measurement that
  * motivated the noop-write methodology). This kernel walks the char
  * offsets once, reuses one MessageDigest and two 16-byte buffers, and
  * compares DIGESTS instead of hex strings — lowercase-hex order equals
  * unsigned-byte order, so only the winning digest is hex-encoded, once.
  *
  * Window semantics match SQL `substring(s, i, 8)` exactly: windows start
  * at every character position 1..max(len−7, 1), so strings shorter than
  * 8 chars fingerprint their whole text (one window), and the empty
  * string hashes the empty window — same rows, same bytes, both engines.
  */
case class RollingMinMd5(child: Expression)
    extends UnaryKernel("rolling_min_md5", In.Str, "RollingMinMd5.minFp") {
  override def dataType: DataType = StringType
  override def nullSafeEval(s: Any): Any = RollingMinMd5.minFp(s.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): RollingMinMd5 = copy(child = c)
}

object RollingMinMd5 {
  private val HexChars = "0123456789abcdef".toCharArray

  /** One-pass kernel shared by interpreted eval and generated code. */
  def minFp(s: UTF8String): UTF8String = {
    val bytes = s.getBytes
    // character start offsets (SQL substring windows are CHARACTER-based)
    val n = s.numChars()
    val offsets = new Array[Int](n + 1)
    var i = 0
    var off = 0
    while (i < n) {
      offsets(i) = off
      off += UTF8String.numBytesForFirstByte(bytes(off))
      i += 1
    }
    offsets(n) = bytes.length
    val windows = math.max(n - 7, 1)
    val md = java.security.MessageDigest.getInstance("MD5")
    val cur = new Array[Byte](16)
    val best = new Array[Byte](16)
    var w = 0
    while (w < windows) {
      val from = offsets(w)
      val until = offsets(math.min(w + 8, n))
      md.reset()
      md.update(bytes, from, until - from)
      md.digest(cur, 0, 16)
      // lowercase-hex lexicographic order == unsigned-byte order, so the
      // min tracks raw digests and hex-encodes exactly once at the end
      if (w == 0 || unsignedLess(cur, best)) System.arraycopy(cur, 0, best, 0, 16)
      w += 1
    }
    val hex = new Array[Byte](32)
    var k = 0
    while (k < 16) {
      hex(2 * k) = HexChars((best(k) >> 4) & 0xf).toByte
      hex(2 * k + 1) = HexChars(best(k) & 0xf).toByte
      k += 1
    }
    UTF8String.fromBytes(hex)
  }

  private def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 16) {
      val ai = a(i) & 0xff
      val bi = b(i) & 0xff
      if (ai != bi) return ai < bi
      i += 1
    }
    false
  }

  def column(c: Column): Column = Kernel.column(c)(RollingMinMd5(_))
}
