package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType, StringType}

/** Rolling Karp-Rabin key of every length-`len` window of a token
  * sequence: element i of the result keys the window that starts at
  * token i + 1 (1-based), so a sequence of n tokens yields
  * max(n − len + 1, 0) keys. The input is either a token array (word and
  * char grain: each token is hashed with XXH64 over its UTF-8 bytes) or a
  * binary (byte grain: each byte is one token). Keys are polynomial
  * hashes of the token hashes mod the Mersenne prime 2⁶¹ − 1, rolled in
  * O(n) per row — one multiply-add per token instead of the O(n·len)
  * a per-window digest costs.
  *
  * Equal windows always get equal keys; unequal windows collide with
  * probability about len/2⁶¹ per pair, so a caller that needs exact
  * window equality compares the windows themselves inside each key
  * bucket (`Dedup.exactSubstrSpans` does).
  */
case class WindowKeysExpr(child: Expression, len: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) | BinaryType if len >= 1 =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_window_keys expects array<string> or binary and len >= 1, " +
        s"got ($t, len=$len)")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_window_keys"

  private def fn: String =
    if (child.dataType == BinaryType) "ofBytes" else "ofTokens"

  override protected def nullSafeEval(x: Any): Any = x match {
    case b: Array[Byte] => WindowKeys.ofBytes(b, len)
    case w: ArrayData   => WindowKeys.ofTokens(w, len)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.WindowKeys.$fn($c, $len)")

  override protected def withNewChildInternal(newChild: Expression): WindowKeysExpr =
    copy(child = newChild)
}

object WindowKeys {
  final val P: Long = (1L << 61) - 1
  // any fixed base in [2, P) works; a large odd one mixes short windows
  private final val Base: Long = 0x1e3779b97f4a7c15L % P
  private final val Seed = 42L
  private val byteHash: Array[Long] =
    Array.tabulate(256)(b => reduce(XXH64.hashInt(b, Seed)))

  /** a mod P for any 64-bit a, read unsigned. */
  private def reduce(a: Long): Long = {
    val r = (a & P) + (a >>> 61)
    if (r >= P) r - P else r
  }

  /** a·b mod P for a, b in [0, P): the 122-bit product folds at bit 61. */
  private def mulMod(a: Long, b: Long): Long = {
    val lo = a * b
    val hi = Math.multiplyHigh(a, b)
    val r = (lo & P) + ((lo >>> 61) | (hi << 3))
    val r1 = if (r >= P) r - P else r
    if (r1 >= P) r1 - P else r1
  }

  private def roll(t: Array[Long], len: Int): ArrayData = {
    val m = t.length - len + 1
    if (m <= 0) return UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
    var top = 1L // Base^(len-1): the weight of the token leaving the window
    var i = 1
    while (i < len) { top = mulMod(top, Base); i += 1 }
    val keys = new Array[Long](m)
    var k = 0L
    i = 0
    while (i < len) { k = reduce(mulMod(k, Base) + t(i)); i += 1 }
    keys(0) = k
    i = 1
    while (i < m) {
      k = reduce(k + P - mulMod(t(i - 1), top))
      k = reduce(mulMod(k, Base) + t(i + len - 1))
      keys(i) = k
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(keys)
  }

  def ofTokens(w: ArrayData, len: Int): ArrayData = {
    val n = w.numElements()
    val t = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (!w.isNullAt(i)) {
        val s = w.getUTF8String(i)
        t(i) = reduce(XXH64.hashUnsafeBytes(
          s.getBaseObject, s.getBaseOffset, s.numBytes, Seed))
      }
      i += 1
    }
    roll(t, len)
  }

  def ofBytes(b: Array[Byte], len: Int): ArrayData = {
    val t = new Array[Long](b.length)
    var i = 0
    while (i < b.length) { t(i) = byteHash(b(i) & 0xff); i += 1 }
    roll(t, len)
  }
}
