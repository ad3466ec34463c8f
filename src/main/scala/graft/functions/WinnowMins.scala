package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression `graft_winnow_mins(norm, k, w)` →
  * `array<bigint>`: the robust-winnowing window minimums of one
  * (already normalized) string, in window order.
  *
  * Each character k-gram at 1-based position `pos` gets the packed key
  * `h·2^16 + (2^16−1−pos)`, where `h` is the first 44 bits of the md5
  * of the k-gram's UTF-8 bytes (the value of
  * `conv(substring(md5(gram), 1, 11), 16, 10)`); positions stop at
  * 2^16−1. Window `i` (1-based, one per full window of `w` keys) holds
  * the minimum key of positions `i .. i+w−1`. Fewer than `w` k-grams
  * give an empty array.
  *
  * `Dedup.winnowFpArray` needs every window's minimum over one key
  * array. Spark's higher-order functions cannot bind that array once
  * per row: referenced inside the per-window `transform` lambda, it is
  * rebuilt (one md5 per k-gram) for every window, O(n²) md5s per
  * document. Here each key is hashed once.
  */
case class WinnowMins(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_winnow_mins"

  override protected def nullSafeEval(t: Any, kv: Any, wv: Any): Any =
    WinnowMins.compute(t.asInstanceOf[UTF8String], kv.asInstanceOf[Int], wv.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, k, w) => s"graft.functions.WinnowMins.compute($t, $k, $w)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object WinnowMins {
  /** Shared by interpreted eval and generated code. */
  def compute(str: UTF8String, k: Int, w: Int): ArrayData = {
    if (k < 1 || w < 1)
      throw new IllegalArgumentException(s"graft_winnow_mins: k and w must be positive, got k=$k w=$w")
    val n = math.min(str.numChars() - (k - 1), 65535)
    if (n < w) return ArrayData.toArrayData(Array.emptyLongArray)
    val md5 = java.security.MessageDigest.getInstance("MD5")
    val keys = new Array[Long](n)
    var pos = 1
    while (pos <= n) {
      val d = md5.digest(str.substring(pos - 1, pos - 1 + k).getBytes)
      val h = ((d(0) & 0xffL) << 36) | ((d(1) & 0xffL) << 28) | ((d(2) & 0xffL) << 20) |
        ((d(3) & 0xffL) << 12) | ((d(4) & 0xffL) << 4) | ((d(5) & 0xffL) >>> 4)
      keys(pos - 1) = h * 65536L + (65535L - pos)
      pos += 1
    }
    val mins = new Array[Long](n - (w - 1))
    var i = 0
    while (i < mins.length) {
      var m = keys(i)
      var j = 1
      while (j < w) {
        if (keys(i + j) < m) m = keys(i + j)
        j += 1
      }
      mins(i) = m
      i += 1
    }
    ArrayData.toArrayData(mins)
  }
}
