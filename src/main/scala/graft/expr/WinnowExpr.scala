package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing (MOSS-style rolling-hash) fingerprint kernel.
  *
  * One pass over the input string: polynomial hash of every k-char window
  * (code points, base B = 131, mod P = 1e9+7 — 64-bit safe:
  * k·0x10FFFF·(P−1) < 2^63 for k ≤ 16), then the minimum of each run of t
  * consecutive hashes, deduplicated preserving first occurrence. Returns
  * `array<long>` (empty when the text is shorter than k + t − 1 code
  * points).
  *
  * This is the codegen fast path for [[graft.ops.TextAnalysis
  * .winnowFingerprints]]: identical arithmetic to the portable
  * expression-only pipeline (`transform`/`slice`/`array_min`) and to the
  * DuckDB oracle (q38), but with zero intermediate ArrayData/UTF8String
  * allocation — the expression-only form allocates one single-char string
  * per character plus three O(L) arrays per document. At 100 TB this is a
  * map-only kernel fused into WholeStageCodegen above the scan.
  */
case class WinnowFp(child: Expression, k: Int, t: Int) extends UnaryKernel {
  require(k > 0 && t > 0 && k <= 16, s"need 0 < k <= 16 and t > 0, got $k/$t")

  override def prettyName: String = "winnow_fp"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def inputType: DataType = StringType
  override protected def kernel: String = "graft.expr.WinnowKernel.compute"
  override protected def constants: Seq[Any] = Seq(k, t)

  override def nullSafeEval(input: Any): Any =
    WinnowKernel.compute(input.asInstanceOf[UTF8String], k, t)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WinnowKernel {
  final val P = 1000000007L
  final val B = 131L

  /** The [[WinnowFp]] kernel. */
  def compute(s: UTF8String, k: Int, t: Int): ArrayData = {
    val str = s.toString
    val n = str.length
    // decode code points (matches split('')+ascii(): one element per code
    // point, value = the code point)
    val cps = new Array[Int](n)
    var len = 0
    var i = 0
    while (i < n) {
      val cp = str.codePointAt(i)
      cps(len) = cp
      len += 1
      i += Character.charCount(cp)
    }
    val nh = len - k + 1 // number of k-gram hashes
    val nw = nh - t + 1 // number of windows
    if (nw <= 0) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val coef = new Array[Long](k)
    coef(0) = 1L
    var j = 1
    while (j < k) { coef(j) = coef(j - 1) * B % P; j += 1 }
    val h = new Array[Long](nh)
    i = 0
    while (i < nh) {
      var acc = 0L
      var jj = 0
      while (jj < k) { acc += cps(i + jj) * coef(jj); jj += 1 }
      h(i) = acc % P
      i += 1
    }
    val out = new Array[Long](nw)
    val seen = new java.util.HashSet[java.lang.Long](math.min(nw * 2, 1024))
    var m = 0
    var cnt = 0
    while (m < nw) {
      var mn = h(m)
      var q = 1
      while (q < t) { val v = h(m + q); if (v < mn) mn = v; q += 1 }
      if (seen.add(mn)) { out(cnt) = mn; cnt += 1 }
      m += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(out, cnt))
  }

  /** Column builder: distinct winnow fingerprints of a (pre-normalized)
    * string column as `array<long>`. */
  def fps(text: Column, k: Int = 8, t: Int = 4): Column =
    ColumnBridge.column(WinnowFp(ColumnBridge.expression(text), k, t))
}
