package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** Perceptual-hash kernel for opaque media payloads (binary columns) — the
  * average-hash ("aHash") family used for image near-dup detection, applied
  * to the RAW payload bytes: resize-to-64-cells → per-cell mean → sign
  * against the global mean → 64-bit fingerprint. On a real image the cells
  * would be decoded pixels; on the raw bytes it is the same shift-invariant
  * "which regions are brighter than average" signature over the byte
  * stream — the decode-free tier of media dedup (and the drop-in slot for
  * a decoded-pixel version: only this kernel changes, the banding join
  * does not).
  *
  * Determinism / portability: cell j of an n-byte payload is the byte
  * range [⌈j·n/64⌉, ⌈(j+1)·n/64⌉) (computed as position → cell
  * ⌊i·64/n⌋ — exact integer arithmetic), and the sign test cross-
  * multiplies (sum_j·n > total·cnt_j) instead of dividing, so any engine
  * replays the exact bit pattern. Safe from Long overflow for payloads
  * below 2³² bytes (255·n·n/64 < 2⁶³ ⇔ n < 2³⁰ approx) — far above any
  * sane single-row payload.
  *
  * Empty/null payload → null (nothing to fingerprint).
  */
object MediaKernel {
  final val Bits = 64

  def avgHash64(bytes: Array[Byte]): java.lang.Long = {
    if (bytes == null || bytes.length == 0) return null
    val n = bytes.length
    val sums = new Array[Long](Bits)
    val cnts = new Array[Long](Bits)
    var total = 0L
    var i = 0
    while (i < n) {
      val cell = (i.toLong * Bits / n).toInt
      val v = (bytes(i) & 0xff).toLong
      sums(cell) += v
      cnts(cell) += 1
      total += v
      i += 1
    }
    var fp = 0L
    var j = 0
    while (j < Bits) {
      if (cnts(j) > 0 && sums(j) * n > total * cnts(j)) fp |= (1L << j)
      j += 1
    }
    java.lang.Long.valueOf(fp)
  }

  /** Column builder over a BinaryType payload column. */
  def avgHash64Col(payload: Column): Column =
    ColumnBridge.column(AvgHash64(ColumnBridge.expression(payload)))
}

/** 64-bit average-hash of a binary payload (see [[MediaKernel.avgHash64]]);
  * null for an empty payload. */
case class AvgHash64(child: Expression) extends UnaryKernel {
  override def prettyName: String = "avg_hash64"
  override def dataType: DataType = LongType
  override protected def inputType: DataType = BinaryType
  override protected def kernel: String = "graft.expr.MediaKernel.avgHash64"
  override protected def nullResult: Boolean = true

  override def nullSafeEval(input: Any): Any =
    MediaKernel.avgHash64(input.asInstanceOf[Array[Byte]])

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
