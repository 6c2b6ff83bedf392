package graft.expr

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}

/** Bloom membership test over a plan-embedded bitset (see
  * [[graft.ops.BloomJoin]]): true iff the key's k double-hashed bit
  * positions are all set. The bitset rides along as an expression field
  * (an IndexedSeq for value equality, so plan canonicalization works) and
  * is a kernel constant — one codegen reference object, NOT a per-row
  * literal — so the generated probe filter is one static-array loop,
  * fused into the scan's WholeStageCodegen. */
case class BloomMightContain(child: Expression, bits: IndexedSeq[Long],
    numBits: Int, k: Int) extends UnaryKernel {
  require(numBits >= 64 && (numBits & 63) == 0 && bits.length == numBits >> 6,
    s"bitset length ${bits.length} inconsistent with numBits $numBits")
  require(k >= 1, s"need k >= 1 hash functions, got $k")

  @transient private lazy val arr: Array[Long] = bits.toArray

  override def prettyName: String = "bloom_might_contain"
  override def dataType: DataType = BooleanType
  override protected def inputType: DataType = LongType
  override protected def kernel: String = "graft.expr.BloomKernel.mightContain"
  override protected def constants: Seq[Any] = Seq(arr, numBits, k)

  override def nullSafeEval(input: Any): Any =
    BloomKernel.mightContain(input.asInstanceOf[Long], arr, numBits, k)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** [[graft.ops.BloomJoin.test]] with the key first, as a kernel call
  * passes its input before its constants. */
object BloomKernel {
  def mightContain(key: Long, bits: Array[Long], numBits: Int, k: Int): Boolean =
    graft.ops.BloomJoin.test(bits, numBits, k, key)
}
