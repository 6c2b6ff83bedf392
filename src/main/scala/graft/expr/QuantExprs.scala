package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, LongType}

/** Integer dot product over int8-quantized vectors
  * (`ArrayType(ByteType)`, see [[graft.ops.Quantize]]): Σ aᵢ·bᵢ as a
  * LONG ([[VectorKernel.dotI8]]) — exact integer arithmetic (|q| ≤ 127,
  * so dims up to 2⁴⁸ cannot overflow). The quantized scan reads 4× fewer
  * bytes per vector than float32 — at 100 TB of embeddings the
  * memory-bandwidth win IS the speedup; this kernel keeps the compute
  * integer so the saving isn't spent widening to double per element. */
case class Int8Dot(left: Expression, right: Expression) extends BinaryKernel {
  override def prettyName: String = "vec_dot_i8"
  override def dataType: DataType = LongType
  override protected def inputType: DataType = ArrayType(ByteType)
  override protected def kernel: String = "graft.expr.VectorKernel.dotI8"
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernel.dotI8(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object QuantExprs {
  def dotI8(a: Column, b: Column): Column =
    ColumnBridge.column(Int8Dot(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
