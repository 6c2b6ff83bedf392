package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Vector similarity/distance kernels over `ArrayType(FloatType)` columns
  * (and the int8 dot of [[Int8Dot]]).
  *
  * The reference computes an unnormalized dot product it calls "cosine"
  * (reference: src/embeddings.rs:365) and L2 distance via an external
  * KdTree crate (src/embeddings.rs:92,402-408). Here each kernel is one
  * static method below, wrapped by a [[RowKernel]] expression: generated
  * code is a single call per row, fused with the scan/filter above it in
  * WholeStageCodegen — no per-row lambda allocation, no boxing — which is
  * the 100 TB-scale path.
  *
  * The float kernels accumulate in double (float inputs widened per
  * element) and iterate in array order, so results are deterministic and
  * bit-stable; arrays of unequal length are read up to the shorter one. */
object VectorKernel {
  /** dot(a, b) = Σ aᵢ·bᵢ — the reference's similarity (embeddings.rs:365). */
  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0d; var i = 0
    while (i < n) { acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    acc
  }

  /** cosine(a, b) = dot / (‖a‖·‖b‖); 0.0 when either norm is zero.
    * One pass over both arrays (dot + both norms fused). */
  def cosine(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0d; var na = 0.0d; var nb = 0.0d; var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble; val yv = y.getFloat(i).toDouble
      dot += xv * yv; na += xv * xv; nb += yv * yv; i += 1
    }
    if (na == 0.0d || nb == 0.0d) 0.0d
    else dot / (java.lang.Math.sqrt(na) * java.lang.Math.sqrt(nb))
  }

  /** l2(a, b) = sqrt(Σ (aᵢ-bᵢ)²) — the reference's KdTree metric
    * (embeddings.rs:92,402-408), as a flat scan kernel. */
  def l2(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0d; var i = 0
    while (i < n) {
      val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble
      acc += d * d; i += 1
    }
    java.lang.Math.sqrt(acc)
  }

  /** Σ aᵢ·bᵢ over int8-quantized vectors, exact in a long. */
  def dotI8(x: ArrayData, y: ArrayData): Long = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L; var i = 0
    while (i < n) { acc += x.getByte(i).toLong * y.getByte(i).toLong; i += 1 }
    acc
  }

  /** All SRP-LSH bucket codes of a float vector, one per table of
    * `planes`: quantize once (round(x·10⁶) as long, half away from zero —
    * Spark/DuckDB round() on doubles), then bit p of table t's code = sign
    * of the integer dot ⟨q, planes(t)(p)⟩ over the first `dim` elements. */
  def srpBuckets(v: ArrayData, planes: Array[Array[Array[Long]]],
      numPlanes: Int, dim: Int): ArrayData = {
    val n = math.min(v.numElements(), dim)
    val qv = new Array[Long](n)
    var d = 0
    while (d < n) {
      val x = v.getFloat(d).toDouble * 1000000.0d
      qv(d) = (if (x < 0) math.ceil(x - 0.5d) else math.floor(x + 0.5d)).toLong
      d += 1
    }
    val out = new Array[Long](planes.length)
    var t = 0
    while (t < planes.length) {
      var bucket = 0L; var p = 0
      while (p < numPlanes) {
        val w = planes(t)(p); var dot = 0L; var i = 0
        while (i < n) { dot += qv(i) * w(i); i += 1 }
        if (dot > 0L) bucket |= (1L << p)
        p += 1
      }
      out(t) = bucket; t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** double [[VectorKernel.dot]] of two array<float>. */
case class DotProduct(left: Expression, right: Expression) extends BinaryKernel {
  override def prettyName: String = "vec_dot"
  override def dataType: DataType = DoubleType
  override protected def inputType: DataType = ArrayType(FloatType)
  override protected def kernel: String = "graft.expr.VectorKernel.dot"
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernel.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** double [[VectorKernel.cosine]] of two array<float>. */
case class CosineSimilarity(left: Expression, right: Expression) extends BinaryKernel {
  override def prettyName: String = "vec_cosine"
  override def dataType: DataType = DoubleType
  override protected def inputType: DataType = ArrayType(FloatType)
  override protected def kernel: String = "graft.expr.VectorKernel.cosine"
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernel.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** double [[VectorKernel.l2]] of two array<float>. */
case class L2Distance(left: Expression, right: Expression) extends BinaryKernel {
  override def prettyName: String = "vec_l2"
  override def dataType: DataType = DoubleType
  override protected def inputType: DataType = ArrayType(FloatType)
  override protected def kernel: String = "graft.expr.VectorKernel.l2"
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernel.l2(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** All L SRP-LSH bucket codes of a float vector in one fused pass
  * ([[VectorKernel.srpBuckets]]) with the deterministic integer planes of
  * [[graft.ops.Similarity.planesInt]] (seed + 1000·t per table) — the
  * exact arithmetic the DuckDB oracles replay. Output: array<long> of
  * length numTables. Replaces a 10-table union of lambda-aggregate
  * projections (L source scans, codegen-hostile) with one kernel call. */
case class SrpBuckets(child: Expression, numPlanes: Int, dim: Int,
    numTables: Int, seed: Long) extends UnaryKernel {
  require(numPlanes >= 1 && numPlanes <= 62, "numPlanes must be in [1, 62]")
  override def prettyName: String = "srp_buckets"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def inputType: DataType = ArrayType(FloatType)
  override protected def kernel: String = "graft.expr.VectorKernel.srpBuckets"

  @transient private lazy val planes: Array[Array[Array[Long]]] =
    Array.tabulate(numTables) { t =>
      graft.ops.Similarity.planesInt(numPlanes, dim, seed + 1000L * t)
    }
  override protected def constants: Seq[Any] = Seq(planes, numPlanes, dim)

  override def nullSafeEval(input: Any): Any =
    VectorKernel.srpBuckets(input.asInstanceOf[ArrayData], planes, numPlanes, dim)
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object VectorExprs {
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def cosine(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimilarity(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def l2(a: Column, b: Column): Column =
    ColumnBridge.column(L2Distance(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def srpBuckets(v: Column, numPlanes: Int, dim: Int, numTables: Int,
      seed: Long): Column =
    ColumnBridge.column(SrpBuckets(ColumnBridge.expression(v),
      numPlanes, dim, numTables, seed))
}
