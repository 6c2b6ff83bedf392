package graft.expr

import graft.SparkSpecBase
import scala.util.Random

/** Vector kernels vs a plain-Scala reference implementation on seeded
  * random vectors, in both the interpreted (eval) and the generated path
  * (see [[RowKernelSpec.withFactoryMode]]).
  */
class VectorExprsSpec extends SparkSpecBase {
  import spark.implicits._

  private def refDot(a: Seq[Float], b: Seq[Float]): Double =
    a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
  private def refL2(a: Seq[Float], b: Seq[Float]): Double =
    math.sqrt(a.zip(b).map { case (x, y) => (x.toDouble - y.toDouble) * (x.toDouble - y.toDouble) }.sum)
  private def refCos(a: Seq[Float], b: Seq[Float]): Double = {
    val d = refDot(a, b)
    val na = math.sqrt(refDot(a, a)); val nb = math.sqrt(refDot(b, b))
    if (na == 0 || nb == 0) 0.0 else d / (na * nb)
  }

  private def engine(a: Seq[Float], b: Seq[Float], codegen: Boolean): (Double, Double, Double) =
    RowKernelSpec.withFactoryMode(spark, codegen) {
      val df = spark.sparkContext.parallelize(Seq((a.toArray, b.toArray)), 1).toDF("a", "b")
      val r = df.select(
        VectorExprs.dot($"a", $"b"),
        VectorExprs.cosine($"a", $"b"),
        VectorExprs.l2($"a", $"b")).head()
      (r.getDouble(0), r.getDouble(1), r.getDouble(2))
    }

  test("property: dot/cosine/l2 match reference (codegen and interpreted)") {
    val rnd = new Random(7)
    def vec() = Seq.fill(8)(rnd.nextFloat() * 4 - 2)
    for (_ <- 1 to 10) {
      val a = vec(); val b = vec()
      for (codegen <- Seq(true, false)) {
        val (d, c, l) = engine(a, b, codegen)
        assert(math.abs(d - refDot(a, b)) < 1e-9)
        assert(math.abs(c - refCos(a, b)) < 1e-9)
        assert(math.abs(l - refL2(a, b)) < 1e-9)
      }
    }
  }

  test("zero vector cosine is 0, not NaN") {
    val z = Seq.fill(4)(0.0f); val v = Seq(1.0f, 2.0f, 3.0f, 4.0f)
    assert(engine(z, v, codegen = true)._2 == 0.0)
  }

  test("null input yields null") {
    val df = Seq((Some(Array(1.0f)), Option.empty[Array[Float]]))
      .toDF("a", "b")
    val r = df.select(VectorExprs.dot($"a", $"b")).head()
    assert(r.isNullAt(0))
  }

  test("rejects non-float-array inputs at analysis") {
    val df = Seq((Array(1.0d), Array(1.0f))).toDF("a", "b")
    intercept[Exception](df.select(VectorExprs.dot($"a", $"b")).head())
  }
}
