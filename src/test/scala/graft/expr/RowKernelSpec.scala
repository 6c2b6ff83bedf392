package graft.expr

import graft.SparkSpecBase
import graft.ops.{BloomJoin, Dedup, TextAnalysis}
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, IntegerType}
import scala.util.Random

object RowKernelSpec {
  /** Runs `f` with every projection interpreted (`NO_CODEGEN`, which also
    * turns whole-stage codegen off) or generated (`CODEGEN_ONLY`, which
    * fails where it would fall back). Frames read by `f` must not be
    * local relations: the optimizer folds a projection over one with
    * interpreted eval whatever the mode. */
  def withFactoryMode[T](spark: SparkSession, codegen: Boolean)(f: => T): T = {
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")
    try f finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Evaluates to 1 interpreted and to 2 in generated code, so a result
    * tells which path ran. */
  case class PathProbe(child: Expression) extends UnaryExpression {
    override def dataType: DataType = IntegerType
    override def nullSafeEval(input: Any): Any = 1
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, _ => s"${ev.value} = 2;")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }
}

/** Every [[RowKernel]] expression: the interpreted leg (`nullSafeEval`)
  * and the generated leg (`doGenCode`) return identical rows on seeded
  * inputs, NULL and empty included, and equal an independent reference
  * where one exists; a wrong-typed input fails at analysis, naming the
  * kernel. */
class RowKernelSpec extends SparkSpecBase {
  import RowKernelSpec._
  import spark.implicits._

  private val rnd = new Random(11)
  private def floats(n: Int) = Array.fill(n)(rnd.nextFloat() * 4 - 2)

  // sparkContext.parallelize, not Seq.toDF: see withFactoryMode
  private lazy val vecs: DataFrame = {
    val rows: Seq[(Long, Option[Array[Float]], Option[Array[Float]])] =
      (0 until 8).map(i => (i.toLong, Option(floats(8)), Option(floats(8)))) ++ Seq(
        (8L, Some(floats(8)), Some(floats(5))), // unequal lengths
        (9L, Some(Array.emptyFloatArray), Some(Array.emptyFloatArray)),
        (10L, Some(Array.fill(8)(0.0f)), Some(floats(8))),
        (11L, None, Some(floats(8))),
        (12L, Some(floats(8)), None))
    spark.sparkContext.parallelize(rows, 2).toDF("id", "a", "b")
  }

  private lazy val bytes: DataFrame = {
    def q(n: Int) = Seq.fill(n)((rnd.nextInt(255) - 127).toByte) // array<tinyint>, not binary
    val rows: Seq[(Long, Option[Seq[Byte]], Option[Seq[Byte]])] =
      (0 until 6).map(i => (i.toLong, Option(q(16)), Option(q(16)))) ++ Seq(
        (6L, Some(Seq.fill(16)(127.toByte)), Some(Seq.fill(16)(-127.toByte))),
        (7L, Some(Seq.empty[Byte]), Some(Seq.empty[Byte])),
        (8L, None, Some(q(16))))
    spark.sparkContext.parallelize(rows, 2).toDF("id", "qa", "qb")
  }

  // normalized (lower-case, single-space) texts, as the sketch kernels expect
  private lazy val texts: DataFrame = {
    val vocab = Seq("the", "cat", "sat", "on", "mat", "dog", "über", "café", "日本", "a")
    def doc(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val rows: Seq[(Long, Option[String])] =
      (0 until 10).map(i => (i.toLong, Option(doc(3 + rnd.nextInt(12))))) ++ Seq(
        (10L, Some("the cat the cat the cat the cat")),
        (11L, Some("word")),
        (12L, Some("")),
        (13L, None))
    spark.sparkContext.parallelize(rows, 2).toDF("id", "text")
  }

  private lazy val payloads: DataFrame = {
    val rows: Seq[(Long, Option[Array[Byte]])] =
      (0 until 6).map(i => (i.toLong, Option(Array.fill(40 + 30 * i)(rnd.nextInt(256).toByte)))) ++
        Seq((6L, Some(Array.emptyByteArray)), (7L, None))
    spark.sparkContext.parallelize(rows, 2).toDF("id", "p")
  }

  private val bloomBits = 1 << 10
  private lazy val bloom: Array[Long] =
    BloomJoin.keyBloom((1L to 64L).toDF("key"), "key", bloomBits, 3)
  private lazy val keys: DataFrame = {
    val rows: Seq[(Long, Option[Long])] =
      (0 until 40).map(i => (i.toLong, Option(i * 3L))) :+ ((40L, None))
    spark.sparkContext.parallelize(rows, 2).toDF("id", "key")
  }

  /** name → (input frame, kernel column) for all 15 kernels. */
  private lazy val kernels: Seq[(String, DataFrame, Column)] = Seq(
    ("vec_dot", vecs, VectorExprs.dot($"a", $"b")),
    ("vec_cosine", vecs, VectorExprs.cosine($"a", $"b")),
    ("vec_l2", vecs, VectorExprs.l2($"a", $"b")),
    ("vec_dot_i8", bytes, QuantExprs.dotI8($"qa", $"qb")),
    ("srp_buckets", vecs, VectorExprs.srpBuckets($"a", 12, 8, 4, 42L)),
    ("minhash_sig", texts, DedupKernel.minHashSigCol($"text", 16, 2)),
    ("feature_buckets", texts, DedupKernel.featureBucketsCol($"text", 97)),
    ("poly_embed", texts, DedupKernel.polyEmbedCol($"text", 8)),
    ("simhash62", texts, DedupKernel.simHash62Col($"text")),
    ("distinct_ngram_codes", texts, DedupKernel.distinctNgramCodesCol($"text", 2)),
    ("all_ngram_codes", texts, DedupKernel.allNgramCodesCol($"text", 2)),
    ("ngram_dup_counts", texts, DedupKernel.ngramDupCountsCol($"text", 2)),
    ("winnow_fp", texts, WinnowKernel.fps($"text", 4, 2)),
    ("avg_hash64", payloads, MediaKernel.avgHash64Col($"p")),
    ("bloom_might_contain", keys, BloomJoin.mightContain($"key", bloom, bloomBits, 3)))

  /** name → (interpreted rows, generated rows) of (id, result). */
  private lazy val results: Map[String, (Seq[Row], Seq[Row])] =
    kernels.map { case (name, df, c) =>
      def run(codegen: Boolean) =
        withFactoryMode(spark, codegen)(df.select($"id", c.as("r")).collect().toSeq)
      name -> (run(codegen = false), run(codegen = true))
    }.toMap

  /** Column 1 of `r` (None for NULL), arrays as immutable Seqs. */
  private def value[T](r: Row): Option[T] = Option(r.get(1)).map {
    case s: scala.collection.Seq[_] => s.toSeq
    case v => v
  }.asInstanceOf[Option[T]]

  /** The one agreed result of a kernel, by id. */
  private def byId[T](name: String): Map[Long, Option[T]] =
    results(name)._1.map(r => r.getLong(0) -> value[T](r)).toMap

  test("harness: NO_CODEGEN runs eval, CODEGEN_ONLY runs generated code") {
    val probe = ColumnBridge.column(PathProbe(ColumnBridge.expression($"id")))
    def run(codegen: Boolean) =
      withFactoryMode(spark, codegen)(vecs.select(probe).as[Int].collect().toSet)
    assert(run(codegen = false) == Set(1))
    assert(run(codegen = true) == Set(2))
  }

  test("all 15 row kernels: interpreted == generated on seeded inputs, NULL and empty included") {
    assert(kernels.map(_._1).distinct.size == 15)
    for ((name, df, c) <- kernels) {
      assert(df.select(c).columns.head.startsWith(name + "("), df.select(c).columns.head)
      val (interpreted, generated) = results(name)
      assert(interpreted.nonEmpty && interpreted.exists(!_.isNullAt(1)), name)
      assert(interpreted == generated,
        s"$name interpreted vs generated:\n${interpreted.mkString("\n")}\n--\n${generated.mkString("\n")}")
    }
    // a NULL input row yields NULL from every kernel
    assert(byId[Any]("vec_dot")(11L).isEmpty && byId[Any]("srp_buckets")(11L).isEmpty)
    assert(byId[Any]("vec_dot_i8")(8L).isEmpty && byId[Any]("avg_hash64")(7L).isEmpty)
    assert(byId[Any]("simhash62")(13L).isEmpty && byId[Any]("bloom_might_contain")(40L).isEmpty)
    // kernels that return NULL for a non-null input take the shared null branch
    assert(byId[Any]("avg_hash64")(6L).isEmpty && byId[Any]("simhash62")(12L).isEmpty)
    assert(byId[Any]("poly_embed")(12L).isEmpty && byId[Any]("ngram_dup_counts")(11L).isEmpty)
  }

  test("vector kernels equal plain-Scala references") {
    val in = vecs.as[(Long, Option[Array[Float]], Option[Array[Float]])].collect()
    def both(f: (Array[Float], Array[Float]) => Double) =
      in.map { case (id, a, b) => id -> a.flatMap(x => b.map(y => f(x, y))) }.toMap
    def dot(a: Array[Float], b: Array[Float]) =
      a.zip(b).foldLeft(0.0d) { case (s, (x, y)) => s + x.toDouble * y.toDouble }
    def cos(a0: Array[Float], b0: Array[Float]) = {
      val (a, b) = (a0.take(b0.length), b0.take(a0.length)) // read up to the shorter
      val (na, nb) = (math.sqrt(dot(a, a)), math.sqrt(dot(b, b)))
      if (na == 0 || nb == 0) 0.0 else dot(a, b) / (na * nb)
    }
    def l2(a: Array[Float], b: Array[Float]) = math.sqrt(a.zip(b).foldLeft(0.0d) {
      case (s, (x, y)) => s + (x.toDouble - y.toDouble) * (x.toDouble - y.toDouble) })
    assert(byId[Double]("vec_dot") == both(dot))
    assert(byId[Double]("vec_cosine") == both(cos))
    assert(byId[Double]("vec_l2") == both(l2))
    assert(byId[Double]("vec_cosine")(10L).contains(0.0)) // zero norm reads 0, not NaN

    val planes = Array.tabulate(4)(t => graft.ops.Similarity.planesInt(12, 8, 42L + 1000L * t))
    val srp = in.map { case (id, a, _) => id -> a.map { v =>
      val q = v.take(8).map(x => BigDecimal(x.toDouble * 1e6).setScale(0,
        BigDecimal.RoundingMode.HALF_UP).toLong)
      planes.toSeq.map(pl => (0 until 12).foldLeft(0L) { (code, p) =>
        if (q.indices.map(i => q(i) * pl(p)(i)).sum > 0) code | (1L << p) else code })
    } }.toMap
    assert(byId[Seq[Long]]("srp_buckets") == srp)

    val qin = bytes.as[(Long, Option[Seq[Byte]], Option[Seq[Byte]])].collect()
    assert(byId[Long]("vec_dot_i8") == qin.map { case (id, a, b) =>
      id -> a.flatMap(x => b.map(y => x.zip(y).map { case (u, v) => u.toLong * v }.sum)) }.toMap)
  }

  test("text kernels equal the portable expression-only pipelines") {
    val nonNull = texts.filter($"text".isNotNull)
    def rows[T](df: DataFrame): Map[Long, T] =
      df.collect().map(r => r.getLong(0) -> value[T](r).get).toMap
    val sigs = byId[Seq[Long]]("minhash_sig").collect { case (id, Some(s)) if s.nonEmpty => id -> s }
    assert(sigs.nonEmpty && sigs == rows[Seq[Long]](
      Dedup.minHashSignaturesPortable(nonNull, "id", "text", 16, 2)))
    assert(byId[Long]("simhash62").collect { case (id, Some(h)) => id -> h } ==
      rows[Long](Dedup.simHashPortable(nonNull, "id", "text")))

    val ng = nonNull.select($"id", TextAnalysis.ngramCodes($"text", 2).as("ng"))
    def defined[T](name: String) = byId[T](name).collect { case (id, Some(v)) => id -> v }
    assert(defined[Seq[Long]]("all_ngram_codes") == rows[Seq[Long]](ng))
    assert(defined[Seq[Long]]("distinct_ngram_codes") ==
      rows[Seq[Long]](ng.select($"id", array_distinct($"ng"))))
    assert(defined[Seq[Long]]("ngram_dup_counts") == rows[Seq[Long]](ng.filter(size($"ng") > 0)
      .select($"id", array(size($"ng").cast("long"), size(array_distinct($"ng")).cast("long")))))

    val winnow = TextAnalysis.winnowFingerprintsPortable(nonNull, "id", "text", 4, 2)
      .as[(Long, Long)].collect().groupBy(_._1).map { case (id, fs) => id -> fs.map(_._2).toSeq.sorted }
    assert(winnow.nonEmpty && defined[Seq[Long]]("winnow_fp").filter(_._2.nonEmpty)
      .map { case (id, fs) => id -> fs.sorted } == winnow)
  }

  test("every row kernel rejects a wrong-typed input at analysis, naming itself") {
    val df = spark.range(1).select($"id".cast("int").as("i"),
      array(lit(1.0d)).as("dv"), array(lit(1)).as("iv"), lit("s").as("s"))
    val wrong: Seq[(String, Column)] = Seq(
      "vec_dot" -> VectorExprs.dot($"dv", $"dv"),
      "vec_cosine" -> VectorExprs.cosine($"dv", $"dv"),
      "vec_l2" -> VectorExprs.l2($"dv", $"dv"),
      "vec_dot_i8" -> QuantExprs.dotI8($"iv", $"iv"),
      "srp_buckets" -> VectorExprs.srpBuckets($"dv", 12, 8, 4, 42L),
      "minhash_sig" -> DedupKernel.minHashSigCol($"i", 16, 2),
      "feature_buckets" -> DedupKernel.featureBucketsCol($"i", 97),
      "poly_embed" -> DedupKernel.polyEmbedCol($"i", 8),
      "simhash62" -> DedupKernel.simHash62Col($"i"),
      "distinct_ngram_codes" -> DedupKernel.distinctNgramCodesCol($"i", 2),
      "all_ngram_codes" -> DedupKernel.allNgramCodesCol($"i", 2),
      "ngram_dup_counts" -> DedupKernel.ngramDupCountsCol($"i", 2),
      "winnow_fp" -> WinnowKernel.fps($"i", 4, 2),
      "avg_hash64" -> MediaKernel.avgHash64Col($"s"),
      "bloom_might_contain" -> BloomJoin.mightContain($"s", Array.fill(16)(0L), bloomBits, 3))
    assert(wrong.map(_._1).toSet == kernels.map(_._1).toSet)
    for ((name, c) <- wrong) {
      val e = intercept[AnalysisException](df.select(c))
      assert(e.getMessage.contains(s"$name expects"), s"$name: ${e.getMessage}")
    }
  }
}
