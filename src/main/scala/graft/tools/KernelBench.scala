package graft.tools

import graft.GraftSession
import graft.core.Pin
import graft.core.Pin._
import graft.expr.VectorExprs
import org.apache.spark.sql.functions._

/** Microbench: the three ways to compute a dot product over
  * ArrayType(FloatType), at 1M rows × 64 dims —
  *   (a) graft's codegen Catalyst Expression (the engine's kernel),
  *   (b) built-in higher-order functions (aggregate ∘ zip_with),
  *   (c) a Scala UDF —
  * next to the vec_cosine and vec_l2 kernels over the same vectors.
  * Quantifies the SURVEY §4.3 design choice. Appends nothing; prints a
  * markdown table (paste into BENCH notes). Every row is warmed up once;
  * a kernel row is the best of 3 timed runs, a portable baseline row
  * (HoF, UDF, expression pipelines, explode) one timed run — baselines
  * are 10-100x slower and their ratio to the kernels is what the table
  * reports.
  *
  *   sbt "runMain graft.tools.KernelBench"
  */
object KernelBench {
  private val KernelRuns = 3
  private val BaselineRuns = 1

  /** Warm `run` up once, then time `runs` runs and print the best as one
    * table row: seconds, and `rows` per second scaled by `scale` into
    * `unit`. Returns the best seconds. */
  private def time(label: String, rows: Long, scale: Double, unit: String,
      runs: Int)(run: => Any): Double = {
    run
    val best = (1 to runs).map { _ =>
      val t0 = System.nanoTime()
      run
      (System.nanoTime() - t0) / 1e9
    }.min
    println(f"| $label%-22s | $best%8.3f s | ${rows / best / scale}%8.1f $unit%-8s |")
    best
  }

  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 1000000L
    val spark = GraftSession.local()
    import spark.implicits._

    val dim = 64
    val df = spark.range(n).select(
      col("id"),
      expr(s"transform(sequence(1, $dim), i -> cast(pmod(id * i, 97) / 97.0 as float))").as("a"),
      expr(s"transform(sequence(1, $dim), i -> cast(pmod(id + i, 89) / 89.0 as float))").as("b"))
      .pin
    df.count() // materialize input once

    val hof = expr(
      "aggregate(zip_with(a, b, (x, y) -> cast(x as double) * cast(y as double)), 0.0d, (acc, v) -> acc + v)")
    val udf_ = udf((a: Seq[Float], b: Seq[Float]) => {
      var acc = 0.0; var i = 0
      val m = math.min(a.length, b.length)
      while (i < m) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    })

    def dot(label: String, runs: Int)(c: org.apache.spark.sql.Column) =
      time(label, n, 1e6, "M rows/s", runs)(df.select(sum(c)).head())

    println(s"Dot product over $n rows x $dim float dims (local):")
    println("| kernel                 | time       | throughput      |")
    println("|------------------------|------------|-----------------|")
    val ce = dot("codegen Expression", KernelRuns)(VectorExprs.dot(col("a"), col("b")))
    dot("vec_cosine kernel", KernelRuns)(VectorExprs.cosine(col("a"), col("b")))
    dot("vec_l2 kernel", KernelRuns)(VectorExprs.l2(col("a"), col("b")))
    val hf = dot("HoF zip_with+aggregate", BaselineRuns)(hof)
    val ud = dot("Scala UDF", BaselineRuns)(udf_(col("a"), col("b")))
    println(f"speedup vs HoF: ${hf / ce}%.1fx; vs UDF: ${ud / ce}%.1fx")

    // int8 path: same vectors quantized once, then the integer kernel
    val qdf = df.select(col("id"),
      graft.ops.Quantize.toInt8(col("a"), lit(127.0d)).as("qa"),
      graft.ops.Quantize.toInt8(col("b"), lit(127.0d)).as("qb"))
      .pin
    qdf.count()
    val qi = time("int8 codegen kernel", n, 1e6, "M rows/s", KernelRuns)(
      qdf.select(sum(graft.expr.QuantExprs.dotI8(col("qa"), col("qb")))).head())
    println(f"int8 vs float codegen: ${ce / qi}%.1fx (plus 4x smaller scans at rest)")
    Pin.release(spark) // df and qdf

    // ---- text-sketch kernels: one-pass codegen vs expression pipelines --
    val nDocs = math.max(n / 20, 1000L)
    val docs = spark.range(nDocs).select(
      col("id"),
      expr("""array_join(transform(sequence(1, 60),
              i -> concat('w', pmod(id * i + i, 211))), ' ')""").as("text"))
      .pin
    docs.count()
    def text(label: String, runs: Int)(mk: => org.apache.spark.sql.DataFrame) =
      time(label, nDocs, 1e3, "K docs/s", runs)(mk.count())
    println(s"\nText sketches over $nDocs docs x 60 words (local):")
    println("| kernel                 | time       | throughput      |")
    println("|------------------------|------------|-----------------|")
    val mk = text("minhash kernel", KernelRuns)(
      graft.ops.Dedup.minHashSignatures(docs, "id", "text"))
    val mp = text("minhash portable", BaselineRuns)(
      graft.ops.Dedup.minHashSignaturesPortable(docs, "id", "text"))
    val sk = text("simhash kernel", KernelRuns)(
      graft.ops.Dedup.simHash(docs, "id", "text"))
    val sp = text("simhash portable", BaselineRuns)(
      graft.ops.Dedup.simHashPortable(docs, "id", "text"))
    val wk = text("winnow kernel", KernelRuns)(
      graft.ops.TextAnalysis.winnowFingerprints(docs, "id", "text"))
    val nk = text("ngram-dup kernel", KernelRuns)(
      graft.ops.TextAnalysis.repetitionStats(docs, "id", "text"))
    val np = text("ngram-dup portable HOF", BaselineRuns)(
      docs.select(col("id"),
        graft.ops.TextAnalysis.ngramCodes(col("text"), 2).as("ng"))
        .filter(size(col("ng")) > 0)
        .select(col("id"), size(col("ng")), size(array_distinct(col("ng")))))
    // the filter on the computed column forces evaluation — a bare
    // select would be column-pruned away under count()
    val dk = text("distinct-ngram kernel", KernelRuns)(
      docs.select(col("id"),
        graft.ops.Decontaminate.ngramSet(col("text"), 8).as("ng"))
        .filter(size(col("ng")) > 0))
    val dp = text("distinct-ngram HOF", BaselineRuns)(
      docs.select(col("id"),
        array_distinct(graft.ops.TextAnalysis.ngramCodes(col("text"), 8)).as("ng"))
        .filter(size(col("ng")) > 0))
    println(f"minhash kernel vs pipeline: ${mp / mk}%.1fx; simhash: ${sp / sk}%.1fx; " +
      f"ngram-dup: ${np / nk}%.1fx; distinct-ngram: ${dp / dk}%.1fx")

    // ---- spectral moments: one-pass 128-bit aggregate vs explode ----
    val nVec = math.max(n / 5, 10000L)
    val sdim = 64
    def moments(label: String, runs: Int)(mk: => org.apache.spark.sql.DataFrame) =
      time(label, nVec, 1e3, "K vecs/s", runs)(mk.count())
    val vecs = spark.range(nVec).select(expr(
      s"transform(sequence(1, $sdim), i -> cast(round(pmod(id * i, 199) / 199.0 * 1e6) as bigint))")
      .as("vm")).pin
    vecs.count()
    println(s"\nSpectral moments over $nVec vectors x $sdim dims (local):")
    println("| kernel                 | time       | throughput      |")
    println("|------------------------|------------|-----------------|")
    val sa = moments("moments aggregate", KernelRuns)(
      vecs.agg(graft.expr.SpectralMoments.of(col("vm"), sdim).as("m"))
        .select(col("m.n"), col("m.sxy")))
    val se = moments("explode + groupBy", BaselineRuns)(
      vecs.select(explode(expr(
          s"flatten(transform(sequence(0, ${sdim - 1}), p -> " +
            s"transform(sequence(p, ${sdim - 1}), q -> named_struct(" +
            "'p', p, 'q', q, 'prod', element_at(vm, p + 1) * element_at(vm, q + 1)))))"))
          .as("e"))
        .groupBy(col("e.p"), col("e.q"))
        .agg(sum(col("e.prod").cast("decimal(38,0)")).as("sxy")))
    println(f"moments aggregate vs explode formulation: ${se / sa}%.1fx")
    Pin.release(spark) // docs and vecs
    spark.stop()
  }
}
