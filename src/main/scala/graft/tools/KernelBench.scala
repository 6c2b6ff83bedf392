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
  * markdown table (paste into BENCH notes).
  *
  *   sbt "runMain graft.tools.KernelBench"
  */
object KernelBench {
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

    def time(label: String)(c: org.apache.spark.sql.Column): Double = {
      df.select(sum(c)).head() // warm
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        df.select(sum(c)).head()
        (System.nanoTime() - t0) / 1e9
      }
      val best = runs.min
      println(f"| $label%-22s | $best%8.3f s | ${n / best / 1e6}%8.1f M rows/s |")
      best
    }

    println(s"Dot product over $n rows x $dim float dims (local, min of 3):")
    println("| kernel                 | time       | throughput      |")
    println("|------------------------|------------|-----------------|")
    val ce = time("codegen Expression")(VectorExprs.dot(col("a"), col("b")))
    time("vec_cosine kernel")(VectorExprs.cosine(col("a"), col("b")))
    time("vec_l2 kernel")(VectorExprs.l2(col("a"), col("b")))
    val hf = time("HoF zip_with+aggregate")(hof)
    val ud = time("Scala UDF")(udf_(col("a"), col("b")))
    println(f"speedup vs HoF: ${hf / ce}%.1fx; vs UDF: ${ud / ce}%.1fx")

    // int8 path: same vectors quantized once, then the integer kernel
    val qdf = df.select(col("id"),
      graft.ops.Quantize.toInt8(col("a"), lit(127.0d)).as("qa"),
      graft.ops.Quantize.toInt8(col("b"), lit(127.0d)).as("qb"))
      .pin
    qdf.count()
    def timeQ(label: String)(c: org.apache.spark.sql.Column): Double = {
      qdf.select(sum(c)).head()
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        qdf.select(sum(c)).head()
        (System.nanoTime() - t0) / 1e9
      }
      val best = runs.min
      println(f"| $label%-22s | $best%8.3f s | ${n / best / 1e6}%8.1f M rows/s |")
      best
    }
    val qi = timeQ("int8 codegen kernel")(
      graft.expr.QuantExprs.dotI8(col("qa"), col("qb")))
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
    def timeDf(label: String)(mk: => org.apache.spark.sql.DataFrame): Double = {
      mk.count() // warm
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        mk.count()
        (System.nanoTime() - t0) / 1e9
      }
      val best = runs.min
      println(f"| $label%-22s | $best%8.3f s | ${nDocs / best / 1e3}%8.1f K docs/s |")
      best
    }
    println(s"\nText sketches over $nDocs docs x 60 words (local, min of 3):")
    println("| kernel                 | time       | throughput      |")
    println("|------------------------|------------|-----------------|")
    val mk = timeDf("minhash kernel")(
      graft.ops.Dedup.minHashSignatures(docs, "id", "text"))
    val mp = timeDf("minhash portable")(
      graft.ops.Dedup.minHashSignaturesPortable(docs, "id", "text"))
    val sk = timeDf("simhash kernel")(
      graft.ops.Dedup.simHash(docs, "id", "text"))
    val sp = timeDf("simhash portable")(
      graft.ops.Dedup.simHashPortable(docs, "id", "text"))
    val wk = timeDf("winnow kernel")(
      graft.ops.TextAnalysis.winnowFingerprints(docs, "id", "text"))
    val nk = timeDf("ngram-dup kernel")(
      graft.ops.TextAnalysis.repetitionStats(docs, "id", "text"))
    val np = timeDf("ngram-dup portable HOF")(
      docs.select(col("id"),
        graft.ops.TextAnalysis.ngramCodes(col("text"), 2).as("ng"))
        .filter(size(col("ng")) > 0)
        .select(col("id"), size(col("ng")), size(array_distinct(col("ng")))))
    // the filter on the computed column forces evaluation — a bare
    // select would be column-pruned away under count()
    val dk = timeDf("distinct-ngram kernel")(
      docs.select(col("id"),
        graft.ops.Decontaminate.ngramSet(col("text"), 8).as("ng"))
        .filter(size(col("ng")) > 0))
    val dp = timeDf("distinct-ngram HOF")(
      docs.select(col("id"),
        array_distinct(graft.ops.TextAnalysis.ngramCodes(col("text"), 8)).as("ng"))
        .filter(size(col("ng")) > 0))
    println(f"minhash kernel vs pipeline: ${mp / mk}%.1fx; simhash: ${sp / sk}%.1fx; " +
      f"ngram-dup: ${np / nk}%.1fx; distinct-ngram: ${dp / dk}%.1fx")

    // ---- spectral moments: one-pass 128-bit aggregate vs explode ----
    val nVec = math.max(n / 5, 10000L)
    val sdim = 64
    def timeDfN(label: String, rows: Long)(mk: => org.apache.spark.sql.DataFrame): Double = {
      mk.count() // warm
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        mk.count()
        (System.nanoTime() - t0) / 1e9
      }
      val best = runs.min
      println(f"| $label%-22s | $best%8.3f s | ${rows / best / 1e3}%8.1f K vecs/s |")
      best
    }
    val vecs = spark.range(nVec).select(expr(
      s"transform(sequence(1, $sdim), i -> cast(round(pmod(id * i, 199) / 199.0 * 1e6) as bigint))")
      .as("vm")).pin
    vecs.count()
    println(s"\nSpectral moments over $nVec vectors x $sdim dims (local, min of 3):")
    println("| kernel                 | time       | throughput      |")
    println("|------------------------|------------|-----------------|")
    val sa = timeDfN("moments aggregate", nVec)(
      vecs.agg(graft.expr.SpectralMoments.of(col("vm"), sdim).as("m"))
        .select(col("m.n"), col("m.sxy")))
    val se = timeDfN("explode + groupBy", nVec)(
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
