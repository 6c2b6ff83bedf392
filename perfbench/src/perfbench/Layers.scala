package perfbench

import graft.embed.{Embed, HashEmbedder}
import graft.expr.{MetaFilter, VectorExprs}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Layer probes of the traced run: the embed and expr kernels on inputs
  * built once and cached, KernelBench-style, so their cost reads without
  * the scan, plan and job overhead the workloads add around them. */
object Layers {
  val Rows = 50000
  val EmbedDocs = 2000
  val Reps = 3

  private def best(f: => Unit): Double = {
    f // warm
    (0 until Reps).map { _ => val t0 = System.nanoTime(); f; Stats.secs(t0) }.min
  }

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val docs = Gen.docs(c.rng(2), new Vocab(c.rng(1)), EmbedDocs, "e", Serve.Words)
    val embedder = HashEmbedder(Gen.Dim)
    val texts = docs.map(_.document)
    c.metric("embed.docs_per_s", EmbedDocs / best(embedder.embedBatch(texts)))
    val docsDf = Query.docsDf(spark, docs).cache()
    docsDf.count()
    c.metric("embed.with_embedding_s", best {
      Embed.withEmbedding(docsDf, "document", "embedding", embedder)
        .agg(max(xxhash64(col("embedding")))).head()
    })
    docsDf.unpersist(blocking = true)

    val dim = Gen.Dim
    val vecs = spark.range(Rows).select(
      expr(s"transform(sequence(1, $dim), i -> cast(pmod(id * i, 97) / 97.0 as float))").as("v"),
      array(concat(lit("""{"Year": """), (lit(Gen.Years.start) + pmod(col("id"), lit(Gen.Years.size))).cast("string"), lit("}")),
        concat(lit("""{"Rating": """), (lit(1) + pmod(col("id") * 7, lit(10))).cast("string"), lit("}"))).as("metadata"))
      .cache()
    vecs.count()
    val q = lit(Array.tabulate(dim)(i => ((i * 31) % 17) / 17.0f))
    def kernel(k: DataFrame => DataFrame): Double = best(k(vecs).head())
    c.metric("expr.dot_ns_per_row_dim",
      kernel(_.agg(sum(VectorExprs.dot(col("v"), q)))) * 1e9 / (Rows.toDouble * dim))
    c.metric("expr.l2_ns_per_row_dim",
      kernel(_.agg(sum(VectorExprs.l2(col("v"), q)))) * 1e9 / (Rows.toDouble * dim))
    c.metric("expr.metafilter_ns_per_row",
      kernel(_.filter(MetaFilter.compileArray(col("metadata"), Seq("""{"Year": {"eq": 2011}}""")))
        .agg(count(lit(1)))) * 1e9 / Rows)
    vecs.unpersist(blocking = true)
  }
}
