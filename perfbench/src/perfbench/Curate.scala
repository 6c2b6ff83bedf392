package perfbench

import graft.embed.{Embed, HashEmbedder}
import graft.ops._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** curate: the batch data-pipeline ops, one after another, over one corpus
  * materialized as Parquet in set-up. One action forces each op's output. */
object Curate {
  val Docs = 2500
  val ExactRate = 0.04
  val NearRate = 0.04
  val PiiRate = 0.05
  /** Planted near-duplicate pairs MinHash must find (one-word edits of
    * 50-word texts have 3-shingle Jaccard ≈ 0.88). */
  val RecallFloor = 0.9
  val EmbedDim = 64
  val IvfCells = 16
  /** SRP planes by the op's own sizing rule b ≈ log2(N / target), with a
    * target of ≈ 20 rows per bucket: 2^7 buckets for 2.5K docs. */
  val SrpPlanes = 7
  /** Untimed chains before the measured ones. The JIT keeps compiling the
    * engine's and Spark's generated code for several chains, each faster
    * than the last; the second warm-up chain puts the measured ones where
    * that curve has flattened more. */
  val WarmChains = 2
  /** Chains a run measures at least, so its numbers rest on more than one. */
  val MinChains = 2

  private val Schema = StructType(Seq(StructField("id", StringType),
    StructField("text", StringType), StructField("lang", StringType)))

  /** One action over every output column, so no column is pruned away. */
  private def force(df: DataFrame): Long =
    df.select(xxhash64(df.columns.map(col): _*).as("h")).agg(max(col("h"))).head().getLong(0)

  final case class OpRun(op: String, group: String, s: Double)

  /** The op chain once. `tag` names the root spans; returns each op's time. */
  def chain(c: Ctx, tag: String, corpus: DataFrame, planted: Gen.Corpus): Seq[OpRun] = {
    val runs = ArrayBuffer.empty[OpRun]
    def op[T](name: String, layer: String = "ops")(f: => T): Option[T] = {
      val g = s"$tag.$name"
      val t0 = System.nanoTime()
      val out = c.attempt(g) { c.tracer.root(g, name) { c.tracer.span(s"$layer.$name")(f) } }
      if (out.isDefined) runs += OpRun(name, g, Stats.secs(t0))
      out
    }
    val n = planted.rows.size

    op("dedup_exact") { Dedup.dropExactDuplicates(corpus, "id", "text").count() }.foreach { kept =>
      c.check(s"$tag exact duplicates", n - kept == planted.exactDups,
        s"${n - kept} removed, ${planted.exactDups} planted")
    }
    val pairs = op("minhash") {
      Dedup.minHashCandidates(corpus, "id", "text").select("a_id", "b_id").collect()
    }.getOrElse(Array.empty[Row])
    val found = pairs.map { r =>
      val (a, b) = (r.getString(0), r.getString(1)); if (a < b) (a, b) else (b, a)
    }.toSet
    val recall = planted.nearPairs.count(found).toDouble / math.max(planted.nearPairs.size, 1)
    c.check(s"$tag near-dup recall", recall >= RecallFloor, s"recall $recall < $RecallFloor")
    c.metric("ops.minhash.candidates", found.size.toDouble)
    c.metric("ops.minhash.planted_recall", recall)

    val pairDf = c.spark.createDataFrame(pairs.toSeq.asJava, StructType(Seq(
      StructField("a_id", StringType), StructField("b_id", StringType))))
    op("components") { force(Components.connectedComponents(pairDf)) }
    op("simhash") { force(Dedup.simHash(corpus, "id", "text")) }
    op("pii") { force(PiiScrub.scrub(corpus, "id", "text")) }
    op("langid") { force(TextAnalysis.langIdScores(corpus, "text")) }
    op("repetition") { force(TextAnalysis.repetitionStats(corpus, "id", "text")) }
    op("decontaminate") {
      val split = Sampling.hashSplit(corpus, "id")
      force(Decontaminate.contamination(split.filter(col("split") === "train"),
        split.filter(col("split") === "test"), "id", "text"))
    }
    val emb = op("with_embedding", "embed") {
      val e = Embed.withEmbedding(corpus.select("id", "text"), "text", "embedding",
        HashEmbedder(EmbedDim)).persist()
      e.count()
      e
    }
    emb.foreach { e =>
      op("srp") {
        Similarity.bucketedNearDupPairs(e, "id", "embedding", threshold = 0.9,
          numPlanes = SrpPlanes, dim = EmbedDim).count()
      }.foreach(p => c.metric("ops.srp.pairs", p.toDouble))
      op("ivf_train") { Ivf.train(e, "id", "embedding", IvfCells) }.foreach { model =>
        op("ivf_assign") {
          Ivf.assign(e, "embedding", model)
            .agg(count(lit(1)), count(when(col("ivf_cell").between(0, IvfCells - 1), 1))).head()
        }.foreach { r =>
          c.check(s"$tag ivf coverage", r.getLong(0) == n && r.getLong(1) == n,
            s"${r.getLong(1)} of ${r.getLong(0)} rows in a cell, $n docs")
        }
      }
      e.unpersist(blocking = true)
    }
    runs.toSeq
  }

  def run(c: Ctx): Unit = {
    val (planted, corpus) = c.setup(3) { i =>
      val planted = Gen.corpus(c.rng(2), new Vocab(c.rng(1)), Docs, ExactRate, NearRate, PiiRate)
      val path = s"${c.workdir}/curate-corpus$i"
      c.spark.createDataFrame(planted.rows.map(r => Row(r._1, r._2, r._3)).asJava, Schema)
        .write.parquet(path)
      (planted, c.spark.read.parquet(path))
    }

    // Warm-up: every op WarmChains times, untimed; its checks still count.
    for (w <- 0 until WarmChains) chain(c, s"warm$w", corpus, planted)
    c.log("warm-up done")

    // The latency a pipeline user sees is the whole chain's, so p50 and p90
    // are over chains, and throughput is the corpus over the median chain.
    val runs = ArrayBuffer.empty[OpRun]
    val chainS = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (chainS.size < MinChains || Stats.secs(t0) < c.seconds) {
      val t1 = System.nanoTime()
      runs ++= chain(c, s"i${chainS.size}", corpus, planted)
      chainS += Stats.secs(t1)
    }
    c.log(s"measured ${chainS.size} chains in ${Stats.secs(t0)} s: ${chainS.mkString(", ")}")

    val prefix = if (c.traced) "traced." else ""
    c.metric(s"${prefix}p50_ms", Stats.median(chainS.map(_ * 1000).toSeq))
    c.metric(s"${prefix}p90_ms", Stats.pct(chainS.map(_ * 1000).toSeq, 0.9))
    c.metric(s"${prefix}docs_per_s", planted.rows.size / Stats.median(chainS.toSeq))
    if (c.traced) {
      val tree = c.tracer.tree(runs.map(_.group).toSet)
      for ((o, rs) <- runs.groupBy(_.op)) {
        c.metric(s"ops.${o}_s", Stats.median(rs.map(_.s).toSeq))
        val groups = rs.map(_.group).toSet
        c.metric(s"ops.$o.jobs", tree.count(s => groups(s.group) && s.name.startsWith("job ")).toDouble / rs.size)
      }
      c.traceReport("curate", runs.map(_.group).toSet)
    }
  }
}
