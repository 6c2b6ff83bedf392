package perfbench

import graft.core.Collection
import graft.embed.HashEmbedder
import graft.streaming.CollectionIngest
import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.functions.col
import scala.collection.mutable.ArrayBuffer

/** ingest: cycles of create → append rounds (each followed by queries) →
  * compact → queries, so writes run beside reads and queries pay for the
  * small files that appends leave until compaction. */
object Ingest {
  val CreateDocs = 10000
  val BatchDocs = 2000
  val Rounds = 3
  val QueriesPerRound = 4
  val Words = 16
  val View = "ingest"
  private val QueryClasses = Gen.Classes.map(_._1).filter(_.startsWith("cosine"))

  final case class Cycle(docs: Long, createS: Double, appendS: Seq[Double], compactS: Double,
      files: Int, triggerMs: Seq[Double], addBatchMs: Seq[Double], queries: Seq[Done],
      groups: Seq[String])

  private def parquetFiles(dir: File): Int =
    Option(dir.listFiles()).toSeq.flatten.map { f =>
      if (f.isDirectory) parquetFiles(f) else if (f.getName.endsWith(".parquet")) 1 else 0
    }.sum

  private def delete(f: File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }

  /** One cycle into a fresh warehouse; `batches` are parquet dirs of
    * generated docs, copied one per round into the stream's source dir. */
  def cycle(c: Ctx, name: String, createDocs: Seq[Doc], batches: Seq[String],
      queries: Iterator[Request]): Cycle = {
    val base = s"${c.workdir}/$name"
    val (wh, src, ckpt) = (s"$base/wh", new File(s"$base/src"), s"$base/ckpt")
    src.mkdirs()
    val embedder = HashEmbedder(Gen.Dim)
    val groups = ArrayBuffer.empty[String]
    def rooted[T](g: String, span: String)(f: => T): (T, Double) = {
      groups += g
      val t0 = System.nanoTime()
      val out = c.tracer.root(g, span.takeWhile(_ != '.')) { c.tracer.span(span)(f) }
      (out, Stats.secs(t0))
    }
    val done = ArrayBuffer.empty[Done]
    def ask(n: Int): Unit = for (_ <- 0 until n) done ++= Query.timed(c, wh, View, queries.next())

    val df = Query.docsDf(c.spark, createDocs)
    val (coll, createS) = rooted(s"$name.create", "core.create") {
      Collection.create(c.spark, wh, View, df, embedder)
    }
    val appends = batches.zipWithIndex.map { case (batch, r) =>
      for (f <- new File(batch).listFiles() if f.getName.endsWith(".parquet"))
        Files.copy(f.toPath, new File(src, s"b$r-${f.getName}").toPath)
      val (progress, s) = rooted(s"$name.a$r", "streaming.append") {
        val q = CollectionIngest.appendStream(coll,
          c.spark.readStream.schema(Query.DocSchema).parquet(src.getPath), embedder, ckpt)
        c.tracer.alias(q.runId.toString, s"$name.a$r")
        q.awaitTermination()
        q.recentProgress.filter(_.numInputRows > 0).toSeq
      }
      ask(QueriesPerRound)
      def dur(k: String) = progress.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum
      (s, dur("triggerExecution"), dur("addBatch"))
    }
    val files = parquetFiles(new File(coll.info.path))
    val (compacted, compactS) = rooted(s"$name.compact", "core.compact") { coll.compact(wh) }
    ask(QueriesPerRound)

    val want = createDocs.size.toLong + batches.size.toLong * BatchDocs
    val rows = compacted.df.count()
    c.check(s"$name rows", rows == want, s"$rows rows, want $want")
    val dupIds = compacted.df.groupBy(col("id")).count().filter(col("count") > 1).count()
    c.check(s"$name unique ids", dupIds == 0, s"$dupIds ids repeat")
    delete(new File(base))
    Cycle(want, createS, appends.map(_._1), compactS, files, appends.map(_._2), appends.map(_._3),
      done.toSeq, groups.toSeq ++ done.map(_.req.id))
  }

  def run(c: Ctx): Unit = {
    val (createDocs, batches) = c.setup(3) { i =>
      val vocab = new Vocab(c.rng(1))
      val docs = Gen.docs(c.rng(2), vocab, CreateDocs + Rounds * BatchDocs, "d", Words)
      val dir = s"${c.workdir}/ingest-input$i"
      val batches = (0 until Rounds).map { r =>
        val path = s"$dir/b$r"
        val slice = docs.slice(CreateDocs + r * BatchDocs, CreateDocs + (r + 1) * BatchDocs)
        Query.docsDf(c.spark, slice).coalesce(1).write.parquet(path)
        path
      }
      (docs.take(CreateDocs), batches)
    }
    val rng = c.rng(5)
    val queries = Iterator.from(0).map(i =>
      Gen.request(rng, s"q$i", QueryClasses(i % QueryClasses.size)))
    val warmRng = c.rng(4)
    val warmQueries = Iterator.from(0).map(i =>
      Gen.request(warmRng, s"w$i", QueryClasses(i % QueryClasses.size)))

    // Warm-up: one small cycle (create, one append, every query class,
    // compact), untimed; its checks still count.
    c.attempt("warm-up cycle") {
      cycle(c, "warm", createDocs.take(BatchDocs), batches.take(1), warmQueries)
    }
    c.log("warm-up done")

    val cycles = ArrayBuffer.empty[Cycle]
    val t0 = System.nanoTime()
    var k = 0
    while (Stats.secs(t0) < c.seconds) {
      cycles ++= c.attempt(s"cycle $k") { cycle(c, s"c$k", createDocs, batches, queries) }
      cycles.lastOption.foreach(y => c.log(s"cycle $k: create ${y.createS} s, appends " +
        s"${y.appendS.mkString(", ")} s, compact ${y.compactS} s"))
      k += 1
    }
    c.log(s"measured $k cycles in ${Stats.secs(t0)} s")

    val done = cycles.flatMap(_.queries).toSeq
    val prefix = if (c.traced) "traced." else ""
    Query.latency(c, done, prefix)
    c.metric(s"${prefix}docs_per_s",
      cycles.map(_.docs).sum / math.max(cycles.map(y => y.createS + y.appendS.sum).sum, 1e-9))
    if (c.traced) {
      Query.report(c, done)
      c.metric("core.create_s", Stats.median(cycles.map(_.createS).toSeq))
      c.metric("core.append_s", Stats.median(cycles.flatMap(_.appendS).toSeq))
      c.metric("core.compact_s", Stats.median(cycles.map(_.compactS).toSeq))
      c.metric("core.files", cycles.headOption.map(_.files.toDouble).getOrElse(0.0))
      c.metric("streaming.trigger_ms", Stats.median(cycles.flatMap(_.triggerMs).toSeq))
      c.metric("streaming.add_batch_ms", Stats.median(cycles.flatMap(_.addBatchMs).toSeq))
      c.traceReport("ingest", cycles.flatMap(_.groups).toSet)
    }
  }
}
