package graft.streaming

import graft.SparkSpecBase
import graft.ops.{LmIndex, Manifest, TextIndex}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

case class IndexIngestDoc(doc_id: Long, text: String)

class IndexIngestSpec extends SparkSpecBase {
  import spark.implicits._

  /** A skipped replay returns before staging anything. */
  private def noStaging(dir: String): Unit =
    assert(!new java.io.File(dir).list().exists(_.startsWith("tmp_")),
      "a skipped replay must not stage a delta")

  private def lmScores(dir: String): Seq[(Long, Double)] = {
    val probe = Seq((99L, "a b c d")).toDF("doc_id", "text")
    LmIndex.score(spark, dir, probe, "doc_id", "text")
      .select($"doc_id", $"avg_logprob").as[(Long, Double)].collect().toSeq
  }

  test("LM ingest: a replayed batch never double-counts; stream ≡ build") {
    val dir = java.nio.file.Files.createTempDirectory("lming").toString
    val b1 = Seq((1L, "a b c a b"), (2L, "b c d")).toDF("doc_id", "text")
    val b2 = Seq((3L, "c d a")).toDF("doc_id", "text")
    IndexIngest.lmProcessBatch(b1, 1L, "text", dir)
    val afterB1 = lmScores(dir)
    // crash-replay: counts are additive, a second commit would BIAS
    // every probability — the key must skip it
    IndexIngest.lmProcessBatch(b1, 1L, "text", dir)
    assert(lmScores(dir) == afterB1, "replay changed the served model")
    noStaging(dir)
    IndexIngest.lmProcessBatch(b2, 2L, "text", dir)
    val streamed = lmScores(dir)
    // reference: one batch build over the union corpus
    val dir2 = java.nio.file.Files.createTempDirectory("lmbatch").toString
    LmIndex.build(b1.unionByName(b2), "text", dir2)
    assert(lmScores(dir2) == streamed,
      "streamed model must serve identically to the batch build")
  }

  test("Text ingest: replay skips; probe ≡ one-shot index build") {
    val dir = java.nio.file.Files.createTempDirectory("txting").toString
    val b1 = Seq((1L, "spark streams data"), (2L, "data lakes"))
      .toDF("doc_id", "text")
    val b2 = Seq((3L, "spark data pipelines")).toDF("doc_id", "text")
    def probe(d: String) =
      TextIndex.probeIndex(spark, d, "doc_id", Seq((0L, "spark data")))
        .select($"q_id", $"doc_id", $"bm25")
        .as[(Long, Long, Double)].collect().toSet
    IndexIngest.textProcessBatch(b1, 1L, "doc_id", "text", dir)
    val after1 = probe(dir)
    IndexIngest.textProcessBatch(b1, 1L, "doc_id", "text", dir) // replay
    assert(Manifest.current(spark, dir).deltas.size == 1,
      "replay must not add a delta")
    noStaging(dir)
    assert(probe(dir) == after1)
    IndexIngest.textProcessBatch(b2, 2L, "doc_id", "text", dir)
    val dir2 = java.nio.file.Files.createTempDirectory("txtbatch").toString
    TextIndex.writeIndex(b1.unionByName(b2), "doc_id", "text", dir2)
    assert(probe(dir2) == probe(dir),
      "streamed postings must serve identically to the one-shot build")
  }

  test("LM compaction carries markers; replay after compact still skips") {
    val dir = java.nio.file.Files.createTempDirectory("lmcomp").toString
    val b1 = Seq((1L, "a b c a b")).toDF("doc_id", "text")
    val b2 = Seq((2L, "b c d")).toDF("doc_id", "text")
    IndexIngest.lmProcessBatch(b1, 1L, "text", dir)
    IndexIngest.lmProcessBatch(b2, 2L, "text", dir)
    val before = lmScores(dir)
    LmIndex.compact(spark, dir)
    assert(Manifest.current(spark, dir).deltas.size == 1)
    assert(Manifest.isCommitted(spark, dir, "batch=1") &&
      Manifest.isCommitted(spark, dir, "batch=2"),
      "markers must survive LM compaction")
    IndexIngest.lmProcessBatch(b1, 1L, "text", dir) // replay after merge
    assert(lmScores(dir) == before,
      "post-compaction replay must not re-add counts")
    noStaging(dir)
  }

  test("Text compaction carries markers; replay after compact still skips") {
    val dir = java.nio.file.Files.createTempDirectory("txtcomp").toString
    val b1 = Seq((1L, "spark streams data")).toDF("doc_id", "text")
    val b2 = Seq((2L, "data lakes spark")).toDF("doc_id", "text")
    def probe() =
      TextIndex.probeIndex(spark, dir, "doc_id", Seq((0L, "spark data")))
        .select($"q_id", $"doc_id", $"sum_micro", $"bm25")
        .as[(Long, Long, Long, Double)].collect().toSet
    IndexIngest.textProcessBatch(b1, 1L, "doc_id", "text", dir)
    IndexIngest.textProcessBatch(b2, 2L, "doc_id", "text", dir)
    val before = probe()
    TextIndex.compact(spark, dir, "doc_id")
    assert(Manifest.current(spark, dir).deltas.size == 1)
    assert(Manifest.isCommitted(spark, dir, "batch=1") &&
      Manifest.isCommitted(spark, dir, "batch=2"),
      "markers must survive text compaction")
    assert(probe() == before, "compaction changed the served scores")
    IndexIngest.textProcessBatch(b1, 1L, "doc_id", "text", dir) // replay
    assert(Manifest.current(spark, dir).deltas.size == 1,
      "post-compaction replay must not add a delta")
    noStaging(dir)
    assert(probe() == before, "post-compaction replay must not re-post")
  }

  test("end-to-end LM stream with restart appends exactly once") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("lmstream").toString
    val ck = java.nio.file.Files.createTempDirectory("lmck").toString
    val mem = MemoryStream[IndexIngestDoc]
    def start() = IndexIngest.lmAppendStream(mem.toDF(), "text", dir, ck)
    mem.addData(IndexIngestDoc(1L, "a b c a b"))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    val v1 = lmScores(dir)
    // restart with new data: only the new batch lands
    mem.addData(IndexIngestDoc(2L, "b c d"))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val dir2 = java.nio.file.Files.createTempDirectory("lmref").toString
    LmIndex.build(Seq((1L, "a b c a b"), (2L, "b c d")).toDF("doc_id", "text"),
      "text", dir2)
    assert(lmScores(dir) == lmScores(dir2))
    assert(lmScores(dir) != v1, "second batch must have landed")
  }
}
