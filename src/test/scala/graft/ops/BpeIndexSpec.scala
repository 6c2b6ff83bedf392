package graft.ops

import graft.SparkSpecBase

class BpeIndexSpec extends SparkSpecBase {
  import spark.implicits._

  private val docs = Seq(
    (1L, "low lower lowest low low"),
    (2L, "new newer newest"),
    (3L, "low new low new")).toDF("doc_id", "text")

  private def liveMerges(n: Int, r: Int): Seq[(String, String)] =
    TextAnalysis.bpeMergesBatched(docs, "text", n, r)
      .orderBy($"iter").select($"pair", $"merged")
      .as[(String, String)].collect().toSeq

  test("persisted encode is value-identical to the live merge fold") {
    val dir = java.nio.file.Files.createTempDirectory("bpe_idx").toString
    BpeIndex.build(docs, "text", dir, merges = 4, batchR = 2)
    assert(BpeIndex.merges(spark, dir) == liveMerges(4, 2),
      "persisted ranked merge list must round-trip exactly")
    val live = TextAnalysis.bpeEncode(docs, "doc_id", "text", liveMerges(4, 2))
      .orderBy($"doc_id").collect().toSeq
    val served = BpeIndex.encode(spark, dir, docs, "doc_id", "text")
      .orderBy($"doc_id").collect().toSeq
    assert(served == live)
  }

  test("rebuild swaps atomically; the old tokenizer version stays replayable") {
    val dir = java.nio.file.Files.createTempDirectory("bpe_idx2").toString
    BpeIndex.build(docs, "text", dir, merges = 4, batchR = 2)
    val v1 = BpeIndex.encode(spark, dir, docs, "doc_id", "text")
      .orderBy($"doc_id").collect().toSeq
    // retrain with a different budget: live serving flips to the new
    // artifact, but version 1 answers "what encoded the old shards"
    BpeIndex.build(docs, "text", dir, merges = 2, batchR = 1)
    assert(BpeIndex.merges(spark, dir) == liveMerges(2, 1))
    assert(BpeIndex.mergesAt(spark, dir, 1L) == liveMerges(4, 2))
    val replay = BpeIndex.encodeAt(spark, dir, 1L, docs, "doc_id", "text")
      .orderBy($"doc_id").collect().toSeq
    assert(replay == v1)
    // a never-committed version fails typed, never a silent empty model
    intercept[IllegalArgumentException](BpeIndex.mergesAt(spark, dir, 99L))
  }

  test("a tokenizer that was never built fails typed, naming the build") {
    val dir = java.nio.file.Files.createTempDirectory("bpe_empty").toString
    val e = intercept[IllegalArgumentException](BpeIndex.merges(spark, dir))
    assert(e.getMessage.contains("no live BPE tokenizer") &&
      e.getMessage.contains("build first"), e.getMessage)
    intercept[IllegalArgumentException](
      BpeIndex.encode(spark, dir, docs, "doc_id", "text"))
  }
}
