package graft.streaming

import graft.SparkSpecBase
import graft.ops.{Ivf, Manifest}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class IvfIngestVec(n_id: Long, nv: Array[Float])

class IvfIngestSpec extends SparkSpecBase {
  import spark.implicits._

  private def mkVecs(ids: Range): Seq[IvfIngestVec] = ids.map { i =>
    IvfIngestVec(i.toLong,
      Array.tabulate(8)(d => ((i * 7 + d * 3) % 13).toFloat))
  }

  private def buildBase(dir: String): DataFrame = {
    val base = mkVecs(0 until 40).toDF()
    val m = Ivf.train(base.select($"n_id".as("id"), $"nv".as("v")),
      "id", "v", nc = 4, iters = 2, seed = 42)
    Ivf.writeIndex(base, "nv", m, dir)
    base
  }

  /** A skipped replay returns before staging anything. */
  private def noStaging(dir: String): Unit =
    assert(!new java.io.File(dir).list().exists(_.startsWith("tmp_")),
      "a skipped replay must not stage a delta")

  private def probeSet(dir: String): Set[(Long, Long)] = {
    val queries = mkVecs(100 until 103)
      .toDF().select($"n_id".as("q_id"), $"nv".as("qv"))
    Ivf.probeIndex(spark, dir, queries, k = 5)
      .select($"q_id", $"n_id").as[(Long, Long)].collect().toSet
  }

  test("replayed batch does NOT double-append; stream ≡ one batch build") {
    val dir = java.nio.file.Files.createTempDirectory("ivfing").toString
    val base = buildBase(dir)
    val b1 = mkVecs(40 until 52).toDF()
    val b2 = mkVecs(52 until 64).toDF()
    IvfIngest.processBatch(b1, 1L, "nv", dir)
    val deltasAfterB1 = Manifest.current(spark, dir).deltas
    // crash-replay of batch 1: the idempotency key must skip the commit
    IvfIngest.processBatch(b1, 1L, "nv", dir)
    assert(Manifest.current(spark, dir).deltas == deltasAfterB1,
      "replayed batch must not commit a second delta")
    noStaging(dir)
    IvfIngest.processBatch(b2, 2L, "nv", dir)
    val streamed = probeSet(dir)
    // a corpus row count audit: no duplicates from the replay
    assert(Ivf.readCells(spark, dir).count() == 64L)

    // reference: ONE batch writeIndex of the union corpus under the
    // SAME frozen quantizer (assignment is deterministic)
    val dir2 = java.nio.file.Files.createTempDirectory("ivfbatch").toString
    val m = Ivf.loadModel(spark, dir)
    Ivf.writeIndex(base.unionByName(b1).unionByName(b2), "nv", m, dir2)
    assert(probeSet(dir2) == streamed,
      "streamed index must serve identically to the batch-built index")
    // staleness audit agrees too (same cells, same frozen model)
    val a = Ivf.indexStaleness(spark, dir)
      .orderBy($"ivf_cell").collect().toSeq
    val b = Ivf.indexStaleness(spark, dir2)
      .orderBy($"ivf_cell").collect().toSeq
    assert(a == b, "staleness audit must match the batch-built index")
  }

  test("compaction carries the idempotency markers; replay still skips") {
    val dir = java.nio.file.Files.createTempDirectory("ivfcomp").toString
    buildBase(dir)
    val b1 = mkVecs(40 until 50).toDF()
    IvfIngest.processBatch(b1, 7L, "nv", dir)
    assert(Manifest.isCommitted(spark, dir, "batch=7"))
    Ivf.compact(spark, dir)
    assert(Manifest.current(spark, dir).deltas.size <= 2,
      "compact must merge the cells delta stack")
    assert(Manifest.isCommitted(spark, dir, "batch=7"),
      "markers must survive compaction")
    IvfIngest.processBatch(b1, 7L, "nv", dir) // replay after compaction
    assert(Ivf.readCells(spark, dir).count() == 50L,
      "post-compaction replay must not re-append")
    noStaging(dir)
  }

  test("end-to-end stream: restart with a new batch appends exactly once") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ivfstream").toString
    val ck = java.nio.file.Files.createTempDirectory("ivfck").toString
    buildBase(dir)
    val mem = MemoryStream[IvfIngestVec]
    def start() = IvfIngest.appendStream(mem.toDF(), "nv", dir, ck)
    mem.addData(mkVecs(40 until 48): _*)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    assert(Ivf.readCells(spark, dir).count() == 48L)
    // restart the query (same checkpoint): only the NEW data lands
    mem.addData(mkVecs(48 until 56): _*)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(Ivf.readCells(spark, dir).count() == 56L)
    val ids = Ivf.readCells(spark, dir).select($"n_id").as[Long]
      .collect().sorted
    assert(ids.toSeq == (0L until 56L), "every id exactly once")
  }

  test("manifest idempotency keys are typed-checked") {
    intercept[IllegalArgumentException](
      Manifest.mark(spark, "/tmp/x", "bad key/with/slashes"))
  }
}
