package graft.streaming

import graft.SparkSpecBase
import graft.ops.ClassifierEval
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class DriftMonitorSpec extends SparkSpecBase {
  import spark.implicits._

  test("stream == batch: a monitored micro-batch emits exactly the scoreDrift rows; replay idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val ref = Seq(0.05, 0.15, 0.15, 0.95).toDF("conf")
    val batch1 = Seq(0.05, 0.15) // in-distribution
    val batch2 = Seq(0.55, 0.55, 0.55) // fully shifted mass
    val base = java.nio.file.Files.createTempDirectory("drift_").toString
    val (refDir, stats, ck) = (s"$base/ref", s"$base/stats", s"$base/ckpt")
    DriftMonitor.freezeReference(ref, "conf", refDir)
    // frozen table: fixed 10-row shape with zeros materialized
    val frozen = spark.read.parquet(refDir)
      .orderBy($"bin").as[(Long, Long)].collect().toSeq
    assert(frozen.size == 10 && frozen.map(_._2).sum == 4L, frozen.toString)
    assert(frozen == (0L to 9L).map(b =>
      (b, Map(0L -> 1L, 1L -> 2L, 9L -> 1L).getOrElse(b, 0L))), frozen.toString)

    val mem = MemoryStream[Double]
    mem.addData(batch1: _*)
    val q1 = DriftMonitor.driftMonitor(mem.toDF().toDF("conf"), refDir,
      "conf", stats, ck)
    try q1.processAllAvailable() finally q1.stop()
    mem.addData(batch2: _*)
    val q2 = DriftMonitor.driftMonitor(mem.toDF().toDF("conf"), refDir,
      "conf", stats, ck)
    try q2.processAllAvailable() finally q2.stop()

    // each batch's rows must equal the BATCH readout bit-for-bit
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("bin", "n_a", "n_b", "p_a", "p_b", "psi_bin", "psi_total")
      .orderBy("bin")
      .as[(Long, Long, Long, Double, Double, Double, Double)]
      .collect().toSeq
    for ((b, id) <- Seq(batch1 -> 0, batch2 -> 1)) {
      val streamed = rows(spark.read.parquet(s"$stats/batch=$id"))
      val twin = rows(ClassifierEval.scoreDrift(ref, b.toDF("conf"), "conf"))
      assert(streamed == twin, s"batch=$id streamed $streamed vs twin $twin")
    }
    // drift history: the shifted batch2 must read as MORE drift
    val hist = DriftMonitor.driftHistory(spark, stats)
      .as[(Int, Double, Long)].collect().toSeq
    assert(hist.size == 2 && hist.head._1 == 1 &&
      hist.head._2 > hist.last._2, hist.toString)
    // crash-replay of a micro-batch rewrites identical rows
    val before = rows(spark.read.parquet(s"$stats/batch=1"))
    DriftMonitor.driftStatsBatch(batch2.toDF("conf"), 1L, refDir, "conf", stats)
    assert(rows(spark.read.parquet(s"$stats/batch=1")) == before)
  }

  test("scoreDriftFromBins: pre-binned reference == raw reference; malformed references fail typed") {
    val ref = Seq(0.1, 0.2, 0.9, 0.9).toDF("conf")
    val pred = Seq(0.3, 0.8).toDF("conf")
    val dir = java.nio.file.Files.createTempDirectory("ref_").toString
    DriftMonitor.freezeReference(ref, "conf", dir)
    val fromBins = ClassifierEval.scoreDriftFromBins(
        spark.read.parquet(dir), pred, "conf")
      .orderBy($"bin")
      .as[(Long, Long, Long, Double, Double, Double, Double)].collect().toSeq
    val raw = ClassifierEval.scoreDrift(ref, pred, "conf")
      .orderBy($"bin")
      .as[(Long, Long, Long, Double, Double, Double, Double)].collect().toSeq
    assert(fromBins == raw, s"$fromBins vs $raw")
    intercept[IllegalArgumentException] {
      ClassifierEval.scoreDriftFromBins(
        Seq((12L, 1L)).toDF("bin", "n_a"), pred, "conf")
    }
    intercept[IllegalArgumentException] {
      ClassifierEval.scoreDriftFromBins(
        Seq((1L, 1L), (1L, 2L)).toDF("bin", "n_a"), pred, "conf")
    }
    intercept[IllegalArgumentException] {
      ClassifierEval.scoreDriftFromBins(
        Seq((1L, -3L)).toDF("bin", "n_a"), pred, "conf")
    }
  }

  test("driftHistory before the first batch fails typed") {
    val base = java.nio.file.Files.createTempDirectory("drift_").toString
    val e = intercept[IllegalArgumentException](
      DriftMonitor.driftHistory(spark, s"$base/never"))
    assert(e.getMessage.contains(s"no monitored batches under $base/never yet"),
      e.getMessage)
  }
}
