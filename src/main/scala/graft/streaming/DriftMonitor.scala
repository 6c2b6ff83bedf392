package graft.streaming

import graft.ops.ClassifierEval
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming score-distribution DRIFT monitor — the q200 PSI readout
  * ([[graft.ops.ClassifierEval.scoreDrift]]) run at ingest time: the
  * quality model's confidence histogram is frozen ONCE from the
  * calibration cohort ([[freezeReference]], a `bins`-row table), and
  * every incoming micro-batch writes its PSI-vs-reference readout under
  * `statsDir/batch=<id>` — the tripwire that pages before a silently
  * shifted crawl re-weights the corpus.
  *
  * Exactly-once: per-batch `batch=<id>` overwrite dirs (the
  * [[CurationIngest]] recovery discipline) — a checkpoint-replayed
  * batch rewrites the same rows instead of duplicating them.
  *
  * Scale: the reference is its HISTOGRAM, not its rows — freezing costs
  * one pass over the calibration cohort, and each micro-batch costs one
  * map-side-combined bin count plus bins-row arithmetic
  * ([[graft.ops.ClassifierEval.scoreDriftFromBins]]). No streaming
  * state store; the frozen table is the state. Stream ≡ batch: a batch
  * processed through the monitor emits EXACTLY the q200 rows for
  * (reference, batch) — spec-proven bit-for-bit.
  */
object DriftMonitor {

  /** Freeze the reference confidence histogram (`(bin, n_a)`,
    * `bins` rows with zeros materialized) from the calibration
    * cohort — run once; monitors only ever read this table. */
  def freezeReference(pred: DataFrame, confCol: String, refDir: String,
      bins: Int = 10): Unit = {
    val spark = pred.sparkSession
    import spark.implicits._
    (0L until bins.toLong).toDF("bin")
      .join(ClassifierEval.binCounts(pred, confCol, bins, "n_a"),
        Seq("bin"), "left")
      .select(col("bin"), coalesce(col("n_a"), lit(0L)).as("n_a"))
      .coalesce(1)
      .write.mode("overwrite").parquet(refDir)
  }

  /** One micro-batch of the monitor — extracted from the foreachBatch
    * closure so the replay-idempotence spec can drive it directly. */
  def driftStatsBatch(batch: DataFrame, batchId: Long, refDir: String,
      confCol: String, statsDir: String, bins: Int = 10): Unit =
    ClassifierEval.scoreDriftFromBins(
        batch.sparkSession.read.parquet(refDir), batch, confCol, bins)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$statsDir/batch=$batchId")

  /** Start drift monitoring over a prediction stream: each
    * micro-batch's `bins`-row PSI readout persists under
    * `statsDir/batch=<id>`; [[driftHistory]] serves the per-batch
    * trajectory. */
  def driftMonitor(
      predStream: DataFrame,
      refDir: String,
      confCol: String,
      statsDir: String,
      checkpointDir: String,
      bins: Int = 10,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    MicroBatch.start(predStream, checkpointDir, trigger) { (batch, batchId) =>
      driftStatsBatch(batch, batchId, refDir, confCol, statsDir, bins)
    }

  /** The per-batch drift trajectory: one row per monitored batch,
    * worst first — `psi_total` is constant within a batch's rows, so
    * max() just lifts it. Typed failure before the first batch lands. */
  def driftHistory(spark: SparkSession, statsDir: String): DataFrame =
    MicroBatch.read(spark, statsDir)
      .groupBy(col("batch"))
      .agg(max(col("psi_total")).as("psi_total"),
        sum(col("n_b")).as("n_docs"))
      .orderBy(col("psi_total").desc, col("batch"))
}
