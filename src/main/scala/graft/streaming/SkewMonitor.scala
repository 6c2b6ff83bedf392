package graft.streaming

import graft.ops.Skew
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming SKEW monitor — the q262 shuffle pre-flight
  * ([[graft.ops.Skew.skewReport]]) maintained at ingest time: each
  * micro-batch folds its rows into a keys-sized per-key count partial
  * persisted under `stateDir/batch=<id>`, and [[skewState]] serves
  * the exact hot-key report over EVERYTHING observed so far — which
  * keys would overload a task, by how much, and the exact salt factor
  * that fixes each. A key going viral shows up here batches before
  * the nightly batch job straggles on it; the downstream jobs read
  * the report and pick their [[graft.ops.Skew.saltedJoin]] factors
  * from live data instead of yesterday's folklore.
  *
  * Exactly-once: per-batch `batch=<id>` overwrite dirs (the
  * [[CurationIngest]] recovery discipline) — a checkpoint-replayed
  * batch rewrites the same partial instead of double-counting it.
  *
  * Order-robust BY CONSTRUCTION: per-key counts are additive, so any
  * batch boundaries and any arrival order merge to what one batch
  * pass over the union would produce — [[skewState]] ≡
  * `Skew.skewReport(all rows)`, spec-proven bit-for-bit.
  *
  * Scale: per micro-batch ONE map-side-combined aggregate to its
  * distinct keys; a probe re-merges deltas with one keys-sized
  * groupBy + a top-k TakeOrderedAndProject. State is keys-sized
  * parquet, never rows. */
object SkewMonitor {

  /** One micro-batch of the monitor — extracted from the foreachBatch
    * closure so the replay-idempotence spec can drive it directly. */
  def observeBatch(batch: DataFrame, batchId: Long, stateDir: String,
      key: String): Unit =
    Skew.skewPartial(batch, key)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$stateDir/batch=$batchId")

  /** Start skew monitoring over a row stream: each micro-batch's
    * keys-sized partial persists under `stateDir/batch=<id>`;
    * [[skewState]] serves the report. */
  def skewMonitor(
      rowStream: DataFrame,
      stateDir: String,
      key: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    MicroBatch.start(rowStream, checkpointDir, trigger) { (batch, batchId) =>
      observeBatch(batch, batchId, stateDir, key)
    }

  /** The skew report over every row observed so far — identical rows
    * to [[graft.ops.Skew.skewReport]] on the union of all monitored
    * batches, whatever the batch boundaries or arrival order. Typed
    * failure before the first batch lands. */
  def skewState(spark: SparkSession, stateDir: String, partitions: Int,
      topK: Int = 10): DataFrame =
    Skew.skewReportFromCounts(
      MicroBatch.read(spark, stateDir).select(col("key"), col("cnt")),
      partitions, topK)
}
