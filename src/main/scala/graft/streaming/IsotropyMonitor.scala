package graft.streaming

import graft.ops.Spectral
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming EMBEDDING-COLLAPSE monitor — the q252 isotropy canary
  * ([[graft.ops.Spectral.isotropy]]) run at ingest time: each
  * micro-batch of vectors folds into a DIMS-sized per-dimension
  * partial (count, Σû, Σû²) persisted under `stateDir/batch=<id>`,
  * and [[isotropyState]] serves the exact mean-pairwise-cosine of
  * EVERYTHING ingested so far via the ‖Σû‖² − Σ‖û‖² identity — the
  * all-pairs number over millions of vectors from a few hundred
  * integer counters, never a pair join. A new embedding-model rollout
  * that collapses directions shows up here batches before any ANN
  * recall audit is scheduled.
  *
  * Exactly-once: per-batch `batch=<id>` overwrite dirs (the
  * [[CurationIngest]] recovery discipline) — a checkpoint-replayed
  * batch rewrites the same partial instead of double-counting it.
  *
  * Order-robust BY CONSTRUCTION: the state is additive per-dimension
  * integer sums, so any batch boundaries and any arrival order merge
  * to the state one batch pass over the union would produce —
  * [[isotropyState]] ≡ `Spectral.isotropy(all vectors)`, spec-proven
  * bit-for-bit. Ragged vector lengths across batches fail typed at
  * probe time (per-dimension counts disagree) instead of silently
  * averaging dimensions only some vectors have.
  *
  * Scale: per micro-batch ONE map-side-combined aggregate to dims
  * rows; a probe re-merges deltas with one dims-sized groupBy. 100 TB
  * of vectors monitor in dims-sized state. */
object IsotropyMonitor {

  /** One micro-batch of the monitor — extracted from the foreachBatch
    * closure so the replay-idempotence spec can drive it directly.
    * Typed failures (NULL / zero vectors) fire here, per batch,
    * before anything persists. */
  def observeBatch(batch: DataFrame, batchId: Long, stateDir: String,
      vecCol: String): Unit =
    Spectral.isotropyPartial(batch, vecCol)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$stateDir/batch=$batchId")

  /** Start isotropy monitoring over a vector stream: each
    * micro-batch's dims-sized partial persists under
    * `stateDir/batch=<id>`; [[isotropyState]] serves the canary. */
  def isotropyMonitor(
      vecStream: DataFrame,
      stateDir: String,
      vecCol: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    MicroBatch.start(vecStream, checkpointDir, trigger) { (batch, batchId) =>
      observeBatch(batch, batchId, stateDir, vecCol)
    }

  /** The isotropy readout over every vector ingested so far —
    * identical row to [[graft.ops.Spectral.isotropy]] on the union of
    * all monitored batches, whatever the batch boundaries or arrival
    * order. Typed failure before the first batch lands. */
  def isotropyState(spark: SparkSession, stateDir: String): DataFrame =
    Spectral.isotropyFromPartials(
      MicroBatch.read(spark, stateDir)
        .select(col("_dim"), col("_cnt"), col("_s"), col("_q")))
}
