package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming LM-perplexity quality gate — the PRODUCTION use of the
  * persisted stupid-backoff model ([[graft.ops.LmIndex]]): every
  * incoming micro-batch is scored against the trained tri/bi/uni count
  * tables (the q168 serving path — the training corpus is never
  * touched) and only documents whose average trigram log-probability
  * clears `minAvgLogprob` land in the corpus. This is the CCNet-style
  * "LM filter at ingest": gibberish, boilerplate-mangled and
  * out-of-domain text score far below in-domain prose and never
  * accumulate.
  *
  * Scoring policy: a document needs ≥ 1 trigram (≥ 3 tokens) to carry
  * any LM evidence; shorter documents CANNOT clear the gate (no
  * evidence ≠ good evidence) — compose a word-count rule upstream if
  * short docs should be judged separately.
  *
  * Exactly-once output: each micro-batch overwrites its own
  * `batch=<id>` directory (the [[CurationIngest]] recovery discipline),
  * so checkpoint-recovery replays rewrite identical files instead of
  * duplicating. The model directory is immutable state shared with the
  * batch scorers; [[graft.ops.LmIndex.append]]'s atomic delta commits
  * mean a concurrent model extension is either fully visible to a
  * micro-batch or not at all — never a torn model.
  *
  * Scale: per batch, the probe side is the batch's (doc, w1, w2, w3, n)
  * pre-aggregate and the model joins are the q167 three-stage hot/cold
  * chain — batch-sized × vocab-sized, nothing corpus-sized. */
object LmGate {

  /** One micro-batch of the gate — extracted so specs can drive replay
    * with a chosen batchId. Output rows: the batch's surviving columns
    * plus their `avg_logprob` evidence. */
  def processBatch(batch: DataFrame, batchId: Long,
      idCol: String, textCol: String,
      modelDir: String, outDir: String, minAvgLogprob: Double,
      alpha: Double = 0.4, hotK: Int = 4096): Unit = {
    val spark = batch.sparkSession
    val scores = graft.ops.LmIndex
      .score(spark, modelDir, batch, idCol, textCol, alpha, hotK)
      .filter(col("avg_logprob") >= minAvgLogprob)
      .select(col(idCol), col("avg_logprob"))
    batch.join(scores, Seq(idCol))
      .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    ()
  }

  /** Start the gate: docsStream(idCol, textCol, …) → LM-scored against
    * the persisted model at `modelDir` → passing docs appended under
    * `outDir/batch=<id>` with their `avg_logprob`. */
  def gatedAppend(docsStream: DataFrame, idCol: String, textCol: String,
      modelDir: String, outDir: String, checkpointDir: String,
      minAvgLogprob: Double,
      alpha: Double = 0.4, hotK: Int = 4096,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    MicroBatch.start(docsStream, checkpointDir, trigger) { (batch, batchId) =>
      processBatch(batch, batchId, idCol, textCol, modelDir, outDir,
        minAvgLogprob, alpha, hotK)
    }
}
