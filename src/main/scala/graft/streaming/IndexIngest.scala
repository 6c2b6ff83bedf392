package graft.streaming

import graft.ops.{LmIndex, Manifest, TextIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming EXACTLY-ONCE ingest for the two text-side Manifest index
  * families — [[IvfIngest]]'s discipline applied to the LM count tables
  * ([[LmIndex]]) and the BM25 postings ([[TextIndex]]): each
  * micro-batch stages its delta, tags it with the idempotency key
  * `batch=<batchId>` ([[Manifest.mark]]) and commits atomically; a
  * checkpoint-replayed batch finds its key live and SKIPS, so n-gram
  * counts are never double-added and postings never double-posted —
  * the failure mode a blind foreachBatch append has on both families
  * (counts are additive, so one replay silently biases every
  * perplexity the model ever serves).
  *
  * With this, all three Manifest families ingest from streams under
  * one contract: vectors ([[IvfIngest]]), n-gram counts (here), BM25
  * postings (here) — and all three serve through the (dir, version)
  * [[graft.ops.SnapshotCache]], so a probe concurrent with ingest
  * reads one committed snapshot.
  *
  * Compaction on all three families carries the markers forward
  * ([[Manifest.copyMarkers]] in [[LmIndex.compact]],
  * [[TextIndex.compact]] and `Ivf.compact`), so a replay straddling a
  * compaction still skips. */
object IndexIngest {

  /** One micro-batch into a [[LmIndex]] model dir. The first batch may
    * CREATE the model (an append to an empty manifest is a build). */
  def lmProcessBatch(batch: DataFrame, batchId: Long, textCol: String,
      dir: String): Unit = {
    val spark = batch.sparkSession
    val key = s"batch=$batchId"
    if (Manifest.isCommitted(spark, dir, key)) return
    val staging = LmIndex.stageDeltaFor(batch, textCol, dir)
    Manifest.mark(spark, staging, key)
    Manifest.commit(spark, dir, Seq(staging))
    ()
  }

  /** One micro-batch into a [[TextIndex]] postings dir (ids must be
    * disjoint from the indexed corpus — the shared append contract). */
  def textProcessBatch(batch: DataFrame, batchId: Long, idCol: String,
      textCol: String, dir: String, buckets: Int = 64): Unit = {
    val spark = batch.sparkSession
    val key = s"batch=$batchId"
    if (Manifest.isCommitted(spark, dir, key)) return
    val staging = TextIndex.stageDeltaFor(batch, idCol, textCol, dir, buckets)
    Manifest.mark(spark, staging, key)
    Manifest.commit(spark, dir, Seq(staging))
    ()
  }

  /** Stream documents into a persisted LM model. */
  def lmAppendStream(docsStream: DataFrame, textCol: String, dir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    MicroBatch.start(docsStream, checkpointDir, trigger) { (batch, batchId) =>
      lmProcessBatch(batch, batchId, textCol, dir)
    }

  /** Stream documents into a persisted BM25 index. */
  def textAppendStream(docsStream: DataFrame, idCol: String,
      textCol: String, dir: String, checkpointDir: String,
      buckets: Int = 64,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    MicroBatch.start(docsStream, checkpointDir, trigger) { (batch, batchId) =>
      textProcessBatch(batch, batchId, idCol, textCol, dir, buckets)
    }
}
