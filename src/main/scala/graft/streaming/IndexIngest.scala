package graft.streaming

import graft.ops.{LmIndex, Manifest, TextIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming EXACTLY-ONCE ingest for the two text-side Manifest index
  * families — [[IvfIngest]]'s discipline applied to the LM count tables
  * ([[LmIndex]]) and the BM25 postings ([[TextIndex]]): each
  * micro-batch is one [[Manifest.append]] keyed `batch=<batchId>` — its
  * delta is tagged with the key and commits atomically; a
  * checkpoint-replayed batch finds its key live and SKIPS, so n-gram
  * counts are never double-added and postings never double-posted —
  * the failure mode a blind foreachBatch append has on both families
  * (counts are additive, so one replay silently biases every
  * perplexity the model ever serves).
  *
  * With this, the three appendable Manifest families ingest from
  * streams under one contract: vectors ([[IvfIngest]]), n-gram counts
  * (here), BM25 postings (here) — the fourth, [[graft.ops.BpeIndex]],
  * is rebuild-only — and all three serve through the (dir, version)
  * [[graft.ops.SnapshotCache]], so a probe concurrent with ingest
  * reads one committed snapshot.
  *
  * Compaction ([[Manifest.compact]], which [[LmIndex.compact]],
  * [[TextIndex.compact]] and `Ivf.compact` all run) carries the
  * markers forward, so a replay straddling a compaction still skips. */
object IndexIngest {

  /** One micro-batch into a [[LmIndex]] model dir. The first batch may
    * CREATE the model (an append to an empty manifest is a build). */
  def lmProcessBatch(batch: DataFrame, batchId: Long, textCol: String,
      dir: String): Unit =
    Manifest.append(batch.sparkSession, dir, Some(s"batch=$batchId"))(
      LmIndex.writeDelta(batch, textCol))

  /** One micro-batch into a [[TextIndex]] postings dir (ids must be
    * disjoint from the indexed corpus — the shared append contract). */
  def textProcessBatch(batch: DataFrame, batchId: Long, idCol: String,
      textCol: String, dir: String, buckets: Int = 64): Unit =
    Manifest.append(batch.sparkSession, dir, Some(s"batch=$batchId"))(
      TextIndex.writeDelta(batch, idCol, textCol, buckets))

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
