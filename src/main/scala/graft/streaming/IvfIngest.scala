package graft.streaming

import graft.ops.{Ivf, Manifest}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming ingest into a prebuilt IVF index — the one index family
  * that had batch append/compact/time-travel but no streaming tier
  * ([[LmGate]] serves the LM family, [[CurationIngest]] the dedup
  * indexes): each micro-batch of (id, vector) rows is assigned to its
  * frozen coarse cell ([[Ivf.assign]], map-only — the quantizer NEVER
  * retrains inside ingest) and lands as one more immutable cells delta
  * behind ONE atomic manifest commit.
  *
  * EXACTLY-ONCE, not at-least-once: every batch is one
  * [[Manifest.append]] keyed `batch=<batchId>`, so its delta is tagged
  * with the key BEFORE the commit; a replayed micro-batch (crash after
  * the manifest commit, before the stream checkpoint commit) finds its
  * key already live and skips — so N appends of the same
  * batchId are ONE delta, and the served index is bit-identical to a
  * single batch [[Ivf.writeIndex]] of the union corpus under the same
  * model (the IvfSpec append≡build property, now crash-safe).
  * [[Ivf.compact]] carries markers forward ([[Manifest.compact]]), so
  * compaction between batches cannot break the replay probe.
  *
  * Drift: ingest NEVER retrains implicitly. [[Ivf.indexStaleness]] is
  * the probe — audit after every K batches (or on a schedule) and let
  * [[Ivf.rebuildIfStale]] make the deliberate rebuild-then-swap
  * decision against the build-time baseline.
  *
  * Scale: per batch the work is a batch-sized map-only assignment plus
  * a hive-partitioned parquet write; the corpus is never rescanned, the
  * manifest commit is one tiny-file rename. Ids must be disjoint from
  * the corpus (the shared append contract — enforce upstream or run the
  * [[CurationIngest]] exact tier first). */
object IvfIngest {

  /** One micro-batch of the ingest — extracted from the foreachBatch
    * closure so the replay-idempotence spec can drive it directly with
    * a chosen batchId. Schema: `batch` must carry `vecCol` plus the id
    * column(s) the index was built with (everything lands in the cells
    * delta, exactly like [[Ivf.appendToIndex]]). */
  def processBatch(batch: DataFrame, batchId: Long, vecCol: String,
      path: String): Unit =
    Manifest.append(batch.sparkSession, path, Some(s"batch=$batchId"))(
      Ivf.writeDelta(batch, vecCol, path))

  /** Start the stream: assign-and-append every micro-batch into the
    * index at `path` (which must already exist — [[Ivf.writeIndex]]
    * first; ingest never trains). */
  def appendStream(vecsStream: DataFrame, vecCol: String, path: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    MicroBatch.start(vecsStream, checkpointDir, trigger) { (batch, batchId) =>
      processBatch(batch, batchId, vecCol, path)
    }
}
