package graft.streaming

import graft.core.Collection
import graft.embed.{Embed, Embedder}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming ingest into a collection (SURVEY.md §1.5/§2.3: "streaming
  * ingest appends to collections" — the reference is strictly batch).
  *
  * Each micro-batch of (id, document, metadata) rows is embedded with the
  * collection's embedder (same batched mapPartitions operator as the batch
  * save path) and appended to the collection's parquet; the embed stage
  * scales with executor count — ingest throughput is a map-only stage plus
  * a parquet append.
  *
  * Delivery semantics: **at-least-once**. A crash between the parquet
  * append and the checkpoint commit replays the micro-batch on restart,
  * duplicating its rows (a blind parquet append is not transactional).
  * Exactly-once needs a transactional table format; with plain parquet,
  * run Dedup.dropExactDuplicates (content fingerprints) downstream or
  * treat the collection as append-only with id-based dedup at query time.
  *
  * Single-writer contract: the stream appends to the data path captured
  * from `coll.info` at start — do not run [[Collection.compact]] while
  * the stream is active (stop or quiesce it first), or batches landing in
  * the retired path after compact's snapshot are lost when that path is
  * cleaned up (see the contract note on compact()).
  */
object CollectionIngest {

  def appendStream(
      coll: Collection,
      docsStream: DataFrame,
      embedder: Embedder,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    MicroBatch.start(docsStream, checkpointDir, trigger) { (batch, _) =>
      Embed.withEmbedding(batch, "document", "embedding", embedder)
        .write.mode("append").parquet(coll.info.path)
    }
}
