package graft.streaming

import graft.ops.{Curation, Dedup, PiiScrub, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.core.Pin._

/** Streaming corpus-curation ingest: the batch curation ladder — rule
  * quality gate (q127), PII redaction (q66), cross-batch exact dedup
  * against a persisted fingerprint index (the q65 incremental pattern) —
  * applied at ingest time via `foreachBatch`, so a document that fails
  * quality, or whose normalized fingerprint was EVER seen before, never
  * lands in the corpus.
  *
  * Exactly-once output: every batch writes to `batch=<id>` directories
  * with overwrite, so a replayed micro-batch (checkpoint recovery)
  * rewrites the same files instead of duplicating them — the same
  * recovery discipline EventStreamsSpec proves for the event pipelines.
  *
  * Scale: the per-batch work is the batch-sized quality/scrub
  * projection plus ONE left-anti equi-join of batch fingerprints
  * against the index scan (md5-keyed; at 100 TB the index is bucketed
  * by fingerprint prefix and the join prunes to the batch's buckets).
  * No unbounded streaming state store — the index IS the state,
  * persisted and shared with the batch dedup operators.
  */
object CurationIngest {

  /** One micro-batch of the curated ingest — extracted from the
    * foreachBatch closure so the replay-idempotence spec can drive it
    * directly with a chosen batchId.
    *
    * Replay safety (the crash-between-index-write-and-checkpoint-commit
    * case): the dedup index read EXCLUDES the current batch's own
    * `batch=<batchId>` partition. Without that exclusion, a replayed
    * batch finds its OWN fingerprints (written moments before the
    * crash) already in the index, classifies every document as seen,
    * and overwrites `outDir/batch=<id>` as EMPTY — permanently losing
    * the batch while its fingerprints keep it from ever re-admitting.
    * With the exclusion, a replay reproduces the original `fresh` set
    * bit-for-bit and the overwrite rewrites identical files. Index
    * existence is probed through the Hadoop FileSystem API (works on
    * HDFS/S3, not just the driver-local filesystem), and only `batch=*`
    * partition directories count — a bare directory left by a crashed
    * first write reads as an empty index, not a schema-inference error. */
  def processBatch(
      batch: DataFrame, batchId: Long,
      idCol: String, textCol: String,
      indexDir: String, outDir: String,
      minWords: Int = 5): Unit = {
    val spark = batch.sparkSession
    val keep = TextAnalysis
      .gopherRules(batch, idCol, textCol, minWords = minWords)
      .filter(col("keep") === 1L)
      .select(col(idCol))
    val scrub = PiiScrub.scrub(batch.join(keep, idCol), idCol, textCol)
      .select(col(idCol), col("redacted"),
        (col("n_emails") + col("n_ips") + col("n_phones")).as("n_redacted"))
    val fps = scrub.withColumn("_fp", Dedup.fingerprint(col("redacted")))
    // deterministic within-batch representative: min id per fingerprint
    val reps = fps.groupBy(col("_fp")).agg(min(col(idCol)).as(idCol))
      .join(fps, Seq("_fp", idCol))
    val indexPath = new org.apache.hadoop.fs.Path(indexDir)
    val fs = indexPath.getFileSystem(spark.sessionState.newHadoopConf())
    val hasIndex = fs.exists(indexPath) &&
      fs.globStatus(new org.apache.hadoop.fs.Path(indexPath, "batch=*")).nonEmpty
    val known =
      if (hasIndex)
        spark.read.parquet(indexDir)
          .filter(col("batch") =!= batchId) // never dedup against ourself
          .select(col("_fp"))
      else spark.emptyDataFrame.select(lit("").as("_fp")).limit(0)
    val fresh = reps.join(known, Seq("_fp"), "left_anti")
      .pin // one pass feeds both sinks
    fresh.select(col(idCol), col("redacted"), col("n_redacted"))
      .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    fresh.select(col("_fp"))
      .write.mode("overwrite").parquet(s"$indexDir/batch=$batchId")
    ()
  }

  /** One micro-batch of the NEAR-dup curated ingest — the exact-tier
    * [[processBatch]] ladder extended with the batch tier's banded
    * MinHash machinery ([[Dedup.bandedSignatures]] →
    * [[Dedup.incrementalCandidates]] → [[graft.ops.Components
    * .appendToComponents]]) so a document that is NEAR-duplicate (not
    * byte-equal) to anything already admitted never lands in the
    * corpus, and every batch document — admitted or rejected — is
    * ROUTED to its dedup cluster in a persisted labeling.
    *
    * Persisted state, all under `batch=<id>` overwrite dirs (replayed
    * micro-batches rewrite identical files — the [[processBatch]]
    * exactly-once discipline; every read excludes the current batch):
    *   - `indexDir/fps/batch=<id>`   — exact fingerprints of the batch's
    *     exact-fresh representatives (the cheap tier rejects byte-equal
    *     re-ingests before any signature work);
    *   - `indexDir/sigs/batch=<id>`  — banded signatures of ADMITTED
    *     docs only (the corpus IS the admitted set — candidates are a
    *     (band, bucket) equi-join, never all-pairs, never a corpus
    *     re-signature);
    *   - `indexDir/labels/batch=<id>` — the (id, component) rows of
    *     every cluster this batch touched (LATEST-batch-wins per id on
    *     read, so the delta stack stays a consistent min-id labeling;
    *     untouched clusters are never rewritten);
    *   - `outDir/batch=<id>`         — the admitted documents.
    *
    * Admission: a batch doc is admitted iff its cluster (after the
    * incremental components append over cross-corpus + within-batch
    * candidate pairs) contains NO corpus member and it is the min-id
    * batch member — one representative per brand-new near-dup cluster,
    * nothing that duplicates the corpus. Batch ids must be disjoint
    * from corpus ids (the shared append contract).
    *
    * Scale: per batch the work is batch-sized signatures + one
    * (band, bucket) equi-join against the sig index (small batch side →
    * AQE broadcasts it) + a components re-solve bounded by the AFFECTED
    * clusters (star-edge certificates, (id, label)-sized state) — no
    * unbounded streaming state store, no corpus rescan. */
  def processBatchNearDup(
      batch: DataFrame, batchId: Long,
      idCol: String, textCol: String,
      indexDir: String, outDir: String,
      minWords: Int = 5, numHashes: Int = 32, bands: Int = 8,
      w: Int = 3, threshold: Double = 0.5): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._

    // ---- exact tier: quality gate + scrub + fingerprint dedup -------
    val keep = TextAnalysis
      .gopherRules(batch, idCol, textCol, minWords = minWords)
      .filter(col("keep") === 1L)
      .select(col(idCol))
    val scrub = PiiScrub.scrub(batch.join(keep, idCol), idCol, textCol)
      .select(col(idCol), col("redacted"),
        (col("n_emails") + col("n_ips") + col("n_phones")).as("n_redacted"))
    val fps = scrub.withColumn("_fp", Dedup.fingerprint(col("redacted")))
    val reps = fps.groupBy(col("_fp")).agg(min(col(idCol)).as(idCol))
      .join(fps, Seq("_fp", idCol))
    val knownFps = readPart(spark, s"$indexDir/fps", batchId)
      .map(_.select(col("_fp")))
    val fresh = knownFps.fold(reps)(k => reps.join(k, Seq("_fp"), "left_anti"))
      .pin // feeds signatures, admission and both sinks

    // ---- near-dup tier: banded candidates + components routing ------
    val bb = Dedup.bandedSignatures(fresh, idCol, "redacted",
        numHashes, bands, w)
      .pin // joined twice (cross + self) + sink
    val corpusSigs = readPart(spark, s"$indexDir/sigs", batchId)
    val crossCand = corpusSigs.map(cs =>
        Dedup.incrementalCandidates(bb, cs, idCol, numHashes, threshold)
          .select(col("batch_id").as("a_id"), col("corpus_id").as("b_id")))
      .getOrElse(Seq.empty[(Long, Long)].toDF("a_id", "b_id"))
    val selfCand = Dedup.incrementalCandidates(bb, bb, idCol,
        numHashes, threshold)
      .filter(col("batch_id") < col("corpus_id"))
      .select(col("batch_id").as("a_id"), col("corpus_id").as("b_id"))
    val pairs = crossCand.unionByName(selfCand).pin

    // current labeling = latest-batch-wins over the label deltas
    val oldLabels = readPart(spark, s"$indexDir/labels", batchId)
      .map { l =>
        val wLatest = org.apache.spark.sql.expressions.Window
          .partitionBy(col("id")).orderBy(col("batch").desc)
        l.withColumn("_rn", row_number().over(wLatest))
          .filter(col("_rn") === 1).select(col("id"), col("component"))
      }
      .getOrElse(Seq.empty[(Long, Long)].toDF("id", "component"))
    val resolved =
      graft.ops.Components.appendToComponents(oldLabels, pairs)
    val batchIds = fresh.select(col(idCol).as("id"))
    // batch docs in no pair at all: brand-new singleton clusters
    val labelsAll = resolved
      .unionByName(batchIds.join(resolved, Seq("id"), "left_anti")
        .select(col("id"), col("id").as("component")))
      .pin

    // clusters this batch touched — admission + the labels delta
    val touchedComps = labelsAll.join(batchIds, Seq("id"))
      .select(col("component")).distinct()
    val touchedRows = labelsAll.join(touchedComps, Seq("component"))
      .join(batchIds.withColumn("_isb", lit(1L)), Seq("id"), "left")
      .pin
    val admittedIds = touchedRows
      .groupBy(col("component"))
      .agg(min(when(col("_isb") === 1L, col("id"))).as("_keep"),
        max(when(col("_isb").isNull, 1L).otherwise(0L)).as("_has_corpus"))
      .filter(col("_has_corpus") === 0L)
      .select(col("_keep").as(idCol))
    val admitted = fresh.join(admittedIds, Seq(idCol))
      .pin // docs + sigs sinks

    // ---- exactly-once sinks (batch=<id> overwrite) ------------------
    admitted.select(col(idCol), col("redacted"), col("n_redacted"))
      .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    fresh.select(col("_fp"))
      .write.mode("overwrite").parquet(s"$indexDir/fps/batch=$batchId")
    bb.join(admittedIds, Seq(idCol))
      .select(col(idCol), col("sig"), col("band"), col("bucket"))
      .write.mode("overwrite").parquet(s"$indexDir/sigs/batch=$batchId")
    touchedRows.select(col("id"), col("component"))
      .write.mode("overwrite").parquet(s"$indexDir/labels/batch=$batchId")
    ()
  }

  /** Read a `batch=<id>`-partitioned state dir, EXCLUDING the current
    * batch (replay safety — see [[processBatch]]); None when the dir
    * has no committed batches yet. */
  private def readPart(spark: org.apache.spark.sql.SparkSession,
      dir: String, batchId: Long): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val has = fs.exists(p) &&
      fs.globStatus(new org.apache.hadoop.fs.Path(p, "batch=*")).nonEmpty
    if (!has) None
    else Some(spark.read.parquet(dir).filter(col("batch") =!= batchId))
  }

  /** Start the NEAR-dup curated ingest: the [[curatedAppend]] ladder
    * upgraded from byte-equal to MinHash near-duplicate cross-batch
    * dedup with persisted cluster routing — see
    * [[processBatchNearDup]]. */
  def nearDupAppend(
      docsStream: DataFrame,
      idCol: String,
      textCol: String,
      indexDir: String,
      outDir: String,
      checkpointDir: String,
      minWords: Int = 5, numHashes: Int = 32, bands: Int = 8,
      w: Int = 3, threshold: Double = 0.5,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    MicroBatch.start(docsStream, checkpointDir, trigger) { (batch, batchId) =>
      processBatchNearDup(batch, batchId, idCol, textCol, indexDir,
        outDir, minWords, numHashes, bands, w, threshold)
    }

  /** One micro-batch of STREAMING funnel attrition monitoring — the
    * q192 readout kept live at ingest: the batch's
    * [[graft.ops.Curation.filterFunnel]] rows land under
    * `statsDir/batch=<id>` (overwrite — the [[processBatch]]
    * exactly-once discipline: a replayed batch rewrites identical
    * rows). First-reject attribution is ROW-LOCAL, so per-batch
    * funnels are exactly batch-decomposable: summing the persisted
    * per-batch rows ([[funnelTotals]]) reproduces the whole-corpus
    * funnel bit-for-bit — proven in CurationIngestSpec, including
    * across a restart replay. */
  def funnelStatsBatch(batch: DataFrame, batchId: Long,
      gates: Seq[(String, org.apache.spark.sql.Column)],
      statsDir: String): Unit =
    Curation.filterFunnel(batch, gates)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$statsDir/batch=$batchId")

  /** Fold the per-batch funnel rows back into the corpus-level funnel:
    * n_in/n_rejected/n_out sum exactly (each batch's chain is
    * internally consistent and attribution is row-local); reject_share
    * recomputes from the summed counts. */
  def funnelTotals(spark: org.apache.spark.sql.SparkSession,
      statsDir: String): DataFrame =
    spark.read.parquet(statsDir)
      .groupBy(col("stage"), col("gate"))
      .agg(sum(col("n_in")).as("n_in"),
        sum(col("n_rejected")).as("n_rejected"),
        sum(col("n_out")).as("n_out"))
      .withColumn("reject_share",
        round(when(col("n_in") > 0L,
            col("n_rejected").cast("double") / col("n_in").cast("double"))
          .otherwise(lit(0.0d)), 6))

  /** Start streaming funnel monitoring over a doc stream: each
    * micro-batch's attrition rows persist under `statsDir/batch=<id>`;
    * [[funnelTotals]] serves the running corpus-level readout. */
  def funnelMonitor(
      docsStream: DataFrame,
      gates: Seq[(String, org.apache.spark.sql.Column)],
      statsDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    MicroBatch.start(docsStream, checkpointDir, trigger) { (batch, batchId) =>
      funnelStatsBatch(batch, batchId, gates, statsDir)
    }

  /** Start the curated ingest: docsStream(idCol, textCol) → quality
    * gate → PII-redacted text → never-seen-before docs appended under
    * `outDir/batch=<id>`, their fingerprints under `indexDir/batch=<id>`. */
  def curatedAppend(
      docsStream: DataFrame,
      idCol: String,
      textCol: String,
      indexDir: String,
      outDir: String,
      checkpointDir: String,
      minWords: Int = 5,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    MicroBatch.start(docsStream, checkpointDir, trigger) { (batch, batchId) =>
      processBatch(batch, batchId, idCol, textCol, indexDir, outDir, minWords)
    }
}
