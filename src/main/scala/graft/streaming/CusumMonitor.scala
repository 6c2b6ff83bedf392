package graft.streaming

import graft.ops.ChangeDetect
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming CUSUM drift monitor — the q214 sequential change detector
  * ([[graft.ops.ChangeDetect.cusum]]) run at ingest time: each
  * micro-batch folds its rows into a per-bucket PARTIAL grid persisted
  * under `gridDir/batch=<id>`, and [[cusumState]] serves the exact
  * CUSUM trajectory over EVERYTHING observed so far. Small persistent
  * shifts accumulate across micro-batches until the statistic crosses
  * the alarm level — the slow-rot tripwire [[DriftMonitor]]'s
  * per-batch PSI cannot see (PSI judges each batch alone; CUSUM
  * remembers).
  *
  * Exactly-once: per-batch `batch=<id>` overwrite dirs (the
  * [[CurationIngest]] recovery discipline) — a checkpoint-replayed
  * batch rewrites the same partials instead of double-counting them.
  *
  * Order-robust BY CONSTRUCTION: the state is per-BUCKET partials, not
  * a running statistic, and every probe re-merges the grid and re-runs
  * the bounded drawup windows — so late or out-of-order events that
  * land in an old bucket in a later micro-batch still produce the
  * statistic a single batch pass over the union would ([[cusumState]] ≡
  * `ChangeDetect.cusum(all rows)`, spec-proven bit-for-bit). A monitor
  * that carried S_t forward as scalar state could never repair bucket
  * t once it closed.
  *
  * Scale: per micro-batch ONE map-side-combined aggregate to its
  * buckets-sized partial; a probe re-merges deltas with one grid-sized
  * groupBy + two bounded windows. The grid is hours/days — never
  * rows. */
object CusumMonitor {

  /** One micro-batch of the monitor — extracted from the foreachBatch
    * closure so the replay-idempotence spec can drive it directly. */
  def observeBatch(batch: DataFrame, batchId: Long, gridDir: String,
      bucketCol: String, valueCol: String): Unit = {
    // r17: guard fused into the partial aggregate (guide §1.2) — the
    // freestanding null check was a second full pass over every
    // micro-batch; the typed failure still fires BEFORE anything
    // persists (the guard reads the pinned partial, the write follows)
    ChangeDetect.guardedPartials(batch, bucketCol, valueCol,
        s"cusum monitor needs non-NULL '$bucketCol' buckets and " +
          s"'$valueCol' values")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$gridDir/batch=$batchId")
  }

  /** Start CUSUM monitoring over an observation stream: each
    * micro-batch's per-bucket partial persists under
    * `gridDir/batch=<id>`; [[cusumState]] serves the trajectory. */
  def cusumMonitor(
      obsStream: DataFrame,
      gridDir: String,
      bucketCol: String,
      valueCol: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    MicroBatch.start(obsStream, checkpointDir, trigger) { (batch, batchId) =>
      observeBatch(batch, batchId, gridDir, bucketCol, valueCol)
    }

  /** The CUSUM trajectory over every observation persisted so far —
    * identical rows to [[graft.ops.ChangeDetect.cusum]] on the union
    * of all monitored batches, whatever the batch boundaries or event
    * arrival order. Typed failure before the first batch lands. */
  def cusumState(spark: SparkSession, gridDir: String,
      target: Double, slack: Double, threshold: Double): DataFrame =
    ChangeDetect.cusumFromPartials(partials(spark, gridDir),
      target, slack, threshold)

  /** CHANGE-POINT localization over the monitored state — q233's
    * two-segment split search served from the SAME persisted grid the
    * CUSUM probe reads: one state, many detectors. Identical rows to
    * `ChangeDetect.changePoint` on the union of all monitored batches
    * (spec-proven), under any batch boundaries or arrival order. */
  def changePointState(spark: SparkSession, gridDir: String): DataFrame =
    ChangeDetect.changePointFromPartials(partials(spark, gridDir))

  /** SEASONAL profile over the monitored state — q228's centered-MA
    * phase offsets from the same persisted grid. Identical rows to
    * `ChangeDetect.seasonalDecompose` on the union (spec-proven). */
  def seasonalState(spark: SparkSession, gridDir: String,
      period: Int = 24): DataFrame =
    ChangeDetect.seasonalFromPartials(partials(spark, gridDir), period)

  /** SPRT trajectory over the monitored state — q269's sequential
    * test served from the SAME persisted grid, when the monitored
    * value is a 0/1 outcome (its micro value sum is 10⁶·successes,
    * recovered exactly; anything else fails typed). The fourth
    * detector on one state: identical rows to `ChangeDetect.sprt` on
    * the union of all monitored batches (spec-proven). */
  def sprtState(spark: SparkSession, gridDir: String,
      p0: Double, p1: Double, alpha: Double = 0.05d,
      beta: Double = 0.05d): DataFrame =
    ChangeDetect.sprtFromPartials(partials(spark, gridDir),
      p0, p1, alpha, beta)

  /** PAGE–HINKLEY trajectory over the monitored state — the
    * self-referenced (running-mean baseline, zero-calibration) drift
    * test served from the SAME persisted grid: the fifth detector on
    * one state, for the metric nobody has calibrated a CUSUM target
    * for yet. Identical rows to `ChangeDetect.pageHinkley` on the
    * union of all monitored batches (spec-proven), under any batch
    * boundaries or arrival order. */
  def pageHinkleyState(spark: SparkSession, gridDir: String,
      delta: Double = 0.0d, lambda: Double = 50.0d): DataFrame =
    ChangeDetect.pageHinkleyFromPartials(partials(spark, gridDir),
      delta, lambda)

  /** The stacked per-batch partials — resolved once per probe; typed
    * failure before the first batch lands. */
  private def partials(spark: SparkSession, gridDir: String): DataFrame =
    MicroBatch.read(spark, gridDir).select(col("bucket"), col("n"), col("_sm"))
}
