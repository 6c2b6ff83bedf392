package graft.core

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedDeque}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.lit
import org.apache.spark.storage.StorageLevel

/** The one place that decides how an op's reused intermediate is
  * materialised and when it is freed.
  *   - `df.pin` persists lazily (MEMORY_AND_DISK), so the op's next action
  *     fills it in its own job set, and registers it under its session.
  *     Lineage is kept: a released pin can only recompute, never change a
  *     result. An already cached frame (a [[graft.ops.SnapshotCache]] entry,
  *     the same plan pinned earlier in the run) is returned as is.
  *   - [[cut]] truncates lineage for loop state reassigned every round; the
  *     ContextCleaner frees cuts once unreachable.
  *   - [[release]] is called by whoever consumed a run's result. */
object Pin {

  // registered pins per session (identity keys: a streaming query's cloned
  // session is its own key), oldest first
  private val pins = new ConcurrentHashMap[SparkSession, ConcurrentLinkedDeque[DataFrame]]()

  implicit class PinOps(private val df: DataFrame) extends AnyVal {
    def pin: DataFrame = {
      val p = if (df.storageLevel != StorageLevel.NONE) df else listed(df)
      if (p.storageLevel != StorageLevel.NONE) p
      else {
        // add under the map's lock, so a concurrent release never drops it
        pins.compute(p.sparkSession, (_, q) => {
          val d = if (q == null) new ConcurrentLinkedDeque[DataFrame]() else q
          d.add(p); d
        })
        p.persist(StorageLevel.MEMORY_AND_DISK)
      }
    }
  }

  // Spark serves a cached plan to any query with the same plan, and a file
  // scan's plan names only its paths: a later read of a directory that has
  // gained files would get this frame's cached rows. A digest of the files
  // the frame was listed with (writers never reuse a file name) keeps such
  // a cache to reads of the same files.
  private[graft] def listed(df: DataFrame): DataFrame = {
    val files = df.queryExecution.analyzed.collectWithSubqueries {
      case l: LogicalRelation => l.relation
    }.collect { case r: HadoopFsRelation => r.location.inputFiles.sorted.mkString("\n") }
    if (files.isEmpty) df
    else {
      val sha = java.security.MessageDigest.getInstance("SHA-256")
        .digest(files.mkString("\n\n").getBytes("UTF-8"))
      df.withColumn("_graft_pin", lit(sha.map("%02x".format(_)).mkString))
        .drop("_graft_pin")
    }
  }

  def cut(df: DataFrame, eager: Boolean): DataFrame = df.localCheckpoint(eager)

  /** Unpersists every registered pin of `spark`, newest first (so no
    * dependent cached plan is recompiled), without blocking; returns how
    * many were released. */
  def release(spark: SparkSession): Int = Option(pins.remove(spark)).fold(0) { q =>
    q.descendingIterator().forEachRemaining(_.unpersist(blocking = false))
    q.size
  }

  /** Registered pins of `spark` that are still cached. */
  def live(spark: SparkSession): Int = Option(pins.get(spark))
    .fold(0)(_.stream().filter(_.storageLevel != StorageLevel.NONE).count().toInt)
}
