package graft.ops

import scala.collection.mutable
import graft.core.Pin
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Session-scoped SNAPSHOT CACHE for Manifest-served model artifacts —
  * the build-once pattern applied to the serving path: a probe against a
  * persisted index ([[LmIndex.score]], [[Ivf.probeIndex]],
  * [[TextIndex.probeIndex]]) must resolve the manifest pointer on EVERY
  * call (that read is what makes concurrent appends visible), but the
  * artifacts derived from a resolved snapshot — collected centroid
  * models, re-aggregated count tables, union scan plans — are immutable
  * functions of (index dir, manifest version), because deltas are never
  * modified after commit. So they are cached here keyed by exactly that
  * pair (plus the Spark application id, so a restarted session never
  * sees another JVM's plans), and invalidation is FREE: an append,
  * compaction or rebuild publishes a new pointer version, which is a new
  * key; time-travel reads pin explicit versions, which are their own
  * keys, so caching cannot leak across snapshots (the q186/q190/q191
  * oracles stay exact by construction).
  *
  * Memory contract: ONLY model-sized artifacts (centroid arrays,
  * vocabulary-sized persisted aggregates, unpersisted scan PLANS) and
  * the few per-document signals many entries re-read ([[persisted]],
  * keyed by corpus fingerprint) go in. Bounded LRU (`MaxEntries`);
  * eviction runs the entry's registered cleanup (unpersist for cached
  * DataFrames — safe, they rebuild from the immutable deltas on the
  * next miss). */
object SnapshotCache {

  private val MaxEntries = 64

  private final case class Entry(value: AnyRef, cleanup: () => Unit)

  // access-order LRU; map access synchronized (serving-path calls are
  // driver-side and cheap relative to the jobs they avoid)
  private val entries = mutable.LinkedHashMap.empty[String, Entry]

  // r17: per-key build latches — a compute can run Spark jobs (persist,
  // ranked-head collects), so it must NOT hold the map lock: concurrent
  // probes of DIFFERENT snapshots used to serialize behind one cache
  // build (guide §2.6). Same-key callers still wait and build once.
  private val building =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** Composite key for a served snapshot: one cache line per
    * (application, family, index dir, manifest version, facet). */
  def key(spark: org.apache.spark.sql.SparkSession, family: String,
      dir: String, version: Long, facet: String = ""): String =
    s"${spark.sparkContext.applicationId}|$family|$dir|v$version|$facet"

  /** Cached value for `k`, computing (and registering `cleanup` for
    * eviction) on miss. The compute runs under a PER-KEY latch, never
    * the map lock, so builds of distinct snapshots overlap; two callers
    * racing on the same key still compute exactly once. */
  def getOrCompute[T <: AnyRef](k: String)(compute: => T)(
      cleanup: T => Unit = (_: T) => ()): T = {
    def hit(): Option[AnyRef] = entries.synchronized {
      entries.get(k).map { e =>
        // refresh LRU position
        entries.remove(k); entries.put(k, e)
        e.value
      }
    }
    hit() match {
      case Some(v) => v.asInstanceOf[T]
      case None =>
        val latch = building.computeIfAbsent(k, _ => new Object)
        // removed even if the compute throws
        try latch.synchronized {
          // a same-key racer may have built while this thread waited
          hit() match {
            case Some(v) => v.asInstanceOf[T]
            case None =>
              val v = compute
              entries.synchronized {
                // unpersist-on-evict/replace is safe: a stale reference
                // in flight recomputes from its immutable inputs
                entries.put(k, Entry(v, () => cleanup(v)))
                  .foreach(old => if (old.value ne v) runCleanup(old))
                while (entries.size > MaxEntries) {
                  val (oldK, oldE) = entries.head
                  entries.remove(oldK)
                  runCleanup(oldE)
                }
              }
              v
          }
        } finally building.remove(k, latch)
    }
  }

  /** A frame persisted lazily under `k`, unpersisted on eviction; tagged
    * with its file listing like a [[Pin]] (see [[Pin.listed]]). */
  def persisted(k: String)(build: => DataFrame): DataFrame =
    getOrCompute(k)(Pin.listed(build).persist(StorageLevel.MEMORY_AND_DISK))(
      _.unpersist(false))

  private def runCleanup(e: Entry): Unit =
    try e.cleanup() catch { case _: Throwable => () }

  /** Latches of builds in flight (test hook). */
  private[ops] def pendingBuilds: Int = building.size

  /** Drop everything (test hook; never needed for correctness). */
  def clear(): Unit = entries.synchronized {
    entries.values.foreach(runCleanup)
    entries.clear()
  }
}
