package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Shared MANIFEST-POINTER commit protocol and index lifecycle for the
  * four persisted index families ([[LmIndex]], [[TextIndex]], [[Ivf]],
  * [[BpeIndex]]) — the table-format
  * answer (Iceberg/Delta's core idea, re-expressed minimally) to the
  * question "how does a persisted index survive crashes and serve a
  * consistent snapshot while being rebuilt, appended and compacted?":
  *
  *   - data lives in IMMUTABLE delta directories `d_<uuid>/…` that are
  *     never modified after commit, only added or dropped from the
  *     manifest;
  *   - the live state is ONE pointer: the highest-versioned file under
  *     `<dir>/_manifest/` (`v<%019d>`), whose lines are the committed
  *     delta names in commit order;
  *   - a writer stages under `tmp_<uuid>` (invisible: readers only open
  *     manifest-listed dirs), renames the staged dir to `d_<uuid>`, and
  *     finally publishes a NEW manifest file (written to a temp name,
  *     renamed into place) — so the commit point is a single rename of
  *     a tiny file, and a crash at ANY earlier step leaves the previous
  *     manifest serving the previous state untouched. A REBUILD is just
  *     a commit whose new manifest lists only the new delta — atomic,
  *     unlike delete-then-promote (the r14 LmIndex.build gap);
  *   - compaction commits `remove = the deltas it read` + `add = the
  *     merged delta`, so a delta appended CONCURRENTLY (committed after
  *     the compactor snapshotted) survives — the manifest list is
  *     re-read inside commit;
  *   - readers resolve the delta list ONCE per query via [[livePaths]],
  *     so multi-table indexes (tri/bi/uni, postings/docstats/stats)
  *     cannot see a TORN view with an append visible in one table but
  *     not another (the r14 glob-per-table gap);
  *   - garbage: unreferenced `d_*`/`tmp_*` dirs (crashed writers,
  *     dropped-by-rebuild deltas) are deleted by [[gc]] ONLY past an age
  *     threshold, so an in-flight writer's staging dir or an in-flight
  *     reader's just-unreferenced snapshot is never yanked mid-use (the
  *     r14 tmp-GC gap).
  *
  * The lifecycle — [[rebuild]], [[append]] (exactly-once with a key),
  * [[compact]] and [[snapshot]] — lives here once; a family declares
  * only how it writes a delta's tables and how each table merges.
  * [[stage]], [[mark]], [[copyMarkers]] and [[commit]] are the steps
  * those entry points are made of.
  *
  * Concurrency contract: atomic-rename filesystems (HDFS, POSIX) give
  * lost-update protection between concurrent committers best-effort
  * only (LocalFileSystem rename overwrites); the maintenance operations
  * (rebuild, compact) assume the repo-wide SINGLE-MAINTAINER contract
  * (Collection.reembed / Ivf.rebuildIfStale discipline), while
  * append-vs-read needs no coordination at all. On S3 the manifest
  * write maps to one atomic PUT, which is exactly why the pointer file
  * exists instead of relying on directory renames
  * (reference: valentinus keeps whole collections as single LMDB values
  * and swaps them per write — db.rs:60-88 — which this generalizes to
  * distributed storage). */
object Manifest {

  /** A committed snapshot: manifest `version` and the delta dir NAMES
    * (relative to the index dir) in commit order. */
  final case class State(version: Long, deltas: Seq[String])

  private val ManifestDir = "_manifest"

  private def fsOf(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def newUuid(): String =
    java.util.UUID.randomUUID().toString.replace("-", "").take(12)

  private def versionName(v: Long): String = f"v$v%019d"

  /** The current committed state; `State(0, Nil)` when nothing has ever
    * been committed (an empty index serves zero deltas, not an error —
    * callers decide whether empty is acceptable). */
  def current(spark: SparkSession, dir: String): State = {
    val (fs, base) = fsOf(spark, dir)
    val mdir = new Path(base, ManifestDir)
    if (!fs.exists(mdir)) return State(0L, Nil)
    val versions = fs.listStatus(mdir)
      .map(_.getPath.getName)
      .filter(_.matches("v\\d{19}"))
    if (versions.isEmpty) return State(0L, Nil)
    readState(fs, mdir, versions.max)
  }

  /** TIME TRAVEL: the committed state at an EXPLICIT manifest version —
    * every commit keeps its predecessor manifests on disk (only [[gc]]
    * prunes them past the age threshold), so any still-retained snapshot
    * can be served read-only exactly as it was: same delta list, same
    * immutable delta dirs (Iceberg/Delta's `VERSION AS OF`, minimally).
    * Typed failure when the version was never committed or has been
    * gc'd — never a silent empty model. */
  def stateAt(spark: SparkSession, dir: String, version: Long): State = {
    require(version >= 1L, s"manifest versions start at 1, got $version")
    val (fs, base) = fsOf(spark, dir)
    val mdir = new Path(base, ManifestDir)
    val name = versionName(version)
    require(fs.exists(new Path(mdir, name)),
      s"no manifest version $version under $dir — never committed, or " +
        "already gc'd past the retention age; time travel only reaches " +
        "retained snapshots")
    readState(fs, mdir, name)
  }

  /** Absolute delta paths of the snapshot at `version` — the time-travel
    * twin of [[livePaths]], resolved once per query. */
  def livePathsAt(spark: SparkSession, dir: String, version: Long): Seq[String] =
    stateAt(spark, dir, version).deltas.map(d => s"$dir/$d")

  private def readState(fs: FileSystem, mdir: Path, name: String): State = {
    val in = fs.open(new Path(mdir, name))
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    State(name.drop(1).toLong,
      text.split("\n").toSeq.map(_.trim).filter(_.nonEmpty))
  }

  /** Absolute paths of the live delta dirs, in commit order — resolve
    * ONCE per query and reuse across every table read of that query. */
  def livePaths(spark: SparkSession, dir: String): Seq[String] =
    current(spark, dir).deltas.map(d => s"$dir/$d")

  /** A fresh invisible staging path `<dir>/tmp_<uuid>` — write delta
    * content under it, then [[commit]] it. Nothing is created here;
    * the first write materializes it. */
  def stage(dir: String): String = s"$dir/tmp_${newUuid()}"

  /** Publish staged dirs atomically: each `tmp_x` is renamed to `d_x`,
    * then ONE new manifest file commits
    * `(removeAll ? ∅ : current ∖ remove) ++ staged` as the live list.
    * The commit point is the manifest rename — a crash before it leaves
    * the old state serving, orphaning only invisible dirs.
    *
    * @param staged  staging paths returned by [[stage]] (already fully
    *                written by the caller)
    * @param remove  delta NAMES to drop (a compactor passes the deltas
    *                it merged; concurrent appends survive because the
    *                live list is re-read here, at commit time)
    * @param removeAll drop every previously live delta (a rebuild) */
  def commit(spark: SparkSession, dir: String, staged: Seq[String],
      remove: Seq[String] = Nil, removeAll: Boolean = false): State = {
    require(staged.nonEmpty || remove.nonEmpty || removeAll,
      "empty commit: nothing staged, nothing removed")
    val (fs, base) = fsOf(spark, dir)
    val added = staged.map { s =>
      val p = new Path(s)
      require(p.getParent == base && p.getName.startsWith("tmp_"),
        s"staged path $s is not a tmp_* child of $dir")
      require(fs.exists(p), s"staged path $s was never written")
      val d = new Path(base, "d_" + p.getName.stripPrefix("tmp_"))
      require(fs.rename(p, d), s"could not promote $p -> $d")
      d.getName
    }
    val mdir = new Path(base, ManifestDir)
    if (!fs.exists(mdir)) fs.mkdirs(mdir)
    var committed: State = null
    while (committed == null) {
      val cur = current(spark, dir)
      val kept = if (removeAll) Nil else cur.deltas.filterNot(remove.contains)
      val next = State(cur.version + 1, kept ++ added)
      val tmp = new Path(mdir, s".tmp_${newUuid()}")
      val out = fs.create(tmp, false)
      try out.write((next.deltas.mkString("\n") + "\n").getBytes("UTF-8"))
      finally out.close()
      val target = new Path(mdir, versionName(next.version))
      // a false rename = a concurrent commit took this version on a
      // checking FS; re-read and retry on top of it (best-effort — see
      // the object scaladoc's single-maintainer contract)
      if (fs.exists(target) || !fs.rename(tmp, target)) fs.delete(tmp, false)
      else committed = next
    }
    committed
  }

  // ---- idempotency markers (streaming exactly-once appends) --------

  private val MarkerPrefix = "_key_"

  private def markerName(key: String): String = {
    require(key.matches("[A-Za-z0-9_=.-]+"),
      s"idempotency key must be filename-safe [A-Za-z0-9_=.-]+, got '$key'")
    MarkerPrefix + key
  }

  /** Tag a STAGED delta with an idempotency key (an empty marker file at
    * the delta root, sibling of its tables — parquet reads of
    * `<delta>/<table>` never see it). Call before [[commit]]; after the
    * commit the key is discoverable via [[isCommitted]], which is what
    * makes a foreachBatch append EXACTLY-ONCE: a replayed micro-batch
    * (crash after commit, before the stream checkpoint) finds its
    * `batch=<id>` key already live and skips — the [[graft.streaming
    * .CurationIngest]] `batch=` discipline, expressed on the manifest
    * instead of on partition dirs. */
  def mark(spark: SparkSession, stagingDir: String, key: String): Unit = {
    val (fs, _) = fsOf(spark, stagingDir)
    val out = fs.create(
      new Path(stagingDir, markerName(key)), false)
    out.close()
  }

  /** Whether any LIVE delta of the current snapshot carries `key` —
    * the replay probe of the exactly-once append. O(live deltas)
    * existence checks, driver-side. Compactions must carry markers
    * forward ([[copyMarkers]]) or replays older than the last
    * checkpoint could re-append (single-maintainer contract: compaction
    * never races an active ingest checkpoint). */
  def isCommitted(spark: SparkSession, dir: String, key: String): Boolean = {
    val (fs, base) = fsOf(spark, dir)
    val name = markerName(key)
    current(spark, dir).deltas
      .exists(d => fs.exists(new Path(new Path(base, d), name)))
  }

  /** Copy every idempotency marker from `fromDeltaNames` (live delta
    * names) into `toStaging` — the compaction hook that keeps
    * [[isCommitted]] true across a merge of marked deltas. */
  def copyMarkers(spark: SparkSession, dir: String,
      fromDeltaNames: Seq[String], toStaging: String): Unit = {
    val (fs, base) = fsOf(spark, dir)
    fromDeltaNames.foreach { d =>
      val dp = new Path(base, d)
      if (fs.exists(dp)) fs.listStatus(dp).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith(MarkerPrefix)) {
          val t = new Path(toStaging, n)
          if (!fs.exists(t)) fs.create(t, false).close()
        }
      }
    }
  }

  // ---- the index lifecycle -----------------------------------------

  /** The committed state a read serves: the live one (`version = None`)
    * or a retained one ([[stateAt]]). Typed failure when it lists no
    * deltas — `what` names the index in the message — so no family
    * ever serves a silent empty model. */
  def snapshot(spark: SparkSession, dir: String, version: Option[Long],
      what: String): State = {
    val st = version.fold(current(spark, dir))(stateAt(spark, dir, _))
    require(st.deltas.nonEmpty, version match {
      case None => s"no live $what under $dir — build first"
      case Some(v) => s"manifest version $v of $dir lists no deltas — empty $what"
    })
    st
  }

  /** REBUILD: `write` fills one fresh staged delta, which commits as the
    * ONLY live delta (`removeAll`), then [[gc]]. Atomic: the previous
    * index serves until the pointer flips. */
  def rebuild(spark: SparkSession, dir: String)(write: String => Unit): Unit = {
    val staging = stage(dir)
    write(staging)
    commit(spark, dir, Seq(staging), removeAll = true)
    gc(spark, dir)
  }

  /** APPEND: `write` fills one staged delta, committed on top of the live
    * ones. With a `key` the append is EXACTLY-ONCE: a key already live
    * ([[isCommitted]]) returns before `write` runs; otherwise the delta
    * is [[mark]]ed with it before the commit (the streaming
    * `batch=<id>` discipline). */
  def append(spark: SparkSession, dir: String, key: Option[String] = None)(
      write: String => Unit): Unit = {
    if (key.exists(isCommitted(spark, dir, _))) return
    val staging = stage(dir)
    write(staging)
    key.foreach(mark(spark, staging, _))
    commit(spark, dir, Seq(staging))
  }

  /** One table's merge: that table's paths in the deltas being merged
    * (commit order), and the path to write the merged table to. */
  type Merge = (Seq[String], String) => Unit

  /** COMPACTION: merge the live deltas holding any of `tables` into ONE
    * delta. The table merges are independent and run in parallel;
    * idempotency markers are carried forward ([[copyMarkers]]) and the
    * commit removes exactly the deltas read, so an append committed
    * meanwhile survives. No-op when at most one delta holds the tables. */
  def compact(spark: SparkSession, dir: String,
      tables: Seq[(String, Merge)]): Unit = {
    import scala.collection.parallel.CollectionConverters._
    val (fs, base) = fsOf(spark, dir)
    val live = current(spark, dir).deltas
    val holders = tables.map { case (t, merge) =>
      (t, merge, live.filter(d => fs.exists(new Path(new Path(base, d), t))))
    }
    val read = live.filter(d => holders.exists(_._3.contains(d)))
    if (read.size <= 1) return
    val staging = stage(dir)
    holders.filter(_._3.nonEmpty).par.foreach { case (t, merge, ds) =>
      merge(ds.map(d => s"$dir/$d/$t"), s"$staging/$t")
    }
    copyMarkers(spark, dir, read, staging)
    commit(spark, dir, Seq(staging), remove = read)
    gc(spark, dir)
  }

  /** The retained version history, oldest first — which snapshots
    * [[stateAt]] can still reach: one row per manifest file under
    * `_manifest/` that [[gc]] has not yet pruned. The operational
    * answer to "which versions can I time-travel to?". */
  def history(spark: SparkSession, dir: String): Seq[State] = {
    val (fs, base) = fsOf(spark, dir)
    val mdir = new Path(base, ManifestDir)
    if (!fs.exists(mdir)) return Nil
    fs.listStatus(mdir)
      .map(_.getPath.getName)
      .filter(_.matches("v\\d{19}"))
      .sorted.toSeq
      .map(readState(fs, mdir, _))
  }

  /** Delete UNREFERENCED `d_*`/`tmp_*` dirs and superseded manifest
    * files, but only those untouched for `minAgeMs` — an in-flight
    * writer's staging dir or a reader's just-unreferenced snapshot is
    * never yanked mid-use. Returns the deleted names. */
  def gc(spark: SparkSession, dir: String,
      minAgeMs: Long = 3600L * 1000L): Seq[String] = {
    val (fs, base) = fsOf(spark, dir)
    if (!fs.exists(base)) return Nil
    val live = current(spark, dir)
    val cutoff = System.currentTimeMillis() - minAgeMs
    val dead = fs.listStatus(base).toSeq.filter { st =>
      val n = st.getPath.getName
      (n.startsWith("tmp_") || (n.startsWith("d_") && !live.deltas.contains(n))) &&
        st.getModificationTime < cutoff
    }
    val mdir = new Path(base, ManifestDir)
    val oldManifests =
      if (!fs.exists(mdir)) Nil
      else fs.listStatus(mdir).toSeq.filter { st =>
        val n = st.getPath.getName
        ((n.matches("v\\d{19}") && n < versionName(live.version)) ||
          n.startsWith(".tmp_")) && st.getModificationTime < cutoff
      }
    (dead ++ oldManifests).map { st =>
      fs.delete(st.getPath, true); st.getPath.getName
    }
  }
}
