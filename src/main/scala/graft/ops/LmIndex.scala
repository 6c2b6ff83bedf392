package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Pin

/** Persisted stupid-backoff LM model — the q122/q123
  * build-once/probe-many contract applied to the LM family: the
  * trigram/bigram/unigram count tables from
  * [[TextAnalysis.trigramModel]] are written as parquet once (the
  * "train" job) and any number of incoming batches are scored against
  * them ([[TextAnalysis.scoreBackoffTrigrams]]) without ever touching
  * the training corpus again — the LM twin of the persisted BM25
  * postings ([[TextIndex]]) and IVF cells ([[Ivf]]).
  *
  * Layout: one immutable DELTA DIRECTORY per build/append —
  * `<dir>/d_<uuid>/{tri,bi,uni}` parquet tables with the
  * [[TextAnalysis.trigramModel]] schemas — behind the shared
  * [[Manifest]] pointer; [[score]] resolves the live delta list ONCE
  * and re-aggregates, so counts stay additive across any number of
  * deltas and all three n-gram orders always read the SAME committed
  * snapshot (never a torn view with an append visible in `tri` but not
  * `uni`).
  *
  * Atomicity: every operation — [[build]] (a full rebuild), [[append]],
  * [[compact]] — stages its delta invisibly and commits with ONE
  * manifest-pointer publish (see [[Manifest]]); a crash at any earlier
  * step leaves the previous model serving unchanged. Stale staging dirs
  * from crashed writers are invisible and garbage-collected age-gated
  * by [[Manifest.gc]].
  *
  * At 100 TB, bucket `tri` by a hash of (w1, w2, w3) and `bi`/`uni` by
  * their keys so the probe joins can co-locate; counts are
  * vocabulary-sized either way. */
object LmIndex {

  /** Train: write the three count tables as the sole delta. One scan
    * of the training text per n-gram order, all map-side combined.
    * This is a full REBUILD: the new manifest lists only the new delta,
    * so the swap is atomic — a crash anywhere leaves the previous model
    * fully serving (the pre-manifest delete-then-promote window is
    * gone). Incremental updates should still prefer [[append]] (no
    * retraining scan of old data). */
  def build(train: DataFrame, textCol: String, dir: String): Unit = {
    val spark = train.sparkSession
    Manifest.commit(spark, dir,
      Seq(stageDelta(train, textCol, dir)), removeAll = true)
    Manifest.gc(spark, dir)
  }

  /** Incrementally extend the model with a new training batch: n-gram
    * counts are ADDITIVE, so the batch's own count tables land as one
    * more delta directory — no read, no merge job, no model rebuild;
    * [[score]] re-aggregates per key at read time (one
    * vocabulary-sized combiner groupBy). The delta commits with a
    * single manifest publish, so "append ≡ rebuild" holds for every
    * append that returns — a failed append leaves the model unchanged.
    * Proven in spec and by the q170 oracle hash match. */
  def append(batch: DataFrame, textCol: String, dir: String): Unit = {
    val spark = batch.sparkSession
    Manifest.commit(spark, dir, Seq(stageDelta(batch, textCol, dir)))
  }

  /** Merge the whole delta stack into ONE delta — the read-amplification
    * fix for long-lived models: [[score]] re-aggregates every live delta
    * per probe, which is fine at tens of deltas but unbounded after
    * thousands of appends. Compaction runs the same per-key aggregation
    * ONCE (vocabulary-sized, map-side combined), writes the merged
    * tables as a new delta, and commits `remove = exactly the deltas it
    * read` — so an append committed concurrently (after the snapshot)
    * SURVIVES the compaction ([[Manifest.commit]] re-reads the live list
    * at commit time). Serving is hash-identical before and after (the
    * q180 oracle and LmIndexSpec prove compacted ≡ delta-stack ≡ live).
    * No-op on an empty or already-single-delta model. */
  def compact(s: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.functions._
    val snap = Manifest.current(s, dir)
    if (snap.deltas.size <= 1) return
    val paths = snap.deltas.map(d => s"$dir/$d")
    val staging = Manifest.stage(dir)
    // the three merged-table writes are independent — overlap them
    // (guide §2.6), same as stageDelta
    import scala.collection.parallel.CollectionConverters._
    Seq(
      () => s.read.parquet(paths.map(p => s"$p/tri"): _*)
        .groupBy(col("w1"), col("w2"), col("w3"))
        .agg(sum(col("c123")).as("c123"))
        .write.mode("overwrite").parquet(s"$staging/tri"),
      () => s.read.parquet(paths.map(p => s"$p/bi"): _*)
        .groupBy(col("wa"), col("wb")).agg(sum(col("cab")).as("cab"))
        .write.mode("overwrite").parquet(s"$staging/bi"),
      () => s.read.parquet(paths.map(p => s"$p/uni"): _*)
        .groupBy(col("w")).agg(sum(col("c")).as("c"))
        .write.mode("overwrite").parquet(s"$staging/uni")
    ).par.foreach(_.apply())
    // streaming-ingest idempotency keys survive the merge
    Manifest.copyMarkers(s, dir, snap.deltas, staging)
    Manifest.commit(s, dir, Seq(staging), remove = snap.deltas)
    Manifest.gc(s, dir)
  }

  /** Staging hook for the streaming exactly-once ingest
    * ([[graft.streaming.IndexIngest]]): stage a delta WITHOUT
    * committing, so the caller can [[Manifest.mark]] it first. */
  private[graft] def stageDeltaFor(df: DataFrame, textCol: String,
      dir: String): String = stageDelta(df, textCol, dir)

  /** Write the batch's three count tables under an invisible staging
    * dir; returns the staging path for [[Manifest.commit]]. */
  private def stageDelta(df: DataFrame, textCol: String, dir: String): String = {
    import scala.collection.parallel.CollectionConverters._
    val staging = Manifest.stage(dir)
    val (tri, bi, uni) = TextAnalysis.trigramModel(df, textCol)
    // the three order aggregates are independent reads of the one
    // pinned token pass — overlap their write jobs (guide §2.6) instead
    // of serializing three small aggregate+write barriers
    Seq("tri" -> tri, "bi" -> bi, "uni" -> uni).par.foreach {
      case (name, t) =>
        t.write.mode("overwrite").parquet(s"$staging/$name")
    }
    staging
  }

  /** Serve: score a batch against the persisted model. Count parts
    * from [[build]] + any number of [[append]]s are re-aggregated per
    * key (vocab-sized, map-side combined) before the scoring joins.
    * The live delta list is resolved ONCE and shared by the tri/bi/uni
    * reads — one consistent snapshot even while appends land
    * concurrently. Identical results to
    * [[TextAnalysis.stupidBackoffTrigram]] with the same training set —
    * proven in spec and by the q168/q170/q180 oracles (which replay the
    * LIVE computation). `hotK` defaults to [[Skew.Auto]]: the hot-set
    * size derives from the persisted model's own weight mass instead of
    * a hard-coded 4096 (results are K-invariant — routing only). */
  def score(s: SparkSession, dir: String, batch: DataFrame,
      idCol: String, textCol: String,
      alpha: Double = 0.4, hotK: Int = Skew.Auto): DataFrame = {
    val snap = Manifest.current(s, dir)
    require(snap.deltas.nonEmpty, s"no live LM model under $dir — build() first")
    scoreFrom(s, dir, snap, batch, idCol, textCol, alpha, hotK)
  }

  /** TIME TRAVEL serving: score against the model AS OF an explicit
    * manifest version — the snapshot a past [[build]]/[[append]]/
    * [[compact]] committed, served read-only from its retained manifest
    * + immutable deltas ([[Manifest.stateAt]]). The regression-debugging
    * answer ("did yesterday's model score this batch differently?")
    * without keeping model copies. Typed failure on a never-committed or
    * gc'd version. scoreAt(current version) ≡ [[score]] by construction;
    * scoreAt(pre-append version) ≡ a fresh build on the pre-append
    * training data — proven by the q186 oracle, which replays the LIVE
    * computation on the historic slice. */
  def scoreAt(s: SparkSession, dir: String, version: Long, batch: DataFrame,
      idCol: String, textCol: String,
      alpha: Double = 0.4, hotK: Int = Skew.Auto): DataFrame = {
    val snap = Manifest.stateAt(s, dir, version)
    require(snap.deltas.nonEmpty,
      s"manifest version $version of $dir lists no deltas — empty model")
    scoreFrom(s, dir, snap, batch, idCol, textCol, alpha, hotK)
  }

  /** The re-aggregated count tables of ONE committed snapshot,
    * persisted and cached by (dir, manifest version) in
    * [[SnapshotCache]] — deltas are immutable after commit, so the
    * aggregation is a pure function of the snapshot and repeat probes
    * against the same version read NOTHING from the delta stack (the
    * r15 regression: every score call re-listed and re-aggregated).
    * An append/compact/rebuild publishes a new version → new key;
    * time travel pins old versions → their own keys. The tables are
    * vocabulary-sized, so persisting them honors the cache's
    * model-sized-only memory contract. */
  private def modelTables(s: SparkSession, dir: String,
      snap: Manifest.State): (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.storage.StorageLevel
    val paths = snap.deltas.map(d => s"$dir/$d")
    SnapshotCache.getOrCompute(
      SnapshotCache.key(s, "lm", dir, snap.version)) {
      val tri = s.read.parquet(paths.map(p => s"$p/tri"): _*)
        .groupBy(col("w1"), col("w2"), col("w3"))
        .agg(sum(col("c123")).as("c123"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val bi = s.read.parquet(paths.map(p => s"$p/bi"): _*)
        .groupBy(col("wa"), col("wb")).agg(sum(col("cab")).as("cab"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val uni = s.read.parquet(paths.map(p => s"$p/uni"): _*)
        .groupBy(col("w")).agg(sum(col("c")).as("c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      (tri, bi, uni)
    } { case (t, b, u) =>
      t.unpersist(false); b.unpersist(false); u.unpersist(false)
    }
  }

  /** The per-branch backoff MICRO tables of one committed snapshot —
    * like [[modelTables]] a pure function of (dir, version) plus alpha,
    * so they are pinned in [[SnapshotCache]] too (r16): without this,
    * every probe re-ran the three vocab × vocab enrichment joins that
    * turn counts into branch micro-scores. Vocabulary-sized, honoring
    * the cache's model-sized-only contract. */
  private def microTables(s: SparkSession, dir: String,
      snap: Manifest.State, alpha: Double, hotK: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame,
        (Skew.HotSet, Skew.HotSet, Skew.HotSet)) = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.storage.StorageLevel
    SnapshotCache.getOrCompute(
      SnapshotCache.key(s, "lm", dir, snap.version, s"micro|$alpha|$hotK")) {
      val (tri, bi, uni) = modelTables(s, dir, snap)
      val (m1p, m2p, m3p, nvp) =
        TextAnalysis.backoffMicroPlans(tri, bi, uni, alpha)
      val m1 = m1p.persist(StorageLevel.MEMORY_AND_DISK)
      val m2 = m2p.persist(StorageLevel.MEMORY_AND_DISK)
      val m3 = m3p.persist(StorageLevel.MEMORY_AND_DISK)
      val nv = nvp.persist(StorageLevel.MEMORY_AND_DISK)
      // the hot-key routing sets are snapshot functions too: derive the
      // three ranked heads ONCE here instead of once per probe (results
      // are K-invariant — routing only — so caching cannot change them)
      val hots = (
        Skew.hotSet(m1, Seq("w1", "w2", "w3"), col("c123"), hotK),
        Skew.hotSet(m2, Seq("w2", "w3"), col("c23"), hotK),
        Skew.hotSet(m3, Seq("w3"), col("c3"), hotK))
      (m1, m2, m3, nv, hots)
    } { case (a, b, c, d, _) =>
      a.unpersist(false); b.unpersist(false); c.unpersist(false)
      d.unpersist(false)
    }
  }

  private def scoreFrom(s: SparkSession, dir: String, snap: Manifest.State,
      batch: DataFrame, idCol: String, textCol: String,
      alpha: Double, hotK: Int): DataFrame = {
    val (m1, m2, m3, nv, hots) = microTables(s, dir, snap, alpha, hotK)
    TextAnalysis.scoreBackoffTrigramsOn(
      // cut, not pinned: the serving plan then holds no corpus scan
      Pin.cut(TextAnalysis.docTrigrams(batch, idCol, textCol), eager = true),
      idCol, m1, m2, m3, nv, alpha, hotK, Some(hots))
  }
}
