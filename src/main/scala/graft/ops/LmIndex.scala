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
  def build(train: DataFrame, textCol: String, dir: String): Unit =
    Manifest.rebuild(train.sparkSession, dir)(writeDelta(train, textCol))

  /** Incrementally extend the model with a new training batch: n-gram
    * counts are ADDITIVE, so the batch's own count tables land as one
    * more delta directory — no read, no merge job, no model rebuild;
    * [[score]] re-aggregates per key at read time (one
    * vocabulary-sized combiner groupBy). The delta commits with a
    * single manifest publish, so "append ≡ rebuild" holds for every
    * append that returns — a failed append leaves the model unchanged.
    * Proven in spec and by the q170 oracle hash match. */
  def append(batch: DataFrame, textCol: String, dir: String): Unit =
    Manifest.append(batch.sparkSession, dir)(writeDelta(batch, textCol))

  /** Merge the whole delta stack into ONE delta — the read-amplification
    * fix for long-lived models: [[score]] re-aggregates every live delta
    * per probe, which is fine at tens of deltas but unbounded after
    * thousands of appends. Compaction runs the same per-key aggregation
    * ONCE ([[merged]], vocabulary-sized, map-side combined) and commits
    * through [[Manifest.compact]] — `remove = exactly the deltas it
    * read`, so an append committed concurrently SURVIVES. Serving is
    * hash-identical before and after (the q180 oracle and LmIndexSpec
    * prove compacted ≡ delta-stack ≡ live). No-op on an empty or
    * already-single-delta model. */
  def compact(s: SparkSession, dir: String): Unit =
    Manifest.compact(s, dir, CountTables.map { case (t, _) =>
      t -> ((ins: Seq[String], out: String) =>
        merged(s, t, ins).write.mode("overwrite").parquet(out))
    })

  /** The three count tables: name -> (key columns, count column), the
    * [[TextAnalysis.trigramModel]] schemas. */
  private val CountTables = Seq(
    "tri" -> (Seq("w1", "w2", "w3"), "c123"),
    "bi" -> (Seq("wa", "wb"), "cab"),
    "uni" -> (Seq("w"), "c"))

  /** One count table re-aggregated per key over its delta parts — counts
    * are additive, so this is both the compaction merge and the serving
    * read ([[modelTables]]). */
  private def merged(s: SparkSession, table: String,
      paths: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, sum}
    val (keys, c) = CountTables.toMap.apply(table)
    s.read.parquet(paths: _*)
      .groupBy(keys.map(col): _*).agg(sum(col(c)).as(c))
  }

  /** Write the batch's three count tables into the delta `staging` —
    * the LM family's delta writer for [[Manifest.rebuild]]/
    * [[Manifest.append]] (and the streaming [[graft.streaming
    * .IndexIngest]]). */
  private[graft] def writeDelta(df: DataFrame, textCol: String)(
      staging: String): Unit = {
    import scala.collection.parallel.CollectionConverters._
    val (tri, bi, uni) = TextAnalysis.trigramModel(df, textCol)
    // the three order aggregates are independent reads of the one
    // pinned token pass — overlap their write jobs (guide §2.6) instead
    // of serializing three small aggregate+write barriers
    Seq("tri" -> tri, "bi" -> bi, "uni" -> uni).par.foreach {
      case (name, t) =>
        t.write.mode("overwrite").parquet(s"$staging/$name")
    }
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
      alpha: Double = 0.4, hotK: Int = Skew.Auto): DataFrame =
    scoreFrom(s, dir, None, batch, idCol, textCol, alpha, hotK)

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
      alpha: Double = 0.4, hotK: Int = Skew.Auto): DataFrame =
    scoreFrom(s, dir, Some(version), batch, idCol, textCol, alpha, hotK)

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
    import org.apache.spark.storage.StorageLevel
    SnapshotCache.getOrCompute(
      SnapshotCache.key(s, "lm", dir, snap.version)) {
      val Seq(tri, bi, uni) = CountTables.map { case (t, _) =>
        merged(s, t, snap.deltas.map(d => s"$dir/$d/$t"))
          .persist(StorageLevel.MEMORY_AND_DISK)
      }
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

  private def scoreFrom(s: SparkSession, dir: String, version: Option[Long],
      batch: DataFrame, idCol: String, textCol: String,
      alpha: Double, hotK: Int): DataFrame = {
    val snap = Manifest.snapshot(s, dir, version, "LM model")
    val (m1, m2, m3, nv, hots) = microTables(s, dir, snap, alpha, hotK)
    TextAnalysis.scoreBackoffTrigramsOn(
      // cut, not pinned: the serving plan then holds no corpus scan
      Pin.cut(TextAnalysis.docTrigrams(batch, idCol, textCol), eager = true),
      idCol, m1, m2, m3, nv, alpha, hotK, Some(hots))
  }
}
