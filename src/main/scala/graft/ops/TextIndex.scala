package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted inverted index for lexical (BM25) retrieval — the text-side
  * analogue of the persisted IVF index (`ops/Ivf.writeIndex`): build
  * once, then serve queries by reading ONLY the probe terms' postings
  * via hive-partition pruning, instead of re-tokenizing the corpus per
  * query (what the from-scratch `TextAnalysis.bm25` must do).
  *
  * Layout: one immutable DELTA DIRECTORY per build/append
  * (`path/d_<uuid>/…`) behind the shared [[Manifest]] pointer — every
  * build (a rebuild), append and [[compact]] stages invisibly and
  * commits with ONE manifest publish, so a crash leaves the previous
  * index serving and an append is never TORN (postings visible but
  * docstats not — the pre-manifest mode("append") gap). Each delta
  * holds:
  *   - `postings/` — (token, id, tf), hive-partitioned by
  *     `bucket = md5(token) mod buckets`, so a probe with its terms'
  *     bucket literals scans only those directories (PartitionFilters
  *     INSET — the q52 IVF-probe pattern, asserted in PlanShapeSpec);
  *   - `docstats/` — (id, dl) document lengths;
  *   - `stats/` — 1 row (n_docs, total_len), the DELTA's partial —
  *     serving sums the delta partials (delta-count rows, not a corpus
  *     re-aggregate).
  *
  * Serving is LOSSLESS: tf/df/dl/stats are exactly the values the
  * from-scratch path derives, and the score uses the shared
  * [[TextAnalysis.bm25MicroExpr]] expression tree, so index-backed
  * results are bit-identical to the recompute — q122's oracle IS q82's
  * from-scratch SQL.
  *
  * At 100 TB: the build is one tokenize + one (token, id) count
  * aggregate (map-side combined) — the same cost as a single BM25
  * query's tf pass — amortized over every query after; postings
  * shuffles carry (string, long, long) rows, never text.
  */
object TextIndex {

  /** `md5(token) mod buckets` as a Column — the postings partition key. */
  def termBucketCol(term: org.apache.spark.sql.Column, buckets: Int) =
    pmod(conv(substring(md5(term), 1, 8), 16, 10).cast("long"),
      lit(buckets.toLong))

  /** Driver-side twin of [[termBucketCol]] for literal probe terms —
    * identical md5-hex-prefix arithmetic, so the plan-time bucket
    * literals land on the same directories the build wrote. */
  def termBucket(term: String, buckets: Int): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(term.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(8)
    java.lang.Long.parseLong(hex, 16) % buckets
  }

  /** Driver-side twin of the engine's normalization + tokenization
    * (Dedup.normText then whitespace split) for literal query strings. */
  def normTokens(text: String): Seq[String] =
    text.toLowerCase.trim.replaceAll("\\s+", " ")
      .split(" ").toSeq.filter(_.nonEmpty)

  /** Write one delta's three tables into `staging` — the text family's
    * delta writer for [[Manifest.rebuild]]/[[Manifest.append]] (and the
    * streaming [[graft.streaming.IndexIngest]]). */
  private[graft] def writeDelta(df: DataFrame, idCol: String, textCol: String,
      buckets: Int)(staging: String): Unit = {
    require(buckets >= 1, s"need >= 1 buckets, got $buckets")
    val toks = df
      .select(col(idCol), explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
    writePostings(toks.groupBy(col("token"), col(idCol))
      .agg(count(lit(1)).as("tf")), buckets, s"$staging/postings")
    val dl = TextAnalysis.docLengths(df, idCol, textCol)
    dl.write.mode("overwrite").parquet(s"$staging/docstats")
    dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_len"))
      .write.mode("overwrite").parquet(s"$staging/stats")
  }

  /** (token, id, tf) rows hive-partitioned by their term bucket. */
  private def writePostings(tf: DataFrame, buckets: Int, out: String): Unit =
    tf.withColumn("bucket", termBucketCol(col("token"), buckets))
      .write.partitionBy("bucket").mode("overwrite").parquet(out)

  /** The global (n_docs, total_len) row: the sum of the delta partials —
    * both the compaction merge of `stats` and the serving read. */
  private def statsOf(s: SparkSession, paths: Seq[String]): DataFrame =
    s.read.parquet(paths: _*)
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("total_len")).as("total_len"))

  /** Build and persist the index. One corpus pass. A full REBUILD: the
    * new manifest lists only the new delta — atomic, and the previous
    * index serves until the pointer flips. */
  def writeIndex(df: DataFrame, idCol: String, textCol: String,
      path: String, buckets: Int = 64): Unit =
    Manifest.rebuild(df.sparkSession, path)(
      writeDelta(df, idCol, textCol, buckets))

  /** Append a new document batch to an existing index WITHOUT touching
    * the already-indexed corpus — the operational ingest mode (the
    * text-side twin of `Ivf.appendToIndex`): postings, doc lengths and
    * the stats partial are purely additive rows from the batch alone,
    * landing as one more delta with ONE atomic manifest commit (no
    * torn postings-without-docstats state, no corpus rescan for stats).
    * Serving after append must equal a one-shot build over the union
    * (TextIndexSpec + the q123 oracle prove it). Batch ids must be
    * disjoint from the indexed ids — postings/doclengths for a
    * re-ingested id would double-count (same contract as the IVF
    * append). */
  def appendToIndex(batch: DataFrame, idCol: String, textCol: String,
      path: String, buckets: Int = 64): Unit =
    Manifest.append(batch.sparkSession, path)(
      writeDelta(batch, idCol, textCol, buckets))

  /** Merge the whole delta stack into ONE delta — [[LmIndex.compact]]'s
    * contract for postings: probes union every live delta's postings,
    * which is fine at tens of deltas but unbounded read amplification
    * after thousands of appends. The merge re-groups (token, id) tf
    * rows (a no-op sum under the disjoint-ids append contract, safe
    * regardless), unions docstats, re-sums the stats partials
    * ([[statsOf]]), and commits through [[Manifest.compact]] —
    * `remove = exactly the deltas read`, so a concurrent append
    * survives. Serving is hash-identical before and after
    * (TextIndexSpec proves compacted ≡ delta-stack ≡ from-scratch). */
  def compact(s: SparkSession, path: String, idCol: String,
      buckets: Int = 64): Unit = {
    require(buckets >= 1, s"need >= 1 buckets, got $buckets")
    Manifest.compact(s, path, Seq(
      ("postings", (ins, out) => writePostings(
        ins.map(p => s.read.parquet(p).select(col("token"), col(idCol), col("tf")))
          .reduce(_ unionAll _)
          .groupBy(col("token"), col(idCol)).agg(sum(col("tf")).as("tf")),
        buckets, out)),
      ("docstats", (ins, out) =>
        s.read.parquet(ins: _*).write.mode("overwrite").parquet(out)),
      ("stats", (ins, out) =>
        statsOf(s, ins).write.mode("overwrite").parquet(out))))
  }

  /** BM25 scores for literal `queries` (q_id, query text) against a
    * prebuilt index: returns (q_id, id, sum_micro, bm25) — ranking/top-k
    * is the caller's (it differs per entry). The postings scan is pruned
    * to the probe terms' buckets at PLAN time (literal INSET). df comes
    * from the pruned postings (count per term = exactly the from-scratch
    * docFreq). */
  def probeIndex(s: SparkSession, path: String, idCol: String,
      queries: Seq[(Long, String)], buckets: Int = 64,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    probeFrom(s, path, None, idCol, queries, buckets, k1, b)

  /** TIME TRAVEL serving — [[LmIndex.scoreAt]]'s contract for the text
    * family: BM25 against the index AS OF an explicit manifest version
    * (a retained snapshot's delta list, served read-only). Probing the
    * pre-append version must be bit-equal to a from-scratch BM25 over
    * the pre-append corpus — proven by the q190 oracle. Typed failure
    * on a never-committed or gc'd version. */
  def probeIndexAt(s: SparkSession, path: String, version: Long,
      idCol: String, queries: Seq[(Long, String)], buckets: Int = 64,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    probeFrom(s, path, Some(version), idCol, queries, buckets, k1, b)

  /** Which documents entered or left the index between two retained
    * versions — the corpus-diff readout the manifest history makes free
    * ([[Manifest.history]] says WHICH versions exist; this says what
    * changed between two of them): the docstats tables of each snapshot
    * full-outer joined on id. Only (id, dl) rows cross the exchange —
    * diffing two 100 TB index versions shuffles the doc-count, never
    * postings. `changed` additionally catches a re-ingested id whose
    * length moved (a contract violation under the disjoint-ids append
    * rule — surfaced, not hidden). */
  def versionDiff(s: SparkSession, path: String, fromV: Long, toV: Long,
      idCol: String): DataFrame = {
    def stats(v: Long) = s.read.parquet(
      Manifest.snapshot(s, path, Some(v), "text index").deltas
        .map(d => s"$path/$d/docstats"): _*)
    stats(fromV).select(col(idCol), col("dl").as("_dl_from"))
      .join(stats(toV).select(col(idCol), col("dl").as("_dl_to")),
        Seq(idCol), "full")
      .select(col(idCol),
        coalesce(col("_dl_to"), col("_dl_from")).as("dl"),
        when(col("_dl_from").isNull, "added")
          .when(col("_dl_to").isNull, "removed")
          .when(col("_dl_from") =!= col("_dl_to"), "changed")
          .otherwise("same").as("change"))
  }

  /** One snapshot's serving plans, cached by (dir, manifest version):
    * the unfiltered postings union PLAN (per-probe term/bucket filters
    * apply on top and still push through the Union into each scan), the
    * docstats plan, and the 1-row global stats aggregate PERSISTED (it
    * is re-counted per probe otherwise — the only data small enough to
    * hold under the cache's model-sized contract; postings stay an
    * unpersisted plan, pruned per probe). */
  private def snapPlans(s: SparkSession, path: String, snap: Manifest.State,
      idCol: String): (DataFrame, DataFrame, DataFrame) =
    SnapshotCache.getOrCompute(
      SnapshotCache.key(s, "text", path, snap.version, idCol)) {
      val live = snap.deltas.map(d => s"$path/$d")
      val postings = live
        .map(p => s.read.parquet(s"$p/postings")
          .select(col("bucket"), col("token"), col(idCol), col("tf")))
        .reduce(_ unionAll _)
      val dl = s.read.parquet(live.map(p => s"$p/docstats"): _*)
      val stats = statsOf(s, live.map(p => s"$p/stats"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (postings, dl, stats)
    } { case (_, _, st) => st.unpersist(false) }

  private def probeFrom(s: SparkSession, path: String, version: Option[Long],
      idCol: String, queries: Seq[(Long, String)], buckets: Int,
      k1: Double, b: Double): DataFrame = {
    val qTerms = queries
      .flatMap { case (q, t) => normTokens(t).distinct.map(q -> _) }.distinct
    val probeTerms = qTerms.map(_._2).distinct
    require(probeTerms.nonEmpty, "queries produced no probe terms")
    val bucketLits = probeTerms.map(termBucket(_, buckets)).distinct
    // ONE manifest resolution shared by postings/docstats/stats — a
    // consistent committed snapshot even while appends land concurrently
    val (allPostings, dl, stats) = snapPlans(s, path,
      Manifest.snapshot(s, path, version, "text index"), idCol)
    val postings = allPostings
      .filter(col("bucket").isin(bucketLits.map(x => x: Any): _*))
      .filter(col("token").isin(probeTerms.map(x => x: Any): _*))
      .select(col("token"), col(idCol), col("tf"))
    val docFreq = postings.groupBy(col("token")).agg(count(lit(1)).as("df"))
    import s.implicits._
    val qt = qTerms.toDF("q_id", "token")
    postings.join(broadcast(docFreq), Seq("token"))
      .join(dl, Seq(idCol))
      .crossJoin(broadcast(stats))
      .withColumn("_micro", TextAnalysis.bm25MicroExpr(k1, b))
      .join(broadcast(qt), Seq("token"))
      .groupBy(col("q_id"), col(idCol))
      .agg(sum(col("_micro")).as("sum_micro"))
      .withColumn("bm25", round(col("sum_micro").cast("double") / lit(1e6d), 6))
  }
}
