package graft.ops

import graft.expr.VectorExprs
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor — the second scale
  * path for similarity search next to SRP-LSH ([[Similarity]]): a coarse
  * k-means quantizer partitions the corpus into `nc` cells; a query probes
  * only its `nprobe` nearest cells, so pairwise work drops from N to
  * ~N·nprobe/nc, and a corpus *partitioned/bucketed by cell* turns the
  * probe into partition pruning before the scan.
  *
  * Everything is deterministic — bit-for-bit independent of partition
  * layout, not merely "probably stable":
  *  - init = the `nc` rows with lexicographically smallest
  *    md5(id) (a seeded pseudo-random sample, portable to any engine);
  *  - per-cell centroid sums are **integer** sums of micro-quantized
  *    (round(x·10⁶)) unit vectors — long addition is associative and
  *    commutative, so the merge order Spark picks cannot change the
  *    result (double summation would be order-dependent at the low bits);
  *  - assignment = argmin over per-centroid L2 kernels via `least()` on
  *    (distance, index) structs — map-only, codegen'd, no shuffle;
  *    lexicographic tie-breaks;
  *  - training shuffles only nc × dim longs per Lloyd round;
  *  - probing computes each query's nprobe nearest cells with
  *    sort_array over the same struct trick — map-only on the (small,
  *    broadcast) query side.
  *
  * Centroids live on the driver (nc × dim floats — an index parameter,
  * not data; 4096 × 1024 ≈ 16 MB at the top end), mirroring how IVF
  * coarse quantizers ship with the index in any ANN system.
  */
object Ivf {

  final case class IvfModel(centroids: Array[Array[Float]]) {
    def nc: Int = centroids.length
    require(centroids.nonEmpty, "IVF model needs at least one centroid")
  }

  /** Unit-normalized copy of a float-vector column (spherical k-means:
    * the re-rank metric is cosine, so cells must quantize direction, not
    * magnitude — L2 on unit vectors is a monotone function of cosine).
    * Zero vectors pass through unchanged. */
  def unit(vec: Column): Column = {
    val n = sqrt(VectorExprs.dot(vec, vec))
    when(n === 0d, vec)
      .otherwise(transform(vec, x => (x / n).cast("float")))
  }

  /** (distance, cellIdx) struct per centroid; least()/sort_array pick the
    * argmin lexicographically — distance first, index breaks exact ties.
    * `uv` must already be unit-normalized: callers project `unit(vec)`
    * once instead of embedding nc copies of the normalization subtree. */
  private def distStructs(uv: Column, m: IvfModel): Seq[Column] =
    m.centroids.zipWithIndex.toSeq.map { case (c, i) =>
      struct(VectorExprs.l2(uv, lit(c)).as("d"), lit(i).as("i"))
    }

  /** Nearest-centroid cell id of a pre-normalized (unit) vector —
    * a map-only codegen expression. */
  def cellOfUnit(uv: Column, m: IvfModel): Column = {
    val ds = distStructs(uv, m)
    (if (ds.size == 1) ds.head else least(ds: _*)).getField("i")
  }

  /** Nearest-centroid cell id; normalizes internally. When composing into
    * a projection, prefer projecting `unit(vec)` once and calling
    * [[cellOfUnit]] (as [[assign]] does) so the plan carries one
    * normalization, not one per centroid. */
  def cellOf(vec: Column, m: IvfModel): Column = cellOfUnit(unit(vec), m)

  /** The query's `nprobe` nearest cells as an array<int>, over a
    * pre-normalized (unit) vector. */
  def probeCellsUnit(uv: Column, m: IvfModel, nprobe: Int): Column = {
    require(nprobe > 0, s"nprobe must be positive, got $nprobe")
    transform(
      slice(sort_array(array(distStructs(uv, m): _*)), 1, math.min(nprobe, m.nc)),
      s => s.getField("i"))
  }

  /** The query's `nprobe` nearest cells as an array<int> (normalizes
    * internally — see the [[cellOf]] note). */
  def probeCells(vec: Column, m: IvfModel, nprobe: Int): Column =
    probeCellsUnit(unit(vec), m, nprobe)

  /** Micro-quantization scale for centroid sums: unit-vector components
    * carry ~7 significant digits as floats, so the 10⁻⁶ grid loses nothing
    * that matters to a coarse quantizer. */
  final val Micro = 1000000L

  /** Elementwise long-sum aggregator over micro-quantized vectors —
    * buffer (Array[Long], count). Integer addition commutes, so the
    * result is independent of Spark's partition/merge order; one buffer
    * of dim longs per cell crosses the shuffle, regardless of row count.
    * (MicroSum is public: encoder-generated code instantiates it from
    * outside this object — a private class would force the interpreted
    * fallback with per-row codegen-compile error noise.) */
  final case class MicroSum(sums: Array[Long], count: Long)
  private class MicroCentroidAggregator(dim: Int)
    extends Aggregator[Array[Long], MicroSum, MicroSum] {
    override def zero: MicroSum = MicroSum(new Array[Long](dim), 0L)
    override def reduce(b: MicroSum, a: Array[Long]): MicroSum = {
      val n = math.min(b.sums.length, a.length)
      var i = 0
      while (i < n) { b.sums(i) += a(i); i += 1 }
      MicroSum(b.sums, b.count + 1)
    }
    override def merge(x: MicroSum, y: MicroSum): MicroSum = {
      var i = 0
      while (i < x.sums.length) { x.sums(i) += y.sums(i); i += 1 }
      MicroSum(x.sums, x.count + y.count)
    }
    override def finish(b: MicroSum): MicroSum = b
    override def bufferEncoder: Encoder[MicroSum] = Encoders.product[MicroSum]
    override def outputEncoder: Encoder[MicroSum] = Encoders.product[MicroSum]
  }

  /** Deterministic k-means training: init = the `nc` rows with smallest
    * md5(id) (independent of partition layout and portable across
    * engines), then `iters` Lloyd rounds over micro-quantized unit
    * vectors with integer centroid sums — the whole procedure is
    * bit-for-bit reproducible under any partitioning. Cells that lose
    * all members keep their previous centroid. */
  def train(df: DataFrame, idCol: String, vecCol: String,
      nc: Int, iters: Int = 2, seed: Long = 42L,
      normalize: Boolean = true): IvfModel = {
    require(nc >= 1, s"need nc >= 1, got $nc")
    // train in unit space (spherical k-means) by default: centroids
    // quantize direction, matching the cosine re-rank metric.
    // normalize=false trains plain L2 k-means on the raw vectors — the
    // product-quantization sub-codebook case (Quantize.pqTrain).
    def uv: Column = if (normalize) unit(col(vecCol)) else col(vecCol)
    val init = df
      .select(uv.as("_graft_uv"),
        md5(concat(col(idCol).cast("string"), lit(s"_$seed"))).as("_graft_h"))
      .orderBy(col("_graft_h"))
      .limit(nc)
      .select(col("_graft_uv"))
      .collect()
      .map(_.getSeq[Float](0).toArray)
    require(init.length == nc,
      s"corpus has only ${init.length} rows for nc = $nc centroids")
    var model = IvfModel(init)
    val dim = init.head.length
    val microSumOf = udaf(new MicroCentroidAggregator(dim))
    var it = 0
    while (it < iters) {
      val next = df
        .select(uv.as("_graft_uv"))
        .select(
          cellOfUnit(col("_graft_uv"), model).as("_cell"),
          expr(s"transform(_graft_uv, x -> CAST(round(CAST(x AS DOUBLE) * $Micro) AS BIGINT))")
            .as("_uvm"))
        .groupBy(col("_cell"))
        .agg(microSumOf(col("_uvm")).as("_c"))
        .select(col("_cell"), col("_c.sums"), col("_c.count"))
        .collect()
        .map { r =>
          val sums = r.getSeq[Long](1)
          val count = r.getLong(2)
          r.getInt(0) -> sums.map(s => (s.toDouble / (Micro.toDouble * count)).toFloat).toArray
        }
        .toMap
      model = IvfModel(Array.tabulate(nc)(i => next.getOrElse(i, model.centroids(i))))
      it += 1
    }
    model
  }

  /** Add the `ivf_cell` assignment column — map-only, with the unit
    * normalization projected once; write the result partitioned/bucketed
    * by ivf_cell to make probes prune partitions. */
  def assign(df: DataFrame, vecCol: String, m: IvfModel): DataFrame =
    df.withColumn("_graft_uv", unit(col(vecCol)))
      .withColumn("ivf_cell", cellOfUnit(col("_graft_uv"), m))
      .drop("_graft_uv")

  /** Persist an IVF index under `path`: the corpus with its cell
    * assignment hive-partitioned by `ivf_cell` (so probes prune to
    * nprobe directories before any scan), plus the coarse quantizer
    * itself under `model` (plain parquet — the model is data, not JVM
    * state, and any engine can read it). Build once, probe many — the
    * operational ANN shape; the reference instead rebuilds its KdTree on
    * every query (embeddings.rs:402-408), which this deliberately beats.
    *
    * Layout: one immutable delta dir per build/append behind the shared
    * [[Manifest]] pointer — a build is a delta with `cells` + `model` +
    * `stats` committed `removeAll` (an ATOMIC rebuild: probes see the
    * old index until the pointer flips, never a half-written or absent
    * one), an append is a cells-only delta. */
  def writeIndex(df: DataFrame, vecCol: String, m: IvfModel,
      path: String): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    Manifest.rebuild(spark, path) { staging =>
      writeCells(assign(df, vecCol, m), s"$staging/cells")
      writeOne(m.centroids.zipWithIndex.toSeq
        .map { case (c, i) => (i, c.toSeq) }
        .toDF("cell", "centroid"), s"$staging/model")
      // build-time health snapshot: the baseline [[rebuildIfStale]]
      // compares appended drift against (one extra scan of the staged
      // cells, amortized over the index lifetime)
      writeOne(stalenessOf(spark.read.parquet(s"$staging/cells"), m, vecCol),
        s"$staging/stats")
    }
  }

  /** Cells rows hive-partitioned by `ivf_cell` — the one layout every
    * build, append and compaction writes. */
  private def writeCells(cells: DataFrame, out: String): Unit =
    cells.write.mode("overwrite").partitionBy("ivf_cell").parquet(out)

  /** A small single-file table (model, stats). */
  private def writeOne(df: DataFrame, out: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(out)

  private def fsOf(spark: org.apache.spark.sql.SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The delta paths of `snap` that contain `sub`, in commit order. */
  private def holding(spark: org.apache.spark.sql.SparkSession,
      path: String, snap: Manifest.State, sub: String): Seq[String] = {
    val fs = fsOf(spark, path)
    snap.deltas.map(d => s"$path/$d")
      .filter(p => fs.exists(new org.apache.hadoop.fs.Path(s"$p/$sub")))
  }

  /** [[holding]], failing typed when no delta of `snap` has `sub`. */
  private def needing(spark: org.apache.spark.sql.SparkSession,
      path: String, snap: Manifest.State, sub: String): Seq[String] = {
    val live = holding(spark, path, snap, sub)
    require(live.nonEmpty,
      s"manifest version ${snap.version} of $path lists no $sub delta")
    live
  }

  /** The committed snapshot a read serves (typed failure when empty). */
  private def snapOf(spark: org.apache.spark.sql.SparkSession, path: String,
      version: Option[Long]): Manifest.State =
    Manifest.snapshot(spark, path, version, "IVF index")

  /** The committed corpus: every live delta's `cells` unioned — probes,
    * audits and rebuilds all read through this one snapshot view. */
  def readCells(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    cellsSnap(spark, path, snapOf(spark, path, None))

  /** [[readCells]] AS OF a retained manifest version (time travel). */
  def readCellsAt(spark: org.apache.spark.sql.SparkSession,
      path: String, version: Long): DataFrame =
    cellsSnap(spark, path, snapOf(spark, path, Some(version)))

  /** The union scan PLAN over one committed snapshot's cells deltas,
    * cached by (dir, manifest version) — the plan (listing, existence
    * probes, parquet schema resolution) is a pure function of the
    * immutable snapshot, so repeat probes rebuild none of it; the DATA
    * is deliberately NOT persisted (cells are corpus-sized — the scan
    * itself stays partition-pruned per probe). */
  private def cellsSnap(spark: org.apache.spark.sql.SparkSession,
      path: String, snap: Manifest.State): DataFrame =
    SnapshotCache.getOrCompute(
      SnapshotCache.key(spark, "ivf", path, snap.version, "cells")) {
      needing(spark, path, snap, "cells")
        .map(p => spark.read.parquet(s"$p/cells")).reduce(_ unionAll _)
    }()

  /** Load the coarse quantizer persisted by [[writeIndex]] — the newest
    * committed delta carrying a `model` (exactly one after any rebuild,
    * since builds commit `removeAll`). */
  def loadModel(spark: org.apache.spark.sql.SparkSession,
      path: String): IvfModel =
    modelSnap(spark, path, snapOf(spark, path, None))

  /** [[loadModel]] AS OF a retained manifest version — after a
    * [[rebuildIfStale]] retrain this is the OLD quantizer, so a
    * time-travel probe reproduces pre-rebuild serving exactly. */
  def loadModelAt(spark: org.apache.spark.sql.SparkSession,
      path: String, version: Long): IvfModel =
    modelSnap(spark, path, snapOf(spark, path, Some(version)))

  /** The collected quantizer of one committed snapshot, cached by
    * (dir, manifest version) — the centroid collect is a Spark job the
    * r15 serving path re-ran on EVERY probe; the model is nc × dim
    * floats (model-sized by construction). Rebuilds publish a new
    * version → new key; time travel pins old versions. */
  private def modelSnap(spark: org.apache.spark.sql.SparkSession,
      path: String, snap: Manifest.State): IvfModel =
    SnapshotCache.getOrCompute(
      SnapshotCache.key(spark, "ivf", path, snap.version, "model")) {
      val newest = needing(spark, path, snap, "model").last
      val rows = spark.read.parquet(s"$newest/model")
        .select(col("cell"), col("centroid")).orderBy(col("cell")).collect()
      IvfModel(rows.map(_.getSeq[Float](1).toArray))
    }()

  /** Append a batch to a prebuilt index WITHOUT retraining — the
    * operational 100 TB maintenance mode: new data arrives continuously,
    * the coarse quantizer stays FROZEN, and the batch is assign-only
    * (map-only), landing as one more cells delta with ONE atomic
    * manifest commit. Because assignment is deterministic, N appends are
    * bit-identical to one [[writeIndex]] of the union corpus under the
    * same model (spec-proven in IvfSpec) — probes need no special
    * casing. Retraining is a deliberate rebuild-then-swap
    * ([[rebuildIfStale]], the Collection.reembed discipline), triggered
    * when [[indexStaleness]] drifts past the build-time baseline, never
    * an implicit side effect of ingest. */
  def appendToIndex(df: DataFrame, vecCol: String, path: String): Unit =
    Manifest.append(df.sparkSession, path)(writeDelta(df, vecCol, path))

  /** Write `df` assigned under the LIVE frozen quantizer as a cells-only
    * delta into `staging` — the IVF append writer for [[Manifest.append]]
    * (and the streaming [[graft.streaming.IvfIngest]]). */
  private[graft] def writeDelta(df: DataFrame, vecCol: String, path: String)(
      staging: String): Unit =
    writeCells(assign(df, vecCol, loadModel(df.sparkSession, path)),
      s"$staging/cells")

  /** Merge the cells delta stack into ONE delta — the [[LmIndex.compact]]
    * contract for the vector index: probes union every live cells delta,
    * fine at tens of appends, unbounded file-listing and scan-setup cost
    * after thousands. The merge is a pure REWRITE of the committed rows
    * (assignments are already materialized — no model math, no
    * re-normalization), repartitioned into the same hive layout; the
    * newest model and stats tables are carried into the merged delta
    * unchanged. [[Manifest.compact]] commits `remove = exactly the
    * deltas read`, so a concurrent append survives. Probe results are
    * identical before and after (IvfSpec). */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    Manifest.compact(spark, path, Seq(
      ("cells", (ins, out) =>
        writeCells(ins.map(spark.read.parquet(_)).reduce(_ unionAll _), out)),
      ("model", (ins, out) => writeOne(spark.read.parquet(ins.last), out)),
      ("stats", (ins, out) => writeOne(spark.read.parquet(ins.last), out))))

  /** Staleness audit of a prebuilt index: per cell, the row count and the
    * mean quantization error (L2 of each unit vector to its own frozen
    * centroid, micro-quantized before the mean so the number is
    * partition-order-independent). As appended batches drift from the
    * training distribution, cells bloat unevenly (n skew — probe cost
    * becomes the hot cell) and mean_err rises (candidates get farther
    * from the probe geometry, recall decays): [[rebuildIfStale]]
    * compares this against the build-time snapshot at `path`/stats and
    * rebuilds when either drifts past budget. One map-only scan + one
    * tiny aggregate — cheap enough to run after every append. */
  def indexStaleness(spark: org.apache.spark.sql.SparkSession, path: String,
      vecCol: String = "nv"): DataFrame =
    stalenessOf(readCells(spark, path), loadModel(spark, path), vecCol)

  /** The per-cell staleness aggregate over an explicit cells frame —
    * shared by [[indexStaleness]] (live index) and [[writeIndex]] (the
    * staged, not-yet-committed build snapshot). */
  private def stalenessOf(cells: DataFrame, m: IvfModel,
      vecCol: String): DataFrame = {
    val centArr = array(m.centroids.toIndexedSeq.map(c => lit(c)): _*)
    cells
      .withColumn("_uv", unit(col(vecCol)))
      .withColumn("_errm",
        round(VectorExprs.l2(col("_uv"),
          element_at(centArr, col("ivf_cell") + 1)) * Micro).cast("long"))
      .groupBy(col("ivf_cell"))
      .agg(count(lit(1)).as("n"),
        (sum(col("_errm")).cast("double") / (count(lit(1)) * Micro.toDouble))
          .as("mean_err"))
  }

  /** Corpus-weighted summary of a per-cell staleness frame: total rows,
    * mean quantization error, and the hottest cell's row share. */
  final case class IndexHealth(rows: Long, meanErr: Double, maxCellShare: Double)

  private def health(stats: DataFrame): IndexHealth = {
    val r = stats.agg(
      sum(col("n")), max(col("n")),
      sum(col("n").cast("double") * col("mean_err"))).head()
    if (r.isNullAt(0) || r.getLong(0) == 0L) IndexHealth(0L, 0d, 0d)
    else IndexHealth(r.getLong(0), r.getDouble(2) / r.getLong(0),
      r.getLong(1).toDouble / r.getLong(0))
  }

  /** What [[rebuildIfStale]] decided and the numbers it decided on. */
  final case class RebuildDecision(rebuilt: Boolean, reason: String,
      current: IndexHealth, baseline: IndexHealth)

  /** Close the maintenance loop [[indexStaleness]] reports into: audit
    * the index against its build-time health snapshot and, when drift
    * exceeds budget, retrain on the full current corpus and ATOMICALLY
    * swap the rebuilt index into place — one complete new delta
    * (cells + model + stats) committed `removeAll` through the shared
    * [[Manifest]] pointer. Probes in flight keep reading their resolved
    * snapshot; the dropped deltas survive age-gated until
    * [[Manifest.gc]] collects them (the `.prev` retention generalized);
    * a crash at ANY point leaves the old index serving (the pre-manifest
    * double-rename had a window where `path` existed under neither
    * name). Single-maintainer contract as before.
    *
    * Stale means either signal left budget vs the snapshot written by
    * [[writeIndex]]: corpus-weighted mean quantization error grew past
    * `errGrowth`× (recall decay — appended data far from the frozen
    * centroid geometry), or the hottest cell's row share grew past
    * `skewGrowth`× (probe-cost skew — appends bucketing into one cell).
    * Indexes built before snapshots existed get their baseline
    * initialized from the current state instead of a rebuild.
    *
    * The retrain reuses the stored corpus (`cells` minus the assignment
    * column), the same cell count, and the same deterministic seeding —
    * so rebuilding over N appended batches is bit-identical to a fresh
    * [[writeIndex]] of the union corpus (spec-pinned), and probe results
    * need no special-casing across the swap. */
  def rebuildIfStale(spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String = "n_id", vecCol: String = "nv",
      iters: Int = 2, seed: Long = 42L,
      errGrowth: Double = 1.2, skewGrowth: Double = 2.0): RebuildDecision = {
    val cur = health(indexStaleness(spark, path, vecCol))
    val statsDeltas =
      holding(spark, path, Manifest.current(spark, path), "stats")
    if (statsDeltas.isEmpty) {
      // legacy pre-snapshot index: commit the current state as the
      // baseline (a stats-only delta) and compare on the next audit
      Manifest.append(spark, path)(staging =>
        writeOne(indexStaleness(spark, path, vecCol), s"$staging/stats"))
      return RebuildDecision(rebuilt = false,
        "pre-snapshot index: baseline initialized, compare on next audit",
        cur, cur)
    }
    val base = health(spark.read.parquet(s"${statsDeltas.last}/stats"))
    val errStale = cur.meanErr > errGrowth * base.meanErr
    val skewStale = cur.maxCellShare > skewGrowth * base.maxCellShare
    if (!errStale && !skewStale)
      return RebuildDecision(rebuilt = false,
        f"within budget: mean_err ${cur.meanErr}%.6f <= $errGrowth%.2f x " +
          f"${base.meanErr}%.6f, max share ${cur.maxCellShare}%.4f <= " +
          f"$skewGrowth%.2f x ${base.maxCellShare}%.4f",
        cur, base)
    val old = loadModel(spark, path)
    // the corpus snapshot resolves the manifest ONCE here; the dropped
    // deltas stay on disk age-gated after the commit, so the lazy
    // re-reads during train + writeIndex stay valid (no materialization
    // of a corpus-sized frame)
    val corpus = readCells(spark, path).drop("ivf_cell")
    val m2 = train(corpus.select(col(idCol).as("id"), col(vecCol).as("v")),
      "id", "v", nc = old.nc, iters = iters, seed = seed)
    writeIndex(corpus, vecCol, m2, path)
    RebuildDecision(rebuilt = true,
      (if (errStale) f"mean_err ${cur.meanErr}%.6f > $errGrowth%.2f x baseline ${base.meanErr}%.6f"
       else "") +
        (if (errStale && skewStale) "; " else "") +
        (if (skewStale) f"max cell share ${cur.maxCellShare}%.4f > $skewGrowth%.2f x baseline ${base.maxCellShare}%.4f"
         else ""),
      cur, base)
  }

  /** Probe a prebuilt index (written by [[writeIndex]], candidate schema
    * (n_id, nv)): each query's `nprobe` nearest cells are computed from
    * the loaded quantizer and pushed as a LITERAL partition filter, so
    * the cells scan reads only the probed directories — partition pruning
    * visible in the plan as PartitionFilters, no full-index scan. The
    * probed-cell set is collected driver-side: it is nprobe ints per
    * query on the serving path (bounded, tiny); large batch query sets
    * should join on ivf_cell instead and rely on dynamic partition
    * pruning. Re-rank is identical to [[topK]]. */
  def probeIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, k: Int, nprobe: Int = 2): DataFrame =
    probeLiterally(spark, path, None, queries, k, nprobe)

  /** TIME TRAVEL probing — [[LmIndex.scoreAt]] / [[TextIndex
    * .probeIndexAt]]'s contract for the vector family: probe the index
    * AS OF a retained manifest version (model AND cells from that
    * snapshot, so a probe before an append sees neither the appended
    * vectors nor — after a rebuild — the retrained quantizer). Probing
    * the pre-append version is bit-equal to probing a fresh index built
    * on the historic corpus alone (q191 oracle + IvfSpec). */
  def probeIndexAt(spark: org.apache.spark.sql.SparkSession, path: String,
      version: Long, queries: DataFrame, k: Int, nprobe: Int = 2): DataFrame =
    probeLiterally(spark, path, Some(version), queries, k, nprobe)

  private def probeLiterally(spark: org.apache.spark.sql.SparkSession,
      path: String, version: Option[Long], queries: DataFrame, k: Int,
      nprobe: Int): DataFrame = {
    // ONE pointer resolution for model + cells — the pair always reads
    // the same committed snapshot (never a torn quantizer/corpus view
    // across a concurrent rebuild)
    val snap = snapOf(spark, path, version)
    probeAndRank(queries, modelSnap(spark, path, snap), k, nprobe) { probes =>
      val probedCells = probes.select(col("ivf_cell")).distinct()
        .collect().map(_.getInt(0)).sorted
      cellsSnap(spark, path, snap)
        .filter(col("ivf_cell").isin(probedCells.toIndexedSeq: _*))
    }
  }

  /** The one probe-and-rank body: each query's `nprobe` nearest cells
    * (`probes`), joined on `ivf_cell` to the candidates `cands(probes)`
    * with the (small) probe side broadcast — never a cross join — and
    * re-ranked by exact cosine, top `k` per query. Ranks on the
    * 6-dp-rounded cosine (ties → n_id) — same cross-engine
    * reproducibility rationale as Similarity.lshBucketTopK (oracle q52). */
  private def probeAndRank(queries: DataFrame, m: IvfModel, k: Int,
      nprobe: Int)(cands: DataFrame => DataFrame): DataFrame = {
    val probes = queries
      .withColumn("_graft_qu", unit(col("qv")))
      .select(col("q_id"), col("qv"),
        explode(probeCellsUnit(col("_graft_qu"), m, nprobe)).as("ivf_cell"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(round(col("sim"), 6).desc, col("n_id"))
    cands(probes).join(broadcast(probes), Seq("ivf_cell"))
      .withColumn("sim", VectorExprs.cosine(col("nv"), col("qv")))
      .select(col("q_id"), col("n_id"), col("sim"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** Batch probe of a prebuilt index via join + dynamic partition
    * pruning — [[probeIndex]]'s documented escape hatch made real. The
    * probed cells are NEVER collected to the driver: the probe side stays
    * a DataFrame end-to-end, the cells scan joins it on the `ivf_cell`
    * partition column, and because the probe side is broadcast, Spark's
    * dynamic partition pruning reuses that broadcast to filter the scan's
    * partitions at runtime (visible as a `dynamicpruningexpression` in
    * the scan's PartitionFilters). Use this when the query batch is big
    * enough that nprobe × Q cell ids stop being a bounded driver collect;
    * for a handful of serving-path queries [[probeIndex]]'s literal
    * filter prunes at plan time instead. Results are identical. */
  def probeIndexBatch(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, k: Int, nprobe: Int = 2): DataFrame = {
    val snap = snapOf(spark, path, None)
    probeAndRank(queries, modelSnap(spark, path, snap), k, nprobe)(_ =>
      cellsSnap(spark, path, snap))
  }

  /** Approximate top-k: each query probes its `nprobe` nearest cells;
    * candidates in those cells are re-ranked by exact cosine. Equi-join
    * on the cell id with the (small) probe side broadcast — never a
    * cross join; the per-query candidate set is ~N·nprobe/nc. Schemas:
    * queries (q_id, qv), candidates (n_id, nv). */
  def topK(queries: DataFrame, candidates: DataFrame, m: IvfModel,
      k: Int, nprobe: Int = 2): DataFrame =
    probeAndRank(queries, m, k, nprobe)(_ => assign(candidates, "nv", m))
}
