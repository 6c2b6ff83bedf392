package graft.core

import graft.embed.{Embed, Embedder}
import graft.query.{CosineQuery, NearestQuery}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A collection: the reference's `EmbeddingCollection`
  * (src/embeddings.rs:218-236) re-expressed as a Parquet-backed DataFrame
  * with schema (id: string, document: string, metadata: array<string>,
  * embedding: array<float>) plus a [[Catalog]] entry for the
  * collection-level config — per the mapping in SURVEY.md §1.5. Every
  * version of a collection's data is a directory
  * `{warehouse}/collections/{view}/v<n>`: create() writes the first,
  * compact() and reembed() each write the next, and the catalog entry's
  * `path` names the live one.
  *
  * The reference serializes all columns and the embedding matrix into one
  * bincode blob loaded fully into RAM per query (embeddings.rs:342,
  * 563-567) — its fundamental scalability wall. Here data lives in
  * partitioned Parquet: queries are distributed scans with column pruning
  * and predicate pushdown, and nothing is materialized on the driver.
  */
final class Collection private[core] (
    val spark: SparkSession,
    val info: CollectionInfo) {

  /** The collection DataFrame (id, document, metadata, embedding). */
  def df: DataFrame = spark.read.parquet(info.path)

  /** Accessors (reference: embeddings.rs:456-479). */
  def documents: DataFrame = df.select("id", "document")
  def metadata: DataFrame = df.select("id", "metadata")
  def ids: DataFrame = df.select("id")

  /** Metadata-filtered cosine similarity query (reference:
    * cosine_query, embeddings.rs:334-382). Embeds the query text with the
    * collection's embedder, filters by the metadata DSL, computes the dot
    * product, keeps sim > 0, and returns true top-k by similarity
    * (documented divergence from the reference's unsorted first-k,
    * SURVEY.md §7.4). k <= 0 returns all matches (embeddings.rs:327,373).
    */
  def cosineQuery(
      queryText: String,
      embedder: Embedder,
      numResults: Int,
      whereFilters: Seq[String] = Seq.empty): DataFrame =
    cosineQueryVec(embedder.embedBatch(Seq(queryText)).head, numResults, whereFilters)

  def cosineQueryVec(
      queryVec: Array[Float],
      numResults: Int,
      whereFilters: Seq[String] = Seq.empty): DataFrame =
    CosineQuery.run(df, queryVec, numResults, whereFilters)

  /** Exact nearest neighbor under L2 (reference: nearest_query,
    * embeddings.rs:386-417 — KdTree rebuilt per query there; a distributed
    * top-1 scan here, same asymptotics, no driver materialization). */
  def nearestQuery(queryText: String, embedder: Embedder): DataFrame =
    nearestQueryVec(embedder.embedBatch(Seq(queryText)).head)

  def nearestQueryVec(queryVec: Array[Float], k: Int = 1): DataFrame =
    NearestQuery.run(df, queryVec, k)

  /** Compact the collection into `numFiles` parquet files per partition —
    * the small-file remedy after many streaming appends (CollectionIngest).
    *
    * Single-writer contract (same model as [[Catalog]] and the reference's
    * DB lock): compact() must not run concurrently with an active
    * appender — a micro-batch appended to the old path after the snapshot
    * read would be absent from the compacted version and deleted with the
    * old dir by a later compact. Stop (or checkpoint-quiesce) the
    * CollectionIngest stream before compacting.
    * Writes a new version dir `collections/{view}/v<n>`, re-applying the
    * hive `partitionBy` layout chosen at create(), then swaps the catalog
    * entry's path (atomic rename inside Catalog).
    *
    * Deletion is deferred: the immediately-previous version is kept so a
    * concurrent reader that resolved the old path before the swap keeps a
    * consistent snapshot; only versions older than that are removed.
    * Returns the updated Collection handle. */
  def compact(warehouse: String, numFiles: Int = 1): Collection = {
    require(numFiles > 0, "numFiles must be positive")
    swapToNewVersion(warehouse, df.repartition(numFiles), p => info.copy(path = p))
  }

  /** Model migration: re-embed every document with a NEW embedder and
    * swap the collection to the new vectors — what an embedding-model
    * upgrade requires (the reference has no equivalent; its users rebuild
    * the whole DB). One distributed mapPartitions embed pass over the
    * stored documents (Embed.withEmbedding semantics: per-executor model,
    * grouped batches) — nothing materializes on the driver. Same
    * version-dir + atomic catalog swap + deferred-delete pattern and
    * single-writer contract as [[compact]]; catalog metadata (modelType,
    * dim) updates with the path, so readers always see a CONSISTENT
    * (vectors, dim) pair. */
  def reembed(warehouse: String, embedder: Embedder,
      modelType: String = "custom"): Collection =
    swapToNewVersion(warehouse,
      Embed.withEmbedding(df.drop("embedding"), "document", "embedding", embedder),
      p => info.copy(path = p, modelType = modelType, dim = embedder.dim))

  /** Shared rewrite path: write `out` as a new version dir, swap the
    * catalog entry, then best-effort-delete every sibling version but the
    * new one and the immediately-previous one (kept for in-flight readers
    * — see [[compact]]'s scaladoc). */
  private def swapToNewVersion(warehouse: String, out: DataFrame,
      mutate: String => CollectionInfo): Collection = {
    val updated = mutate(Collection.writeVersion(warehouse, info.view, out, info.partitionCols))
    Collection.catalog(spark, warehouse).update(updated)
    val keep = Set(updated.path, info.path).map(p => new Path(p).getName)
    val dir = new Path(Collection.viewDir(warehouse, info.view))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try fs.listStatus(dir).foreach { st =>
      if (!keep(st.getPath.getName)) fs.delete(st.getPath, true)
    } catch { case _: Exception => () }
    new Collection(spark, updated)
  }
}

object Collection {
  /** Reference view-name rule (embeddings.rs:106-109). */
  private val ViewNameRe = "^[a-zA-Z0-9_]+$".r

  def catalog(spark: SparkSession, warehouse: String): Catalog =
    new Catalog(spark, warehouse)

  /** Create + save: validate name, enforce uniqueness, embed documents,
    * persist (reference: EmbeddingCollection::new + save(),
    * embeddings.rs:240-306). `docs` must have columns (id, document,
    * metadata: array<string>). */
  /** @param partitionBy optional hive-partition columns for the collection
    *   layout (e.g. a language or source column) — at 100 TB, partition
    *   pruning on these eliminates whole directories before the scan. */
  def create(
      spark: SparkSession,
      warehouse: String,
      name: String,
      docs: DataFrame,
      embedder: Embedder,
      modelType: String = "hash",
      partitionBy: Seq[String] = Seq.empty): Collection = {
    if (ViewNameRe.findFirstIn(name).isEmpty) throw InvalidViewName(name)
    val cat = catalog(spark, warehouse)
    if (cat.find(name).isDefined) throw DuplicateView(name)
    val key = s"key-${java.util.UUID.randomUUID()}"
    val path = writeVersion(warehouse, name,
      Embed.withEmbedding(docs, "document", "embedding", embedder), partitionBy)
    val info = CollectionInfo(
      view = name, key = key, path = path, modelType = modelType,
      dim = embedder.dim, createdAt = System.currentTimeMillis(),
      partitionCols = partitionBy)
    cat.add(info)
    new Collection(spark, info)
  }

  /** Point lookup by key or view; key overrides view (reference: find,
    * embeddings.rs:545-569). */
  def find(
      spark: SparkSession,
      warehouse: String,
      view: Option[String],
      key: Option[String] = None): Collection = {
    val cat = catalog(spark, warehouse)
    val info = key.flatMap(cat.findByKey)
      .orElse(view.flatMap(cat.find))
      .getOrElse(throw ViewNotFound(key.orElse(view).getOrElse("<none>")))
    new Collection(spark, info)
  }

  /** Delete collection data + catalog entry (reference: delete,
    * embeddings.rs:419-455 — which panics on a missing view; we raise
    * [[ViewNotFound]], SURVEY.md §2.1 #8). Every version of the
    * collection lives under `collections/{view}`, so one recursive delete
    * removes the current one and any kept for in-flight readers. */
  def delete(spark: SparkSession, warehouse: String, view: String): Unit = {
    catalog(spark, warehouse).remove(view)
    val dir = new Path(viewDir(warehouse, view))
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dir, true)
  }

  /** The directory that holds every version of `view`. */
  private def viewDir(warehouse: String, view: String): String =
    s"$warehouse/collections/$view"

  /** Writes `out` as a fresh version dir `collections/{view}/v<n>`,
    * hive-partitioned by `partitionCols`, and returns its path. */
  private def writeVersion(warehouse: String, view: String, out: DataFrame,
      partitionCols: Seq[String]): String = {
    val path = s"${viewDir(warehouse, view)}/v${System.nanoTime()}"
    val writer = out.write
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .parquet(path)
    path
  }
}
