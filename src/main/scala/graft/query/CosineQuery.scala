package graft.query

import graft.expr.{MetaFilter, VectorExprs}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's flagship query: scan + metadata filter + dot-product
  * similarity + top-k (reference: cosine_query, src/embeddings.rs:334-382).
  *
  * Plan shape (by construction, verified via .explain in the spec):
  *   ParquetScan (column-pruned) → Filter (metadata DSL, evaluated before
  *   the similarity kernel — same predicate-first ordering the reference
  *   hand-codes at embeddings.rs:360-365, but via Catalyst) → Project
  *   (codegen'd DotProduct) → Filter (sim > 0, embeddings.rs:366) →
  *   TakeOrderedAndProject (true top-k; per-partition heaps + driver merge
  *   of k rows — no global sort, no full collection on any single node).
  *
  * k <= 0 returns all matches (reference: num_results = 0 ⇒ all,
  * embeddings.rs:327, 373). Sorting by similarity is a documented
  * divergence from the reference's unsorted first-k (SURVEY.md §7.4).
  */
object CosineQuery {
  def run(
      collectionDf: DataFrame,
      queryVec: Array[Float],
      numResults: Int,
      whereFilters: Seq[String] = Seq.empty): DataFrame = {
    val filtered =
      if (whereFilters.isEmpty) collectionDf
      else collectionDf.filter(MetaFilter.compileArray(col("metadata"), whereFilters))
    val ordered = filtered
      .withColumn("similarity", VectorExprs.dot(col("embedding"), lit(queryVec)))
      .filter(col("similarity") > 0.0d)
      .select(col("id"), col("document"), col("similarity"), col("metadata"))
      .orderBy(col("similarity").desc, col("id"))
    if (numResults > 0) ordered.limit(numResults) else ordered
  }
}
