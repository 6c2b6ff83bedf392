package graft.query

import graft.expr.VectorExprs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact k-nearest-neighbor under L2 distance (reference: nearest_query,
  * src/embeddings.rs:386-417).
  *
  * The reference builds a KdTree over the whole collection *per query*
  * (O(N log N) build + probe + an O(N·D) equality back-scan to recover the
  * row index). A distributed scan + TakeOrderedAndProject has the same
  * asymptotics per query without materializing anything on one node, and
  * returns the row id directly (the back-scan disappears — the reference
  * only needs it because its KdTree API returns the vector, not the row).
  * At 100 TB the batch/approximate path is the LSH bucketing in
  * [[graft.ops.Similarity]], per the north star (batch index build, not
  * online ANN serving).
  */
object NearestQuery {
  def run(
      collectionDf: DataFrame,
      queryVec: Array[Float],
      k: Int = 1): DataFrame =
    collectionDf
      .withColumn("l2_distance", VectorExprs.l2(col("embedding"), lit(queryVec)))
      .orderBy(col("l2_distance").asc, col("id"))
      .limit(math.max(k, 1))
}
