package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: its name, the engine function that builds it over
  * a scale-factor directory, and the DuckDB-equivalent SQL the driver's
  * correctness gate compares it with. */
final case class Query(name: String, run: (SparkSession, String) => DataFrame, oracleSql: String)

/** Driver contract — see SURVEY.md §7.
  *
  * [[all]] is the query registry, one entry per operator from SURVEY.md
  * §2's inventory; [[queries]] and [[oracleSql]] are derived from it.
  * Column names are aliased identically on both sides.
  *
  * Float determinism convention: any aggregate over double columns goes
  * through exact DECIMAL arithmetic and is cast back to DOUBLE at the end,
  * so Spark and DuckDB produce bit-identical results (testdata values have
  * <= 4 decimal digits, see FIXTURES.md). Ratios are computed in double
  * from exact components (IEEE-deterministic in both engines).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The valentinus-style pipeline: metadata-filtered cosine top-k over the
    * documents corpus with its precomputed embeddings (SURVEY.md §2.1 #5).
    */
  def entry(spark: SparkSession): DataFrame =
    VectorQueries.metaFilterCosine(spark, "/root/testdata/sf0.001")

  /** `qs` unchanged if every name is distinct; a repeated name would
    * otherwise make one family's entry silently replace another's in the
    * derived maps. */
  def registry(qs: Seq[Query]): Seq[Query] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    qs
  }

  /** Every declared query, in registry order. */
  val all: Seq[Query] =
    registry(RelationalQueries.all ++ VectorQueries.all ++ PipelineQueries.all)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. All sketch/index arithmetic (MinHash,
    * SimHash, SRP-LSH, the KMV distinct sketch, even IVF k-means
    * training) is portable polynomial/integer math, so EVERY query
    * carries an exact oracle — q49 included since it moved from HLL
    * (engine-private registers) to the replayable KMV sketch
    * ([[graft.expr.KmvDistinct]]). */
  def oracleSql: Map[String, String] =
    all.map(q => q.name -> q.oracleSql).toMap
}
