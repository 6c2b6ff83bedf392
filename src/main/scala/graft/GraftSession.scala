package graft

import org.apache.spark.sql.SparkSession

/** Session factory with graft's standard configuration: UTC, AQE on,
  * shuffle partitions sized to local cores (not 200), nanos-as-long so the
  * driver's TIMESTAMP(NANOS) events parquet is readable, and broadcast
  * threshold left at default (dimension tables are hinted explicitly).
  */
object GraftSession {
  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // ObjectHashAggregate (TopKBy bounded heaps, collect_list) falls
      // back to SORT-based aggregation after 128 distinct groups by
      // default — a top-k-per-query aggregate over >128 query groups
      // would silently sort the whole product it exists to avoid. Every
      // object-aggregate state in this repo is bounded (k-heaps,
      // config-capped lists), so a 64 Ki hash map is still model-sized;
      // scale-safe because the cap is per-task GROUP COUNT, not bytes.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "65536")
      // pins are released by the run that made them (graft.core.Pin), so
      // periodic GC now frees only lineage cuts (Pin.cut); 5 min, not the
      // default 30, bounds the dead cut blocks a long session holds
      .config("spark.cleaner.periodicGC.interval", "5min")
      .config("spark.ui.enabled", "false")

  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val s = builder(s"local[$cpus]", cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
