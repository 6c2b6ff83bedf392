package graft.streaming

import graft.core.Pin
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The one way a graft stream starts: checkpointed at `checkpointDir`, on
  * `trigger`, each micro-batch running `body` and then releasing the pins
  * its ops made under the stream's session — in a `finally`, so a failed
  * batch leaves none behind. And the one way a monitor reads back what
  * its batches wrote ([[read]]). */
object MicroBatch {
  def start(stream: DataFrame, checkpointDir: String, trigger: Trigger)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        try body(batch, batchId) finally Pin.release(batch.sparkSession)
      }
      .start()

  /** Every row the monitored batches wrote under `dir` (one `batch=<id>`
    * directory each) — a typed failure before the first batch lands,
    * where Spark's own read fails with a bare PATH_NOT_FOUND. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir)
    require(p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p),
      s"no monitored batches under $dir yet")
    spark.read.parquet(dir)
  }
}
