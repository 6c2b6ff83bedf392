package graft.streaming

import graft.core.Pin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The one way a graft stream starts: checkpointed at `checkpointDir`, on
  * `trigger`, each micro-batch running `body` and then releasing the pins
  * its ops made under the stream's session — in a `finally`, so a failed
  * batch leaves none behind. */
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
}
