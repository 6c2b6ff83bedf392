package graft.tools

import graft.{GraftSession, SparkEntry}
import graft.core.Pin
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

/** Dev tool: per-query shuffle audit — runs every registered query and
  * records shuffle read/write and spill bytes from stage metrics, writing
  * SHUFFLE.md. The evidence for SCALE.md's "what shuffles" analysis: a
  * query whose shuffle bytes scale with the fact table is the one that
  * becomes the 100 TB bottleneck.
  *
  *   sbt "runMain graft.tools.ShuffleAudit /root/testdata/sf0.1"
  */
object ShuffleAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = GraftSession.local()
    val read = new AtomicLong; val write = new AtomicLong
    val spillMem = new AtomicLong; val spillDisk = new AtomicLong
    val input = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null) {
          read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          spillMem.addAndGet(m.memoryBytesSpilled)
          spillDisk.addAndGet(m.diskBytesSpilled)
          input.addAndGet(m.inputMetrics.bytesRead)
        }
      }
    })
    def mb(b: Long): String = f"${b / 1024.0 / 1024.0}%9.2f"
    val sb = new StringBuilder
    sb.append("# SHUFFLE — per-query shuffle/input audit (graft.tools.ShuffleAudit)\n\n")
    sb.append(s"At `$sfDir`, MB per single run (warm). Spill anywhere is a red flag;\n")
    sb.append("shuffle write proportional to the fact-table scan is the scale risk.\n")
    sb.append("(input MB is Spark's task inputMetrics — may undercount warm local\n")
    sb.append("page-cache reads; the shuffle/spill columns are the signal.)\n\n")
    sb.append("| query | input MB | shuffle write MB | shuffle read MB | spill MB |\n")
    sb.append("|---|---|---|---|---|\n")
    for (q <- SparkEntry.all) {
      // warm (listener counts it, reset below); each run drops its pins
      try q.run(spark, sfDir).count() finally Pin.release(spark)
      Thread.sleep(500) // let async listener events drain (dev tool)
      Seq(read, write, spillMem, spillDisk, input).foreach(_.set(0))
      try q.run(spark, sfDir).count() finally Pin.release(spark)
      Thread.sleep(500) // let async listener events drain (dev tool)
      sb.append(s"| ${q.name} | ${mb(input.get)} | ${mb(write.get)} | ${mb(read.get)} " +
        s"| ${mb(spillMem.get + spillDisk.get)} |\n")
    }
    Files.writeString(Paths.get("SHUFFLE.md"), sb.toString)
    println(s"SHUFFLE.md written")
    spark.stop()
  }
}
