package graft.tools

import graft.{GraftSession, SparkEntry}
import graft.core.Pin
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev tool: profile one query. Prints
  *  1. the formatted physical plan;
  *  2. for each run, every Spark job's wall time and call site, then a
  *     `RUN` line with the total and the DataFrame build time, so a
  *     query's time splits into its jobs (driver-side gaps show up as the
  *     difference);
  *  3. operator counts from the last run's final (post-AQE) plan — scans,
  *     exchanges, reuse, joins — the quick "how many times does this
  *     recompute the corpus" readout.
  * Each run collects the result, so the counted plan is the one executed.
  *   sbt "runMain graft.tools.Explain <query> [sfDir] [reps]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    require(reps >= 1, s"reps must be >= 1, got $reps")
    val fn = SparkEntry.queries(name)
    val spark = GraftSession.local()
    fn(spark, sfDir).explain("formatted")
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        // the result stage (highest id) is named after the job's call site
        starts.put(e.jobId, (System.nanoTime(),
          e.stageInfos.sortBy(_.stageId).lastOption.fold("?")(_.name)))
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val (t0, site) = starts.getOrDefault(e.jobId, (0L, "?"))
        println(f"[job ${e.jobId}%3d] ${(System.nanoTime() - t0) / 1e9}%7.3f s  $site")
      }
    })
    val last = (1 to reps).map { i =>
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val tBuild = (System.nanoTime() - t0) / 1e9
      val n = try df.collect().length finally Pin.release(spark)
      println(f"RUN$i: ${(System.nanoTime() - t0) / 1e9}%.3f s " +
        f"(build $tBuild%.3f s, $n rows)")
      df
    }.last
    val p = last.queryExecution.executedPlan.toString
    def c(op: String) = op.r.findAllIn(p).size
    println(s"== $name")
    println(s"  scans=${c("Scan parquet")} exch=${c("Exchange hashpartitioning")}" +
      s" reusedExch=${c("ReusedExchange")} bcastJoin=${c("BroadcastHashJoin")}" +
      s" smj=${c("SortMergeJoin")} shj=${c("ShuffledHashJoin")}" +
      s" agg=${c("HashAggregate")} cache=${c("InMemoryTableScan")}")
    spark.stop()
  }
}
