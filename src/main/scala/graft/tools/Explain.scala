package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue

import graft.{GraftSession, SparkEntry}
import graft.core.Pin
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.ListenerBridge

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Dev tool: the per-query profiler. For each named query it prints
  *  1. `== <query>`, then its formatted physical plan;
  *  2. for each run, every Spark job's wall time, the shuffle write,
  *     shuffle read, spill (memory + disk) and input bytes of the stages
  *     it ran, its SQL execution id (`exec=`, `-` for a job run outside
  *     one) and its call site — for a job of an adaptive query stage,
  *     whose call site is the stage thread pool's, the scope of its final
  *     stage's last RDD instead; then a `RUN<i> <query>:` line with the
  *     run's wall and DataFrame build time, its job count and the four
  *     byte totals, so a query's time splits into its jobs (driver-side
  *     gaps show up as the difference);
  *  3. an `OPS <query>:` line of operator counts from the last run's final
  *     (post-AQE) plan — scans, exchanges, reuse, joins — the quick "how
  *     many times does this recompute the corpus" readout.
  * Each run collects the result, so the counted plan is the one executed,
  * and releases its pins, so no run reads the previous run's.
  *   sbt "runMain graft.tools.Explain <query>[,<query>...]|all [sfDir] [reps]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = GraftSession.local()
    try profile(spark, args(0), sfDir, reps) finally spark.stop()
  }

  /** Profiles `names` — comma-separated registry names, or `all` for the
    * whole registry in order — with `reps` runs each. Every name is
    * checked before any query runs. */
  def profile(spark: SparkSession, names: String, sfDir: String, reps: Int): Unit = {
    require(reps >= 1, s"reps must be >= 1, got $reps")
    val queries = if (names == "all") SparkEntry.all else {
      val byName = SparkEntry.all.map(q => q.name -> q).toMap
      val wanted = names.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val unknown = wanted.filterNot(byName.contains)
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
      wanted.map(byName)
    }
    val jobs = new JobListener
    spark.sparkContext.addSparkListener(jobs)
    try for (q <- queries) {
      println(s"== ${q.name}")
      try q.run(spark, sfDir).explain("formatted") finally Pin.release(spark)
      val last = (1 to reps).map { i =>
        ListenerBridge.drain(spark.sparkContext)
        jobs.ended.clear()
        val t0 = System.nanoTime()
        val df = q.run(spark, sfDir)
        val tBuild = (System.nanoTime() - t0) / 1e9
        val n = try df.collect().length finally Pin.release(spark)
        val wall = (System.nanoTime() - t0) / 1e9
        ListenerBridge.drain(spark.sparkContext)
        val done = jobs.ended.asScala.toSeq.sortBy(_.id)
        done.foreach(j =>
          println(f"[job ${j.id}%3d] ${j.seconds}%7.3f s  exec=${j.execution}  ${j.bytes}  ${j.site}"))
        println(f"RUN$i ${q.name}: $wall%.3f s (build $tBuild%.3f s, $n rows) " +
          s"jobs=${done.size} ${done.map(_.bytes).foldLeft(Bytes.zero)(_ + _)}")
        df
      }.last
      val p = last.queryExecution.executedPlan.toString
      def c(op: String) = op.r.findAllIn(p).size
      println(s"OPS ${q.name}: scans=${c("Scan parquet")} exch=${c("Exchange hashpartitioning")}" +
        s" reusedExch=${c("ReusedExchange")} bcastJoin=${c("BroadcastHashJoin")}" +
        s" smj=${c("SortMergeJoin")} shj=${c("ShuffledHashJoin")}" +
        s" agg=${c("HashAggregate")} cache=${c("InMemoryTableScan")}")
    } finally spark.sparkContext.removeSparkListener(jobs)
  }

  private final case class Bytes(shuffleWrite: Long, shuffleRead: Long, spill: Long, input: Long) {
    def +(o: Bytes): Bytes = Bytes(shuffleWrite + o.shuffleWrite,
      shuffleRead + o.shuffleRead, spill + o.spill, input + o.input)
    override def toString: String =
      s"shuffle_write=$shuffleWrite shuffle_read=$shuffleRead spill=$spill input=$input"
  }
  private object Bytes { val zero: Bytes = Bytes(0L, 0L, 0L, 0L) }

  private final case class Job(id: Int, seconds: Double, execution: String, site: String, bytes: Bytes)

  /** Job start/end plus stage completion: each completed stage's task
    * metrics are added to the first job that listed the stage. Only the
    * listener bus thread touches the maps; `ended` is read after a drain. */
  private final class JobListener extends SparkListener {
    val ended = new ConcurrentLinkedQueue[Job]()
    private val started = mutable.Map.empty[Int, (Long, String, String)]
    private val stageJob = mutable.Map.empty[Int, Int]
    private val bytes = mutable.Map.empty[Int, Bytes]

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val execution = Option(e.properties).flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
      started(e.jobId) = (e.time, execution.getOrElse("-"),
        e.stageInfos.sortBy(_.stageId).lastOption.fold("?")(site))
      e.stageIds.foreach(stageJob.getOrElseUpdate(_, e.jobId))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      for (job <- stageJob.get(e.stageInfo.stageId) if m != null)
        bytes(job) = bytes.getOrElse(job, Bytes.zero) + Bytes(m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.bytesRead)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val (t0, execution, site) = started.remove(e.jobId).getOrElse((e.time, "-", "?"))
      ended.add(Job(e.jobId, (e.time - t0) / 1e3, execution, site,
        bytes.remove(e.jobId).getOrElse(Bytes.zero)))
    }

    /** The result stage (highest id) is named after the job's call site,
      * except in an adaptive query stage, which is submitted from a pool
      * thread and named after that thread's frame. */
    private def site(result: StageInfo): String =
      if (!result.name.contains("withThreadLocalCaptured")) result.name
      else result.rddInfos.sortBy(_.id).lastOption.flatMap(ListenerBridge.scopeName)
        .getOrElse(result.name)
  }
}
