package perfbench

import java.io.PrintWriter
import org.apache.spark.SparkContext
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** A timed interval. Times are epoch milliseconds (fractional), the clock
  * Spark stamps its job and stage events with. `group` is the request or op
  * the span belongs to; `layer` is the repo module (or `bench`, `spark`). */
final case class Span(id: Int, parent: Int, group: String, name: String,
    layer: String, start: Double, end: Double) {
  def ms: Double = end - start
}

final case class StageRec(id: Int, start: Double, end: Double, tasks: Int,
    inputBytes: Long, shuffleWriteBytes: Long, spillBytes: Long)

/** Records every job and stage in memory; the listener bus calls it on its
  * own thread. */
final class JobRecorder extends SparkListener {
  val jobStart = mutable.Map.empty[Int, (String, Double, Seq[Int])]
  val jobEnd = mutable.Map.empty[Int, Double]
  val stages = mutable.Map.empty[Int, StageRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(Bus.JobGroupKey))).getOrElse("")
    jobStart(e.jobId) = (g, e.time.toDouble, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobEnd(e.jobId) = e.time.toDouble
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    val m = Option(s.taskMetrics)
    stages(s.stageId) = StageRec(s.stageId,
      s.submissionTime.getOrElse(0L).toDouble, s.completionTime.getOrElse(0L).toDouble,
      s.numTasks,
      m.map(_.inputMetrics.bytesRead).getOrElse(0L),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(t => t.memoryBytesSpilled + t.diskBytesSpilled).getOrElse(0L))
  }
}

/** Spans recorded by the benchmark around each call into the engine, plus
  * the listener's job and stage spans attributed through the job group.
  * With `on = false` every method runs its body and records nothing, so
  * the untraced run pays for no tracing. One client thread opens spans. */
final class Tracer(val on: Boolean, sc: SparkContext) {
  private val offsetNs = System.currentTimeMillis() * 1000000.0 - System.nanoTime()
  private def nowMs: Double = (System.nanoTime() + offsetNs) / 1e6
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val aliases = mutable.Map.empty[String, String]
  private var nextId = 0
  val jobs = new JobRecorder
  if (on) sc.addSparkListener(jobs)

  /** A root span: one request, append round or op. Sets the Spark job group
    * so the jobs it runs can be attributed to it. */
  def root[T](group: String, name: String)(f: => T): T =
    if (!on) f
    else {
      sc.setJobGroup(group, name, interruptOnCancel = false)
      try open(group, name, "bench")(f) finally sc.clearJobGroup()
    }

  /** A span inside the current root; its layer is the name's prefix. */
  def span[T](name: String)(f: => T): T =
    if (!on || stack.isEmpty) f
    else open(stack.head.group, name, name.takeWhile(_ != '.'))(f)

  /** Jobs run under another group id (a streaming query's run id) belong to
    * `group`. */
  def alias(jobGroup: String, group: String): Unit = if (on) aliases(jobGroup) = group

  private def open[T](group: String, name: String, layer: String)(f: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    val s0 = Span(id, parent, group, name, layer, nowMs, 0.0)
    stack = s0 :: stack
    try f finally {
      stack = stack.tail
      spans += s0.copy(end = nowMs)
    }
  }

  /** All spans of `groups`, with job and stage spans attached: a job's parent
    * is the innermost benchmark span of its group open when it started. */
  def tree(groups: Set[String]): Seq[Span] = {
    Bus.drain(sc)
    jobs.synchronized {
      val own = spans.filter(s => groups(s.group)).toSeq
      var id = nextId
      val out = ArrayBuffer.from(own)
      for ((j, (g0, t0, stageIds)) <- jobs.jobStart.toSeq.sortBy(_._1)) {
        val g = aliases.getOrElse(g0, g0)
        if (groups(g)) {
          val enclosing = own.filter(s => s.group == g && s.start <= t0 && t0 <= s.end)
          val parent = if (enclosing.isEmpty) -1 else enclosing.maxBy(_.start).id
          val job = Span(id, parent, g, s"job $j", "spark", t0, jobs.jobEnd.getOrElse(j, t0))
          id += 1
          out += job
          for (sid <- stageIds; st <- jobs.stages.get(sid) if st.start >= t0) {
            out += Span(id, job.id, g, s"stage $sid", "spark", st.start, st.end)
            id += 1
          }
        }
      }
      out.toSeq
    }
  }

  def stagesOf(groups: Set[String]): Seq[StageRec] = jobs.synchronized {
    val ids = jobs.jobStart.collect {
      case (_, (g, _, st)) if groups(aliases.getOrElse(g, g)) => st
    }.flatten.toSet
    jobs.stages.values.filter(s => ids(s.id)).toSeq
  }

  def write(path: String, tree: Seq[Span]): Unit = {
    val w = new PrintWriter(path)
    try tree.foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"group":"${s.group}",""" +
        s""""name":"${s.name}","layer":"${s.layer}","start_ms":${s.start},"end_ms":${s.end}}""")
    } finally w.close()
  }
}

object Trace {
  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0; var cur = lo
    for ((a0, b0) <- ivs.sortBy(_._1)) {
      val a = math.max(a0, cur); val b = math.min(b0, hi)
      if (b > a) { total += b - a; cur = b }
    }
    total
  }

  /** Self time per layer in ms: each span's duration minus the part of it
    * that its children cover. */
  def selfMs(tree: Seq[Span]): Map[String, Double] = {
    val kids = tree.groupBy(_.parent)
    tree.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        s.ms - covered(kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s.start, s.end)
      }.sum
    }
  }
}
