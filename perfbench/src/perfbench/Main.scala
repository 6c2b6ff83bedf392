package perfbench

import graft.GraftSession
import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.util.control.NonFatal

object Stats {
  /** Percentile with linear interpolation between order statistics. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = pos.toInt; val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** State shared by a workload run: the session, the tracer, the metrics it
  * reports and the attempted/failed tally. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val traced: Boolean, val workdir: String, traceDir: String, jvmStart: Long) {
  private val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
  val tracer = new Tracer(traced, spark.sparkContext)
  val metrics = mutable.Map.empty[String, Double]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, v: Double): Unit = metrics(name) = v

  /** Progress on stderr, with seconds since the JVM started. */
  def log(msg: String): Unit = System.err.println(
    f"perfbench ${(System.currentTimeMillis() - jvmStart) / 1000.0}%7.2f s  $msg")

  /** An independent random stream per purpose, all fixed by the seed. */
  def rng(tag: Int): Rng = new Rng(seed).fork(tag)

  /** An output check, run untimed; a failure counts in `failed`. */
  def check(name: String, ok: Boolean, detail: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; System.err.println(s"check failed: $name: $detail") }
  }

  /** One operation; an exception counts as a failure and yields None. */
  def attempt[T](what: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f) catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"operation failed: $what: $e")
        None
    }
  }

  /** Runs the workload's set-up `reps` times and reports `setup_s` as the
    * session start plus the median build; returns the last build. */
  def setup[T](reps: Int)(build: Int => T): T = {
    val runs = (0 until reps).map { i => val t0 = System.nanoTime(); (build(i), Stats.secs(t0)) }
    log(s"set-up builds took ${runs.map(_._2).mkString(", ")} s")
    metric("setup_s", sessionS + Stats.median(runs.map(_._2)))
    runs.last._1
  }

  /** Writes the trace and reports the per-layer numbers that every workload
    * derives the same way from the spans of `groups` (its measured part). */
  def traceReport(workload: String, groups: Set[String]): Unit = {
    val tree = tracer.tree(groups)
    tracer.write(s"$traceDir/$workload-seed$seed.jsonl", tree)
    for ((layer, ms) <- Trace.selfMs(tree)) metric(s"self.${layer}_ms", ms)
    val stages = tracer.stagesOf(groups)
    metric("spark.jobs_total", tree.count(_.name.startsWith("job ")).toDouble)
    metric("spark.shuffle_write_bytes", stages.map(_.shuffleWriteBytes).sum.toDouble)
    metric("spark.spill_bytes", stages.map(_.spillBytes).sum.toDouble)
  }
}

object Main {
  val EndToEnd: Seq[String] = Seq("setup_s", "p50_ms", "p90_ms", "docs_per_s", "peak_rss_mb")

  val Ops: Seq[String] = Seq("dedup_exact", "minhash", "components", "simhash", "pii",
    "langid", "repetition", "decontaminate", "with_embedding", "srp", "ivf_train", "ivf_assign")

  val PerLayer: Seq[String] =
    Seq("core.find_ms", "core.create_s", "core.append_s", "core.compact_s", "core.files",
      "embed.docs_per_s", "embed.with_embedding_s",
      "query.analyze_ms", "query.optimize_ms", "query.plan_ms", "query.exec_ms") ++
    Gen.Classes.map(c => s"query.${c._1}.p50_ms") ++
    Seq("expr.dot_ns_per_row_dim", "expr.l2_ns_per_row_dim", "expr.metafilter_ns_per_row") ++
    Ops.flatMap(o => Seq(s"ops.${o}_s", s"ops.$o.jobs")) ++
    Seq("ops.minhash.candidates", "ops.minhash.planted_recall", "ops.srp.pairs",
      "streaming.trigger_ms", "streaming.add_batch_ms",
      "spark.jobs_per_request", "spark.stages_per_request", "spark.tasks_per_request",
      "spark.input_bytes_per_request", "spark.driver_gap_ms_per_request",
      "spark.jobs_total", "spark.shuffle_write_bytes", "spark.spill_bytes",
      "spark.persisted_rdds_end") ++
    Seq("bench", "core", "query", "embed", "ops", "streaming", "spark").map(l => s"self.${l}_ms") ++
    Seq("traced.p50_ms", "traced.p90_ms", "traced.docs_per_s", "failed_frac")

  /** Units of every metric, by name. */
  def unit(name: String): String =
    if (name.contains("_per_s")) "1/s"
    else if (name.endsWith("_ms") || name.contains("_ms_")) "ms"
    else if (name.contains("_ns_")) "ns"
    else if (name.endsWith("_s")) "s"
    else if (name.endsWith("_mb")) "MB"
    else if (name.contains("bytes")) "bytes"
    else if (name.endsWith("recall") || name.endsWith("_frac")) "ratio"
    else "count"

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0) finally src.close()
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 6,
      "usage: Main <workload> <seed> <seconds> <trace 0|1> <workdir> <tracedir>")
    val Array(workload, seed, seconds, trace, workdir, traceDir) = args
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = GraftSession.builder(s"local[$cores]", cores.toString)
      .config("spark.sql.warehouse.dir", s"$workdir/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, seed.toLong, seconds.toDouble, trace == "1", workdir, traceDir,
      jvmStart)
    ctx.log("session started")
    try {
      workload match {
        case "serve" => Serve.run(ctx)
        case "ingest" => Ingest.run(ctx)
        case "curate" => Curate.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload '$other'")
      }
      ctx.log("workload done")
      ctx.metric("spark.persisted_rdds_end", spark.sparkContext.getPersistentRDDs.size.toDouble)
      if (ctx.traced) Layers.run(ctx)
      ctx.metric("peak_rss_mb", peakRssMb())
      ctx.metric("failed_frac", ctx.failed.toDouble / math.max(ctx.attempted, 1L))
      val names = if (ctx.traced) PerLayer else EndToEnd
      val ms = names.map { n =>
        s""""$n": {"value": ${ctx.metrics.getOrElse(n, 0.0)}, "unit": "${unit(n)}"}"""
      }
      println(s"""{"correct": ${ctx.failed == 0}, "attempted": ${ctx.attempted}, """ +
        s""""failed": ${ctx.failed}, "metrics": {${ms.mkString(", ")}}}""")
    } finally {
      spark.stop()
      ctx.log("session stopped")
    }
  }
}
