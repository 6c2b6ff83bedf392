package perfbench

import graft.core.Collection
import graft.embed.HashEmbedder
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One timed request or query, kept for the checks and the metrics that run
  * after the measured loop. */
final case class Done(req: Request, ms: Double, ids: Seq[String])

/** The paper's two calls, as a client issues them: look the collection up
  * by view, build the query, collect the top rows. */
object Query {
  def run(c: Ctx, warehouse: String, view: String, r: Request): Seq[String] = {
    val coll = c.tracer.span("core.find") { Collection.find(c.spark, warehouse, Some(view)) }
    val df = c.tracer.span("query.analyze") {
      if (r.cls == "nearest") coll.nearestQueryVec(r.vec, 1)
      else coll.cosineQueryVec(r.vec, Gen.TopK, r.filters)
    }
    if (c.traced) {
      c.tracer.span("query.optimize") { df.queryExecution.optimizedPlan }
      c.tracer.span("query.plan") { df.queryExecution.executedPlan }
    }
    c.tracer.span("query.exec") { df.collect() }.map(_.getString(0)).toSeq
  }

  /** Times one request as a root span; None when it failed. */
  def timed(c: Ctx, warehouse: String, view: String, r: Request): Option[Done] = {
    val t0 = System.nanoTime()
    c.attempt(s"${r.cls} ${r.id}") {
      val ids = c.tracer.root(r.id, r.cls) { run(c, warehouse, view, r) }
      Done(r, Stats.secs(t0) * 1000, ids)
    }
  }

  val DocSchema: StructType = StructType(Seq(
    StructField("id", StringType), StructField("document", StringType),
    StructField("metadata", ArrayType(StringType))))

  def docsDf(spark: SparkSession, docs: Seq[Doc]): DataFrame =
    spark.createDataFrame(docs.map(d => Row(d.id, d.document, d.metadata)).asJava, DocSchema)

  /** The expected answer by brute force over the stored vectors, with the
    * engine's arithmetic (double accumulation in array order) and ties
    * broken by id. */
  def expected(r: Request, docs: Seq[Doc], vecs: Map[String, Array[Float]]): Seq[String] =
    if (r.cls == "nearest")
      docs.map { d =>
        val v = vecs(d.id); var acc = 0.0; var i = 0
        while (i < v.length) { val x = v(i).toDouble - r.vec(i).toDouble; acc += x * x; i += 1 }
        (math.sqrt(acc), d.id)
      }.sorted.take(1).map(_._2)
    else
      docs.filter(r.matches).flatMap { d =>
        val v = vecs(d.id); var acc = 0.0; var i = 0
        while (i < v.length) { acc += v(i).toDouble * r.vec(i).toDouble; i += 1 }
        if (acc > 0.0) Some((-acc, d.id)) else None
      }.sorted.take(Gen.TopK).map(_._2)

  def checkAll(c: Ctx, done: Seq[Done], docs: Seq[Doc], vecs: Map[String, Array[Float]]): Unit =
    done.foreach { d =>
      val want = expected(d.req, docs, vecs)
      c.check(s"top-k ${d.req.id}", d.ids == want, s"${d.req.cls}: got ${d.ids} want $want")
    }

  /** Stored vectors by id, read back untimed for the brute-force check. */
  def vectors(c: Ctx, warehouse: String, view: String): Map[String, Array[Float]] =
    Collection.find(c.spark, warehouse, Some(view)).df.select("id", "embedding").collect()
      .map(r => r.getString(0) -> r.getSeq[Float](1).toArray).toMap

  /** Per-layer numbers shared by serve and ingest: phase and class medians
    * from the spans, and Spark work per request from the listener. */
  def report(c: Ctx, done: Seq[Done]): Unit = {
    val groups = done.map(_.req.id).toSet
    val tree = c.tracer.tree(groups)
    def p50(name: String) = Stats.median(tree.filter(_.name == name).map(_.ms))
    c.metric("core.find_ms", p50("core.find"))
    for (ph <- Seq("analyze", "optimize", "plan", "exec")) c.metric(s"query.${ph}_ms", p50(s"query.$ph"))
    for ((cls, ds) <- done.groupBy(_.req.cls)) c.metric(s"query.$cls.p50_ms", Stats.median(ds.map(_.ms)))
    val n = math.max(done.size, 1).toDouble
    val jobs = tree.filter(_.name.startsWith("job "))
    val stages = c.tracer.stagesOf(groups)
    c.metric("spark.jobs_per_request", jobs.size / n)
    c.metric("spark.stages_per_request", stages.size / n)
    c.metric("spark.tasks_per_request", stages.map(_.tasks).sum / n)
    c.metric("spark.input_bytes_per_request", stages.map(_.inputBytes).sum / n)
    val roots = tree.filter(s => s.parent == -1 && s.layer == "bench")
    c.metric("spark.driver_gap_ms_per_request", roots.map { r =>
      r.ms - Trace.covered(jobs.filter(_.group == r.group).map(j => (j.start, j.end)), r.start, r.end)
    }.sum / n)
  }

  /** Latency percentiles of the measured requests or queries: the median
    * and p90, interpolated between order statistics. */
  def latency(c: Ctx, done: Seq[Done], prefix: String): Unit = {
    c.metric(s"${prefix}p50_ms", Stats.median(done.map(_.ms)))
    c.metric(s"${prefix}p90_ms", Stats.pct(done.map(_.ms), 0.9))
  }
}

/** serve: one collection built in set-up, then a closed loop of requests
  * from one client thread over the stated class mix. */
object Serve {
  val Docs = 20000
  val Words = 16
  val View = "serve"
  val WarmBlocks = 1

  def run(c: Ctx): Unit = {
    val embedder = HashEmbedder(Gen.Dim)
    val (docs, wh) = c.setup(3) { i =>
      val docs = Gen.docs(c.rng(2), new Vocab(c.rng(1)), Docs, "s", Words)
      val wh = s"${c.workdir}/serve-wh$i"
      Collection.create(c.spark, wh, View, Query.docsDf(c.spark, docs), embedder)
      (docs, wh)
    }
    val vecs = Query.vectors(c, wh, View)
    for ((cls, _, share) <- Gen.Classes) {
      val r = Gen.request(c.rng(3), "sel", cls)
      val got = docs.count(r.matches).toDouble / docs.size
      c.check(s"selectivity $cls", math.abs(got - share) <= 0.25 * share, s"$got vs $share")
    }

    // Warm-up, untimed but checked: WarmBlocks blocks of every class.
    val block = Gen.Classes.map(_._2).sum
    val warm = Gen.requests(c.rng(4), "w").take(WarmBlocks * block).toSeq
    Query.checkAll(c, warm.flatMap(Query.timed(c, wh, View, _)), docs, vecs)
    c.log("warm-up done")

    // Closed loop, whole blocks of ten so every run has the same mix.
    val reqs = Gen.requests(c.rng(5), "r")
    val done = ArrayBuffer.empty[Done]
    val t0 = System.nanoTime()
    while (Stats.secs(t0) < c.seconds)
      for (_ <- 0 until block) done ++= Query.timed(c, wh, View, reqs.next())
    val wall = Stats.secs(t0)
    c.log(s"measured ${done.size} requests in $wall s")

    Query.checkAll(c, done.toSeq, docs, vecs)
    val prefix = if (c.traced) "traced." else ""
    Query.latency(c, done.toSeq, prefix)
    c.metric(s"${prefix}docs_per_s", done.size * Docs.toDouble / wall)
    if (c.traced) {
      Query.report(c, done.toSeq)
      c.traceReport("serve", done.map(_.req.id).toSet)
    }
  }
}
