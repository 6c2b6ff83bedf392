package graft

import graft.expr.{MetaFilter, VectorExprs}
import graft.ops.Quantize
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Pin._

/** The vector-query surface (reference ops #5, #7, #15, #16 — SURVEY.md
  * §2.1) over the driver's `documents`/`embeddings` testdata.
  *
  * Pattern used throughout: the query vector is a one-row DataFrame
  * broadcast into a crossJoin — never a driver-side `.collect()` — so the
  * same plan works when "the query side" grows to millions of vectors
  * (it becomes a broadcast or shuffle join on the same code path).
  * Similarities are computed by the codegen'd kernels in
  * [[graft.expr.VectorExprs]] and rounded to 6 decimals so results are
  * bit-comparable with the DuckDB oracle; ordering ties are broken by id.
  */
object VectorQueries {

  /** Query vector: the embedding of vec_id = 0, as a broadcastable 1-row DF. */
  private[graft] def queryVec(s: SparkSession, dir: String) = {
    import s.implicits._
    Tables.embeddings(s, dir).filter($"vec_id" === 0).select($"embedding".as("qv"))
  }

  /** Raw dot-product top-k — the reference's (unnormalized) "cosine" score
    * (embeddings.rs:365) with true top-k (divergence, SURVEY.md §7.4). */
  def dotTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, dir).filter($"vec_id" =!= 0)
      .crossJoin(broadcast(queryVec(s, dir)))
      .select($"vec_id",
        round(VectorExprs.dot($"embedding", $"qv"), 6).as("dot_sim"))
      .orderBy($"dot_sim".desc, $"vec_id")
      .limit(20)
  }

  /** Exact k-NN under L2 (reference: nearest_query, embeddings.rs:386-417)
    * as TakeOrderedAndProject — no per-query index build. */
  def l2TopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, dir).filter($"vec_id" =!= 0)
      .crossJoin(broadcast(queryVec(s, dir)))
      .select($"vec_id",
        round(VectorExprs.l2($"embedding", $"qv"), 6).as("l2_dist"))
      .orderBy($"l2_dist".asc, $"vec_id")
      .limit(10)
  }

  /** True (normalized) cosine top-k — offered alongside the raw dot per
    * SURVEY.md §7.4. */
  def cosineTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, dir).filter($"vec_id" =!= 0)
      .crossJoin(broadcast(queryVec(s, dir)))
      .select($"vec_id",
        round(VectorExprs.cosine($"embedding", $"qv"), 6).as("cos_sim"))
      .orderBy($"cos_sim".desc, $"vec_id")
      .limit(20)
  }

  /** Batch k-NN join: for each query vector (vec_id < 5), the top-3 most
    * cosine-similar candidates with label = 1 — the per-group top-k window
    * pattern (SURVEY.md §2.3 "Window functions"). The query side is
    * broadcast; at scale the candidate side stays partitioned and the rank
    * is computed with per-partition heaps via row_number. */
  def knnJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
    val qs = e.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("qv"))
    val cands = e.filter($"label" === 1 && $"vec_id" >= 5)
      .select($"vec_id".as("n_id"), $"embedding".as("nv"))
    val w = Window.partitionBy($"q_id").orderBy($"sim".desc, $"n_id")
    cands.crossJoin(broadcast(qs))
      .withColumn("sim", round(VectorExprs.cosine($"nv", $"qv"), 6))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter($"rnk" <= 3)
      .select($"q_id", $"n_id", $"sim", $"rnk")
      .orderBy($"q_id", $"rnk")
  }

  /** The reference's flagship pipeline (cosine_query with a WHERE filter,
    * embeddings.rs:334-382): metadata DSL compiled to pushdown-friendly
    * typed predicates ({"n_chars":{"gt":200}} AND {"lang":{"eq":"en"}}),
    * similarity > 0 cutoff (embeddings.rs:366), top-10 by similarity. */
  def metaFilterCosine(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pred = MetaFilter.compileTyped(Seq(
      """{"n_chars": {"gt": 200}}""",
      """{"lang": {"eq": "en"}}"""))
    val d = Tables.documents(s, dir).filter(pred)
    val e = Tables.embeddings(s, dir)
    d.join(e, d("doc_id") === e("vec_id"))
      .crossJoin(broadcast(queryVec(s, dir)))
      .select($"doc_id", $"lang", $"n_chars",
        round(VectorExprs.dot($"embedding", $"qv"), 6).as("sim"))
      .filter($"sim" > 0.0d)
      .orderBy($"sim".desc, $"doc_id")
      .limit(10)
  }

  /** The reference-fidelity metadata path: an array-of-JSON-strings
    * metadata column (the reference's exact storage shape,
    * embeddings.rs:224-225) filtered through MetaFilter.compileArray —
    * EXISTS(get_json_object(...)) per entry, AND across filters. The
    * oracle states the same predicate over the source columns, proving the
    * DSL compilation is semantics-preserving. */
  def metaArrayFilter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val withMeta = Tables.documents(s, dir)
      .withColumn("metadata", array(
        concat(lit("""{"lang": """"), $"lang", lit(""""}""")),
        concat(lit("""{"n_chars": """), $"n_chars", lit("}")),
        concat(lit("""{"source": """"), $"source", lit(""""}"""))))
    withMeta
      .filter(MetaFilter.compileArray($"metadata", Seq(
        """{"n_chars": {"gte": 150}}""",
        """{"n_chars": {"lt": 400}}""",
        """{"lang": {"in": ["en", "fr"]}}""")))
      .select($"doc_id", $"lang", $"n_chars")
      .orderBy($"doc_id")
  }

  /** Per-label centroids: per-dimension mean of the embedding matrix —
    * the corpus-stats aggregation over vectors (SURVEY.md §2.3 "UDF/UDAF"
    * centroid case). posexplode → two-level hash aggregate; at scale this
    * is one shuffle on (label, pos) with map-side partial sums. Averages
    * rounded to 5 dp (cross-engine float-sum order). */
  def labelCentroids(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, dir)
      .select($"label", posexplode($"embedding").as(Seq("pos", "v")))
      .groupBy($"label", $"pos".cast("long").as("pos"))
      .agg(
        count(lit(1)).as("n"),
        round(avg($"v".cast("double")), 5).as("centroid_v"))
      .orderBy($"label", $"pos")
  }

  /** Per-label cohesion: mean and min cosine of each member to its label
    * centroid — the embedding-space cluster-quality audit (is label k a
    * tight cluster or a junk drawer?). All arithmetic is portable:
    * members and centroid-SUMS are micro-quantized integers (cosine is
    * scale-invariant, so cos(v, mean) = cos(round(v·1e6), Σround(v·1e6))
    * exactly — no float division by n anywhere), per-member cosines are
    * micro-rounded before the label mean. Plan: two shuffles (centroid
    * sums; per-member parts) + the presentation sort; the (label,pos)
    * join reuses the centroid exchange. The dot/v2/s2 accumulators are
    * DECIMAL(38,0): the dominant term Σ_pos sm² reaches ~n²·1e12 for a
    * tight cluster (sm ≈ n·1e6 on a dominant axis), which would wrap a
    * silent non-ANSI int64 at only n ≈ 3·10³ members per label; DECIMAL
    * holds exactly to n ≈ 10¹³, far past any per-label count. */
  def labelCohesion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pe = Tables.embeddings(s, dir)
      .select($"label", $"vec_id", posexplode($"embedding").as(Seq("pos", "v")))
      .select($"label", $"vec_id", $"pos",
        round($"v".cast("double") * 1e6d).cast("long").as("vm"))
    val cent = pe.groupBy($"label", $"pos").agg(sum($"vm").as("sm"))
    val vmD = $"vm".cast("decimal(19,0)")
    val smD = $"sm".cast("decimal(19,0)")
    val parts = pe.join(cent, Seq("label", "pos"))
      .groupBy($"label", $"vec_id")
      .agg(
        sum(vmD * smD).as("dot"),
        sum(vmD * vmD).as("v2"),
        sum(smD * smD).as("s2"))
      .withColumn("cm",
        when($"v2" === lit(0) || $"s2" === lit(0), 0L)
          .otherwise(round($"dot".cast("double") /
            (sqrt($"v2".cast("double")) * sqrt($"s2".cast("double"))) * 1e6d)
            .cast("long")))
    parts.groupBy($"label")
      .agg(
        count(lit(1)).as("n_vecs"),
        round(sum($"cm").cast("double") / (count(lit(1)) * 1e6d), 6).as("avg_cos"),
        (min($"cm").cast("double") / 1e6d).as("min_cos"))
      .orderBy($"label")
  }

  /** Approximate nearest neighbors via SRP-LSH bucketing (the 100 TB scale
    * path: equi-join on bucket, never a cross join; see
    * graft.ops.Similarity). Oracle-exact despite being approximate: the
    * SRP planes are deterministic integers, vectors are micro-quantized
    * for the bucket bits, and ranking uses the 6-dp-rounded cosine — so
    * DuckDB re-derives the very same buckets, candidates and top-k. */
  def annLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
    val qs = e.filter($"vec_id" < 3)
      .select($"vec_id".as("q_id"), $"embedding".as("qv"))
    val cands = e.filter($"vec_id" >= 3)
      .select($"vec_id".as("n_id"), $"embedding".as("nv"))
    // 6 planes = 64 buckets/table × 4 tables: buckets hold ~N/64
    // candidates at this corpus scale (retune as N grows — buckets should
    // stay in the thousands of rows at 100 TB; recall compounds over tables)
    graft.ops.Similarity.lshBucketTopK(qs, cands, k = 5,
      numPlanes = 6, dim = 64, numTables = 4)
      .select($"q_id", $"n_id", round($"sim", 6).as("sim"), $"rnk".cast("long").as("rnk"))
      .orderBy($"q_id", $"rnk")
  }

  /** Build-once cache for the q52 IVF index: train + assign + persist
    * partitioned by cell on FIRST use per corpus dir, probe-only after —
    * the operational build/probe split (the reference rebuilds its index
    * per query, embeddings.rs:402-408; this deliberately beats it).
    * Training is deterministic, so a rebuilt index in a fresh JVM is
    * bit-identical and the cache is a cost optimization, not a
    * correctness dependency. */
  private[graft] def ivfIndexFor(s: SparkSession, dir: String): String =
    tempIndexDir(s, dir, "graft_ivf_index") { path =>
      import s.implicits._
      val cands = Tables.embeddings(s, dir).filter($"vec_id" >= 3)
        .select($"vec_id".as("n_id"), $"embedding".as("nv"))
      val model = graft.ops.Ivf.train(
        cands.select($"n_id".as("id"), $"nv".as("v")), "id", "v",
        nc = 16, iters = 2)
      graft.ops.Ivf.writeIndex(cands, "nv", model, path)
    }

  /** Cache key = corpus dir + a fingerprint of its file listing
    * (name, length, mtime): regenerating the parquet under `dir` within
    * one JVM invalidates the cached index instead of silently probing a
    * stale one. The temp dirs are deleteOnExit-registered. */
  private[graft] def corpusFingerprint(s: SparkSession, dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val f = it.next()
      // full path, not basename: a file moving between partition
      // subdirectories (same name/size/mtime) must change the fingerprint
      entries += s"${f.getPath.toUri}:${f.getLen}:${f.getModificationTime}"
    }
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(entries.sorted.mkString("\n").getBytes("UTF-8"))
    s"$dir#${digest.map("%02x".format(_)).mkString}"
  }

  private val indexDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The build-once index directory of every persisted query index: on
    * first use per (`prefix`, corpus fingerprint) `build` writes the
    * index into a fresh deleteOnExit temp dir named after `prefix`;
    * later calls return that dir. A `build` must not call another
    * `…IndexFor` — a nested computeIfAbsent on the one shared map
    * throws "Recursive update". */
  private[graft] def tempIndexDir(s: SparkSession, dir: String,
      prefix: String)(build: String => Unit): String =
    indexDirs.computeIfAbsent(s"$prefix|${corpusFingerprint(s, dir)}", _ => {
      val d = java.nio.file.Files.createTempDirectory(prefix).toFile
      d.deleteOnExit()
      build(d.toString)
      d.toString
    })

  /** IVF ANN twin of q35: coarse k-means cells + nprobe probing + exact
    * cosine re-rank, probing a PREBUILT persisted index (cells
    * hive-partitioned by ivf_cell; the probe scan partition-prunes to the
    * 6 probed directories — asserted in PlanShapeSpec). Oracle-exact
    * INCLUDING the k-means training: init keys on portable md5(id),
    * centroid sums are order-independent integer sums of micro-quantized
    * unit vectors, and the top-k ranks on the 6-dp-rounded cosine — so
    * the DuckDB oracle re-runs both Lloyd rounds and lands on the
    * identical model, cells, probes and top-k (recall vs brute force is
    * additionally spec-checked in IvfSpec). */
  def annIvf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
    val qs = e.filter($"vec_id" < 3)
      .select($"vec_id".as("q_id"), $"embedding".as("qv"))
    graft.ops.Ivf.probeIndex(s, ivfIndexFor(s, dir), qs, k = 5, nprobe = 6)
      .select($"q_id", $"n_id", round($"sim", 6).as("sim"),
        $"rnk".cast("long").as("rnk"))
      .orderBy($"q_id", $"rnk")
  }

  /** Build-once cache for the q111 INCREMENTALLY MAINTAINED index: train
    * the coarse quantizer on the "historical" corpus slice only
    * (3 ≤ vec_id < 400), write the index, then [[graft.ops.Ivf
    * .appendToIndex]] the "new batch" (vec_id ≥ 400) assign-only under
    * the FROZEN model — the operational append-without-retrain mode.
    * Deterministic assignment makes the appended index bit-identical to
    * a one-shot build of the union under the same model (IvfSpec), so
    * the cache stays a cost optimization. */
  private[graft] def appendedIndexFor(s: SparkSession, dir: String): String =
    tempIndexDir(s, dir, "graft_ivf_append") { path =>
      import s.implicits._
      val e = Tables.embeddings(s, dir)
      val old = e.filter($"vec_id" >= 3 && $"vec_id" < 400)
        .select($"vec_id".as("n_id"), $"embedding".as("nv"))
      val model = graft.ops.Ivf.train(
        old.select($"n_id".as("id"), $"nv".as("v")), "id", "v",
        nc = 16, iters = 2)
      graft.ops.Ivf.writeIndex(old, "nv", model, path)
      graft.ops.Ivf.appendToIndex(
        e.filter($"vec_id" >= 400).select($"vec_id".as("n_id"), $"embedding".as("nv")),
        "nv", path)
    }

  /** Probe over the incrementally maintained index (q52's probe against
    * the [[appendedIndexFor]] artifact): the quantizer saw only the
    * historical slice, the appended batch was assigned under it frozen,
    * and the probe prunes partitions exactly as q52 does. The oracle
    * replays the RESTRICTED training (train rows < 400), then assigns
    * and probes over the full corpus — i.e. it replays the append. */
  def annIvfAppend(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
    val qs = e.filter($"vec_id" < 3)
      .select($"vec_id".as("q_id"), $"embedding".as("qv"))
    graft.ops.Ivf.probeIndex(s, appendedIndexFor(s, dir), qs, k = 5, nprobe = 6)
      .select($"q_id", $"n_id", round($"sim", 6).as("sim"),
        $"rnk".cast("long").as("rnk"))
      .orderBy($"q_id", $"rnk")
  }

  /** q191: TIME-TRAVEL IVF probing ([[graft.ops.Ivf.probeIndexAt]]) —
    * the q186/q190 snapshot contract for the vector family, completing
    * it across the LM, text and vector manifest indexes: q111's directory
    * holds version 1 (build on 3 ≤ vec_id < 400 under the historic
    * model) and version 2 (the ≥ 400 assign-only append); probing AS OF
    * version 1 sees neither the appended vectors nor any later model,
    * and must be bit-equal to a fresh index over the historic corpus
    * alone — the oracle replays training AND assignment restricted to
    * the historic slice. */
  def annIvfTimeTravel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
    val qs = e.filter($"vec_id" < 3)
      .select($"vec_id".as("q_id"), $"embedding".as("qv"))
    graft.ops.Ivf.probeIndexAt(s, appendedIndexFor(s, dir), version = 1L,
        qs, k = 5, nprobe = 6)
      .select($"q_id", $"n_id", round($"sim", 6).as("sim"),
        $"rnk".cast("long").as("rnk"))
      .orderBy($"q_id", $"rnk")
  }

  /** q196: rank-biased overlap audit ([[graft.ops.RankMetrics
    * .rankBiasedOverlap]]) — the ORDER-sensitive complement of the
    * q152 set-recall audit: per query, how closely does the IVF tier's
    * top-5 agree with the exact brute-force top-5, weighting rank 1
    * most (p = 0.9, truncated-depth normalized so identical rankings
    * score 1). Both rankings tie-break identically (6-dp cosine, then
    * id), the weight table is micro-quantized in Scala and interpolated
    * verbatim into the oracle, and the per-query statistic is one
    * equi-join + literal lookup — no pow() on either engine. */
  def annRboAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
    val qs = e.filter($"vec_id" < 3)
      .select($"vec_id".as("q_id"), $"embedding".as("qv"))
    val approx = graft.ops.Ivf.probeIndex(s, ivfIndexFor(s, dir), qs,
        k = 5, nprobe = 6)
      .select($"q_id", $"n_id", $"rnk")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"q_id").orderBy(round($"sim", 6).desc, $"n_id")
    val exact = e.filter($"vec_id" >= 3)
      .select($"vec_id".as("n_id"), $"embedding".as("nv"))
      .crossJoin(broadcast(qs))
      .withColumn("sim", graft.expr.VectorExprs.cosine($"nv", $"qv"))
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 5)
      .select($"q_id", $"n_id", $"rnk")
    graft.ops.RankMetrics.rankBiasedOverlap(approx, exact,
        "q_id", "n_id", "rnk", k = 5)
      .orderBy($"q_id")
  }

  /** Product-quantization ADC top-k (Jégou et al. 2011): 2 sub-codebooks
    * of 8 centroids over 32-dim slices, trained by the same deterministic
    * micro-k-means as the IVF coarse quantizer (raw L2, per-subspace
    * seed); the corpus is PQ-encoded to 2 small codes per vector
    * (map-only), and each query scores candidates by the sum of
    * per-subspace distances to the CODED centroids — never touching the
    * float corpus at query time. All three queries are evaluated in ONE
    * pass over the coded corpus (stack of per-query ADC columns), then a
    * per-query bounded top-k. At 100 TB the coded corpus is ~numSub
    * bytes/vector — the scan PQ exists to make cheap. Oracle replays both
    * subspace trainings, the code assignments, and the ADC ranking
    * exactly. Approximation quality (vs exact cosine/L2) is
    * spec-checked in QuantizeSpec, not oracle-checked. */
  /** Build-once cache for the PQ sub-codebooks (q99 + q107 share them):
    * like [[ivfIndexFor]], training happens on FIRST use per corpus
    * fingerprint — queries probe a prebuilt quantizer instead of
    * re-running both k-means per invocation (the reference's
    * rebuild-per-query shape, deliberately beaten). Deterministic
    * training ⇒ the cache is a cost optimization, not a correctness
    * dependency. */
  private val pqModelsCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[graft.ops.Ivf.IvfModel]]()

  /** Build-once coarse quantizer for q94's SemDeDup (trained on ALL
    * vectors, unlike the corpus-only q52 model — different artifact,
    * same determinism-makes-the-cache-safe argument). */
  private val semDedupModelCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.ops.Ivf.IvfModel]()

  private[graft] def semDedupModelFor(s: SparkSession, dir: String,
      nc: Int, iters: Int): graft.ops.Ivf.IvfModel =
    semDedupModelCache.computeIfAbsent(corpusFingerprint(s, dir), _ => {
      import s.implicits._
      graft.ops.Ivf.train(
        Tables.embeddings(s, dir).select($"vec_id".as("id"), $"embedding".as("v")),
        "id", "v", nc, iters)
    })

  private def pqModelsFor(s: SparkSession, dir: String,
      numSub: Int, subDim: Int, ks: Int): Seq[graft.ops.Ivf.IvfModel] =
    pqModelsCache.computeIfAbsent(corpusFingerprint(s, dir), _ => {
      import s.implicits._
      graft.ops.Quantize.pqTrain(
        Tables.embeddings(s, dir).filter($"vec_id" >= 3)
          .select($"vec_id", $"embedding"),
        "vec_id", "embedding", numSub, subDim, ks).toSeq
    })

  def pqAdcTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val numSub = 2; val subDim = 32; val ks = 8; val k = 5
    val e = Tables.embeddings(s, dir)
    val corpus = e.filter($"vec_id" >= 3)
    val models = pqModelsFor(s, dir, numSub, subDim, ks)
    val coded = corpus.select($"vec_id".as("n_id"),
      graft.ops.Quantize.pqCodes($"embedding", models, subDim).as("codes"))
    // the 3 probe vectors are the bounded small side (same shape as
    // Ivf.train's nc-row init collect): inlined as literals so the ADC
    // is a map-only expression over the coded corpus
    val probes = e.filter($"vec_id" < 3)
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1))
      .sortBy(_._1)
    val adcCols = probes.map { case (qid, qv) =>
      struct(lit(qid).as("q_id"),
        round(graft.ops.Quantize.adc(qv, $"codes", models, subDim), 6).as("adc"))
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"q_id").orderBy($"adc", $"n_id")
    coded.select($"n_id", explode(array(adcCols.toIndexedSeq: _*)).as("qa"))
      .select($"qa.q_id".as("q_id"), $"n_id", $"qa.adc".as("adc"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter($"rnk" <= k)
      .orderBy($"q_id", $"rnk")
  }

  /** The composed production ANN stack — IVF ∘ PQ ∘ exact rerank, the
    * three tiers (q52, q99, q22) as ONE query: coarse cells prune the
    * corpus to nprobe/nc, ADC over the coded survivors shortlists 20
    * WITHOUT touching floats, exact cosine reranks the shortlist to
    * top-5. At 100 TB the scan cost is (nprobe/nc)·(numSub bytes/vector)
    * plus 20 float vectors per query — the standard billion-scale serving
    * shape (FAISS IVFADC). Every tier's training and every rank is
    * oracle-replayed: the coarse k-means, both PQ sub-codebooks, cell
    * probes, ADC shortlist, and the final rounded-cosine rerank. */
  def ivfPqTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val numSub = 2; val subDim = 32; val ks = 8
    val nprobe = 6; val shortlist = 20; val k = 5
    // BUILD ONCE, PROBE MANY: the coarse quantizer + cell-partitioned
    // corpus are the PREBUILT q52 index (identical training: corpus
    // vec_id>=3, nc=16, iters=2, seed 42 — one artifact serves both
    // entries), and the PQ sub-codebooks come from the shared cache.
    // The probe scan partition-prunes to the nprobe'd cell directories;
    // codes are a map-only projection over the pruned survivors only.
    val indexPath = ivfIndexFor(s, dir)
    val ivfModel = graft.ops.Ivf.loadModel(s, indexPath)
    val pqModels = pqModelsFor(s, dir, numSub, subDim, ks)
    val probes = Tables.embeddings(s, dir).filter($"vec_id" < 3)
      .select($"vec_id".as("q_id"), $"embedding".as("qv"),
        explode(graft.ops.Ivf.probeCells($"embedding", ivfModel, nprobe))
          .as("ivf_cell"))
    val probedCells = probes.select($"ivf_cell").distinct()
      .collect().map(_.getInt(0)).sorted
    val coded = graft.ops.Ivf.readCells(s, indexPath)
      .filter($"ivf_cell".isin(probedCells.toIndexedSeq: _*))
      .select($"n_id", $"ivf_cell",
        graft.ops.Quantize.pqCodes($"nv", pqModels, subDim).as("codes"),
        $"nv")
    val wAdc = Window.partitionBy($"q_id").orderBy($"adc", $"n_id")
    val wSim = Window.partitionBy($"q_id").orderBy($"sim".desc, $"n_id")
    coded.join(broadcast(probes), Seq("ivf_cell"))
      .withColumn("adc",
        round(graft.ops.Quantize.adcCol($"qv", $"codes", pqModels, subDim), 6))
      .withColumn("arnk", row_number().over(wAdc))
      .filter($"arnk" <= shortlist)
      .withColumn("sim", round(VectorExprs.cosine($"qv", $"nv"), 6))
      .withColumn("rnk", row_number().over(wSim).cast("long"))
      .filter($"rnk" <= k)
      .select($"q_id", $"n_id", $"adc", $"sim", $"rnk")
      .orderBy($"q_id", $"rnk")
  }

  /** Margin-based k-NN mining (Artetxe & Schwenk 2019, the CCMatrix /
    * LASER bitext-mining criterion): a candidate pair (x, y) scores
    * cos(x,y) normalized by the mean of each side's top-k cosine
    * neighborhood — margin = 2·cos(x,y) / (avgₖ(x) + avgₖ(y)) — which
    * suppresses hub vectors that score high against EVERYTHING and
    * would dominate a raw-cosine cut. Source set = vec_id < 10
    * (broadcastable, the "query language" side), target = the rest.
    *
    * Determinism: cosines are quantized to integer micro-units first;
    * each side's top-k sum is then an exact long sum (k fixed at 8/4),
    * so the margin is one float expression from integers (the q78
    * device applied to vector scores).
    *
    * Scale shape: ONE broadcast cross join (corpus × 10) feeds
    * everything; both top-k passes are rank-filters that plan as
    * WindowGroupLimit (bounded per-partition heaps, q04's pattern) —
    * the q_id window is 10 partitions but each holds corpus rows, so
    * the heap prune before the exchange is what keeps it scale-safe;
    * the n_id window is corpus-cardinality keys of ≤ 10 rows. The
    * final margin join is broadcast (10 rows) + equi on n_id. */
  def marginMining(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
    graft.ops.Similarity.marginKnn(
        e.filter($"vec_id" < 10)
          .select($"vec_id".as("q_id"), $"embedding".as("qv")),
        e.filter($"vec_id" >= 10)
          .select($"vec_id".as("n_id"), $"embedding".as("nv")),
        kQ = 8, kN = 4)
      .orderBy($"margin".desc, $"q_id", $"n_id")
      .limit(15)
  }

  /** q152: IVF recall@5 audit — the q52 index's top-5 measured against
    * exact brute-force cosine top-5 per probe query: the empirical
    * "is nprobe right for this corpus" report (the query twin of
    * AnnRecallSpec, now oracle-checked — the oracle replays k-means
    * training, cell probing, AND the exact ranking). */
  def ivfRecallAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
    val qs = e.filter($"vec_id" < 3)
      .select($"vec_id".as("q_id"), $"embedding".as("qv"))
    val w = Window.partitionBy($"q_id").orderBy($"sim".desc, $"n_id")
    val exact = e.filter($"vec_id" >= 3)
      .select($"vec_id".as("n_id"), $"embedding")
      .crossJoin(broadcast(qs))
      .withColumn("sim", round(VectorExprs.cosine($"embedding", $"qv"), 6))
      .withColumn("rn", row_number().over(w)).filter($"rn" <= 5)
      .select($"q_id", $"n_id")
    val ivf = graft.ops.Ivf.probeIndex(s, ivfIndexFor(s, dir), qs,
        k = 5, nprobe = 6)
      .select($"q_id", $"n_id")
    val hits = exact.join(ivf, Seq("q_id", "n_id"))
      .groupBy($"q_id").agg(count(lit(1)).as("n_hits"))
    exact.groupBy($"q_id").agg(count(lit(1)).as("_k"))
      .join(hits, Seq("q_id"), "left")
      .select($"q_id", coalesce($"n_hits", lit(0L)).as("n_hits"),
        round(coalesce($"n_hits", lit(0L)).cast("double") / lit(5.0), 6)
          .as("recall_at_5"))
      .orderBy($"q_id")
  }

  /** q155: SEMANTIC decontamination ([[graft.ops.Decontaminate
    * .semanticFlags]]) — the embedding-space complement of q77's n-gram
    * gate: corpus vectors (vec_id ≥ 25) whose cosine to any "benchmark"
    * vector (vec_id < 25, broadcast) reaches 0.3, with the closest eval
    * id attributed. Catches paraphrased leakage that shares no 8-gram. */
  def semanticDecontaminate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
    graft.ops.Decontaminate.semanticFlags(
        e.filter($"vec_id" >= 25).select($"vec_id", $"embedding"),
        e.filter($"vec_id" < 25).select($"vec_id", $"embedding"),
        "vec_id", "embedding", threshold = 0.3)
      .orderBy($"vec_id")
  }

  /** q156: k-NN label-noise audit (Northcutt et al.'s confident-learning
    * intuition in its cheapest deterministic form): each probe vector's
    * label is compared against the majority label of its 5 exact cosine
    * neighbors in the rest of the corpus; per-label agreement rates
    * surface label noise / weak class geometry before anyone trains on
    * the labels. Probes = vec_id < 50 (broadcast side); the corpus side
    * is ONE broadcast cross join into a WindowGroupLimit top-5 — the
    * q118/q152 shape; votes and the verdict are integer aggregates. */
  def knnLabelNoise(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
    val probes = e.filter($"vec_id" < 50)
      .select($"vec_id".as("q_id"), $"embedding".as("qv"), $"label".as("q_label"))
    val pool = e.filter($"vec_id" >= 50)
      .select($"vec_id".as("n_id"), $"embedding", $"label".as("n_label"))
    val w = Window.partitionBy($"q_id").orderBy($"sim".desc, $"n_id")
    val top = pool.crossJoin(broadcast(probes))
      .withColumn("sim", round(VectorExprs.cosine($"embedding", $"qv"), 6))
      .withColumn("rn", row_number().over(w)).filter($"rn" <= 5)
    val vote = top.groupBy($"q_id", $"q_label", $"n_label")
      .agg(count(lit(1)).as("n"))
    val wv = Window.partitionBy($"q_id").orderBy($"n".desc, $"n_label".asc)
    val pred = vote.withColumn("vr", row_number().over(wv)).filter($"vr" === 1)
    pred.groupBy($"q_label")
      .agg(count(lit(1)).as("n_probes"),
        sum(when($"n_label" === $"q_label", 1L).otherwise(0L)).as("n_agree"))
      .select($"q_label".as("label"), $"n_probes", $"n_agree",
        round($"n_agree".cast("double") / $"n_probes".cast("double"), 6)
          .as("agree_rate"))
      .orderBy($"label")
  }

  /** q163: CROSS-MODAL semantic outliers — documents ⋈ embeddings on
    * doc_id = vec_id, each document's embedding scored against its
    * LANGUAGE centroid (q104's micro-quantized integer-centroid device,
    * group key joined in from the text table); the bottom-5 cosines per
    * language are mislabeled-language / off-distribution candidates —
    * the audit that needs BOTH modalities at once. Bottom-k plans as a
    * WindowGroupLimit bounded heap; centroids are (langs × dims)
    * integer state. */
  def semanticOutliers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lang = Tables.documents(s, dir).select($"doc_id", $"lang")
    val pe = Tables.embeddings(s, dir)
      .select($"vec_id".as("doc_id"), $"embedding")
      .join(lang, Seq("doc_id"))
      .select($"lang", $"doc_id", posexplode($"embedding").as(Seq("pos", "v")))
      .select($"lang", $"doc_id", $"pos",
        round($"v".cast("double") * 1e6d).cast("long").as("vm"))
    val cent = pe.groupBy($"lang", $"pos").agg(sum($"vm").as("sm"))
    val vmD = $"vm".cast("decimal(19,0)")
    val smD = $"sm".cast("decimal(19,0)")
    val cosv = pe.join(cent, Seq("lang", "pos"))
      .groupBy($"lang", $"doc_id")
      .agg(
        sum(vmD * smD).as("dot"),
        sum(vmD * vmD).as("v2"),
        sum(smD * smD).as("s2"))
      .withColumn("cm",
        when($"v2" === lit(0) || $"s2" === lit(0), 0L)
          .otherwise(round($"dot".cast("double") /
            (sqrt($"v2".cast("double")) * sqrt($"s2".cast("double"))) * 1e6d)
            .cast("long")))
    val w = Window.partitionBy($"lang").orderBy($"cm".asc, $"doc_id".asc)
    cosv.withColumn("rnk", row_number().over(w).cast("long"))
      .filter($"rnk" <= 5)
      .select($"lang", $"rnk", $"doc_id",
        round($"cm".cast("double") / 1e6d, 6).as("cos_centroid"))
      .orderBy($"lang", $"rnk")
  }

  /** q166: top principal component of the embedding corpus
    * ([[graft.ops.Spectral.topComponent]]) — the anisotropy /
    * collapsed-embedding audit: the dominant covariance direction, its
    * top-8 dimension loadings, and the explained-variance share.
    * Integer-exact power iteration (micro-quantized moments, DECIMAL
    * sums, L∞-normalized integer iterates), so the oracle replays the
    * whole spectral computation including the eigenvector. */
  def pcaTop(s: SparkSession, dir: String): DataFrame =
    graft.ops.Spectral.topComponent(
      Tables.embeddings(s, dir), "embedding", dims = 64, iters = 5, k = 8)

  /** q173: top-2 principal components by Hotelling DEFLATION
    * ([[graft.ops.Spectral.topComponents]]) — the whitening prep: after
    * component 1, the model matrix is deflated A ← A − λ·v vᵀ∕(vᵀv)
    * (fixed-order double per cell, half-up back to the integer grid)
    * and component 2 is power-iterated on the residual; each ev_share
    * is measured against the ORIGINAL trace. Same single
    * SpectralMoments corpus pass as q166 — the extra component is pure
    * driver math. The oracle replays every iteration of BOTH
    * components, deflation cell update included. */
  def pcaDeflate(s: SparkSession, dir: String): DataFrame =
    graft.ops.Spectral.topComponents(
      Tables.embeddings(s, dir), "embedding", dims = 64, m = 2, iters = 5, k = 4)

  /** q174: PCA projection ([[graft.ops.Spectral.pcaProjection]]) — the
    * whitening model APPLIED: every embedding's exact-integer dot with
    * the two deflated eigenvectors, per-component alignment r², global
    * top-50 by the dominant projection (the anisotropy hot-list). One
    * model job + one MAP-ONLY corpus pass; only 50 survivors move. */
  def pcaProject(s: SparkSession, dir: String): DataFrame =
    graft.ops.Spectral.pcaProjection(
      Tables.embeddings(s, dir), "vec_id", "embedding", dims = 64, m = 2,
      iters = 5, topN = 50)

  /** q169: embedding drift between two corpus snapshots (even vs odd
    * vec_id standing in for release N vs N+1): per-snapshot integer
    * centroids (the q104 device), reported as the cosine between the
    * two centroids, their micro-L2 shift, and the top-5 dimensions by
    * absolute centroid movement — the embedding-space drift monitor a
    * re-embedding or data-mix change trips. All integer sums; one
    * corpus pass; everything after is dims-sized. */
  def embeddingDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pe = Tables.embeddings(s, dir)
      .select(($"vec_id" % 2).as("snap"), posexplode($"embedding").as(Seq("pos", "v")))
      .select($"snap", $"pos",
        round($"v".cast("double") * 1e6d).cast("long").as("vm"))
    val cent = pe.groupBy($"snap", $"pos")
      .agg(sum($"vm").as("sm"), count(lit(1)).as("nv"))
      .withColumn("cm", round($"sm".cast("double") / $"nv".cast("double"))
        .cast("long"))
    val a = cent.filter($"snap" === 0).select($"pos", $"cm".as("ca"))
    val b = cent.filter($"snap" === 1).select($"pos", $"cm".as("cb"))
    val j = a.join(b, Seq("pos"))
      .withColumn("dm", $"cb" - $"ca")
    val agg = j.agg(
      sum(($"ca".cast("decimal(38,0)") * $"cb".cast("decimal(38,0)"))).as("dot"),
      sum(($"ca".cast("decimal(38,0)") * $"ca".cast("decimal(38,0)"))).as("na"),
      sum(($"cb".cast("decimal(38,0)") * $"cb".cast("decimal(38,0)"))).as("nb"),
      sum(($"dm".cast("decimal(38,0)") * $"dm".cast("decimal(38,0)"))).as("d2"))
      .select(
        round($"dot".cast("double") /
          (sqrt($"na".cast("double")) * sqrt($"nb".cast("double"))), 6)
          .as("centroid_cos"),
        round(sqrt($"d2".cast("double")) / 1e6d, 6).as("centroid_l2_shift"))
    val w = Window.orderBy(abs($"dm").desc, $"pos".asc)
    j.withColumn("rnk", row_number().over(w).cast("long"))
      .filter($"rnk" <= 5)
      .crossJoin(broadcast(agg))
      .select($"rnk", $"pos".cast("long").as("pos"),
        round($"dm".cast("double") / 1e6d, 6).as("dim_shift"),
        $"centroid_cos", $"centroid_l2_shift")
      .orderBy($"rnk")
  }

  /** q280: HUBNESS audit of the exact k-NN graph (Radovanović et al.
    * 2010) — the high-dimensional pathology every ANN/retrieval tier
    * sits on: the k-occurrence distribution (how many times each vector
    * appears in other vectors' top-k) grows a heavy right tail as
    * intrinsic dimension rises — hub vectors surface in EVERYONE's
    * neighbor list (polluting q23/q35/q52 candidate sets and q118's
    * margin denominator), while antihubs (occurrence 0) become
    * unreachable. Reports the occurrence distribution's moment shape
    * ([[graft.ops.ClassifierEval.jarqueBera]] over the exact counts —
    * mean is k by construction, the SKEWNESS is the hubness number)
    * plus max occurrence and the antihub count. Oracle replays the
    * full k-NN graph (6-dp cosine, n_id tie-break), the occurrence
    * counts including zeros, and the moment readouts.
    *
    * Plan (r16): one broadcast cross join (queries are the corpus
    * itself) over a parallelism-floored corpus side
    * ([[graft.ops.Layout.spread]] — the product is flops-bound and must
    * not run in one scan task) → per-query top-k via the BOUNDED-HEAP
    * [[graft.expr.TopKBy]] aggregate (map-side partial heaps; the
    * O(n²) product is consumed where it is generated and NEVER crosses
    * an exchange — r16 replaced the row_number window, which shuffled
    * and sorted all n·(n−1) product rows, with heaps that shuffle at
    * most queries × k rows; selection identical: smallest k by
    * (−sim, n_id) ≡ row_number over (sim desc, n_id asc) ≤ k) → ONE
    * corpus-sized occurrence groupBy; at 100 TB the graph comes from
    * the IVF/LSH tiers instead (same audit over their candidate lists —
    * q196's RBO pattern). */
  def hubnessAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
    val q = e.select($"vec_id".as("q_id"), $"embedding".as("qv"))
    val c = e.select($"vec_id".as("n_id"), $"embedding".as("nv"))
    // heap order (−sim, n_id) packed into ONE long so the 4M-row product
    // pays a primitive compare instead of a per-row struct alloc +
    // interpreted struct ordering: sim is already 6-dp, so its micro form
    // is an exact integer in [−10⁶, 10⁶]; vec_ids are < 4·10⁹ by the
    // testdata contract (and the packing is order-isomorphic to the
    // lexicographic (−sim, n_id) whenever they are). r17 (advisor): the
    // contract is now ENFORCED — an out-of-range id would bleed into the
    // sim component (or invert the tie-break) and silently corrupt
    // neighbor selection. The check is ONE tiny min/max job over the
    // corpus ids, NOT a per-row branch: the order key is evaluated
    // interpreted inside the heap aggregate (TypedImperativeAggregate),
    // so a per-row guard there cost a measured ~0.3 s on the 4M-row
    // product while this job is ~10 ms.
    // NULL similarities cannot occur here by design: embeddings are a
    // non-null table column and the 6-dp cosine of two non-null arrays
    // is non-null, so TopKBy's skip-NULL-order-keys rule never fires
    // (and a null embedding upstream should be filtered, not ranked).
    val idRange = e.agg(min($"vec_id").as("_mn"), max($"vec_id").as("_mx"))
      .head()
    require(idRange.isNullAt(0) ||
        (idRange.getLong(0) >= 0L && idRange.getLong(1) < 4000000000L),
      "hubnessAudit: vec_id outside the packed-order contract [0, 4e9) — " +
        s"saw [${idRange.get(0)}, ${idRange.get(1)}]")
    val ordPacked = (lit(1000000L) -
      round($"sim" * 1e6d, 0).cast("long")) * lit(4000000000L) + $"n_id"
    val nn = graft.ops.Layout.spread(c).crossJoin(broadcast(q))
      .filter($"n_id" =!= $"q_id")
      .withColumn("sim", round(VectorExprs.cosine($"nv", $"qv"), 6))
      .groupBy($"q_id")
      .agg(graft.expr.TopKBy.bottom($"n_id", ordPacked, 10).as("_top"))
      .select(explode($"_top").as("n_id"))
    val occ = e.select($"vec_id")
      .join(nn.groupBy($"n_id").agg(count(lit(1)).as("o")),
        $"vec_id" === $"n_id", "left")
      .select($"vec_id", coalesce($"o", lit(0L)).as("occ"))
      .pin // corpus-sized ids + a long, read twice
    val shape = graft.ops.ClassifierEval.jarqueBera(
      occ.withColumn("g", lit("all")), "g", "occ")
    val extremes = occ.agg(max($"occ").as("max_occ"),
      coalesce(sum(when($"occ" === 0L, lit(1L)).otherwise(lit(0L))),
        lit(0L)).as("n_antihubs"))
    shape.crossJoin(broadcast(extremes))
      .select($"n", lit(10L).as("k"), $"mean".as("mean_occ"),
        $"skewness", $"ex_kurtosis", $"max_occ", $"n_antihubs")
  }

  /** Build-once quantized index (same pattern as [[ivfIndexFor]]): the
    * int8 projection persisted to parquet, so probes scan the 4×-smaller
    * columns instead of re-quantizing the corpus per query. */
  private[graft] def sqIndexFor(s: SparkSession, dir: String): String =
    tempIndexDir(s, dir, "graft_sq_index") { path =>
      import s.implicits._
      Quantize.withInt8(
          Tables.embeddings(s, dir).filter($"vec_id" =!= 0)
            .select($"vec_id", $"embedding"), "embedding")
        .write.mode("overwrite").parquet(path)
    }

  /** Int8 scalar-quantized cosine top-k (ops.Quantize): a PREBUILT
    * quantized index (persisted once per corpus, [[sqIndexFor]]) is
    * scanned with the integer Int8Dot kernel (4×-smaller reads at
    * scale), top-20 approximate survivors re-ranked by exact float
    * cosine for the final top-10. Cosine's scale invariance means the
    * approximate score needs no dequantization — integer sums, one
    * double divide. Oracle-exact end to end: quantization (round
    * ties-away-from-zero), integer dots, the candidate cut and the
    * rerank are all replayed by DuckDB. */
  def sqTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val corpus = s.read.parquet(sqIndexFor(s, dir))
    val query = Quantize.withInt8(queryVec(s, dir), "qv")
      .select($"qv", $"q8".as("qq8"), $"q_norm2".as("qq_norm2"))
    corpus.crossJoin(broadcast(query))
      .select($"vec_id", $"embedding", $"qv",
        round(Quantize.cosI8($"q8", $"qq8", $"q_norm2", $"qq_norm2"), 6).as("q_cos"))
      .orderBy($"q_cos".desc, $"vec_id")
      .limit(20) // approximate candidate cut (int8 scan at scale)
      .select($"vec_id", $"q_cos",
        round(VectorExprs.cosine($"embedding", $"qv"), 6).as("cos_sim"))
      .orderBy($"cos_sim".desc, $"vec_id")
      .limit(10) // exact float rerank of the survivors
  }

  /** Matryoshka-style two-phase cosine top-k: candidates scored on the
    * FIRST 16 of 64 dimensions (a 4×-smaller scan — with prefix dims
    * stored as their own parquet column or index, the candidate pass
    * reads a quarter of the bytes; the dim-truncation analog of q70's
    * int8 tiering), top-20 survivors re-ranked by exact full-dimension
    * cosine for the final top-10. Deterministic: both phases rank on the
    * 6-dp-rounded score with id tie-breaks, so the DuckDB oracle replays
    * the candidate cut and the rerank exactly. */
  def matryoshkaTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, dir).filter($"vec_id" =!= 0)
      .crossJoin(broadcast(queryVec(s, dir)))
      .select($"vec_id", $"embedding", $"qv",
        round(VectorExprs.cosine(
          slice($"embedding", 1, 16), slice($"qv", 1, 16)), 6).as("pre_cos"))
      .orderBy($"pre_cos".desc, $"vec_id")
      .limit(20) // prefix-dimension candidate cut
      .select($"vec_id", $"pre_cos",
        round(VectorExprs.cosine($"embedding", $"qv"), 6).as("cos_sim"))
      .orderBy($"cos_sim".desc, $"vec_id")
      .limit(10) // exact full-dimension rerank
  }

  /** Binary (1-bit) quantized cosine top-k: candidates by smallest
    * Hamming distance between packed sign sketches (Quantize.signBits —
    * a 64-dim vector in two 32-bit lanes, a 32× byte reduction over the
    * float scan), top-20 survivors re-ranked by exact cosine. The
    * fourth storage tier next to float (q22), int8 (q70), and prefix
    * dims (q84); all ranks tie-broken by id and replayed by the
    * oracle. */
  def binaryHammingTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, dir).filter($"vec_id" =!= 0)
      .crossJoin(broadcast(queryVec(s, dir)))
      .select($"vec_id", $"embedding", $"qv",
        Quantize.hamming(
          Quantize.signBits($"embedding", 64),
          Quantize.signBits($"qv", 64)).as("hamming"))
      .orderBy($"hamming".asc, $"vec_id")
      .limit(20) // 1-bit candidate cut
      .select($"vec_id", $"hamming",
        round(VectorExprs.cosine($"embedding", $"qv"), 6).as("cos_sim"))
      .orderBy($"cos_sim".desc, $"vec_id")
      .limit(10) // exact float rerank
  }

  private val dotSum =
    "SUM(CAST(e.embedding[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE))"

  /** Shared DuckDB re-derivation of Similarity.withBuckets: CTEs
    * `pl(t, p, d, w) → vm → dots → buck(vec_id, t, bucket)` for the given
    * SRP geometry. The plane weights come from the same
    * Similarity.planesInt the engine uses (inlined as a VALUES table) and
    * the bucket bits are integer dot signs over micro-quantized vectors —
    * exact on any engine. Used by the q35 ANN oracle here and the q34
    * bucketed-near-dup oracle in PipelineQueries. */
  private[graft] def srpBucketCtes(numPlanes: Int, dim: Int,
      numTables: Int, seed: Long = 42L): String = {
    val rows = (for {
      t <- 0 until numTables
      ps = graft.ops.Similarity.planesInt(numPlanes, dim, seed + 1000L * t)
      p <- 0 until numPlanes
      d <- 0 until dim
    } yield s"($t,$p,$d,${ps(p)(d)})").grouped(16).map(_.mkString(",")).mkString(",\n  ")
    s"""pl(t, p, d, w) AS (VALUES
       |  $rows),
       |vm AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS vm
       |  FROM embeddings),
       |dots AS (
       |  SELECT v.vec_id, pl.t, pl.p, SUM(pl.w * v.vm[pl.d + 1]) AS dot
       |  FROM vm v, pl GROUP BY 1, 2, 3),
       |buck AS (
       |  SELECT vec_id, t,
       |    CAST(SUM(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << p) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
       |  FROM dots GROUP BY 1, 2)""".stripMargin
  }

  /** DuckDB re-derivation of q35's SRP-LSH: buckets from [[srpBucketCtes]],
    * multiprobe expansion, and a final rank on the 6-dp-rounded cosine with
    * vec_id tie-break — matching Similarity.lshBucketTopK's window exactly. */
  private def annLshOracle: String = {
    val numPlanes = 6; val dim = 64; val numTables = 4
    s"""WITH ${srpBucketCtes(numPlanes, dim, numTables)},
       |qprobe AS (
       |  SELECT vec_id AS q_id, t,
       |    unnest(list_prepend(bucket, list_transform(generate_series(0, ${numPlanes - 1}),
       |      i -> xor(bucket, CAST(1 AS BIGINT) << i)))) AS bucket
       |  FROM buck WHERE vec_id < 3),
       |cand AS (
       |  SELECT DISTINCT q.q_id, c.vec_id AS n_id
       |  FROM qprobe q JOIN buck c ON q.t = c.t AND q.bucket = c.bucket
       |  WHERE c.vec_id >= 3),
       |sims AS (
       |  SELECT cand.q_id, cand.n_id,
       |    ROUND(SUM(CAST(a.embedding[i.i] AS DOUBLE) * CAST(b.embedding[i.i] AS DOUBLE)) /
       |      (SQRT(SUM(CAST(a.embedding[i.i] AS DOUBLE) * CAST(a.embedding[i.i] AS DOUBLE))) *
       |       SQRT(SUM(CAST(b.embedding[i.i] AS DOUBLE) * CAST(b.embedding[i.i] AS DOUBLE)))), 6) AS sim
       |  FROM cand
       |  JOIN embeddings a ON a.vec_id = cand.n_id
       |  JOIN embeddings b ON b.vec_id = cand.q_id,
       |  generate_series(1, $dim) i(i)
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT q_id, n_id, sim,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS BIGINT) AS rnk
       |  FROM sims)
       |SELECT q_id, n_id, sim, rnk FROM ranked WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin
  }

  /** DuckDB re-derivation of q52's IVF ANN *including the k-means
    * training*: unit-normalize, init = nc rows with smallest md5(id||'_42')
    * (Ivf.train's portable init), two unrolled Lloyd rounds with integer
    * micro-quantized centroid sums (Ivf's order-independent arithmetic),
    * then cell assignment, nprobe probing, and the rounded-cosine top-k.
    * Works because every training step was made deterministic and
    * engine-portable — the only float arithmetic (unit norm, distances)
    * is compared after sqrt exactly as the Spark kernels compute it. */
  /** Reusable k-means-replay CTE block (the q52 training oracle,
    * factored for q94/q99): emits `${p}vm` (vec_id, u = the trained
    * representation of `vecExpr`), `${p}c0..c$iters` (centroid tables)
    * and `${p}cdist` (per-row distance to every FINAL centroid — callers
    * derive assignments/probes from it). `trainPred` renders the
    * training-membership predicate given a table qualifier; `unitNorm`
    * false trains raw-L2 k-means (the PQ sub-codebook case). Mirrors
    * [[graft.ops.Ivf.train]] step for step: md5(id||'_seed') init,
    * micro-integer centroid sums, argmin ties by cell index. */
  private[graft] def kmeansCtes(p: String, vecExpr: String, dim: Int,
      nc: Int, seed: Long, trainPred: String => String,
      unitNorm: Boolean, iters: Int = 2): String = {
    val micro = graft.ops.Ivf.Micro
    val uDef =
      if (unitNorm)
        s"""(SELECT vec_id,
           |    CASE WHEN nrm = 0 THEN raw
           |         ELSE list_transform(raw, x -> CAST(CAST(x AS DOUBLE) / nrm AS FLOAT)) END AS u
           |  FROM (
           |    SELECT vec_id, $vecExpr AS raw,
           |      sqrt(list_sum(list_transform($vecExpr, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
           |    FROM embeddings) t)""".stripMargin
      else
        s"(SELECT vec_id, $vecExpr AS u FROM embeddings)"
    def lloyd(r: Int): String =
      s"""${p}dist$r AS (
         |  SELECT v.vec_id, c.cell,
         |    sqrt(SUM(power(CAST(v.u[c.d + 1] AS DOUBLE) - CAST(c.val AS DOUBLE), 2))) AS dist
         |  FROM ${p}vm v, ${p}c${r - 1} c
         |  WHERE ${trainPred("v")}
         |  GROUP BY 1, 2),
         |${p}a$r AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
         |    FROM ${p}dist$r) t WHERE rn = 1),
         |${p}s$r AS (
         |  SELECT a.cell, d.d AS d,
         |    SUM(CAST(round(CAST(v.u[d.d + 1] AS DOUBLE) * $micro) AS BIGINT)) AS sm,
         |    COUNT(*) AS cnt
         |  FROM ${p}a$r a JOIN ${p}vm v USING (vec_id), generate_series(0, ${dim - 1}) d(d)
         |  GROUP BY 1, 2),
         |${p}c$r AS (
         |  SELECT pc.cell, pc.d,
         |    COALESCE(CAST(s.sm / ($micro.0 * s.cnt) AS FLOAT), pc.val) AS val
         |  FROM ${p}c${r - 1} pc LEFT JOIN ${p}s$r s ON pc.cell = s.cell AND pc.d = s.d)""".stripMargin
    s"""${p}vm AS $uDef,
       |${p}init AS (
       |  SELECT ROW_NUMBER() OVER (ORDER BY h) - 1 AS cell, u
       |  FROM (
       |    SELECT u, md5(concat(CAST(vec_id AS VARCHAR), '_$seed')) AS h
       |    FROM ${p}vm v WHERE ${trainPred("v")}
       |    ORDER BY h LIMIT $nc) s),
       |${p}c0 AS (
       |  SELECT cell, d.d AS d, CAST(u[d.d + 1] AS FLOAT) AS val
       |  FROM ${p}init, generate_series(0, ${dim - 1}) d(d)),
       |${(1 to iters).map(lloyd).mkString(",\n")},
       |${p}cdist AS (
       |  SELECT v.vec_id, c.cell,
       |    sqrt(SUM(power(CAST(v.u[c.d + 1] AS DOUBLE) - CAST(c.val AS DOUBLE), 2))) AS dist
       |  FROM ${p}vm v, ${p}c$iters c
       |  GROUP BY 1, 2)""".stripMargin
  }

  private def annIvfOracle: String = annIvfOracleWith(q => s"$q.vec_id >= 3")

  /** The q52 IVF oracle with a pluggable training predicate: q111 reuses
    * the identical assign/probe/rank replay but trains on the historical
    * slice only — which IS the append semantics, since appended rows are
    * assigned under the frozen model exactly like training-corpus rows.
    * `cellsPred` additionally restricts the INDEXED corpus — the q191
    * time-travel entry replays the pre-append snapshot (train AND cells
    * both historic). */
  private def annIvfOracleWith(trainPred: String => String,
      cellsPred: String = "vec_id >= 3"): String =
    s"""WITH ${annIvfCtes(trainPred, cellsPred)}
       |SELECT q_id, n_id, sim, rnk FROM ranked WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin

  /** The q52 CTE chain through `ranked` (IVF-approximate per-query
    * ranking), shared with the q152 recall audit. */
  private def annIvfCtes(trainPred: String => String,
      cellsPred: String = "vec_id >= 3"): String = {
    val dim = 64; val nc = 16; val nprobe = 6
    s"""${kmeansCtes("", "embedding", dim, nc, 42L, trainPred, unitNorm = true)},
       |cells AS (
       |  SELECT vec_id AS n_id, cell FROM (
       |    SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
       |    FROM cdist WHERE $cellsPred) t WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS q_id, cell FROM (
       |    SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
       |    FROM cdist WHERE vec_id < 3) t WHERE rn <= $nprobe),
       |cand AS (
       |  SELECT DISTINCT p.q_id, c.n_id FROM probes p JOIN cells c USING (cell)),
       |sims AS (
       |  SELECT cand.q_id, cand.n_id,
       |    ROUND(SUM(CAST(a.embedding[i.i] AS DOUBLE) * CAST(b.embedding[i.i] AS DOUBLE)) /
       |      (SQRT(SUM(CAST(a.embedding[i.i] AS DOUBLE) * CAST(a.embedding[i.i] AS DOUBLE))) *
       |       SQRT(SUM(CAST(b.embedding[i.i] AS DOUBLE) * CAST(b.embedding[i.i] AS DOUBLE)))), 6) AS sim
       |  FROM cand
       |  JOIN embeddings a ON a.vec_id = cand.n_id
       |  JOIN embeddings b ON b.vec_id = cand.q_id,
       |  generate_series(1, $dim) i(i)
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT q_id, n_id, sim,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS BIGINT) AS rnk
       |  FROM sims)""".stripMargin
  }

  /** DuckDB re-derivation of q99's product quantization: BOTH subspace
    * k-means trainings ([[kmeansCtes]], raw L2, seeds 42/142), the
    * corpus code assignment, and the per-query ADC = sum of subspace
    * distances, ranked on the 6-dp round with id tie-break. */
  private def pqAdcOracle: String = {
    def codes(p: String) =
      s"""${p}codes AS (
         |  SELECT vec_id AS n_id, cell FROM (
         |    SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
         |    FROM ${p}cdist WHERE vec_id >= 3) t WHERE rn = 1),
         |${p}qd AS (
         |  SELECT vec_id AS q_id, cell, dist FROM ${p}cdist WHERE vec_id < 3)""".stripMargin
    s"""WITH ${kmeansCtes("s0_", "embedding[1:32]", 32, 8, 42L, q => s"$q.vec_id >= 3", unitNorm = false)},
       |${kmeansCtes("s1_", "embedding[33:64]", 32, 8, 142L, q => s"$q.vec_id >= 3", unitNorm = false)},
       |${codes("s0_")},
       |${codes("s1_")},
       |adc AS (
       |  SELECT q0.q_id, c0.n_id, ROUND(q0.dist + q1.dist, 6) AS adc
       |  FROM s0_codes c0
       |  JOIN s1_codes c1 USING (n_id)
       |  JOIN s0_qd q0 ON q0.cell = c0.cell
       |  JOIN s1_qd q1 ON q1.cell = c1.cell AND q1.q_id = q0.q_id)
       |SELECT q_id, n_id, adc, rnk FROM (
       |  SELECT q_id, n_id, adc,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc, n_id) AS BIGINT) AS rnk
       |  FROM adc) r
       |WHERE rnk <= 5
       |ORDER BY q_id, rnk""".stripMargin
  }

  /** DuckDB re-derivation of the composed q107 stack: coarse k-means
    * cells + probes (q52's CTEs), both PQ trainings + codes + query
    * distances (q99's CTEs), the ADC shortlist rank, and the exact
    * rounded-cosine rerank — three replayed trainings in one query. */
  private def ivfPqOracle: String = {
    val nprobe = 6; val shortlist = 20; val k = 5
    def codes(p: String) =
      s"""${p}codes AS (
         |  SELECT vec_id AS n_id, cell FROM (
         |    SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
         |    FROM ${p}cdist WHERE vec_id >= 3) t WHERE rn = 1),
         |${p}qd AS (
         |  SELECT vec_id AS q_id, cell, dist FROM ${p}cdist WHERE vec_id < 3)""".stripMargin
    s"""WITH ${kmeansCtes("", "embedding", 64, 16, 42L, q => s"$q.vec_id >= 3", unitNorm = true)},
       |cells AS (
       |  SELECT vec_id AS n_id, cell FROM (
       |    SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
       |    FROM cdist WHERE vec_id >= 3) t WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS q_id, cell FROM (
       |    SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
       |    FROM cdist WHERE vec_id < 3) t WHERE rn <= $nprobe),
       |${kmeansCtes("s0_", "embedding[1:32]", 32, 8, 42L, q => s"$q.vec_id >= 3", unitNorm = false)},
       |${kmeansCtes("s1_", "embedding[33:64]", 32, 8, 142L, q => s"$q.vec_id >= 3", unitNorm = false)},
       |${codes("s0_")},
       |${codes("s1_")},
       |cand AS (
       |  SELECT p.q_id, c.n_id FROM probes p JOIN cells c USING (cell)),
       |adcs AS (
       |  SELECT cand.q_id, cand.n_id, ROUND(q0.dist + q1.dist, 6) AS adc
       |  FROM cand
       |  JOIN s0_codes c0 USING (n_id)
       |  JOIN s1_codes c1 USING (n_id)
       |  JOIN s0_qd q0 ON q0.q_id = cand.q_id AND q0.cell = c0.cell
       |  JOIN s1_qd q1 ON q1.q_id = cand.q_id AND q1.cell = c1.cell),
       |short AS (
       |  SELECT q_id, n_id, adc FROM (
       |    SELECT q_id, n_id, adc,
       |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc, n_id) AS arnk
       |    FROM adcs) t WHERE arnk <= $shortlist),
       |sims AS (
       |  SELECT s.q_id, s.n_id, s.adc,
       |    ROUND(SUM(CAST(a.embedding[i.i] AS DOUBLE) * CAST(b.embedding[i.i] AS DOUBLE)) /
       |      (SQRT(SUM(CAST(a.embedding[i.i] AS DOUBLE) * CAST(a.embedding[i.i] AS DOUBLE))) *
       |       SQRT(SUM(CAST(b.embedding[i.i] AS DOUBLE) * CAST(b.embedding[i.i] AS DOUBLE)))), 6) AS sim
       |  FROM short s
       |  JOIN embeddings a ON a.vec_id = s.n_id
       |  JOIN embeddings b ON b.vec_id = s.q_id,
       |  generate_series(1, 64) i(i)
       |  GROUP BY 1, 2, 3)
       |SELECT q_id, n_id, adc, sim, rnk FROM (
       |  SELECT q_id, n_id, adc, sim,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS BIGINT) AS rnk
       |  FROM sims) r
       |WHERE rnk <= $k
       |ORDER BY q_id, rnk""".stripMargin
  }

  /** Shared DuckDB replay of the q173 two-component deflation chain —
    * all CTEs up to (v5_1, ray_1, sh_1, r_1, v5_2, ray_2, sh_2, r_2),
    * heavily MATERIALIZED so DuckDB does not exponentially inline the
    * chain (each inlined reference re-opens the parquet). q173 appends
    * the loading ranking; q174 appends the corpus projection. */
  private lazy val spectralDeflateCtes: String = {
    def iterCtes(s: String, mat: String) = (1 to 5).map { i =>
      s"""w$i$s AS MATERIALIZED (
         |  SELECT m.p, SUM(m.av * v${i - 1}$s.v) AS w
         |  FROM $mat m JOIN v${i - 1}$s ON m.q = v${i - 1}$s.p GROUP BY 1),
         |mx$i$s AS MATERIALIZED (SELECT MAX(ABS(w)) AS m FROM w$i$s),
         |v$i$s AS MATERIALIZED (
         |  SELECT p, CAST(round(CAST(w AS DOUBLE) / CAST(m AS DOUBLE) * 1000000.0) AS BIGINT) AS v
         |  FROM w$i$s, mx$i$s)""".stripMargin
    }.mkString(",\n")
    def tail(s: String, mat: String) =
      s"""w6$s AS MATERIALIZED (
         |  SELECT m.p, SUM(m.av * v5$s.v) AS w
         |  FROM $mat m JOIN v5$s ON m.q = v5$s.p GROUP BY 1),
         |ray$s AS MATERIALIZED (
         |  SELECT SUM(v5$s.v * w6$s.w) AS num, SUM(v5$s.v * v5$s.v) AS den
         |  FROM v5$s JOIN w6$s USING (p)),
         |sh$s AS (
         |  SELECT ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / CAST(tr AS DOUBLE), 6) AS ev_share
         |  FROM ray$s, trc),
         |r$s AS (
         |  SELECT p, v, ROW_NUMBER() OVER (ORDER BY ABS(v) DESC, p) AS rnk FROM v5$s)""".stripMargin
    s"""WITH vmx AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS vm
       |  FROM embeddings),
       |pr AS (
       |  SELECT p.p AS p, q.q AS q, vm[p.p + 1] * vm[q.q + 1] AS prod
       |  FROM vmx, generate_series(0, 63) p(p), generate_series(0, 63) q(q)
       |  WHERE q.q >= p.p),
       |sxyt AS MATERIALIZED (SELECT p, q, SUM(prod) AS sxy FROM pr GROUP BY 1, 2),
       |sxy AS MATERIALIZED (
       |  SELECT p, q, sxy FROM sxyt
       |  UNION ALL
       |  SELECT q, p, sxy FROM sxyt WHERE p <> q),
       |sxs AS MATERIALIZED (
       |  SELECT p.p AS p, SUM(vm[p.p + 1]) AS sx
       |  FROM vmx, generate_series(0, 63) p(p) GROUP BY 1),
       |nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM vmx),
       |araw AS MATERIALIZED (
       |  SELECT sxy.p, sxy.q, nn.n * sxy.sxy - a.sx * b.sx AS araw
       |  FROM sxy JOIN sxs a ON a.p = sxy.p JOIN sxs b ON b.p = sxy.q, nn),
       |maxa AS MATERIALIZED (SELECT MAX(ABS(araw)) AS ma FROM araw),
       |a1 AS MATERIALIZED (
       |  SELECT p, q, CAST(round(CAST(araw AS DOUBLE) / CAST(ma AS DOUBLE) * 1000000.0) AS BIGINT) AS av
       |  FROM araw, maxa),
       |trc AS MATERIALIZED (SELECT SUM(av) AS tr FROM a1 WHERE p = q),
       |v0_1 AS MATERIALIZED (SELECT t.p AS p, CAST(1000000 AS BIGINT) AS v FROM generate_series(0, 63) t(p)),
       |${iterCtes("_1", "a1")},
       |${tail("_1", "a1")},
       |a2 AS MATERIALIZED (
       |  SELECT x.p, x.q,
       |    x.av - CAST(round(CAST(r.num AS DOUBLE) / CAST(r.den AS DOUBLE) * CAST(vp.v AS DOUBLE) * CAST(vq.v AS DOUBLE) / CAST(r.den AS DOUBLE)) AS BIGINT) AS av
       |  FROM a1 x JOIN v5_1 vp ON vp.p = x.p JOIN v5_1 vq ON vq.p = x.q, ray_1 r),
       |v0_2 AS MATERIALIZED (SELECT t.p AS p, CAST(1000000 AS BIGINT) AS v FROM generate_series(0, 63) t(p)),
       |${iterCtes("_2", "a2")},
       |${tail("_2", "a2")}""".stripMargin
  }

  val all: Seq[Query] = Seq(
    // q280: full exact k-NN graph (6-dp cosine, n_id tie-break),
    // occurrence counts incl. zeros, then the q277 moment replay
    Query("q280_hubness", hubnessAudit,
      """WITH p AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |    SUM(CAST(c.embedding[i.i] AS DOUBLE) * CAST(q.embedding[i.i] AS DOUBLE)) AS dp,
        |    SUM(CAST(c.embedding[i.i] AS DOUBLE) * CAST(c.embedding[i.i] AS DOUBLE)) AS na,
        |    SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(q.embedding[i.i] AS DOUBLE)) AS nb
        |  FROM embeddings q, embeddings c, generate_series(1, 64) i(i)
        |  WHERE q.vec_id <> c.vec_id
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT q_id, n_id,
        |    ROUND(CASE WHEN na = 0 OR nb = 0 THEN 0
        |      ELSE dp / (SQRT(na) * SQRT(nb)) END, 6) AS sim
        |  FROM p),
        |rk AS (
        |  SELECT q_id, n_id,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rnk
        |  FROM r),
        |oc AS (SELECT n_id, CAST(COUNT(*) AS BIGINT) AS o
        |  FROM rk WHERE rnk <= 10 GROUP BY 1),
        |occ AS (
        |  SELECT e.vec_id, CAST(COALESCE(oc.o, 0) AS BIGINT) AS occ
        |  FROM embeddings e LEFT JOIN oc ON e.vec_id = oc.n_id),
        |v AS (SELECT CAST(round(CAST(occ AS DOUBLE) * 1e3) AS BIGINT) AS v
        |  FROM occ),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(round(CAST(SUM(CAST(v AS HUGEINT)) AS DOUBLE) /
        |      CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS mh
        |  FROM v),
        |c2 AS (
        |  SELECT n, mh,
        |    SUM(CAST(v - mh AS HUGEINT) * (v - mh)) AS m2,
        |    SUM(CAST(v - mh AS HUGEINT) * (v - mh) * (v - mh)) AS m3,
        |    SUM(CAST(v - mh AS HUGEINT) * (v - mh) * (v - mh) * (v - mh)) AS m4
        |  FROM v, m GROUP BY 1, 2),
        |f AS (
        |  SELECT n, mh, m2,
        |    (CAST(m3 AS DOUBLE) / CAST(n AS DOUBLE)) /
        |      sqrt((CAST(m2 AS DOUBLE) / CAST(n AS DOUBLE)) *
        |        (CAST(m2 AS DOUBLE) / CAST(n AS DOUBLE)) *
        |        (CAST(m2 AS DOUBLE) / CAST(n AS DOUBLE))) AS g1,
        |    (CAST(m4 AS DOUBLE) / CAST(n AS DOUBLE)) /
        |      ((CAST(m2 AS DOUBLE) / CAST(n AS DOUBLE)) *
        |       (CAST(m2 AS DOUBLE) / CAST(n AS DOUBLE))) - 3.0 AS g2
        |  FROM c2),
        |ex AS (
        |  SELECT CAST(MAX(occ) AS BIGINT) AS max_occ,
        |    CAST(COALESCE(SUM(CASE WHEN occ = 0 THEN 1 ELSE 0 END), 0)
        |      AS BIGINT) AS n_antihubs
        |  FROM occ)
        |SELECT n, CAST(10 AS BIGINT) AS k,
        |  ROUND(CAST(mh AS DOUBLE) / 1e3, 6) AS mean_occ,
        |  CASE WHEN m2 > 0 THEN ROUND(g1, 6) + 0.0
        |    ELSE CAST(0.0 AS DOUBLE) END AS skewness,
        |  CASE WHEN m2 > 0 THEN ROUND(g2, 6) + 0.0
        |    ELSE CAST(0.0 AS DOUBLE) END AS ex_kurtosis,
        |  max_occ, n_antihubs
        |FROM f, ex""".stripMargin),
    Query("q118_margin_mining", marginMining,
      """WITH p AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |    SUM(CAST(c.embedding[i.i] AS DOUBLE) * CAST(q.embedding[i.i] AS DOUBLE)) AS dp,
        |    SUM(CAST(c.embedding[i.i] AS DOUBLE) * CAST(c.embedding[i.i] AS DOUBLE)) AS na,
        |    SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(q.embedding[i.i] AS DOUBLE)) AS nb
        |  FROM embeddings q, embeddings c, generate_series(1, 64) i(i)
        |  WHERE q.vec_id < 10 AND c.vec_id >= 10
        |  GROUP BY 1, 2),
        |sm AS (
        |  SELECT q_id, n_id,
        |    CAST(ROUND((CASE WHEN na = 0 OR nb = 0 THEN 0
        |                     ELSE dp / (SQRT(na) * SQRT(nb)) END) * 1000000) AS BIGINT) AS sim_micro
        |  FROM p),
        |xk AS (
        |  SELECT q_id, SUM(sim_micro) AS xs FROM (
        |    SELECT q_id, sim_micro,
        |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim_micro DESC, n_id) AS r
        |    FROM sm) t WHERE r <= 8 GROUP BY 1),
        |yk AS (
        |  SELECT n_id, SUM(sim_micro) AS ys FROM (
        |    SELECT n_id, sim_micro,
        |      ROW_NUMBER() OVER (PARTITION BY n_id ORDER BY sim_micro DESC, q_id) AS r
        |    FROM sm) t WHERE r <= 4 GROUP BY 1)
        |SELECT s.q_id, s.n_id,
        |  CAST(s.sim_micro AS DOUBLE) / 1000000 AS cos_sim,
        |  ROUND(CAST(s.sim_micro AS DOUBLE) * 2.0 /
        |    (CAST(xk.xs AS DOUBLE) / 8.0 + CAST(yk.ys AS DOUBLE) / 4.0), 6) AS margin
        |FROM sm s JOIN xk USING (q_id) JOIN yk USING (n_id)
        |ORDER BY margin DESC, q_id, n_id
        |LIMIT 15""".stripMargin),
    Query("q169_embedding_drift", embeddingDrift,
      """WITH pe AS (
        |  SELECT vec_id % 2 AS snap, i.i - 1 AS pos,
        |    CAST(round(CAST(embedding[i.i] AS DOUBLE) * 1000000) AS BIGINT) AS vm
        |  FROM embeddings, generate_series(1, 64) i(i)),
        |cent AS (
        |  SELECT snap, pos,
        |    CAST(round(CAST(SUM(vm) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS cm
        |  FROM pe GROUP BY 1, 2),
        |j AS (
        |  SELECT a.pos, a.cm AS ca, b.cm AS cb, b.cm - a.cm AS dm
        |  FROM cent a JOIN cent b ON a.pos = b.pos AND a.snap = 0 AND b.snap = 1),
        |agg AS (
        |  SELECT
        |    ROUND(CAST(SUM(ca * cb) AS DOUBLE) /
        |      (sqrt(CAST(SUM(ca * ca) AS DOUBLE)) * sqrt(CAST(SUM(cb * cb) AS DOUBLE))), 6) AS centroid_cos,
        |    ROUND(sqrt(CAST(SUM(dm * dm) AS DOUBLE)) / 1000000.0, 6) AS centroid_l2_shift
        |  FROM j),
        |r AS (
        |  SELECT pos, dm, ROW_NUMBER() OVER (ORDER BY ABS(dm) DESC, pos) AS rnk FROM j)
        |SELECT CAST(rnk AS BIGINT) AS rnk, CAST(pos AS BIGINT) AS pos,
        |  ROUND(CAST(dm AS DOUBLE) / 1000000.0, 6) AS dim_shift,
        |  centroid_cos, centroid_l2_shift
        |FROM r, agg WHERE rnk <= 5 ORDER BY rnk""".stripMargin),
    Query("q166_pca_top", pcaTop, {
      // 5 unrolled power-iteration rounds over the integer-normalized
      // scaled covariance — mirrors Spectral.topComponent step for step
      val iterCtes = (1 to 5).map { i =>
        s"""w$i AS (
           |  SELECT a.p, SUM(a.av * v${i - 1}.v) AS w
           |  FROM a JOIN v${i - 1} ON a.q = v${i - 1}.p GROUP BY 1),
           |m$i AS (SELECT MAX(ABS(w)) AS m FROM w$i),
           |v$i AS (
           |  SELECT p, CAST(round(CAST(w AS DOUBLE) / CAST(m AS DOUBLE) * 1000000.0) AS BIGINT) AS v
           |  FROM w$i, m$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH vmx AS (
         |  SELECT vec_id, list_transform(embedding,
         |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS vm
         |  FROM embeddings),
         |pr AS (
         |  SELECT p.p AS p, q.q AS q, vm[p.p + 1] * vm[q.q + 1] AS prod
         |  FROM vmx, generate_series(0, 63) p(p), generate_series(0, 63) q(q)
         |  WHERE q.q >= p.p),
         |sxyt AS (SELECT p, q, SUM(prod) AS sxy FROM pr GROUP BY 1, 2),
         |sxy AS (
         |  SELECT p, q, sxy FROM sxyt
         |  UNION ALL
         |  SELECT q, p, sxy FROM sxyt WHERE p <> q),
         |sxs AS (
         |  SELECT p.p AS p, SUM(vm[p.p + 1]) AS sx
         |  FROM vmx, generate_series(0, 63) p(p) GROUP BY 1),
         |nn AS (SELECT COUNT(*) AS n FROM vmx),
         |araw AS (
         |  SELECT sxy.p, sxy.q, nn.n * sxy.sxy - a.sx * b.sx AS araw
         |  FROM sxy JOIN sxs a ON a.p = sxy.p JOIN sxs b ON b.p = sxy.q, nn),
         |ma AS (SELECT MAX(ABS(araw)) AS ma FROM araw),
         |a AS (
         |  SELECT p, q, CAST(round(CAST(araw AS DOUBLE) / CAST(ma AS DOUBLE) * 1000000.0) AS BIGINT) AS av
         |  FROM araw, ma),
         |v0 AS (SELECT t.p AS p, CAST(1000000 AS BIGINT) AS v FROM generate_series(0, 63) t(p)),
         |$iterCtes,
         |w6 AS (
         |  SELECT a.p, SUM(a.av * v5.v) AS w
         |  FROM a JOIN v5 ON a.q = v5.p GROUP BY 1),
         |ray AS (
         |  SELECT SUM(v5.v * w6.w) AS num, SUM(v5.v * v5.v) AS den
         |  FROM v5 JOIN w6 USING (p)),
         |trc AS (SELECT SUM(av) AS tr FROM a WHERE p = q),
         |sh AS (
         |  SELECT ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / CAST(tr AS DOUBLE), 6) AS ev_share
         |  FROM ray, trc),
         |r AS (
         |  SELECT p, v, ROW_NUMBER() OVER (ORDER BY ABS(v) DESC, p) AS rnk FROM v5)
         |SELECT CAST(rnk AS BIGINT) AS rnk, CAST(p AS BIGINT) AS pos,
         |  ROUND(CAST(v AS DOUBLE) / 1000000.0, 6) AS loading, ev_share
         |FROM r, sh WHERE rnk <= 8 ORDER BY rnk""".stripMargin
    }),
    Query("q173_pca_deflate", pcaDeflate,
      // q166's replay × 2 components: after the first eigenvector, the
      // matrix is deflated cell-by-cell with the SAME left-associated
      // double expression the Scala driver evaluates, then the second
      // component runs its own 5 unrolled rounds on the residual
      s"""$spectralDeflateCtes
         |SELECT comp, rnk, pos, loading, ev_share FROM (
         |  SELECT CAST(1 AS BIGINT) AS comp, CAST(r.rnk AS BIGINT) AS rnk,
         |    CAST(r.p AS BIGINT) AS pos,
         |    ROUND(CAST(r.v AS DOUBLE) / 1000000.0, 6) AS loading, s.ev_share
         |  FROM r_1 r, sh_1 s WHERE r.rnk <= 4
         |  UNION ALL
         |  SELECT CAST(2 AS BIGINT), CAST(r.rnk AS BIGINT), CAST(r.p AS BIGINT),
         |    ROUND(CAST(r.v AS DOUBLE) / 1000000.0, 6), s.ev_share
         |  FROM r_2 r, sh_2 s WHERE r.rnk <= 4)
         |ORDER BY comp, rnk""".stripMargin),

    Query("q174_pca_project", pcaProject,
      // the projection half: every corpus vector's exact-integer dot
      // with both recovered eigenvectors, squared-norm in HUGEINT, the
      // SAME fixed-order double r² and scaling as the Scala map-only
      // pass, global top-50 by the exact comp-1 projection (ties → id)
      s"""$spectralDeflateCtes,
         |v2s AS MATERIALIZED (
         |  SELECT (SELECT SUM(v * v) FROM v5_1) AS v2_1,
         |         (SELECT SUM(v * v) FROM v5_2) AS v2_2),
         |proj AS MATERIALIZED (
         |  SELECT x.vec_id,
         |    SUM(x.vm[g.p + 1] * a.v) AS d1,
         |    SUM(x.vm[g.p + 1] * b.v) AS d2,
         |    SUM(CAST(x.vm[g.p + 1] AS HUGEINT) * x.vm[g.p + 1]) AS n2
         |  FROM vmx x, generate_series(0, 63) g(p)
         |  JOIN v5_1 a ON a.p = g.p JOIN v5_2 b ON b.p = g.p
         |  GROUP BY x.vec_id
         |  HAVING SUM(CAST(x.vm[g.p + 1] AS HUGEINT) * x.vm[g.p + 1]) > 0)
         |SELECT vec_id,
         |  ROUND(CAST(d1 AS DOUBLE) / 1e12, 6) + 0.0 AS proj1,
         |  ROUND((CAST(d1 AS DOUBLE) * CAST(d1 AS DOUBLE)) /
         |    (CAST(n2 AS DOUBLE) * CAST(v2_1 AS DOUBLE)), 6) AS r2_1,
         |  ROUND(CAST(d2 AS DOUBLE) / 1e12, 6) + 0.0 AS proj2,
         |  ROUND((CAST(d2 AS DOUBLE) * CAST(d2 AS DOUBLE)) /
         |    (CAST(n2 AS DOUBLE) * CAST(v2_2 AS DOUBLE)), 6) AS r2_2
         |FROM proj, v2s
         |ORDER BY d1 DESC, vec_id LIMIT 50""".stripMargin),

    Query("q163_semantic_outliers", semanticOutliers,
      """WITH pe AS (
        |  SELECT d.lang, e.vec_id AS doc_id, i.i - 1 AS pos,
        |    CAST(round(CAST(e.embedding[i.i] AS DOUBLE) * 1000000) AS BIGINT) AS vm
        |  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id,
        |  generate_series(1, 64) i(i)),
        |cent AS (SELECT lang, pos, SUM(vm) AS sm FROM pe GROUP BY 1, 2),
        |parts AS (
        |  SELECT pe.lang, pe.doc_id,
        |    SUM(CAST(pe.vm AS DECIMAL(19,0)) * CAST(c.sm AS DECIMAL(19,0))) AS dot,
        |    SUM(CAST(pe.vm AS DECIMAL(19,0)) * CAST(pe.vm AS DECIMAL(19,0))) AS v2,
        |    SUM(CAST(c.sm AS DECIMAL(19,0)) * CAST(c.sm AS DECIMAL(19,0))) AS s2
        |  FROM pe JOIN cent c ON pe.lang = c.lang AND pe.pos = c.pos
        |  GROUP BY 1, 2),
        |cosv AS (
        |  SELECT lang, doc_id,
        |    CASE WHEN v2 = 0 OR s2 = 0 THEN 0
        |         ELSE CAST(round(CAST(dot AS DOUBLE) /
        |           (sqrt(CAST(v2 AS DOUBLE)) * sqrt(CAST(s2 AS DOUBLE))) * 1000000) AS BIGINT)
        |    END AS cm
        |  FROM parts),
        |r AS (
        |  SELECT lang, doc_id, cm,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cm, doc_id) AS rnk
        |  FROM cosv)
        |SELECT lang, CAST(rnk AS BIGINT) AS rnk, doc_id,
        |  ROUND(CAST(cm AS DOUBLE) / 1000000.0, 6) AS cos_centroid
        |FROM r WHERE rnk <= 5 ORDER BY lang, rnk""".stripMargin),
    Query("q155_semantic_decon", semanticDecontaminate,
      """WITH sims AS (
        |  SELECT c.vec_id, e.vec_id AS eval_id,
        |    ROUND(SUM(CAST(c.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE)) /
        |      (SQRT(SUM(CAST(c.embedding[i.i] AS DOUBLE) * CAST(c.embedding[i.i] AS DOUBLE))) *
        |       SQRT(SUM(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE)))), 6) AS cos_sim
        |  FROM embeddings c, embeddings e, generate_series(1, 64) i(i)
        |  WHERE c.vec_id >= 25 AND e.vec_id < 25
        |  GROUP BY 1, 2),
        |f AS (SELECT * FROM sims WHERE cos_sim >= 0.3),
        |r AS (
        |  SELECT f.*, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, eval_id) AS rn
        |  FROM f)
        |SELECT vec_id, eval_id, cos_sim FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin),
    Query("q156_knn_label_noise", knnLabelNoise,
      """WITH sims AS (
        |  SELECT p.vec_id AS q_id, p.label AS q_label, n.vec_id AS n_id, n.label AS n_label,
        |    ROUND(SUM(CAST(n.embedding[i.i] AS DOUBLE) * CAST(p.embedding[i.i] AS DOUBLE)) /
        |      (SQRT(SUM(CAST(n.embedding[i.i] AS DOUBLE) * CAST(n.embedding[i.i] AS DOUBLE))) *
        |       SQRT(SUM(CAST(p.embedding[i.i] AS DOUBLE) * CAST(p.embedding[i.i] AS DOUBLE)))), 6) AS sim
        |  FROM embeddings p, embeddings n, generate_series(1, 64) i(i)
        |  WHERE p.vec_id < 50 AND n.vec_id >= 50
        |  GROUP BY 1, 2, 3, 4),
        |top AS (
        |  SELECT q_id, q_label, n_label FROM (
        |    SELECT s.*, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn
        |    FROM sims s)
        |  WHERE rn <= 5),
        |vote AS (SELECT q_id, q_label, n_label, COUNT(*) AS n FROM top GROUP BY 1, 2, 3),
        |pred AS (
        |  SELECT q_id, q_label, n_label AS pred_label FROM (
        |    SELECT v.*, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY n DESC, n_label) AS vr
        |    FROM vote v)
        |  WHERE vr = 1)
        |SELECT q_label AS label, COUNT(*) AS n_probes,
        |  CAST(SUM(CASE WHEN pred_label = q_label THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
        |  ROUND(CAST(SUM(CASE WHEN pred_label = q_label THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS agree_rate
        |FROM pred GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("q35_ann_lsh", annLsh, annLshOracle),
    Query("q52_ann_ivf", annIvf, annIvfOracle),
    Query("q111_ivf_append", annIvfAppend,
      annIvfOracleWith(q => s"($q.vec_id >= 3 AND $q.vec_id < 400)")),
    Query("q191_ivf_time_travel", annIvfTimeTravel,
      annIvfOracleWith(q => s"($q.vec_id >= 3 AND $q.vec_id < 400)",
        cellsPred = "vec_id >= 3 AND vec_id < 400")),
    Query("q196_ann_rbo", annRboAudit, {
      val wts = graft.ops.RankMetrics.rboWeightsMicro(5, 0.9)
        .zipWithIndex.map { case (w, i) => s"(${i + 1}, CAST($w AS BIGINT))" }
        .mkString(", ")
      s"""WITH ${annIvfCtes(q => s"$q.vec_id >= 3")},
         |exd AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         |    ROUND(SUM(CAST(c.embedding[i.i] AS DOUBLE) * CAST(q.embedding[i.i] AS DOUBLE)) /
         |      (SQRT(SUM(CAST(c.embedding[i.i] AS DOUBLE) * CAST(c.embedding[i.i] AS DOUBLE))) *
         |       SQRT(SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(q.embedding[i.i] AS DOUBLE)))), 6) AS sim
         |  FROM embeddings q, embeddings c, generate_series(1, 64) i(i)
         |  WHERE q.vec_id < 3 AND c.vec_id >= 3
         |  GROUP BY 1, 2),
         |exr AS (
         |  SELECT q_id, n_id,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY sim DESC, n_id) AS BIGINT) AS rnk
         |  FROM exd),
         |a AS (SELECT q_id, n_id, rnk FROM ranked WHERE rnk <= 5),
         |b AS (SELECT q_id, n_id, rnk FROM exr WHERE rnk <= 5),
         |wts(m, w) AS (VALUES $wts),
         |j AS (
         |  SELECT a.q_id, GREATEST(a.rnk, b.rnk) AS m
         |  FROM a JOIN b USING (q_id, n_id)),
         |g AS (
         |  SELECT j.q_id, CAST(COUNT(*) AS BIGINT) AS n_common,
         |    CAST(SUM(w.w) AS BIGINT) AS wm
         |  FROM j JOIN wts w ON w.m = j.m GROUP BY 1),
         |qq AS (SELECT q_id FROM a UNION SELECT q_id FROM b)
         |SELECT qq.q_id, COALESCE(n_common, 0) AS n_common,
         |  ROUND(CAST(COALESCE(wm, 0) AS DOUBLE) / 1e6, 6) AS rbo
         |FROM qq LEFT JOIN g USING (q_id)
         |ORDER BY q_id""".stripMargin
    }),
    Query("q99_pq_adc", pqAdcTopK, pqAdcOracle),
    Query("q107_ivf_pq", ivfPqTopK, ivfPqOracle),
    Query("q104_label_cohesion", labelCohesion,
      """WITH pe AS (
        |  SELECT label, vec_id, i.i - 1 AS pos,
        |    CAST(round(CAST(embedding[i.i] AS DOUBLE) * 1000000) AS BIGINT) AS vm
        |  FROM embeddings, generate_series(1, 64) i(i)),
        |cent AS (SELECT label, pos, SUM(vm) AS sm FROM pe GROUP BY 1, 2),
        |parts AS (
        |  SELECT pe.label, pe.vec_id,
        |    SUM(pe.vm * c.sm) AS dot,
        |    SUM(pe.vm * pe.vm) AS v2,
        |    SUM(c.sm * c.sm) AS s2
        |  FROM pe JOIN cent c ON pe.label = c.label AND pe.pos = c.pos
        |  GROUP BY 1, 2),
        |cosv AS (
        |  SELECT label, vec_id,
        |    CASE WHEN v2 = 0 OR s2 = 0 THEN 0
        |         ELSE CAST(round(CAST(dot AS DOUBLE) /
        |           (sqrt(CAST(v2 AS DOUBLE)) * sqrt(CAST(s2 AS DOUBLE))) * 1000000) AS BIGINT)
        |    END AS cm
        |  FROM parts)
        |SELECT label, COUNT(*) AS n_vecs,
        |  ROUND(CAST(SUM(cm) AS DOUBLE) / (COUNT(*) * 1000000.0), 6) AS avg_cos,
        |  CAST(MIN(cm) AS DOUBLE) / 1000000.0 AS min_cos
        |FROM cosv
        |GROUP BY label
        |ORDER BY label""".stripMargin),
    // q88: sign-bit sketches in 32-bit lanes, Hamming candidate cut,
    // exact rerank — DuckDB packs and pops the identical bits
    Query("q88_binary_hamming", binaryHammingTopK, {
      def lanes(src: String) = (0 until 2).map { l =>
        s"CAST(list_sum(list_transform(generate_series(0, 31), " +
          s"j -> CASE WHEN $src[${32 * l} + j + 1] > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT)"
      }.mkString(", ")
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |sk AS (
         |  SELECT e.vec_id, e.embedding, q.qv,
         |    [${lanes("e.embedding")}] AS eb,
         |    [${lanes("q.qv")}] AS qb
         |  FROM embeddings e, q WHERE e.vec_id <> 0),
         |hm AS (
         |  SELECT vec_id, embedding, qv,
         |    CAST(bit_count(xor(eb[1], qb[1])) + bit_count(xor(eb[2], qb[2])) AS BIGINT) AS hamming
         |  FROM sk
         |  ORDER BY hamming ASC, vec_id
         |  LIMIT 20),
         |rr AS (
         |  SELECT h.vec_id, h.hamming,
         |    SUM(CAST(h.embedding[i.i] AS DOUBLE) * CAST(h.qv[i.i] AS DOUBLE)) AS dp,
         |    SUM(CAST(h.embedding[i.i] AS DOUBLE) * CAST(h.embedding[i.i] AS DOUBLE)) AS na,
         |    SUM(CAST(h.qv[i.i] AS DOUBLE) * CAST(h.qv[i.i] AS DOUBLE)) AS nb
         |  FROM hm h, generate_series(1, 64) i(i)
         |  GROUP BY 1, 2)
         |SELECT vec_id, hamming,
         |  ROUND(CASE WHEN na = 0 OR nb = 0 THEN 0 ELSE dp / (SQRT(na) * SQRT(nb)) END, 6) AS cos_sim
         |FROM rr
         |ORDER BY cos_sim DESC, vec_id
         |LIMIT 10""".stripMargin
    }),
    // q84: prefix-dim candidate cut (dims 1..16, rounded cosine, id
    // tie-break) then exact 64-dim rerank — both phases replayed
    Query("q84_matryoshka_topk", matryoshkaTopK,
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |ps AS (
        |  SELECT e.vec_id, e.embedding, q.qv,
        |    SUM(CAST(e.embedding[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE)) AS dp,
        |    SUM(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE)) AS na,
        |    SUM(CAST(q.qv[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE)) AS nb
        |  FROM embeddings e, q, generate_series(1, 16) i(i)
        |  WHERE e.vec_id <> 0
        |  GROUP BY e.vec_id, e.embedding, q.qv),
        |pre AS (
        |  SELECT vec_id, embedding, qv,
        |    ROUND(CASE WHEN na = 0 OR nb = 0 THEN 0 ELSE dp / (SQRT(na) * SQRT(nb)) END, 6) AS pre_cos
        |  FROM ps
        |  ORDER BY pre_cos DESC, vec_id
        |  LIMIT 20),
        |rr AS (
        |  SELECT p.vec_id, p.pre_cos,
        |    SUM(CAST(p.embedding[i.i] AS DOUBLE) * CAST(p.qv[i.i] AS DOUBLE)) AS dp,
        |    SUM(CAST(p.embedding[i.i] AS DOUBLE) * CAST(p.embedding[i.i] AS DOUBLE)) AS na,
        |    SUM(CAST(p.qv[i.i] AS DOUBLE) * CAST(p.qv[i.i] AS DOUBLE)) AS nb
        |  FROM pre p, generate_series(1, 64) i(i)
        |  GROUP BY 1, 2)
        |SELECT vec_id, pre_cos,
        |  ROUND(CASE WHEN na = 0 OR nb = 0 THEN 0 ELSE dp / (SQRT(na) * SQRT(nb)) END, 6) AS cos_sim
        |FROM rr
        |ORDER BY cos_sim DESC, vec_id
        |LIMIT 10""".stripMargin),
    // q70: DuckDB replays int8 quantization (round ties-away-from-zero),
    // the integer dot + norms, the top-20 approximate cut, and the exact
    // float rerank — every step portable arithmetic (see ops.Quantize)
    Query("q70_sq_topk", sqTopK,
      """WITH base AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
        |  FROM embeddings),
        |qz AS (
        |  SELECT vec_id, embedding,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) *
        |             (CASE WHEN mx > 0 THEN 127.0 / mx ELSE 1.0 END)) AS BIGINT)) AS q8
        |  FROM base),
        |n AS (
        |  SELECT vec_id, embedding, q8,
        |    CAST(list_sum(list_transform(q8, v -> v * v)) AS BIGINT) AS n2
        |  FROM qz),
        |qv AS (SELECT q8 AS qq8, n2 AS qn2, embedding AS qemb FROM n WHERE vec_id = 0),
        |sc AS (
        |  SELECT c.vec_id, c.embedding, q.qemb,
        |    CAST(list_sum(list_transform(generate_series(1, len(c.q8)),
        |      i -> c.q8[i] * q.qq8[i])) AS BIGINT) AS qdot,
        |    c.n2 * q.qn2 AS np
        |  FROM n c, qv q WHERE c.vec_id <> 0),
        |cand AS (
        |  SELECT vec_id, embedding, qemb,
        |    ROUND(CASE WHEN np > 0 THEN CAST(qdot AS DOUBLE) / SQRT(CAST(np AS DOUBLE))
        |               ELSE 0.0 END, 6) AS q_cos
        |  FROM sc
        |  ORDER BY q_cos DESC, vec_id
        |  LIMIT 20),
        |rr AS (
        |  SELECT c.vec_id, c.q_cos,
        |    SUM(CAST(c.embedding[i.i] AS DOUBLE) * CAST(c.qemb[i.i] AS DOUBLE)) AS dp,
        |    SUM(CAST(c.embedding[i.i] AS DOUBLE) * CAST(c.embedding[i.i] AS DOUBLE)) AS na,
        |    SUM(CAST(c.qemb[i.i] AS DOUBLE) * CAST(c.qemb[i.i] AS DOUBLE)) AS nb
        |  FROM cand c, generate_series(1, 64) i(i)
        |  GROUP BY 1, 2)
        |SELECT vec_id, q_cos,
        |  ROUND(CASE WHEN na = 0 OR nb = 0 THEN 0 ELSE dp / (SQRT(na) * SQRT(nb)) END, 6) AS cos_sim
        |FROM rr
        |ORDER BY cos_sim DESC, vec_id
        |LIMIT 10""".stripMargin),
    Query("q20_vec_dot_topk", dotTopK,
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id, ROUND($dotSum, 6) AS dot_sim
         |FROM embeddings e, q, generate_series(1, 64) i(i)
         |WHERE e.vec_id <> 0
         |GROUP BY e.vec_id
         |ORDER BY dot_sim DESC, vec_id
         |LIMIT 20""".stripMargin),
    Query("q21_vec_l2_knn", l2TopK,
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        |  ROUND(SQRT(SUM((CAST(e.embedding[i.i] AS DOUBLE) - CAST(q.qv[i.i] AS DOUBLE))
        |                * (CAST(e.embedding[i.i] AS DOUBLE) - CAST(q.qv[i.i] AS DOUBLE)))), 6) AS l2_dist
        |FROM embeddings e, q, generate_series(1, 64) i(i)
        |WHERE e.vec_id <> 0
        |GROUP BY e.vec_id
        |ORDER BY l2_dist ASC, vec_id
        |LIMIT 10""".stripMargin),
    Query("q22_vec_cosine_topk", cosineTopK,
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id, ROUND(CASE WHEN na = 0 OR nb = 0 THEN 0 ELSE dp / (SQRT(na) * SQRT(nb)) END, 6) AS cos_sim
        |FROM (
        |  SELECT e.vec_id,
        |    SUM(CAST(e.embedding[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE)) AS dp,
        |    SUM(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE)) AS na,
        |    SUM(CAST(q.qv[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE)) AS nb
        |  FROM embeddings e, q, generate_series(1, 64) i(i)
        |  WHERE e.vec_id <> 0
        |  GROUP BY e.vec_id) t
        |ORDER BY cos_sim DESC, vec_id
        |LIMIT 20""".stripMargin),
    Query("q23_vec_knn_join", knnJoin,
      """WITH p AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |    SUM(CAST(c.embedding[i.i] AS DOUBLE) * CAST(q.embedding[i.i] AS DOUBLE)) AS dp,
        |    SUM(CAST(c.embedding[i.i] AS DOUBLE) * CAST(c.embedding[i.i] AS DOUBLE)) AS na,
        |    SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(q.embedding[i.i] AS DOUBLE)) AS nb
        |  FROM embeddings q, embeddings c, generate_series(1, 64) i(i)
        |  WHERE q.vec_id < 5 AND c.label = 1 AND c.vec_id >= 5
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT q_id, n_id,
        |    ROUND(CASE WHEN na = 0 OR nb = 0 THEN 0 ELSE dp / (SQRT(na) * SQRT(nb)) END, 6) AS sim
        |  FROM p),
        |rk AS (
        |  SELECT q_id, n_id, sim,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rnk
        |  FROM r)
        |SELECT q_id, n_id, sim, rnk FROM rk WHERE rnk <= 3
        |ORDER BY q_id, rnk""".stripMargin),
    Query("q26_meta_array_filter", metaArrayFilter,
      """SELECT doc_id, lang, n_chars
        |FROM documents
        |WHERE n_chars >= 150 AND n_chars < 400 AND lang IN ('en', 'fr')
        |ORDER BY doc_id""".stripMargin),
    Query("q25_label_centroids", labelCentroids,
      """SELECT label, i.i - 1 AS pos, COUNT(*) AS n,
        |  ROUND(AVG(CAST(embedding[i.i] AS DOUBLE)), 5) AS centroid_v
        |FROM embeddings, generate_series(1, 64) i(i)
        |GROUP BY 1, 2
        |ORDER BY label, pos""".stripMargin),
    Query("q24_meta_filter_cosine", metaFilterCosine,
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |j AS (
         |  SELECT d.doc_id, d.lang, d.n_chars,
         |    ROUND($dotSum, 6) AS sim
         |  FROM documents d
         |  JOIN embeddings e ON d.doc_id = e.vec_id, q, generate_series(1, 64) i(i)
         |  WHERE d.n_chars > 200 AND d.lang = 'en'
         |  GROUP BY d.doc_id, d.lang, d.n_chars)
         |SELECT doc_id, lang, n_chars, sim FROM j
         |WHERE sim > 0
         |ORDER BY sim DESC, doc_id
         |LIMIT 10""".stripMargin),

    Query("q152_ivf_recall", ivfRecallAudit,
      s"""WITH ${annIvfCtes(q => s"$q.vec_id >= 3")},
         |exact AS (
         |  SELECT b.vec_id AS q_id, a.vec_id AS n_id,
         |    ROUND(SUM(CAST(a.embedding[i.i] AS DOUBLE) * CAST(b.embedding[i.i] AS DOUBLE)) /
         |      (SQRT(SUM(CAST(a.embedding[i.i] AS DOUBLE) * CAST(a.embedding[i.i] AS DOUBLE))) *
         |       SQRT(SUM(CAST(b.embedding[i.i] AS DOUBLE) * CAST(b.embedding[i.i] AS DOUBLE)))), 6) AS sim
         |  FROM embeddings a, embeddings b, generate_series(1, 64) i(i)
         |  WHERE a.vec_id >= 3 AND b.vec_id < 3
         |  GROUP BY 1, 2),
         |etop AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id,
         |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn
         |    FROM exact) t WHERE rn <= 5),
         |itop AS (SELECT q_id, n_id FROM ranked WHERE rnk <= 5),
         |h AS (
         |  SELECT e.q_id, CAST(COUNT(*) AS BIGINT) AS n_hits
         |  FROM etop e JOIN itop i ON e.q_id = i.q_id AND e.n_id = i.n_id
         |  GROUP BY 1)
         |SELECT g.q_id, COALESCE(h.n_hits, 0) AS n_hits,
         |  ROUND(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / 5.0, 6) AS recall_at_5
         |FROM (SELECT DISTINCT q_id FROM etop) g LEFT JOIN h USING (q_id)
         |ORDER BY g.q_id""".stripMargin))
}
