package graft

import graft.ops.{Chunking, Curation, Decontaminate, Dedup, Multimodal, QualityModel, Sampling, Similarity, SnapshotCache, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Pin._

/** LLM-data-pipeline operators over the `documents`/`embeddings` testdata:
  * dedup (exact / MinHash / SimHash / n-gram Jaccard / embedding cosine),
  * text analysis (tokens, quality, language-ID, fingerprints) — the
  * north-star extension surface (BASELINE.json; absent from the reference,
  * SURVEY.md §2.3).
  *
  * Oracle notes: every query here carries a DuckDB oracle. The
  * MinHash/SimHash sketches hash with a portable polynomial code-point
  * fold (graft.expr.DedupKernel — base 131/137 mod 2³¹−1), so the oracle
  * recomputes signatures, fingerprints, LSH candidate pairs and even the
  * transitive dedup clusters (recursive CTE) exactly; the permutation
  * constants are generated from the same `DedupKernel.perm` the kernels
  * use, so the two engines cannot drift.
  */
object PipelineQueries {

  /** Exact-dedup groups on the md5 fingerprint of normalized text. */
  def dedupExact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Dedup.exactGroups(Tables.documents(s, dir), "doc_id", "text")
      .orderBy($"fp")
  }

  /** Exact 3-gram Jaccard similarity pairs (doc_id < 200 slice; the
    * full-corpus scale path is MinHash candidates + this as verifier). */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir).filter($"doc_id" < 200)
    Dedup.jaccardPairs(docs, "doc_id", "text", w = 3, threshold = 0.2)
      .select($"a_id", $"b_id", round($"jaccard", 6).as("jaccard"))
      .orderBy($"a_id", $"b_id")
  }

  /** q176: MinHash-banding QUALITY AUDIT — the dedup twin of the ANN
    * recall audits (q151/q152): on the bounded exact-Jaccard slice
    * (doc_id < 200, the q31 regime), compare the banding candidates
    * (est ≥ 0.4) against exact 3-shingle Jaccard ≥ 0.4 ground truth and
    * report ONE row: pair counts, banding precision and recall. The
    * production answer to "is 32 hashes × 8 bands at 0.4 catching what
    * exact Jaccard says" — measured on a slice, trusted at scale, and
    * re-checkable per corpus release. Both thresholds cut on the
    * 6-dp-rounded value so the boundary is engine-stable. */
  def dedupAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val slice = Tables.documents(s, dir).filter($"doc_id" < 200)
    val truth = Dedup.jaccardPairs(slice, "doc_id", "text", w = 3,
        threshold = 0.2)
      .filter(round($"jaccard", 6) >= 0.4)
      .select($"a_id", $"b_id")
      .pin
    val cand = Dedup.minHashCandidates(slice, "doc_id", "text",
        numHashes = 32, bands = 8, w = 3, threshold = 0.4)
      .select($"a_id", $"b_id")
      .pin
    truth.agg(count(lit(1)).as("n_truth"))
      .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
      .crossJoin(truth.join(cand, Seq("a_id", "b_id"))
        .agg(count(lit(1)).as("n_hit")))
      .select($"n_truth", $"n_cand", $"n_hit",
        round(when($"n_cand" > 0L,
            $"n_hit".cast("double") / $"n_cand".cast("double"))
          .otherwise(lit(0.0d)), 6).as("band_precision"),
        round(when($"n_truth" > 0L,
            $"n_hit".cast("double") / $"n_truth".cast("double"))
          .otherwise(lit(0.0d)), 6).as("band_recall"))
  }

  /** MinHash + LSH banding near-dup candidates (oracle-exact: portable
    * polynomial shingle hash). */
  def minhashCandidates(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Dedup.minHashCandidates(Tables.documents(s, dir), "doc_id", "text",
      numHashes = 32, bands = 8, w = 3, threshold = 0.4)
      .orderBy($"a_id", $"b_id")
  }

  /** 62-bit SimHash fingerprints (oracle-exact: portable two-lane
    * polynomial token hash). */
  def simhashFingerprints(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Dedup.simHash(Tables.documents(s, dir), "doc_id", "text")
      .orderBy($"doc_id")
  }

  /** Embedding-cosine near-duplicate pairs via SRP-LSH candidate
    * generation (Similarity.bucketedNearDupPairs): self-equi-join on
    * (table, bucket), exact cosine only within buckets — never a
    * cartesian, so the plan survives a 100× corpus. Oracle-exact despite
    * being approximate: the integer SRP planes and micro-quantized
    * bucket bits let DuckDB re-derive the identical candidate set
    * (same pattern as q35). Threshold 0.4 applied on the 6-dp-rounded
    * cosine on both sides; the op-level prefilter sits 1e-6 below it so
    * the rounded boundary can't be clipped by raw-float noise. */
  def embeddingNearDups(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir).select($"vec_id".as("id"), $"embedding")
    Similarity.bucketedNearDupPairs(e, "id", "embedding", threshold = 0.399999,
        numPlanes = 5, dim = 64, numTables = 10)
      .select($"a_id", $"b_id", round($"cos_sim", 6).as("cos_sim"))
      .filter($"cos_sim" >= 0.4)
      .orderBy($"a_id", $"b_id")
  }

  /** Near-dup clusters: MinHash LSH candidates folded transitively into
    * components, one row per clustered doc with its representative
    * (oracle-exact: the DuckDB oracle rebuilds the candidate pairs and
    * closes them with a recursive CTE). */
  def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = Dedup.minHashCandidates(Tables.documents(s, dir),
      "doc_id", "text", threshold = 0.4).select($"a_id", $"b_id")
    graft.ops.Components.connectedComponents(pairs)
      .orderBy($"id")
  }

  /** q197: SOFT dedup reweighting ([[graft.ops.Components
    * .clusterWeights]]) — the loss-shaping alternative to removal:
    * every doc keeps weight 1∕|its near-dup cluster| (q36's clusters,
    * singletons weight 1), so each cluster contributes one document's
    * worth of training mass however many variants exist. The oracle
    * closes the same candidate graph with the recursive CTE and
    * replays sizes and weights. */
  def softDedupWeights(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    graft.ops.Components.clusterWeights(docs, "doc_id",
        Dedup.minHashCandidates(docs, "doc_id", "text", threshold = 0.4)
          .select($"a_id", $"b_id"))
      .orderBy($"doc_id")
  }

  /** q198: vocabulary coverage curve ([[TextAnalysis.vocabCoverage]])
    * — the tokenizer-sizing readout: minimal head-vocab size covering
    * 90∕95∕99% of token occurrences, with the OOV rate each size
    * leaves. Rank/cumsum run on the VOCAB-sized count frame; the
    * oracle replays the ranked window and the integer crossing test. */
  def vocabCoverageCurve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TextAnalysis.vocabCoverage(Tables.documents(s, dir), "text")
      .orderBy($"threshold")
  }

  /** SimHash near-dup candidates via bit-banding (oracle-exact). */
  def simhashNearDups(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Dedup.simHashCandidates(Tables.documents(s, dir), "doc_id", "text",
      maxHamming = 3, bands = 4)
      .orderBy($"a_id", $"b_id")
  }

  /** Winnowing (rolling-hash) fingerprint summary per document.
    * Winnowing is embarrassingly per-document, so the summary aggregates
    * the kernel's array<long> in place — a map-only plan (scan → project
    * → sort for presentation), vs the naive explode + groupBy(doc_id)
    * which shuffles ~L·docs fingerprint rows to regroup what was never
    * apart. sum_fp is 64-bit safe: ≤ L distinct fps per doc × (P−1). */
  def winnowFingerprints(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", TextAnalysis.winnowFps($"text").as("_fps"))
      .filter(size($"_fps") > 0)
      .select($"doc_id",
        size($"_fps").cast("long").as("n_fps"),
        array_min($"_fps").as("min_fp"),
        array_max($"_fps").as("max_fp"),
        aggregate($"_fps", lit(0L), (acc, x) => acc + x).as("sum_fp"))
      .orderBy($"doc_id")
  }

  /** Per-language token statistics (whitespace tokens + BPE-ish subwords). */
  def tokenStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("n_tokens", TextAnalysis.tokenCount($"text").cast("long"))
      .withColumn("n_subwords", TextAnalysis.subwordCount($"text").cast("long"))
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("sum_tokens"),
        sum($"n_subwords").as("sum_subwords"),
        min($"n_chars").as("min_chars"),
        max($"n_chars").as("max_chars"),
        sum($"n_chars").as("sum_chars"))
      .withColumn("avg_chars", $"sum_chars".cast("double") / $"n_docs")
      .orderBy($"lang")
  }

  /** Deterministic train/val/test split assignment (Sampling.hashSplit) —
    * engine-independent by construction, which the oracle proves (DuckDB
    * recomputes the md5 bucket and gets identical membership). */
  def splitCounts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Sampling.hashSplit(Tables.documents(s, dir), "doc_id")
      .groupBy($"split")
      .agg(
        count(lit(1)).as("n_docs"),
        min($"doc_id").as("min_id"),
        max($"doc_id").as("max_id"),
        sum($"n_chars").as("sum_chars"))
      .orderBy($"split")
  }

  /** Deterministic 10% hash sample (Sampling.hashSample): membership is a
    * pure function of doc_id, so the oracle recomputes the identical
    * sample — the property that makes distributed TABLESAMPLE
    * reproducible across engines and reruns (unlike rand()-based
    * sampling). Summarized so the entry stays compact. */
  def sampleSummary(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Sampling.hashSample(Tables.documents(s, dir), "doc_id", pct = 10)
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        min($"doc_id").as("min_id"),
        max($"doc_id").as("max_id"),
        sum($"n_chars").as("sum_chars"))
      .orderBy($"lang")
  }

  /** Per-document quality metrics + bucket. */
  def qualityScores(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TextAnalysis.qualityMetrics(Tables.documents(s, dir), "doc_id", "text")
      .orderBy($"doc_id")
  }

  /** Language-ID confusion matrix: labeled lang × heuristic prediction. */
  def langIdConfusion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TextAnalysis.langIdScores(Tables.documents(s, dir), "text")
      .groupBy($"lang", $"predicted")
      .agg(count(lit(1)).as("n"))
      .orderBy($"lang", $"predicted")
  }

  /** md5 content fingerprint per document. */
  def fingerprints(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TextAnalysis.fingerprints(Tables.documents(s, dir), "doc_id", "text")
      .orderBy($"doc_id")
  }

  /** Multimodal pipeline through the real binary plumbing: text bytes as
    * an opaque payload column → batched mapPartitions feature extraction
    * (Multimodal.withFeatures) → per-bin byte-histogram ratios. Ratios are
    * float-divided on both sides (JVM float ÷ == DuckDB FLOAT ÷) then
    * widened, so the oracle matches bit-for-bit. Docs are printable ASCII
    * (verified), so byte bins 2–7 cover every payload byte. */
  def multimodalHist(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .select($"doc_id", $"text".cast("binary").as("payload"))
    val feats = Multimodal.withFeatures(media, "payload")
    val binCols = (2 to 7).map(j =>
      $"features".getItem(j).cast("double").as(s"b$j"))
    feats.select(($"doc_id" +: binCols): _*).orderBy($"doc_id")
  }

  /** Video-frame-shaped sampling through the multimodal plumbing: payload
    * → every 2nd 256-byte chunk → per-frame stub features (byte-histogram
    * ratios, bins 2–7 = printable ASCII). Map-only: the explode happens
    * executor-side inside the batched extraction; payloads never shuffle.
    * Docs are printable ASCII (q50's verified premise), so the oracle
    * recomputes each frame's bins with substring + byte-class regexes. */
  def frameFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .select($"doc_id", $"text".cast("binary").as("payload"))
    val frames = Multimodal.withFrameFeatures(media, "payload",
      chunkSize = 256, stride = 2)
    val binCols = (2 to 7).map(j =>
      $"frame_features".getItem(j).cast("double").as(s"b$j"))
    frames.select(($"doc_id" +: $"frame_idx".cast("long").as("frame_idx") +: binCols): _*)
      .orderBy($"doc_id", $"frame_idx")
  }

  /** q126: media near-dup by perceptual hash (Multimodal.phashNearDup) —
    * the decode-free tier of image/media dedup, on the re-encoded-variant
    * scenario it exists for: the media table is each q50 payload PLUS a
    * "re-upload" of it (id + 100000) carrying a deterministic 8-byte
    * in-place corruption (position (doc_id·7) mod (len−8)) — the byte-
    * level analogue of a re-encode artifact at fixed geometry. The
    * 64-bit average-hash fingerprint is a map-only codegen kernel
    * (payloads never shuffle — only 8-byte hashes move), candidates come
    * from the 4×16-bit banded equi-join, and the exact Hamming verify
    * ≤ 3 is pigeonhole-complete at 4 bands. At sf0.01 this recovers
    * ~71% of the variant pairs with ZERO cross-document false pairs —
    * the whole-payload tier; sub-payload crops belong to the q57
    * frame-level path. */
  def phashNearDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir).select($"doc_id", $"text")
    val variants = docs.select(
      ($"doc_id" + 100000L).as("doc_id"),
      expr("CASE WHEN length(text) >= 20 THEN " +
        "concat(substr(text, 1, CAST((doc_id * 7) % (length(text) - 8) AS INT)), " +
        "'xxxxxxxx', " +
        "substr(text, CAST((doc_id * 7) % (length(text) - 8) AS INT) + 9)) " +
        "ELSE text END").as("text"))
    val media = docs.unionByName(variants)
      .select($"doc_id", $"text".cast("binary").as("payload"))
    Multimodal.phashNearDup(media, "doc_id", "payload", maxHamming = 3)
      .orderBy($"a_id", $"b_id")
  }

  /** Character-window chunking (256-char windows, 32 overlap) with chunk
    * fingerprints — the pre-embedding chunk grid. */
  def chunkedDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Chunking.chunkedFingerprints(Tables.documents(s, dir), "doc_id", "text",
      chunkSize = 256, overlap = 32)
      .orderBy($"doc_id", $"chunk_idx")
  }

  /** Token-window chunking (64-token windows, 16 overlap) with chunk
    * fingerprints — the token-budget chunk grid (q44's char-window twin). */
  def tokenChunks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Chunking.chunkByTokens(Tables.documents(s, dir), "doc_id", "text",
        chunkTokens = 64, overlapTokens = 16)
      .select($"doc_id", $"chunk_idx", $"n_tokens", md5($"chunk").as("chunk_fp"))
      .orderBy($"doc_id", $"chunk_idx")
  }

  /** Incremental dedup — the operational 100 TB mode: a NEW batch (every
    * 5th doc) near-dup-checked against the EXISTING corpus (the rest)
    * through the corpus's banded signature index (Dedup.bandedSignatures,
    * persisted in practice; rebuilt here because entries are
    * self-contained). The batch computes only its own signatures; the
    * join is (band, bucket) equi — no corpus recompute, no batch×batch
    * or corpus×corpus pairs, no full-corpus LSH rerun. Oracle-exact: the
    * DuckDB oracle re-derives both sides' signatures and the cross-side
    * candidates (est = agreeing minhashes / 32, integer-exact). */
  def incrementalDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val corpusIdx = Dedup.bandedSignatures(
      docs.filter($"doc_id" % 5 =!= 0), "doc_id", "text")
    val batchIdx = Dedup.bandedSignatures(
      docs.filter($"doc_id" % 5 === 0), "doc_id", "text")
    Dedup.incrementalCandidates(batchIdx, corpusIdx, "doc_id",
        threshold = 0.4)
      .orderBy($"batch_id", $"corpus_id")
  }

  /** The q64 retrieval queries: fixed literal strings over the corpus
    * vocabulary (both engines embed the identical text). */
  private val ragQueryRows: Seq[(Long, String)] = Seq(
    (0L, "spark join shuffle partition key"),
    (1L, "vector index scan fast query"),
    (2L, "stream window batch agg data"))

  /** End-to-end RAG retrieval pipeline — the workload the reference's
    * users actually run, composed from this library's own stages: token-
    * window chunking (q62's grid) → portable hash-projection embedding
    * (DedupKernel.polyEmbed — the deterministic sentence-transformer
    * stand-in) → per-query cosine top-5 with doc dedup (best chunk per
    * doc, then rank docs). Map-only chunk+embed, broadcast query side,
    * two bounded window ranks — no shuffle grows with the corpus beyond
    * the final per-query top-k. Oracle-exact END TO END: the embedding's
    * only float arithmetic is one multiply/divide/subtract per dimension
    * over order-independent integer sums, so DuckDB replays chunking,
    * embedding, scoring and ranking bit-for-bit. */
  def ragTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val chunks = Chunking.chunkByTokens(Tables.documents(s, dir),
        "doc_id", "text", chunkTokens = 64, overlapTokens = 16)
      .select($"doc_id", $"chunk_idx",
        graft.expr.DedupKernel.polyEmbedCol($"chunk").as("emb"))
    val qs = ragQueryRows.toDF("q_id", "qtext")
      .select($"q_id",
        graft.expr.DedupKernel.polyEmbedCol(Dedup.normText($"qtext")).as("qemb"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy($"q_id", $"doc_id").orderBy($"sim".desc, $"chunk_idx")
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy($"q_id").orderBy($"sim".desc, $"doc_id", $"chunk_idx")
    chunks.crossJoin(broadcast(qs))
      .withColumn("sim",
        round(graft.expr.VectorExprs.cosine($"emb", $"qemb"), 6))
      .withColumn("rn_doc", row_number().over(wDoc))
      .filter($"rn_doc" === 1) // doc dedup: keep each doc's best chunk
      .withColumn("rnk", row_number().over(wTop).cast("long"))
      .filter($"rnk" <= 5)
      .select($"q_id", $"doc_id", $"chunk_idx", $"sim", $"rnk")
      .orderBy($"q_id", $"rnk")
  }

  /** Corpus vocabulary: top-50 tokens by document frequency (integer-exact:
    * df + total term frequency, deterministic tie-breaks). */
  def topTerms(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", explode(split(Dedup.normText($"text"), " ")).as("token"))
      .filter(length($"token") > 0)
      .groupBy($"token")
      .agg(
        countDistinct($"doc_id").as("doc_freq"),
        count(lit(1)).as("total_tf"))
      .orderBy($"doc_freq".desc, $"total_tf".desc, $"token")
      .limit(50)
  }

  /** PII scrubbing (ops.PiiScrub) over a contact-card projection of the
    * customer table. The testdata carries no literal PII, so the entry
    * first derives a deterministic contact string from the row's keys —
    * integer arithmetic + concat that both engines build byte-identically
    * — and the oracle then independently verifies the REDACTION and the
    * per-category counts. Map-only end to end (codegen regex over a
    * projection); at 100 TB this fuses into the scan. */
  def piiScrub(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val contact = concat(
      lit("User "), $"c_name",
      lit(" <user"), $"c_custkey",
      lit("@example."),
      when(pmod($"c_nationkey", lit(2)) === 0, "com").otherwise("org"),
      lit("> last login 10."), pmod($"c_nationkey", lit(254)),
      lit("."), pmod($"c_custkey", lit(254)),
      lit("."), pmod($"c_custkey", lit(7)),
      when(pmod($"c_custkey", lit(5)) === 0, lit(" tel 25-989-741-2988"))
        .otherwise(lit("")))
    graft.ops.PiiScrub.scrub(
        Tables.customer(s, dir).select($"c_custkey", contact.as("contact")),
        "c_custkey", "contact")
      .withColumnRenamed("c_custkey", "cust_id")
      .orderBy($"cust_id")
  }

  /** Within-document repetition (duplicate-bigram fraction, Gopher-style
    * boilerplate signal) per document — TextAnalysis.repetitionStats. */
  def repetitionSummary(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TextAnalysis.repetitionStats(Tables.documents(s, dir), "doc_id", "text", n = 2)
      .orderBy($"doc_id")
  }

  /** Stratified corpus balancing: at most 25 docs per language, chosen by
    * deterministic hash rank (Sampling.stratifiedSample). */
  def stratifiedByLang(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Sampling.stratifiedSample(
        Tables.documents(s, dir).select($"doc_id", $"lang"),
        "lang", "doc_id", k = 25)
      .select($"doc_id", $"lang", $"rn")
      .orderBy($"lang", $"rn")
  }

  /** Quality-priority dedup survivors: near-dup clusters (q36's MinHash
    * LSH candidates, transitively closed) with the LONGEST document kept
    * per cluster (Components.bestPerCluster) — the curation policy real
    * pipelines use, vs min-id. Oracle re-derives candidates, the
    * recursive-CTE closure, and the argmax with the same tie-break. */
  def qualityDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val pairs = Dedup.minHashCandidates(docs, "doc_id", "text",
      threshold = 0.4).select($"a_id", $"b_id")
    graft.ops.Components.bestPerCluster(docs, "doc_id", pairs, "n_chars")
      .withColumnRenamed("keep_prio", "keep_chars")
      .orderBy($"component")
  }

  /** Top-3 TF-IDF terms per document (doc_id < 50 slice for bounded
    * output): TextAnalysis.tfIdf + a per-doc WindowGroupLimit rank. The
    * one float step (ln of a ratio of exact integers) is 6-dp-rounded on
    * both sides BEFORE ranking, so the cut is oracle-stable. */
  def tfidfTopTerms(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"tfidf".desc, $"token")
    TextAnalysis.tfIdf(Tables.documents(s, dir), "doc_id", "text")
      .filter($"doc_id" < 50)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter($"rn" <= 3)
      .orderBy($"doc_id", $"rn")
  }

  /** Contiguous sequence packing into 256-token training sequences,
    * sharded by language (Sampling.packSequences): one windowed prefix
    * sum per shard, exact integers. */
  def sequencePacking(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val withTokens = Tables.documents(s, dir)
      .select($"doc_id", $"lang",
        TextAnalysis.tokenCount($"text").cast("long").as("n_tokens"))
    Sampling.packSequences(withTokens, "doc_id", "n_tokens", "lang",
        budgetTokens = 256)
      .orderBy($"lang", $"doc_id")
  }

  /** Weighted data mixture: per-language keep rates over the corpus
    * (Sampling.weightedSample), summarized per language. */
  def weightedMixture(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Sampling.weightedSample(Tables.documents(s, dir), "doc_id", "lang",
        Map("en" -> 50, "zh" -> 100, "de" -> 25, "fr" -> 75, "es" -> 10))
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        min($"doc_id").as("min_id"),
        sum($"n_chars").as("sum_chars"))
      .orderBy($"lang")
  }

  /** Benchmark decontamination: the train split (q46's md5 buckets < 80)
    * checked for 8-gram overlap against the held-out test split (buckets
    * ≥ 90) — ops.Decontaminate. Eval n-grams broadcast; corpus side
    * map-only + one groupBy(doc). Oracle re-derives the split, the
    * polynomial 8-gram codes and the hit counts exactly. */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val split = Sampling.hashSplit(Tables.documents(s, dir), "doc_id")
    Decontaminate.contamination(
        split.filter($"split" === "train"), split.filter($"split" === "test"),
        "doc_id", "text", n = 8)
      .select($"doc_id", $"n_ngrams", $"n_hits", $"hit_frac")
      .orderBy($"doc_id")
  }

  /** q114: contamination source attribution — for each flagged train
    * doc, WHICH eval doc leaked into it (most shared distinct 8-grams,
    * ties → smallest eval id). Turns q77's flag into the actionable
    * "pull benchmark X from the training set" finding. */
  def decontaminateSources(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val split = Sampling.hashSplit(Tables.documents(s, dir), "doc_id")
    Decontaminate.contaminationSources(
        split.filter($"split" === "train"), split.filter($"split" === "test"),
        "doc_id", "text", n = 8)
      .orderBy($"doc_id")
  }

  /** q116: weighted fixed-size sample (Efraimidis–Spirakis, weight =
    * document length) — the quality/length-weighted corpus subsetting
    * primitive; deterministic, no RNG, top-k plan. */
  def weightedReservoir(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Sampling.weightedFixedSample(
        Tables.documents(s, dir), "doc_id", "n_chars", k = 100)
      .select($"doc_id", $"n_chars", $"wkey_micro")
      .orderBy($"wkey_micro".desc, $"doc_id")
  }

  /** q115: token-distribution drift (per-token PSI) between the train
    * and test hash-splits — the distribution-shift gate run before
    * mixing a new corpus snapshot into training. Integer counts in,
    * nano-quantized contributions out; most-drifted tokens first. */
  def tokenDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val split = Sampling.hashSplit(Tables.documents(s, dir), "doc_id")
    TextAnalysis.tokenDrift(
        split.filter($"split" === "train"), split.filter($"split" === "test"),
        "text")
      .withColumnRenamed("n_a", "n_train")
      .withColumnRenamed("n_b", "n_test")
      .orderBy($"psi_nano".desc, $"token")
  }

  /** q112: the decontamination report via the BLOOM-gated path
    * ([[Decontaminate.contaminationBloom]]) — the beyond-broadcast-scale
    * regime, oracle-checked. A deliberately small bloom (2^16 bits for
    * tens of thousands of eval grams) forces a real false-positive rate
    * through the gate, so the oracle hash-match proves the exact
    * survivor join removes every FP — the report must be bit-identical
    * to the plain overlap the SQL computes, bloom or no bloom. 6-gram
    * codes (vs q77's 8) so the two entries exercise different gram
    * spaces. */
  def decontaminateBloom(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val split = Sampling.hashSplit(Tables.documents(s, dir), "doc_id")
    Decontaminate.contaminationBloom(
        split.filter($"split" === "train"), split.filter($"split" === "test"),
        "doc_id", "text", n = 6, numBits = 1 << 16, k = 5)
      .select($"doc_id", $"n_ngrams", $"n_hits", $"hit_frac")
      .orderBy($"doc_id")
  }

  /** Unigram-LM quality score per document (TextAnalysis.unigramLogProb):
    * corpus-MLE average token log-prob — the cheap perplexity-filter
    * stand-in. Exact integer micro-nat sums make the per-doc score
    * order-independent and oracle-replayable. */
  def unigramLogProb(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TextAnalysis.unigramLogProb(Tables.documents(s, dir), "doc_id", "text")
      .orderBy($"doc_id")
  }

  /** Cross-document repeated 8-grams (Dedup.crossDocNgramStats) — the
    * exact-substring dedup signal: per doc, how many of its distinct
    * 8-grams occur in other docs too. */
  def crossDocNgrams(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Dedup.crossDocNgramStats(Tables.documents(s, dir), "doc_id", "text", n = 8)
      .select($"doc_id", $"n_ngrams", $"n_shared", $"shared_frac")
      .orderBy($"doc_id")
  }

  /** q117: DSIR importance selection
    * (TextAnalysis.importanceLogRatio) — the top 50 documents by
    * unigram-LM log-ratio against the English subcorpus as target:
    * the data-selection step a pretraining pipeline runs to upsample
    * target-domain-looking documents from a raw crawl. Bounded top-k
    * (TakeOrderedAndProject), never a global sort. */
  def dsirSelection(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TextAnalysis.importanceLogRatio(
        Tables.documents(s, dir), "doc_id", "text", $"lang" === "en")
      .orderBy($"avg_log_ratio".desc, $"doc_id")
      .limit(50)
  }

  /** q124: model-based quality filtering (QualityModel.classifierScore) —
    * the fastText-shaped hashed-bigram linear classifier every modern
    * curation pipeline runs (CCNet's LM filter's cheaper sibling; the
    * GPT-3 "Wikipedia-like" page filter): unigram+bigram features hashed
    * into 1024 buckets, one broadcast join against the weight table, one
    * doc-keyed aggregate. The keep bit compares the exact integer weight
    * sum, so the decision is engine-replayable. */
  def qualityClassifier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    QualityModel.classifierScore(Tables.documents(s, dir), "doc_id", "text")
      .orderBy($"doc_id")
  }

  /** q177: classifier CALIBRATION audit ([[graft.ops.Calibration]]) —
    * the reliability diagram + ECE for the q124 hashed quality
    * classifier, judged against the q127 Gopher rule gate as the
    * reference label: per confidence bin (sigmoid of the classifier
    * score, 10 bins), how often does the rule gate agree, and how far
    * is confidence from the empirical rate. The audit that tells a
    * curation pipeline whether "score > x" thresholds mean anything.
    * The oracle replays the classifier, the sigmoid, the rule gate,
    * the integer binning and the exact-integer ECE. */
  def calibrationAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val pred = confFor(s, dir)
    val lab = gopherKeepFor(s, dir)
    graft.ops.Calibration.reliability(pred, lab, "doc_id", "conf", "keep",
        bins = 10)
      .orderBy($"bin")
  }

  /** q185: quality-classifier ROC-AUC ([[graft.ops.Calibration
    * .binaryAuc]]) — the discrimination readout completing the
    * classifier-evaluation tier (q177 calibration, q178 the fix, this
    * the "does it rank at all" number): exact rank-sum AUC of the q124
    * hashed classifier's confidence against the q127 rule gate, ties
    * handled exactly over micro-quantized scores. The oracle replays
    * classifier, gate and the integer U-statistic. */
  def qualityAuc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val pred = confFor(s, dir)
    val lab = gopherKeepFor(s, dir)
    graft.ops.Calibration.binaryAuc(pred, lab, "doc_id", "conf", "keep")
  }

  /** q178: TEMPERATURE-SCALING sweep
    * ([[graft.ops.Calibration.temperatureSweep]]) — the post-hoc fix
    * for the q177 miscalibration: the q124 classifier's raw score is
    * rescaled by each T in 0.25…4.0, the exact-integer ECE against the
    * q127 rule gate recomputed per T, and the argmin flagged — the
    * audit→fix pair a curation pipeline runs before trusting
    * score thresholds. Oracle replays the grid, every per-T binning
    * and the argmin. */
  def temperatureScaling(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val pred = QualityModel.classifierScore(docs, "doc_id", "text")
      .select($"doc_id", $"score")
    val lab = gopherKeepFor(s, dir)
    graft.ops.Calibration.temperatureSweep(pred, lab, "doc_id", "score",
        "keep", bins = 10)
      .orderBy($"t")
  }

  /** q187: inter-annotator agreement
    * ([[graft.ops.ClassifierEval.cohenKappa]]) — Cohen's κ between the
    * corpus's gold `lang` label and the q42 marker-word lang-id
    * heuristic: the chance-corrected agreement a labeling pipeline
    * reports before trusting auto-labels (raw accuracy is inflated
    * exactly when the class distribution is skewed, which corpus
    * language labels always are). One row of exact-integer-derived
    * (n, agree, po, pe, kappa); the oracle replays the prediction, the
    * confusion cells and the single-divide κ identity. */
  def annotatorKappa(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ops.ClassifierEval.cohenKappa(
      TextAnalysis.langIdScores(Tables.documents(s, dir), "text")
        .select($"lang", $"predicted"),
      "lang", "predicted")
  }

  /** q189: per-class classification report
    * ([[graft.ops.ClassifierEval.classificationReport]]) — precision /
    * recall / F1 per language for the q42 lang-id heuristic against the
    * gold label, macro-F1 carried per row: the per-class breakdown the
    * q187 single-number κ hides (a labeler can agree 90% overall while
    * never predicting a minority class — that class's zero row is the
    * signal). Classes present on either side always emit a row. */
  def langIdReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ops.ClassifierEval.classificationReport(
      TextAnalysis.langIdScores(Tables.documents(s, dir), "text")
        .select($"lang", $"predicted"),
      "lang", "predicted")
      .orderBy($"class")
  }

  /** q193: multi-gate agreement ([[graft.ops.ClassifierEval
    * .fleissKappa]]) — Fleiss' κ across the three keep/reject "raters"
    * a curation pipeline actually runs (q127 Gopher rules, q160
    * blocklist, q124 classifier at conf ≥ 0.5): the q192 funnel says
    * what each gate COSTS; this says whether the gates measure the same
    * thing (high κ → redundant gates, κ ≈ 0 → independent signals —
    * both actionable). The oracle replays all three gate computations,
    * the melt and the exact-integer κ identity. */
  def gateAgreement(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val sig = TextAnalysis.gopherRules(docs, "doc_id", "text")
      .select($"doc_id", $"keep".as("g_keep"))
      .join(TextAnalysis.blocklistFilter(docs, "doc_id", "text",
          Seq("slow", "big", "broken"))
        .select($"doc_id", $"keep".as("b_keep")), Seq("doc_id"))
      .join(QualityModel.classifierScore(docs, "doc_id", "text")
        .withColumn("conf",
          round(lit(1.0d) / (lit(1.0d) + exp(negate($"score"))), 6))
        .select($"doc_id",
          when($"conf" >= 0.5d, 1L).otherwise(0L).as("c_keep")),
        Seq("doc_id"))
    graft.ops.ClassifierEval.fleissKappa(sig, "doc_id",
      Seq("g_keep", "b_keep", "c_keep"))
  }

  /** q199: split-conformal calibration + coverage audit
    * ([[graft.ops.ClassifierEval.conformal]]) — the distribution-free
    * abstention threshold for the q124 classifier: odd doc ids
    * calibrate (nonconformity |gopher keep − conf|), the exact
    * ⌈(n+1)(1−α)⌉-th order statistic (selected on the micro-score
    * GRID, never a data-sized sort) becomes the threshold, and the
    * even-id split audits the ≥ 90% coverage guarantee empirically.
    * The oracle replays classifier, gate, integer k, the grid order
    * statistic and the coverage count. */
  def conformalAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val pred = confFor(s, dir)
    val lab = gopherKeepFor(s, dir)
    graft.ops.ClassifierEval.conformal(pred, lab, "doc_id", "conf", "keep",
      calPred = $"doc_id" % 2 === 1, alpha = 0.1d)
  }

  /** q200: classifier score-distribution DRIFT
    * ([[graft.ops.ClassifierEval.scoreDrift]]) — PSI between the q124
    * classifier's confidences on two ingest cohorts (doc_id < 250 vs
    * ≥ 250): the monitoring tripwire that says the model is scoring a
    * different corpus than it was calibrated on, per confidence bin
    * with the total carried ev_share-style. Oracle replays classifier,
    * split, integer binning, add-one smoothing and every PSI term. */
  def scoreDriftAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val conf = confFor(s, dir)
    graft.ops.ClassifierEval.scoreDrift(
        conf.filter($"doc_id" < 250).select($"conf"),
        conf.filter($"doc_id" >= 250).select($"conf"),
        "conf", bins = 10)
      .orderBy($"bin")
  }

  /** q201: quality-classifier AVERAGE PRECISION
    * ([[graft.ops.Calibration.averagePrecision]]) — the
    * imbalance-honest discrimination number next to q185's ROC-AUC:
    * exact step-form PR-area of the q124 classifier's confidence
    * against the q127 rule gate, with the no-skill prevalence baseline
    * riding along. On a crawl where 95% is rejected, this is the
    * readout that moves when the model stops finding the keepers.
    * Oracle replays classifier, gate, the micro-score grid, the
    * descending cumulative precision and the exact-integer AP sum. */
  def qualityAp(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val pred = confFor(s, dir)
    val lab = gopherKeepFor(s, dir)
    graft.ops.Calibration.averagePrecision(pred, lab, "doc_id", "conf", "keep")
  }

  /** q202: pairwise source JSD matrix
    * ([[graft.ops.TextAnalysis.sourceJsd]]) — the symmetric corpus
    * similarity readout a mixture planner reads before merging or
    * re-weighting sources: Jensen–Shannon divergence between every
    * source pair's unigram distributions, one shared global-vocabulary
    * smoothing so the matrix is one fixed scale. Oracle replays token
    * counts, densification, smoothing and every nano-quantized term. */
  def sourceJsdMatrix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TextAnalysis.sourceJsd(Tables.documents(s, dir), "source", "text")
      .orderBy($"group_a", $"group_b")
  }

  /** q203: score-drift KS distance
    * ([[graft.ops.ClassifierEval.ksDistance]]) — q200's PSI made
    * bin-free: the exact two-sample Kolmogorov–Smirnov sup-distance
    * between the q124 classifier's confidence CDFs on the two ingest
    * cohorts (doc_id < 250 vs ≥ 250), plus the score where the
    * divergence peaks — the shift a lucky PSI bin boundary can hide.
    * Oracle replays the classifier, the split, the grid CDFs and the
    * exact cross-multiplied sup selection. */
  def ksDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val conf = confFor(s, dir)
    graft.ops.ClassifierEval.ksDistance(
      conf.filter($"doc_id" < 250).select($"conf"),
      conf.filter($"doc_id" >= 250).select($"conf"),
      "conf")
  }

  /** q237: per-SOURCE score-drift KS
    * ([[graft.ops.ClassifierEval.ksDistanceByGroup]]) — q203's global
    * sup can hide a fully-drifted minority source under a stable
    * majority; this names the offender: the same early/late cohorts,
    * the same exact cross-multiplied sup, windows partitioned by
    * source. Sources with an empty cohort report 0 with the zero count
    * exposing why. */
  def ksDriftBySource(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val conf = confFor(s, dir)
      .join(docs.select($"doc_id", $"source"), Seq("doc_id"))
      .withColumn("early", $"doc_id" < 250)
    graft.ops.ClassifierEval.ksDistanceByGroup(conf, "source", "early",
        "conf")
      .orderBy($"source")
  }

  /** q238: ADJUSTED RAND INDEX of the lang-id partition
    * ([[graft.ops.ClassifierEval.adjustedRand]]) — the pair-counting
    * companion to q206's NMI on the exact same (gold lang, predicted)
    * pair: of all C(N,2) document pairs, does the unsupervised
    * partition put the same pairs together as the gold labels, beyond
    * what the marginals produce by chance? ARI can go NEGATIVE
    * (worse-than-chance), which NMI structurally cannot — the two
    * together separate "uninformative" from "anti-correlated". Oracle
    * replays the prediction, the contingency cells and the four exact
    * pair sums. */
  def clusterAri(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ops.ClassifierEval.adjustedRand(
      TextAnalysis.langIdScores(Tables.documents(s, dir), "text")
        .select($"lang", $"predicted"),
      "lang", "predicted")
  }

  /** q239: V-MEASURE of the lang-id partition
    * ([[graft.ops.ClassifierEval.vMeasure]]) — the third face of the
    * q206/q238 agreement triple: homogeneity (do predicted clusters
    * mix gold languages?) and completeness (are gold languages split
    * across clusters?) reported SEPARATELY, because lang-id's two
    * failure modes — over-merging into 'und', over-splitting on
    * borrowed stopwords — move the two numbers in opposite
    * directions and a single symmetric score averages them away.
    * Oracle replays the prediction, the cells and the three
    * nano-quantized entropies. */
  def clusterVMeasure(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ops.ClassifierEval.vMeasure(
      TextAnalysis.langIdScores(Tables.documents(s, dir), "text")
        .select($"lang", $"predicted"),
      "lang", "predicted")
  }

  /** q240: near-dup graph MODULARITY over the SOURCE partition
    * ([[graft.ops.Components.modularity]]) — is duplication a
    * within-source phenomenon? Q near its maximum means near-dup
    * families live inside single sources (dedup can shard by source;
    * a per-source pipeline loses nothing), Q ≈ 0 means duplicate
    * edges ignore source boundaries (cross-source syndication — any
    * per-source dedup silently misses most of the graph). The
    * per-source terms name which sources' families leak. Oracle
    * replays the MinHash candidates, both label joins, degree and
    * intra-edge sums and the exact-integer q-terms. */
  def nearDupModularity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    graft.ops.Components.modularity(
      docs.select($"doc_id", $"source"), "doc_id", "source",
      Dedup.minHashCandidates(docs, "doc_id", "text", threshold = 0.4)
        .select($"a_id", $"b_id"))
  }

  /** q241: bipartite HITS over the user × item interaction graph
    * ([[graft.ops.Components.hitsBipartite]]) — hubs (users whose
    * activity concentrates on consequential items) and authorities
    * (items touched by consequential users) on the events table's
    * (user_id, props.k) edges, the mutually-reinforcing double
    * ranking q108's PageRank single score cannot express. L1-integer
    * iteration on the parts-per-billion grid, 3 rounds. Oracle
    * unrolls all six half-steps with exact floor-division
    * renormalization. */
  def eventHits(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = Tables.events(s, dir)
      .select($"user_id",
        get_json_object($"props", "$.k").cast("long").as("item"))
      .filter($"item".isNotNull)
    graft.ops.Components.hitsBipartite(edges, "user_id", "item", iters = 3)
  }

  /** q242: MANTEL–HAENSZEL pooled odds ratio, length → quality gate
    * across languages ([[graft.ops.ClassifierEval.mantelHaenszel]]) —
    * "do long documents really pass the classifier gate more often,
    * or is that the language mix talking?" Languages differ in both
    * typical length and gate pass rate, so the crude 2×2 confounds;
    * MH pools the five per-language tables into one
    * direction-of-effect number while the per-stratum ORs expose any
    * Simpson reversal. Exposure: n_chars > 300; outcome: q124
    * classifier conf ≥ 0.5. Oracle replays the classifier, the
    * stratified cells and the nano-quantized MH sums. */
  def lengthGateMh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val conf = confFor(s, dir)
    graft.ops.ClassifierEval.mantelHaenszel(
      docs.select($"doc_id", $"lang", ($"n_chars" > 300L).as("long_doc"))
        .join(conf, Seq("doc_id"))
        .withColumn("gate", $"conf" >= 0.5d),
      "lang", "long_doc", "gate")
  }

  /** q243: permutation-test drift p-values with BENJAMINI–HOCHBERG
    * FDR across all 20 sources
    * ([[graft.ops.ClassifierEval.permutationDriftBh]]) — the
    * multiple-testing closure of the q237 per-source grid: with 20
    * sources at α = 0.05, one stable source flags by chance EVERY
    * run; BH on the per-source permutation p-values (199 md5-seeded
    * relabelings of the early/late cohorts, exact cross-multiplied
    * mean-gap comparisons) bounds the false-discovery rate across
    * the grid instead. Oracle replays the classifier, every
    * relabeling, the exact comparisons and the integer BH cut. */
  def sourceDriftBh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val conf = confFor(s, dir)
      .join(docs.select($"doc_id", $"source"), Seq("doc_id"))
      .withColumn("early", $"doc_id" < 250)
    graft.ops.ClassifierEval.permutationDriftBh(conf, "source", "early",
      "conf", "doc_id", b = 199)
  }

  /** q245: CRONBACH'S ALPHA of the curation gate battery
    * ([[graft.ops.ClassifierEval.cronbachAlpha]]) — q230's Cochran Q
    * says the three gates (Gopher, blocklist, lang-id) differ in pass
    * rate; α asks the orthogonal reliability question: do they rank
    * documents along ONE quality axis (a combined pass-count score is
    * meaningful) or several (averaging them destroys signal)? Same
    * exact integer cell sums, one fixed-order α. Oracle replays the
    * gates and the cancelled-n² variance identity. */
  def gateCronbach(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val fl = docs.select($"doc_id")
      .join(TextAnalysis.gopherRules(docs, "doc_id", "text")
        .select($"doc_id", $"keep".as("g_keep")), Seq("doc_id"))
      .join(TextAnalysis.blocklistFilter(docs, "doc_id", "text",
          Seq("slow", "big", "broken"))
        .select($"doc_id", $"keep".as("b_keep")), Seq("doc_id"))
      .join(TextAnalysis.langIdScores(docs, "text")
        .select($"doc_id",
          ($"predicted" =!= "und").cast("long").as("l_keep")), Seq("doc_id"))
    graft.ops.ClassifierEval.cronbachAlpha(fl,
      Seq("g_keep", "b_keep", "l_keep"))
  }

  /** q247: HILL heavy-tail exponent of document lengths
    * ([[graft.ops.Sampling.hillTail]]) — the tail-risk number behind
    * q73's packing and q149's budget planning: α ≤ 2 means the length
    * distribution has infinite variance, so mean-based shard budgets
    * are dominated by whichever giant document lands in the batch;
    * α comfortably above 2 licenses the averages those planners use.
    * Top-51 order statistics, exact long ratios, nano-quantized log
    * sum. Oracle replays the selection and every term. */
  def docLengthHill(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ops.Sampling.hillTail(
      Tables.documents(s, dir).select($"n_chars"), "n_chars", k = 50)
  }

  /** q249: CUMULATIVE GAINS of the quality classifier against the
    * Gopher labels ([[graft.ops.Calibration.gainCurve]]) — the
    * budgeted-curation readout behind q185's AUC: reviewing only the
    * top 10%…100% of documents by classifier score, what share of the
    * actual Gopher-keeps is captured at each depth, and what lift over
    * random? Ties never split inside a score. Oracle replays the
    * classifier, labels, the score-grid prefixes and every bucket's
    * whole-score cut. */
  def qualityGainCurve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val conf = confFor(s, dir)
    graft.ops.Calibration.gainCurve(conf,
      TextAnalysis.gopherRules(docs, "doc_id", "text")
        .select($"doc_id", $"keep"),
      "doc_id", "conf", "keep", buckets = 10)
  }

  /** q252: embedding-space ISOTROPY canary
    * ([[graft.ops.Spectral.isotropy]]) — the one-row mean-pairwise
    * cosine of the whole embeddings table via the ‖Σû‖² identity,
    * never a pair join: the collapsed-space early warning for every
    * ANN tier (q35…q111), SemDeDup (q94) and semantic decontamination
    * (q155), whose thresholds all silently degrade when directions
    * bunch. Oracle replays the normalization, the micro unit grid,
    * per-dimension sums and both quadratic forms. */
  def embeddingIsotropy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ops.Spectral.isotropy(Tables.embeddings(s, dir), "embedding")
  }

  /** q253: KRUSKAL–WALLIS omnibus source test
    * ([[graft.ops.ClassifierEval.kruskalWallis]]) — does the
    * classifier-score distribution differ across ANY source, in one
    * k-sample test? The omnibus gate that caps the q243
    * multiple-testing funnel: pairwise drilldowns (q210/q237) only
    * run when this rejects. Doubled integer ranks on the score grid,
    * exact DECIMAL rank sums, tie-corrected. Oracle replays the
    * classifier, the rank grid and the div/mod quotient device. */
  def sourceScoreKruskal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val conf = confFor(s, dir)
      .join(docs.select($"doc_id", $"source"), Seq("doc_id"))
    graft.ops.ClassifierEval.kruskalWallis(conf, "source", "conf")
  }

  /** q254: BROWN–FORSYTHE spread-homogeneity test
    * ([[graft.ops.ClassifierEval.brownForsythe]]) — the dispersion
    * complement of q253: do sources differ in score SPREAD even where
    * centres agree? A fanned-out source signals a mixed-quality crawl
    * at the same mean. ANOVA F on |score − per-source lower median|,
    * every deviation an exact micro integer. Oracle replays the
    * classifier, the per-source median scan and both quotient
    * splits. */
  def sourceScoreSpread(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val conf = confFor(s, dir)
      .join(docs.select($"doc_id", $"source"), Seq("doc_id"))
    graft.ops.ClassifierEval.brownForsythe(conf, "source", "conf")
  }

  /** q256: CHAO1 vocabulary richness per source
    * ([[graft.ops.TextAnalysis.chao1Richness]]) — how many distinct
    * tokens each source REALLY has, crawled or not: the
    * singleton/doubleton lower bound beside q208's Heaps fit and
    * q232's capture-recapture. A source whose chao1 towers over its
    * v_obs is under-crawled; one where they agree is exhausted.
    * Oracle replays the token grid and the closed form. */
  def sourceChao1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TextAnalysis.chao1Richness(Tables.documents(s, dir), "source", "text")
  }

  /** q257: DUNNING G² keywords per source
    * ([[graft.ops.TextAnalysis.keywordsLlr]]) — the
    * frequency-AND-skew keyword extractor beside q72's TF-IDF (which
    * rewards rarity alone) and q227's TextRank (graph centrality):
    * tokens both frequent and overrepresented in the source vs the
    * rest, ranked by the binomial log-likelihood ratio. Top-5 per
    * source, nano-integer ranking. Oracle replays counts, the
    * integer overrepresentation gate, the G² terms and the
    * windowed cut. */
  def sourceKeywords(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TextAnalysis.keywordsLlr(Tables.documents(s, dir), "source", "text",
      topK = 5)
  }

  /** q258: BURROWS' DELTA source-style distance
    * ([[graft.ops.TextAnalysis.burrowsDelta]]) — the stylometric
    * pair matrix beside q202's topical JSD: z-scored top-30-word
    * rates catch crawl-template rhythm (function words, boilerplate
    * cadence) that topic distributions miss. Oracle replays the
    * top-word cut, nano rates, per-word moments and the pair
    * sums. */
  def sourceStyleDelta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TextAnalysis.burrowsDelta(Tables.documents(s, dir), "source", "text",
      topM = 30)
  }

  /** q259: GRIES' DP token dispersion
    * ([[graft.ops.TextAnalysis.dispersionDp]]) — for the top-20
    * corpus tokens, is the mass spread like the sources or supplied
    * by one of them? High-frequency high-DP tokens are template
    * chrome masquerading as vocabulary — the per-token complement of
    * the per-source drift family, and a direct input to blocklist
    * review (q160). Exact integer numerators, one final division.
    * Oracle replays the top cut and every |v·N − n·f| term. */
  def tokenDispersion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TextAnalysis.dispersionDp(Tables.documents(s, dir), "source", "text",
      topK = 20)
  }

  /** q260: DISTINCT-n DIVERSITY per source
    * ([[graft.ops.TextAnalysis.ngramDiversity]]) — the distinct-1/2/3
    * ratios that flag template spam before the n-gram dedup family
    * (q79/q83) pays to confirm it: a collapsing distinct-2 ratio at
    * healthy vocabulary is machine-generated or boilerplate text.
    * N-grams never cross document boundaries; ratios NULL on empty
    * orders. Oracle replays all three gram streams. */
  def sourceNgramDiversity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TextAnalysis.ngramDiversity(Tables.documents(s, dir), "source", "text")
  }

  /** q263: IMPORTANCE REWEIGHTING to the uniform source mixture
    * ([[graft.ops.Sampling.importanceWeights]]) — the "reweight,
    * don't resample" alternative beside q120's α-sampling and q125's
    * DoReMi: per-source clipped weights toward equal effective mass,
    * with the Kish ESS (q209's readout) reporting what the clip
    * actually costs. ess_frac is the go/no-go number: reweighting
    * that leaves a thin effective corpus loses to q129's capping.
    * Oracle replays counts, the nano weight grid, the clip and both
    * ESS moments. */
  def sourceImportanceWeights(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ops.Sampling.importanceWeights(Tables.documents(s, dir),
      "source", wMax = 2.0d)
  }

  /** q264: KS drift SIGNIFICANCE
    * ([[graft.ops.ClassifierEval.ksTest]]) — q203's sup-distance with
    * the number the gate can act on: the asymptotic Kolmogorov
    * p-value from the 100-term alternating series on the pico grid.
    * Same early/late cohorts, same exact cross-multiplied D; D = 0
    * reports p = 1 exactly. Oracle replays the grid, the sup, λ and
    * every quantized series term. */
  def ksDriftTest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val conf = confFor(s, dir)
    graft.ops.ClassifierEval.ksTest(
      conf.filter($"doc_id" < 250).select($"conf"),
      conf.filter($"doc_id" >= 250).select($"conf"),
      "conf")
  }

  /** q265: DeLONG confidence interval for the quality AUC
    * ([[graft.ops.Calibration.delongAucCi]]) — the error bar q185's
    * point estimate needs before two classifier versions are
    * compared: structural-component variance on the exact score grid,
    * doubled-integer placements, one DECIMAL deviation pass. Oracle
    * replays the grid, both placements, a2 and both squared-deviation
    * sums. */
  def qualityAucCi(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val pred = confFor(s, dir)
    val lab = gopherKeepFor(s, dir)
    graft.ops.Calibration.delongAucCi(pred, lab, "doc_id", "conf", "keep")
  }

  /** q266: WEIGHTED-COSINE near-dup join
    * ([[graft.ops.Dedup.cosineTfJoin]]) — the AllPairs prefix-filtered
    * TF-vector cosine at τ = 0.8 over 3-gram shingle features beside
    * the set-based family (q31/q97): graded near-duplication — same
    * phrases, shifted emphasis — that Jaccard flattens to membership
    * (shingles, not unigrams: a template corpus makes unigram cosine
    * dense and every pair a candidate). The oracle is
    * the BRUTE-FORCE all-pairs join on the same quantized grid, so an
    * oracle match proves the prefix filter complete end to end. */
  def cosineNearDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Dedup.cosineTfJoin(Tables.documents(s, dir), "doc_id", "text",
      threshold = 0.8d, w = 3)
  }

  /** q267: COCHRAN–ARMITAGE length trend of the Gopher gate
    * ([[graft.ops.ClassifierEval.cochranArmitage]]) — does the keep
    * rate TREND across fixed-width length buckets
    * (min(n_chars∕500, 9)), not merely differ somewhere as q211's χ²
    * asks with more degrees of freedom? A strong trend says the gate
    * is partly a length re-measurement — the exact confound q268 then
    * quantifies. Oracle replays labels, buckets and the cleared-
    * denominator A∕B integers. */
  def gopherLengthTrend(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val lab = gopherKeepFor(s, dir)
      .join(docs.select($"doc_id", $"n_chars"), Seq("doc_id"))
      .select(least(expr("n_chars div 500"), lit(9L)).as("bucket"),
        $"keep")
    graft.ops.ClassifierEval.cochranArmitage(lab, "bucket", "keep")
  }

  /** q268: PARTIAL CORRELATION score ↔ keep ∣ length
    * ([[graft.ops.ClassifierEval.partialCorrelation]]) — does the
    * q124 classifier correlate with the Gopher gate BEYOND what raw
    * document length explains? The confound check before anyone
    * claims the model adds signal over a length heuristic: one
    * corpus aggregate, nine exact DECIMAL moments, the first-order
    * partial. Oracle replays the classifier, labels and every
    * moment. */
  def scoreKeepPartial(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val conf = confFor(s, dir)
    val frame = conf
      .join(TextAnalysis.gopherRules(docs, "doc_id", "text")
        .select($"doc_id", $"keep"), Seq("doc_id"))
      .join(docs.select($"doc_id", $"n_chars"), Seq("doc_id"))
    graft.ops.ClassifierEval.partialCorrelation(frame, "conf", "keep",
      "n_chars")
  }

  /** q270: FLESCH readability profile per source
    * ([[graft.ops.TextAnalysis.readability]]) — the classic
    * reading-ease gate feature beside q127's structural Gopher rules:
    * vowel-group syllables, [.!?]+ sentences, all counts exact
    * integers from codegen HOFs. A source whose ease collapses went
    * jargon or boilerplate — style drift the structural gate passes.
    * Oracle replays tokens, sentence splits, the syllable clamp and
    * the fixed-order formula. */
  def sourceReadability(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TextAnalysis.readability(Tables.documents(s, dir), "source", "text")
  }

  /** q271: per-LABEL isotropy
    * ([[graft.ops.Spectral.isotropyByGroup]]) — q252's collapse
    * canary sharded by the embedding label: a healthy global mean
    * cosine can hide ONE label's cluster collapsing (poisoning its
    * centroid (q25) and every k-NN label audit) while another
    * spreads. Single-vector labels report NULL pairwise, honestly.
    * Oracle replays the per-label grids and both quadratic forms. */
  def labelIsotropy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ops.Spectral.isotropyByGroup(Tables.embeddings(s, dir),
      "label", "embedding")
  }

  /** q272: WILSON keep-rate intervals per source
    * ([[graft.ops.ClassifierEval.wilsonInterval]]) — the per-source
    * Gopher keep-rate table with error bars that never leave [0, 1]
    * and stay honest at extreme rates, where the Wald interval lies;
    * the iid classic beside q231's cluster-robust jackknife. Oracle
    * replays labels, counts and the fixed-order centre∕half-width. */
  def sourceKeepWilson(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val frame = gopherKeepFor(s, dir)
      .join(docs.select($"doc_id", $"source"), Seq("doc_id"))
    graft.ops.ClassifierEval.wilsonInterval(frame, "source", "keep")
  }

  /** q273: CRAMÉR–VON MISES score drift
    * ([[graft.ops.ClassifierEval.cramerVonMises]]) — the whole-CDF
    * companion of q203's KS sup on the same early/late cohorts: a
    * distribution drifting a LITTLE EVERYWHERE hides under a modest
    * sup while the integrated squared gap is already loud. Exact
    * integer cross-multiplied terms, one final division; the 5%
    * criterion is the documented asymptotic point. Oracle replays
    * the grid and every squared term. */
  def cvmDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val conf = confFor(s, dir)
    graft.ops.ClassifierEval.cramerVonMises(
      conf.filter($"doc_id" < 250).select($"conf"),
      conf.filter($"doc_id" >= 250).select($"conf"),
      "conf")
  }

  /** q274: CROSS-LABEL cosine separation matrix
    * ([[graft.ops.Spectral.crossGroupCosine]]) — the full k×k
    * between-cluster geometry of the embedding space from per-label
    * per-dimension sums alone (NO pair join): diagonals ≫
    * off-diagonals = separable labels; a label whose off-diagonal
    * catches its diagonal bleeds into its neighbours — the geometry
    * q156's k-NN label-noise audit then confirms pointwise. Oracle
    * replays the per-label grids and every dot. */
  def labelSeparation(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ops.Spectral.crossGroupCosine(Tables.embeddings(s, dir),
      "label", "embedding")
  }

  /** q275: HELLINGER score drift per source
    * ([[graft.ops.ClassifierEval.hellingerByGroup]]) — each source's
    * classifier-score histogram against the corpus on the bounded
    * [0, 1] Hellinger scale: PSI (q200) explodes on empty bins and KS
    * (q237) sees only the worst gap; BC/H read the WHOLE shape and
    * stay finite with zero-count bins contributing exactly 0. Oracle
    * replays the classifier, the calibration binning and every
    * nano-quantized √(p·q) term. */
  def sourceHellinger(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val conf = confFor(s, dir)
      .join(docs.select($"doc_id", $"source"), Seq("doc_id"))
    graft.ops.ClassifierEval.hellingerByGroup(conf, "source", "conf",
      bins = 20)
  }

  /** q276: GWET AC1 lang-id agreement
    * ([[graft.ops.ClassifierEval.gwetAc1]]) — q187's κ on the same
    * (gold lang, predicted) frame, chance-corrected the
    * prevalence-robust way: on a corpus dominated by one language κ
    * can sink while raters agree on nearly every row (the kappa
    * paradox); AC1 stays calibrated, and DISAGREEMENT between the two
    * numbers is itself the skew warning. Oracle replays the cells,
    * the union marginals and the cleared-denominator integer ratio. */
  def langIdAc1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ops.ClassifierEval.gwetAc1(
      TextAnalysis.langIdScores(Tables.documents(s, dir), "text")
        .select($"lang", $"predicted"),
      "lang", "predicted")
  }

  /** q204: per-source token-mass GINI
    * ([[graft.ops.TextAnalysis.tokenGini]]) — how concentrated each
    * source's training-token mass is across its documents: the
    * imbalance readout that says whether per-document caps and shard
    * packing silently re-weight the source. Exact grouped-data Gini on
    * the per-(source, length) count frame; oracle replays token
    * counts, the length-grid cumulative and the integer identity. */
  def tokenGiniBySource(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TextAnalysis.tokenGini(Tables.documents(s, dir), "source", "text")
      .orderBy($"group")
  }

  /** q205: reciprocal-rank fusion of quality signals
    * ([[graft.ops.RankMetrics.rrfFuse]]) — the zero-training ensemble
    * of the q124 classifier confidence and the q78 unigram LM
    * log-prob: two heterogeneous quality orderings fused by
    * 1∕(60+rank) contributions, top 50 — the "best of both gates"
    * selection a curation pipeline runs when neither signal alone is
    * trusted. Oracle replays both scores, the grid competition ranks
    * and the exact nano fusion sum. */
  def rrfBlend(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val conf = confFor(s, dir)
    val lp = lpFor(s, dir)
    graft.ops.RankMetrics.rrfFuse(conf, lp, "doc_id",
        "conf", "avg_logprob", k0 = 60, topN = 50)
      .orderBy($"rrf_nano".desc, $"doc_id")
  }

  /** q206: clustering-agreement NMI
    * ([[graft.ops.ClassifierEval.nmi]]) — normalized mutual
    * information between the gold language label and the q42 lang-id
    * partition: the permutation-invariant agreement number that stays
    * meaningful when an unsupervised partition's label names can never
    * match the reference (q187's κ cannot score that case). Oracle
    * replays the prediction, the contingency counts and every
    * nano-quantized entropy/MI term. */
  def clusterNmi(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ops.ClassifierEval.nmi(
      TextAnalysis.langIdScores(Tables.documents(s, dir), "text")
        .select($"lang", $"predicted"),
      "lang", "predicted")
  }

  /** q207: tie-exact SPEARMAN rank correlation
    * ([[graft.ops.RankMetrics.spearman]]) between the q124 classifier
    * confidence and the q78 unigram LM log-prob — the
    * monotone-agreement number behind q205's fusion: do the two
    * quality gates even order the corpus the same way? Fractional
    * (average) ranks make it tie-correct; the scales never meet.
    * Oracle replays both signals, the doubled-average-rank grids and
    * the exact-integer Pearson sums. */
  def spearmanSignals(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val conf = confFor(s, dir)
    val lp = lpFor(s, dir)
    graft.ops.RankMetrics.spearman(conf, lp, "doc_id",
      "conf", "avg_logprob")
  }

  /** q279: KENDALL's W concordance of THREE quality signals
    * ([[graft.ops.ClassifierEval.kendallW]]) — q207's pairwise Spearman
    * generalized to the whole signal panel: do the classifier
    * confidence, the unigram-LM log-prob and raw document length rank
    * the corpus concordantly (are the "quality" signals secretly one
    * length signal — the q268 confound, asked panel-wide)? Friedman's
    * χ² rides along. Oracle replays both score pipelines, the three
    * doubled-rank grids, the tie cubes and the exact-integer W. */
  def signalKendallW(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val conf = confFor(s, dir)
    val lp = lpFor(s, dir)
    val wide = conf.join(lp, Seq("doc_id"))
      .join(docs.select($"doc_id", $"n_chars".cast("double").as("len")),
        Seq("doc_id"))
    graft.ops.ClassifierEval.kendallW(wide, "doc_id",
      Seq("conf", "avg_logprob", "len"))
  }

  /** q287: KRIPPENDORFF's α over the curation-gate panel WITH
    * abstention ([[graft.ops.ClassifierEval.krippendorffAlpha]]) —
    * the agreement coefficient q187's κ (2 raters) and q230's Cochran Q
    * (complete panel) cannot give once a gate abstains: lang-id emits
    * no vote on documents it cannot identify ('und'), so items have
    * VARIABLE rater counts and the coincidence-matrix α is the right
    * statistic. Oracle replays all three gates, the abstention, the
    * per-item nano-quantized disagreement terms and the cleared
    * expected-disagreement integers. */
  def gateKrippendorff(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val g = TextAnalysis.gopherRules(docs, "doc_id", "text")
      .select($"doc_id", lit("gopher").as("rater"),
        $"keep".cast("string").as("vote"))
    val b = TextAnalysis.blocklistFilter(docs, "doc_id", "text",
        Seq("slow", "big", "broken"))
      .select($"doc_id", lit("blocklist").as("rater"),
        $"keep".cast("string").as("vote"))
    val l = TextAnalysis.langIdScores(docs, "text")
      .filter($"predicted" =!= "und") // abstains when it cannot identify
      .select($"doc_id", lit("langid").as("rater"),
        ($"predicted" === $"lang").cast("long").cast("string").as("vote"))
    graft.ops.ClassifierEval.krippendorffAlpha(
      g.unionByName(b).unionByName(l), "doc_id", "rater", "vote")
  }

  /** q295: MCC/Youden threshold sweep of the quality classifier
    * ([[graft.ops.ClassifierEval.mccSweep]]) — q185 says the classifier
    * RANKS; this picks the threshold to SHIP: per distinct confidence,
    * the exact confusion matrix against the Gopher gate, the
    * skew-robust Matthews correlation, Youden's J, and the MCC-argmax
    * flag. Oracle replays classifier, gate, the reverse-cumulative
    * confusion grid and both readouts. */
  def classifierMccSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ops.ClassifierEval.mccSweep(confFor(s, dir),
      gopherKeepFor(s, dir), "doc_id", "conf", "keep")
  }

  /** q286: PERMUTATION-NULL AUC importance of the quality signals
    * ([[graft.ops.ClassifierEval.permutationAucNull]]) — for each of
    * the three q279 signals (classifier confidence, LM log-prob, raw
    * length), its exact AUC against the Gopher gate AND the AUC after
    * a deterministic md5-bucket permutation: the empirical null that
    * separates real discrimination from shape. Oracle replays both
    * score pipelines, the gate, the bucketed permutation bijection and
    * all six exact U-statistics. */
  def signalPermAucNull(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val conf = confFor(s, dir)
    val lp = lpFor(s, dir)
    val lab = gopherKeepFor(s, dir)
    val wide = conf.join(lp, Seq("doc_id"))
      .join(docs.select($"doc_id", $"n_chars".cast("double").as("len")),
        Seq("doc_id"))
      .join(lab, Seq("doc_id"))
    graft.ops.ClassifierEval.permutationAucNull(wide, "doc_id", "keep",
      Seq("avg_logprob", "conf", "len"))
  }

  /** q285: PAIRWISE Mann–Whitney matrix across sources
    * ([[graft.ops.ClassifierEval.mannWhitneyMatrix]]) — q253's Kruskal
    * says the sources differ SOMEWHERE on classifier confidence; this
    * says which pairs, with tie-corrected z and rank-biserial effect
    * size per pair (q243's BH machinery is the multiple-testing
    * closure). Oracle replays the classifier, the per-source grids,
    * every pair's doubled-rank sums and the fixed-order z. */
  def sourceMwMatrix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    // r16: the q124 confidence signal comes from the shared build-once
    // cache (identical values by construction — same expression tree as
    // confFor) instead of a from-scratch featurize+score pass per call
    val conf = confFor(s, dir)
      .join(docs.select($"doc_id", $"source"), Seq("doc_id"))
    graft.ops.ClassifierEval.mannWhitneyMatrix(conf, "source", "conf")
  }

  /** q292: THEIL T token-mass inequality, decomposed by source
    * ([[TextAnalysis.theilDecomposition]]) — q204's Gini says HOW
    * concentrated; Theil's additive decomposition says WHERE: giant
    * documents inside sources (within) vs giant sources (between) —
    * the number that decides whether a cap should act per-document or
    * per-source. Oracle replays the length grid, every nano term and
    * the cleared share/identity arithmetic. */
  def sourceTheil(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TextAnalysis.theilDecomposition(Tables.documents(s, dir),
      "source", "text")
  }

  /** q290: JELINEK–MERCER λ sweep ([[TextAnalysis.jmSweep]]) — the
    * LM family's fixed constants (backoff α = 0.4, KN discount 0.75)
    * tuned empirically for once: train the bigram/unigram ML tables on
    * the q168 split (doc_id % 10 ≠ 0), score the held-out tenth under
    * every λ in 0.1…0.9, and flag the mixing weight the held-out
    * likelihood prefers. Oracle replays the split, both count tables,
    * the OOV drop and every per-(pair, λ) micro term. */
  def jmLambdaSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    TextAnalysis.jmSweep(
      docs.filter($"doc_id" % 10 =!= 0), docs.filter($"doc_id" % 10 === 0),
      "doc_id", "text")
  }

  /** q291: GREEDY MAXIMUM-COVERAGE selection
    * ([[graft.ops.Curation.greedyVocabCover]]) — the 8 documents that
    * together cover the most corpus vocabulary, picked by the classic
    * (1−1∕e) greedy: the exact-word-space twin of q137's embedding MMR
    * and the seed-set move behind coverage-targeted eval slices.
    * Oracle replays the greedy argmax chain (recursive CTE, the q137
    * device) and attributes each word to its first covering pick. */
  def vocabSetCover(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ops.Curation.greedyVocabCover(
      Tables.documents(s, dir), "doc_id", "text", k = 8)
  }

  /** q283: COUNT–MIN SKETCH frequency audit ([[graft.ops.CountMin]]) —
    * the fixed-memory token-frequency summary vs exact truth: the d×w
    * counter table is built in one pass over the corpus tokens, the
    * top-25 tokens (by exact count, deterministic tie-break) are
    * point-estimated back through the sketch, and the CMS guarantee
    * (est ≥ exact, bounded overshoot) is the readout — the shape a
    * vocabulary monitor takes when the exact q45 top-terms table stops
    * fitting. Oracle rebuilds the sketch bit-for-bit (polynomial item
    * codes, the shared (a,b) hash rows, integer mod arithmetic). */
  def tokenCountMin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, dir)
      .select(explode(TextAnalysis.tokens($"text")).as("token"))
      .filter(length($"token") > 0)
      .pin // corpus tokens, read by build + exact
    val code = graft.ops.Dedup.polyHashCol("token", 31L)
    val sketch = graft.ops.CountMin.build(toks, code)
    val top = toks.groupBy($"token").agg(count(lit(1)).as("exact_cnt"))
      .orderBy($"exact_cnt".desc, $"token").limit(25)
    graft.ops.CountMin.estimate(top, code, sketch)
      .select($"token", $"exact_cnt", $"cms_est",
        ($"cms_est" - $"exact_cnt").as("overshoot"))
      .orderBy($"exact_cnt".desc, $"token")
  }

  /** q208: HEAPS'-LAW fit over the vocabulary-growth curve
    * ([[TextAnalysis.vocabGrowth]] → [[TextAnalysis.heapsFit]]) — the
    * saturation extrapolation next to q165's novelty curve and q198's
    * coverage thresholds: sources ingest alphabetically, each distinct
    * word is credited to its first source, and the log-log OLS line
    * through the (cum_tokens, cum_vocab) points reads off V ≈ K·N^β.
    * Oracle replays tokenization, first-source attribution, the
    * bounded cumulative window, every nano-quantized OLS term and the
    * fixed-order slope/intercept/r² arithmetic. */
  def heapsLaw(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TextAnalysis.heapsFit(
      TextAnalysis.vocabGrowth(Tables.documents(s, dir), "source", "text"),
      "cum_tokens", "cum_vocab")
  }

  /** q209: per-source EFFECTIVE SAMPLE SIZE under soft-dedup weights
    * ([[graft.ops.Sampling.effectiveSampleSize]]) — what q197's
    * cluster reweighting costs each source in statistical power:
    * Kish's (Σw)²∕Σw² over the 1∕|cluster| weights, so a source full
    * of near-dups reports the few EFFECTIVE documents it actually
    * contributes. Oracle replays the candidate graph, the recursive
    * closure, sizes, weights and the exact-integer ESS identity. */
  def essBySource(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val w = graft.ops.Components.clusterWeights(docs, "doc_id",
      Dedup.minHashCandidates(docs, "doc_id", "text", threshold = 0.4)
        .select($"a_id", $"b_id"))
    graft.ops.Sampling.effectiveSampleSize(
        w.join(docs.select($"doc_id", $"source"), Seq("doc_id")),
        "source", "weight")
      .orderBy($"group")
  }

  /** q210: MANN–WHITNEY U drift test
    * ([[graft.ops.ClassifierEval.mannWhitney]]) — the significance
    * companion to q203's KS sup: does the early ingest cohort
    * (doc_id < 250) stochastically outrank the late one on classifier
    * confidence, with a tie-corrected z and the rank-biserial effect
    * size? Oracle replays the classifier, the split, the grid, the
    * exact-integer 2U and tie sums and the fixed-order z. */
  def mannWhitneyDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val conf = confFor(s, dir)
    graft.ops.ClassifierEval.mannWhitney(
      conf.filter($"doc_id" < 250).select($"conf"),
      conf.filter($"doc_id" >= 250).select($"conf"),
      "conf")
  }

  /** q211: χ² INDEPENDENCE of source × language
    * ([[graft.ops.ClassifierEval.chiSquare]]) — the mixture-audit
    * significance readout next to q206's NMI: is language balanced
    * across sources, or does a mixture planner that treats sources as
    * exchangeable silently re-weight languages? Cramér's V rides along
    * as the N-free effect size. Oracle replays the contingency frame
    * with its zero-observed cells and every nano term. */
  def sourceLangChiSquare(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ops.ClassifierEval.chiSquare(
      Tables.documents(s, dir).select($"source", $"lang"), "source", "lang")
  }

  /** q212: BRIER decomposition of the quality gate
    * ([[graft.ops.Calibration.brierDecomposition]]) — q177's ECE split
    * into WHY: reliability (fixable by q178's temperature),
    * resolution (not fixable post hoc), the data's uncertainty floor,
    * and the honest within-bin residual. Oracle replays classifier,
    * gate, the exact integer Brier sum, binning and every nano term. */
  def brierAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val pred = confFor(s, dir)
    val lab = gopherKeepFor(s, dir)
    graft.ops.Calibration.brierDecomposition(pred, lab, "doc_id",
      "conf", "keep", bins = 10)
  }

  /** q213: l-DIVERSITY release audit
    * ([[graft.ops.Curation.lDiversityProfile]]) — the
    * attribute-disclosure readout q130's k-anonymity cannot see: within
    * each (source, length-bucket) quasi-identifier cell, is the
    * language attribute actually diverse, or does a well-populated cell
    * still leak it? Distinct-l and entropy-l floors per source. Oracle
    * replays cells, per-cell entropy terms and the floors. */
  def lDiversity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Curation.lDiversityProfile(
        Tables.documents(s, dir)
          .withColumn("len_bucket", floor($"n_chars" / 100).cast("long")),
        Seq("source"), Seq("len_bucket"), "lang", l = 2)
      .orderBy($"source")
  }

  /** q179: T5 span-corruption data prep ([[Chunking.spanCorrupt]]) —
    * deterministic (input, target) denoising pairs: every full 8-token
    * block loses one 2-token span at an md5-chosen offset, sentinels
    * `<extra_id_b>` mark the cuts, the target strings the lost spans
    * together. The objective-construction step between curation and
    * training, map-only and RNG-free; the oracle replays tokenization,
    * every block offset and both string assemblies. */
  def spanCorruption(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Chunking.spanCorrupt(Tables.documents(s, dir), "doc_id", "text",
        blockLen = 8, spanLen = 2)
      .orderBy($"doc_id")
  }

  /** q125: DoReMi-shaped domain mixture reweighting
    * (Sampling.domainMixture) — per-source excess loss under the corpus
    * unigram LM → exp(excess/τ)-normalized mixture weights: the
    * data-mixture step between curation and training. τ=0.5 sharpens the
    * reweighting enough that weights separate at test scale. */
  def doremiMixture(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Sampling.domainMixture(Tables.documents(s, dir), "source", "text",
        temperature = 0.5)
      .orderBy($"source")
  }

  /** q127: Gopher/MassiveText rule-based quality gate
    * (TextAnalysis.gopherRules) — word-count, mean-word-length,
    * alpha-word-ratio and stopword rules, each reported per document with
    * the overall keep bit. Map-only: every measure folds over the token
    * array inside codegen; no explode, no shuffle. */
  def gopherQuality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TextAnalysis.gopherRules(Tables.documents(s, dir), "doc_id", "text")
      .orderBy($"doc_id")
  }

  /** q119: repeated-span removal (Dedup.repeatedSpanRemoval) — the
    * rewrite form of exact-substring dedup: documents with every
    * cross-document duplicated 8-gram span deleted, plus the
    * before/after token accounting. The oracle rebuilds the cleaned
    * text verbatim, so the hash match proves span union + rewrite are
    * engine-exact, not just the counts. */
  def spanRemoval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Dedup.repeatedSpanRemoval(Tables.documents(s, dir), "doc_id", "text", n = 8)
      .orderBy($"doc_id")
  }

  /** q183: MAXIMAL-span exact-substring removal
    * ([[Dedup.maximalSpanRemoval]]) — q119's span union upgraded to the
    * full Lee et al. shape: runs of overlapping duplicated 8-grams
    * coalesce into maximal variable-length spans, and only spans ≥ 12
    * tokens are removed (a lone duplicated 8-gram survives — the
    * "don't shred documents over short common phrases" knob). The
    * oracle replays the coalescing arithmetic and rebuilds the cleaned
    * text verbatim. */
  def maximalSpans(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Dedup.maximalSpanRemoval(Tables.documents(s, dir), "doc_id", "text",
        n = 8, minLen = 12)
      .orderBy($"doc_id")
  }

  /** q215: McNEMAR paired gate comparison
    * ([[graft.ops.ClassifierEval.mcnemar]]) — is the q124 model gate
    * (conf ≥ 0.5) actually STRICTER than the q127 rule gate, or do
    * they just disagree symmetrically? The paired test over the same
    * documents that an accuracy delta cannot answer (agreement rows
    * carry no information — only the off-diagonal cells do). Oracle
    * replays both gates and the continuity-corrected statistic. */
  def gateMcnemar(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val pred = QualityModel.classifierScore(docs, "doc_id", "text")
      .withColumn("conf",
        round(lit(1.0d) / (lit(1.0d) + exp(negate($"score"))), 6))
      .select($"doc_id", ($"conf" >= 0.5d).as("model_pass"))
    val lab = TextAnalysis.gopherRules(docs, "doc_id", "text")
      .select($"doc_id", ($"keep" === 1L).as("rule_pass"))
    graft.ops.ClassifierEval.mcnemar(lab.join(pred, "doc_id"),
      "rule_pass", "model_pass")
  }

  /** q219: ISOTONIC calibration
    * ([[graft.ops.Calibration.isotonicCalibration]]) — the
    * non-parametric post-hoc fix next to q178's temperature sweep: the
    * best monotone curve (PAV via the closed minimax identity — three
    * bounded joins, no iteration) through the q177 reliability bins,
    * with the before/after ECE. Oracle replays the classifier, the
    * gate, the binning, the bins² segment means and the bins³ minimax
    * lattice. */
  def isotonicAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val pred = confFor(s, dir)
    val lab = gopherKeepFor(s, dir)
    graft.ops.Calibration.isotonicCalibration(pred, lab, "doc_id", "conf",
        "keep", bins = 10)
      .orderBy($"bin")
  }

  /** q220: t-CLOSENESS release audit
    * ([[graft.ops.Curation.tClosenessProfile]]) — the
    * distribution-skew disclosure q213's l-diversity cannot see: a
    * (source, length-bucket) cell can hold every language yet still
    * leak if its language MIX is far from the corpus mix. Worst-cell
    * total-variation distance per source at t = 0.2, with the dense
    * completion (absent languages still deviate). Oracle replays the
    * exact common-denominator integer deviations. */
  def tCloseness(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Curation.tClosenessProfile(
        Tables.documents(s, dir)
          .withColumn("len_bucket", floor($"n_chars" / 100).cast("long")),
        Seq("source"), Seq("len_bucket"), "lang", t = 0.2)
      .orderBy($"source")
  }

  /** q221: GOOD–TURING frequency smoothing
    * ([[TextAnalysis.goodTuring]]) — count-of-counts over the corpus
    * vocabulary, the smoothed r* per frequency class and the missing
    * mass P₀ = N₁∕N a fresh sample would spend on unseen words: the
    * principled companion to the LM family's fixed-α backoff and the
    * saturation signal next to q208's Heaps fit. Reads out the 10
    * lowest frequency classes PRESENT (the synthetic corpus has a
    * closed vocabulary — min word count 26 at sf0.01 — so a fixed
    * r ≤ 10 window would be empty). Oracle replays the count-of-counts
    * table and every ratio. */
  def goodTuringReadout(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TextAnalysis.goodTuring(Tables.documents(s, dir), "text", maxR = 10)
  }

  /** q222: token↔label MUTUAL INFORMATION
    * ([[TextAnalysis.tokenLabelMI]]) — the supervised feature-selection
    * cut behind interpretable lang/quality gates: which tokens carry
    * the most information about `lang = 'en'`, by exact 2×2
    * presence × label MI over distinct (doc, token) pairs. Top 25 by
    * nano-quantized MI, token tiebreak. Oracle replays the cells and
    * all four nano terms. */
  def tokenLabelMiTop(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TextAnalysis.tokenLabelMI(
      Tables.documents(s, dir)
        .withColumn("is_en", when($"lang" === "en", 1L).otherwise(0L)),
      "doc_id", "text", "is_en", topK = 25, minDf = 5L)
  }

  /** q223: NEYMAN allocation ([[graft.ops.Sampling.neymanAllocation]])
    * — the variance-minimizing labeling-budget split across sources
    * (n_h ∝ N_h·σ_h over doc length): the eval-set design step that
    * oversamples the wild sources exactly in proportion to the noise
    * they would otherwise inject, vs the proportional baseline. Oracle
    * replays the exact per-stratum moments, σ micro-quantization and
    * both allocations. */
  def neymanBudget(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Sampling.neymanAllocation(Tables.documents(s, dir), "source",
      "n_chars", budget = 1000L)
  }

  /** q224: near-dup graph DEGREE ASSORTATIVITY
    * ([[graft.ops.Components.degreeAssortativity]]) — the mixing
    * readout over q140's candidate graph: positive = duplicate
    * template FAMILIES (hubs link to hubs — components collapse them
    * cleanly), negative = canonical-page STARS (survivor choice
    * matters). Exact integer degree moments over both edge
    * orientations, one final ratio. */
  def nearDupAssortativity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ops.Components.degreeAssortativity(
      Dedup.minHashCandidates(Tables.documents(s, dir),
        "doc_id", "text", threshold = 0.4).select($"a_id", $"b_id"))
  }

  /** q225: longest contiguous CONTAMINATION runs
    * ([[Decontaminate.contaminationRuns]]) — the severity readout
    * behind q77's hit count: consecutive matched 8-gram POSITIONS
    * certify a verbatim token span (run + 7 tokens), separating a
    * verbatim benchmark quote from scattered idiom hits. Same
    * train/test split and broadcast regime as q77; islands arithmetic
    * over hit positions only. Oracle replays the positional codes, the
    * split and the runs. */
  def contaminationRunsReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val split = Sampling.hashSplit(Tables.documents(s, dir), "doc_id")
    Decontaminate.contaminationRuns(
        split.filter($"split" === "train"), split.filter($"split" === "test"),
        "doc_id", "text", n = 8)
      .orderBy($"doc_id")
  }

  /** q226: 2-CORE of the near-dup graph
    * ([[graft.ops.Components.kCore]]) — the density cut next to q140's
    * triangle census and q224's mixing readout: iterative peeling
    * leaves exactly the cycle-bearing duplicate nests (every survivor
    * corroborated by ≥ 2 others AFTER everything weaker is recursively
    * removed); chains of incidental one-off matches peel away entirely.
    * Pure integer set arithmetic — the oracle unrolls the same peel
    * rounds to the identical fixpoint. */
  def nearDupKCore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ops.Components.kCore(
        Dedup.minHashCandidates(Tables.documents(s, dir),
          "doc_id", "text", threshold = 0.4).select($"a_id", $"b_id"),
        k = 2, maxRounds = 12)
      .select($"id".as("doc_id"), $"deg")
      .orderBy($"doc_id")
  }

  /** q227: TextRank KEYWORDS ([[TextAnalysis.textRankKeywords]]) —
    * PageRank over the adjacent-token co-occurrence graph, the
    * unsupervised keyword cut next to q222's label-conditioned MI and
    * q45's TF-IDF terms (TextRank surfaces connective hub terms TF-IDF
    * suppresses). Exact integer-micro PageRank on token-string node
    * ids; oracle replays the bigram edge set and all three rounds. */
  def textRankTop(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TextAnalysis.textRankKeywords(Tables.documents(s, dir), "text",
      topK = 25, iters = 3)
  }

  /** Z-order (Morton) layout key over orders — ops.Layout.zValue2 on
    * (customer, order day), the two-predicate file-skipping curve. The
    * entry summarizes the curve by 64 z-range buckets (count + envelope);
    * LayoutSpec proves the skipping property on real partitioned files.
    * Integer bit arithmetic end to end — the oracle replays the
    * interleave bit-for-bit. */
  def zorderLayout(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val day = expr("unix_timestamp(o_orderdate) div 86400")
    val z = graft.ops.Layout.zValue2(
      pmod($"o_custkey", lit(1024L)), pmod(day, lit(1024L)), bits = 10)
    Tables.orders(s, dir)
      .select(z.as("z"))
      .groupBy(shiftright($"z", 14).as("zbucket"))
      .agg(count(lit(1)).as("n_orders"),
        min($"z").as("min_z"), max($"z").as("max_z"),
        sum($"z").as("sum_z"))
      .orderBy($"zbucket")
  }

  /** Deterministic epoch-1 training shuffle (Sampling.epochShuffle):
    * md5(doc_id ":" epoch) order within language shards. */
  def epochShuffle(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Sampling.epochShuffle(
        Tables.documents(s, dir).select($"doc_id", $"lang"),
        "doc_id", "lang", epoch = 1)
      .select($"doc_id", $"lang", $"pos")
      .orderBy($"lang", $"pos")
  }

  /** BM25 lexical top-5 per query (TextAnalysis.bm25) over the q64 query
    * strings — the sparse-retrieval complement of the embedding RAG
    * entry. Ranked on the exact integer micro-score, so the cut is
    * engine-stable. */
  def bm25TopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val qs = ragQueryRows.toDF("q_id", "qtext")
      .select($"q_id", explode(split(Dedup.normText($"qtext"), " ")).as("token"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"q_id").orderBy($"sum_micro".desc, $"doc_id")
    TextAnalysis.bm25(Tables.documents(s, dir), "doc_id", "text", qs)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter($"rnk" <= 5)
      .select($"q_id", $"doc_id", $"bm25", $"rnk")
      .orderBy($"q_id", $"rnk")
  }

  /** q175: retrieval-quality metrics ([[graft.ops.RankMetrics]]) —
    * the evaluation readout over the q82 BM25 stack: ranked lists are
    * BM25 top-10 per q64 query, relevance labels are the documents
    * with ≥ 2 query-token occurrences (binary, engine-derivable), and
    * the report is per-query MRR / precision@10 / recall@10 / nDCG@10
    * with the micro-quantized log₂ discount making both DCG sums exact
    * integers. The oracle replays scoring, labeling and every metric. */
  def retrievalMetrics(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val qs = ragQueryRows.toDF("q_id", "qtext")
      .select($"q_id", explode(split(Dedup.normText($"qtext"), " ")).as("token"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"q_id").orderBy($"sum_micro".desc, $"doc_id")
    val ranked = TextAnalysis.bm25(Tables.documents(s, dir), "doc_id", "text", qs)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter($"rnk" <= 10)
      .select($"q_id", $"doc_id", $"rnk")
    val labels = Tables.documents(s, dir)
      .select($"doc_id", explode(split(Dedup.normText($"text"), " ")).as("token"))
      .filter(length($"token") > 0)
      .join(broadcast(qs), Seq("token"))
      .groupBy($"q_id", $"doc_id")
      .agg(count(lit(1)).as("_c"))
      .filter($"_c" >= 2)
      .select($"q_id", $"doc_id")
    graft.ops.RankMetrics.rankingMetrics(ranked, labels,
        "q_id", "doc_id", "rnk", k = 10)
      .orderBy($"q_id")
  }

  /** Build-once persisted BM25 postings index (the q52/q111 cached-index
    * pattern applied to text): corpus fingerprint keyed, temp-dir
    * persisted, rebuilt only when the testdata regenerates. */
  private def bm25IndexFor(s: SparkSession, dir: String): String =
    VectorQueries.tempIndexDir(s, dir, "graft_bm25_index") { path =>
      graft.ops.TextIndex.writeIndex(
        Tables.documents(s, dir), "doc_id", "text", path)
    }

  /** Build-once cache for the q123 INCREMENTALLY MAINTAINED text index:
    * postings built from the "historic" slice (doc_id < 250) only, then
    * the "new batch" (doc_id ≥ 250) APPENDED — postings/doclengths are
    * additive, stats re-aggregate from docstats; the corpus is never
    * re-tokenized. */
  private def bm25AppendIndexFor(s: SparkSession, dir: String): String =
    VectorQueries.tempIndexDir(s, dir, "graft_bm25_append") { path =>
      import s.implicits._
      val docs = Tables.documents(s, dir)
      graft.ops.TextIndex.writeIndex(
        docs.filter($"doc_id" < 250), "doc_id", "text", path)
      graft.ops.TextIndex.appendToIndex(
        docs.filter($"doc_id" >= 250), "doc_id", "text", path)
    }

  /** q123: BM25 serving from the APPENDED index — build-then-append must
    * be indistinguishable from a one-shot build over the whole corpus,
    * so the oracle is (again) q82's from-scratch SQL. The maintenance
    * twin of q111's IVF append, for the text index family. */
  def bm25AppendTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"q_id").orderBy($"sum_micro".desc, $"doc_id")
    graft.ops.TextIndex.probeIndex(s, bm25AppendIndexFor(s, dir), "doc_id", ragQueryRows)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter($"rnk" <= 5)
      .select($"q_id", $"doc_id", $"bm25", $"rnk")
      .orderBy($"q_id", $"rnk")
  }

  /** Build-once cache for the q184 COMPACTED text index: the q123
    * stack (build < 250, append ≥ 250) followed by
    * [[graft.ops.TextIndex.compact]] — postings/docstats/stats deltas
    * merged into ONE delta through the shared manifest commit. */
  private def bm25CompactIndexFor(s: SparkSession, dir: String): String =
    VectorQueries.tempIndexDir(s, dir, "graft_bm25_compact") { path =>
      import s.implicits._
      val docs = Tables.documents(s, dir)
      graft.ops.TextIndex.writeIndex(
        docs.filter($"doc_id" < 250), "doc_id", "text", path)
      graft.ops.TextIndex.appendToIndex(
        docs.filter($"doc_id" >= 250), "doc_id", "text", path)
      graft.ops.TextIndex.compact(s, path, "doc_id")
    }

  /** q184: BM25 serving from the COMPACTED index — the q180 contract
    * for the text family: after compaction the probe reads ONE delta
    * instead of the append stack, and serving stays bit-identical, so
    * the oracle is (again) q82's from-scratch SQL. Compacted ≡
    * delta-stack ≡ one-shot build ≡ DuckDB. */
  def bm25CompactTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"q_id").orderBy($"sum_micro".desc, $"doc_id")
    graft.ops.TextIndex.probeIndex(s, bm25CompactIndexFor(s, dir), "doc_id", ragQueryRows)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter($"rnk" <= 5)
      .select($"q_id", $"doc_id", $"bm25", $"rnk")
      .orderBy($"q_id", $"rnk")
  }

  /** q190: TIME-TRAVEL BM25 serving ([[graft.ops.TextIndex
    * .probeIndexAt]]) — the q186 snapshot contract for the text family:
    * q123's index directory holds version 1 (build on doc_id < 250) and
    * version 2 (the ≥ 250 append); probing AS OF version 1 must be
    * bit-equal to a from-scratch BM25 over the historic corpus alone
    * (the oracle replays exactly that), proving a retained manifest +
    * immutable postings deltas ARE the old index — no copies kept. */
  def bm25TimeTravelTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"q_id").orderBy($"sum_micro".desc, $"doc_id")
    graft.ops.TextIndex.probeIndexAt(s, bm25AppendIndexFor(s, dir),
        version = 1L, "doc_id", ragQueryRows)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter($"rnk" <= 5)
      .select($"q_id", $"doc_id", $"bm25", $"rnk")
      .orderBy($"q_id", $"rnk")
  }

  /** q195: index VERSION DIFF ([[graft.ops.TextIndex.versionDiff]]) —
    * what changed between two retained snapshots of the q123 index:
    * [[graft.ops.Manifest.history]] says which versions exist; this
    * full-outer joins the two snapshots' docstats, so the readout is
    * exactly the appended batch (doc_id ≥ 250, change = 'added') with
    * its indexed lengths. Only (id, dl) rows move — diffing index
    * versions never touches postings. The oracle derives the same set
    * from the raw corpus slice. */
  def indexVersionDiff(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ops.TextIndex.versionDiff(s, bm25AppendIndexFor(s, dir),
        fromV = 1L, toV = 2L, "doc_id")
      .filter($"change" =!= "same")
      .orderBy($"doc_id")
  }

  /** q122: BM25 top-5 served from the PREBUILT inverted index
    * (TextIndex.probeIndex) — the postings scan partition-prunes to the
    * probe terms' md5 buckets instead of re-tokenizing the corpus per
    * query. Same queries, same shared scoring expression as q82, and
    * the oracle IS q82's from-scratch SQL: the hash match proves index
    * serving is lossless. */
  def bm25IndexTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"q_id").orderBy($"sum_micro".desc, $"doc_id")
    graft.ops.TextIndex.probeIndex(s, bm25IndexFor(s, dir), "doc_id", ragQueryRows)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter($"rnk" <= 5)
      .select($"q_id", $"doc_id", $"bm25", $"rnk")
      .orderBy($"q_id", $"rnk")
  }

  /** Chunk-level (paragraph) exact dedup (Dedup.chunkDedupGroups):
    * 32-token non-overlapping windows, duplicated-chunk groups with a
    * deterministic survivor — boilerplate paragraphs that document-level
    * dedup misses. */
  def chunkDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Dedup.chunkDedupGroups(Tables.documents(s, dir), "doc_id", "text",
        chunkTokens = 32)
      .orderBy($"chunk_fp")
  }

  /** Deterministic fixed-size corpus sample (Sampling.fixedSample): the
    * 25 docs with the smallest md5(doc_id) — exact sample SIZE (vs q61's
    * fixed rate), TakeOrderedAndProject plan, reproducible by any
    * engine. */
  def fixedSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Sampling.fixedSample(
        Tables.documents(s, dir).select($"doc_id", $"lang", $"n_chars"),
        "doc_id", k = 25)
      .orderBy($"doc_id")
  }

  /** Ordered conversion funnel over events (ops.Funnel): users whose
    * earliest view → click → purchase chain completes, per stage. */
  def funnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ops.Funnel.summary(Tables.events(s, dir),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
      .orderBy($"stage_idx")
  }

  /** Rolling 7-day distinct active users per day (ops.Funnel
    * .rollingActives) — sliding DISTINCT via explode-into-windows. */
  def rollingActives(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ops.Funnel.rollingActives(Tables.events(s, dir), "user_id", "ts")
      .orderBy($"window_period")
  }

  /** Edit-distance verification of near-dup candidates: q32's MinHash LSH
    * pairs re-scored with true Levenshtein distance on the normalized
    * text, keeping only verified near-dups (edit_sim ≥ 0.4, the same
    * threshold the LSH stage targets) — the exact-verifier stage of
    * fuzzy dedup, O(L²) work confined to candidate pairs (never all
    * pairs). Before the O(L²) DP runs, a map-side length-gap prune
    * rejects hopeless pairs for free: every edit changes length by ≤1,
    * so lev(a,b) ≥ |len(a)−len(b)| and a pair whose gap alone puts
    * edit_sim below the floor skips the DP. The bound is widened by +1
    * so float edge cases can never prune a pair the exact floor would
    * keep; the oracle therefore needs no prefilter — the final floor
    * alone defines the semantics. Joins are id-keyed, so at scale the
    * corpus text moves only for the LSH-bounded candidate rows.
    * Oracle-exact: pure-ASCII corpus (byte ≡ char distances), both
    * engines run the same DP, and edit_sim = 1 − lev/maxLen is a
    * double of exact integers. */
  def editDistancePairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val floor = 0.4d
    val docs = Tables.documents(s, dir)
      .select($"doc_id", Dedup.normText($"text").as("nt"))
    val cand = Dedup.minHashCandidates(Tables.documents(s, dir),
        "doc_id", "text", threshold = 0.4)
      .select($"a_id", $"b_id")
    cand
      .join(docs.select($"doc_id".as("a_id"), $"nt".as("na")), Seq("a_id"))
      .join(docs.select($"doc_id".as("b_id"), $"nt".as("nb")), Seq("b_id"))
      // length-gap DP skip (map-side, provably subsumed by the floor)
      .filter(abs(length($"na") - length($"nb")).cast("double") <=
        lit(1.0d - floor) * greatest(length($"na"), length($"nb")).cast("double") + lit(1.0d))
      // project the DP result once; edit_sim derives from the column
      .select($"a_id", $"b_id",
        levenshtein($"na", $"nb").cast("long").as("lev"),
        greatest(length($"na"), length($"nb")).cast("double").as("_ml"))
      .filter(lit(1.0d) - $"lev".cast("double") / $"_ml" >= floor)
      .select($"a_id", $"b_id", $"lev",
        round(lit(1.0d) - $"lev".cast("double") / $"_ml", 6).as("edit_sim"))
      .orderBy($"a_id", $"b_id")
  }

  /** Length-curriculum buckets — global deciles WITHOUT a global sort:
    * `ntile(10) OVER (ORDER BY n_chars)` would funnel the corpus through
    * one sort partition; instead the 9 interior decile boundaries come
    * from [[graft.ops.HistogramQuantile]] (q75's mergeable fixed-width
    * histogram — per-pass state is 128 longs, never a value buffer, so
    * the bounds aggregate survives 100 TB where `percentile(...)`'s
    * collect-all-values buffer would not), broadcast, and bucket
    * assignment is a map-only comparison count. Value-based buckets
    * (ties share a bucket), which is what curriculum schedules actually
    * want; the DuckDB oracle replays the sketch bit-for-bit, same as
    * q75.
    *
    * All three passes (extent, bin counts, final bucket stats) read ONLY
    * `n_chars`, so that one-column projection is materialized once via
    * a pin (the q97 idiom; the ExactRank/madOutliers
    * cached-base pattern) — the parquet scan runs once instead of three
    * times, and the sketch passes read executor-local longs. At 100 TB
    * the pin is a compact single column spread over the cluster —
    * strictly cheaper than two extra pruned corpus scans. */
  def lengthCurriculum(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nchars = Tables.documents(s, dir).select($"n_chars")
      .pin
    val deciles = graft.ops.HistogramQuantile.quantiles(
      nchars.withColumn("_g", lit(1)),
      "_g", "n_chars", (1 to 9).map(_ / 10.0d))
    // 9 (p, est) rows -> one ordered bounds array, still on executors
    val bounds = deciles.agg(
      transform(array_sort(collect_list(struct($"p", $"est"))),
        x => x("est")).as("bs"))
    nchars
      .crossJoin(broadcast(bounds))
      .select($"n_chars",
        (size(filter($"bs", b => $"n_chars" > b)) + 1).cast("long").as("bucket"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_docs"),
        min($"n_chars").as("min_chars"), max($"n_chars").as("max_chars"))
      .orderBy($"bucket")
  }

  /** q120: temperature-scaled multilingual sampling
    * (Sampling.alphaSample, α = 0.3, target 20%) — the mBERT/XLM-R
    * exponential-smoothing rule that upsamples low-resource languages.
    * The oracle replays the rate derivation (exp/ln chain, nano-quantized
    * normalizer) and the md5 membership, so the hash match proves the
    * exact sample, not just its size. */
  def alphaSampling(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Sampling.alphaSample(Tables.documents(s, dir), "doc_id", "lang")
      .select($"doc_id", $"lang", $"rate")
      .orderBy($"doc_id")
  }

  /** q121: CCNet-style curation pipeline END TO END (Wenzek et al.
    * 2020) — the canonical web-corpus recipe as ONE composed plan:
    * exact-dedup survivors (min doc id per normalized fingerprint) →
    * marker-based language ID → corpus-LM perplexity proxy
    * ([[graft.ops.TextAnalysis.unigramLogProb]] over the survivors) →
    * per-predicted-language perplexity TERCILES (head/middle/tail, the
    * CCNet quality split) via the q75 mergeable histogram sketch.
    * Every stage is an already-oracle-proven operator; this entry
    * proves they COMPOSE — one Catalyst plan, one oracle replay of the
    * whole chain. High avg_logprob = low perplexity = head. */
  def ccnetPipeline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val keep = docs
      .select(md5(Dedup.normText($"text")).as("_fp"), $"doc_id")
      .groupBy($"_fp").agg(min($"doc_id").as("doc_id"))
    // r16: pin the survivor ids (one dedup pass instead of one per
    // downstream signal) and the scored frame (it feeds BOTH the
    // quantile bounds and the final bucket join — unpinned, the langid
    // and LM passes each ran twice)
    val surv = docs.join(
      keep.select($"doc_id").pin, "doc_id")
    val lang = TextAnalysis.langIdScores(surv, "text")
      .select($"doc_id", $"predicted")
    val lp = TextAnalysis.unigramLogProb(surv, "doc_id", "text")
      .select($"doc_id", $"avg_logprob")
    val scored = lang.join(lp, "doc_id").pin
    val bounds = graft.ops.HistogramQuantile.quantiles(
      scored, "predicted", "avg_logprob", Seq(1.0 / 3, 2.0 / 3))
    val bb = bounds.groupBy($"predicted").agg(
      min(when($"p" < 0.5, $"est")).as("b1"),
      min(when($"p" > 0.5, $"est")).as("b2"))
    scored.join(broadcast(bb), "predicted")
      .withColumn("bucket",
        when($"avg_logprob" > $"b2", "head")
          .when($"avg_logprob" > $"b1", "middle")
          .otherwise("tail"))
      .groupBy($"predicted", $"bucket")
      .agg(count(lit(1)).as("n_docs"),
        min($"avg_logprob").as("min_lp"),
        max($"avg_logprob").as("max_lp"))
      .orderBy($"predicted", $"bucket")
  }

  /** q192: curation filter-funnel attribution
    * ([[graft.ops.Curation.filterFunnel]]) — which gate costs the corpus
    * the most: every doc is attributed to the FIRST of three ordered
    * oracle-proven gates that rejects it (q127 Gopher rules → q160
    * blocklist → q42 lang-id ≠ 'und'), and the readout chains n_in →
    * n_out per stage with the reject share. The composition diagnostic a
    * pipeline owner reads before reordering or loosening gates; the
    * oracle replays all three gate computations AND the first-reject
    * attribution chain. */
  def filterFunnelQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val sig = docs.select($"doc_id")
      .join(TextAnalysis.gopherRules(docs, "doc_id", "text")
        .select($"doc_id", $"keep".as("g_keep")), Seq("doc_id"))
      .join(TextAnalysis.blocklistFilter(docs, "doc_id", "text",
          Seq("slow", "big", "broken"))
        .select($"doc_id", $"keep".as("b_keep")), Seq("doc_id"))
      .join(TextAnalysis.langIdScores(docs, "text")
        .select($"doc_id", $"predicted"), Seq("doc_id"))
    graft.ops.Curation.filterFunnel(sig, Seq(
        "gopher" -> ($"g_keep" === 1L),
        "blocklist" -> ($"b_keep" === 1L),
        "langid" -> ($"predicted" =!= "und")))
      .orderBy($"stage")
  }

  /** q229: cost-based GATE-ORDER planner
    * ([[graft.ops.Curation.planGates]]) — the step BEFORE q192's
    * attribution funnel: one pass measures each gate's independent pass
    * rate over the same three oracle-proven gates, the plan orders the
    * conjunction most-selective-first, and every row carries the exact
    * order-invariance witness (n_out_final, measured once). The
    * independence-model est_rows_in is an exact integer recurrence the
    * oracle unrolls stage by stage. */
  def gatePlanQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val sig = docs.select($"doc_id")
      .join(TextAnalysis.gopherRules(docs, "doc_id", "text")
        .select($"doc_id", $"keep".as("g_keep")), Seq("doc_id"))
      .join(TextAnalysis.blocklistFilter(docs, "doc_id", "text",
          Seq("slow", "big", "broken"))
        .select($"doc_id", $"keep".as("b_keep")), Seq("doc_id"))
      .join(TextAnalysis.langIdScores(docs, "text")
        .select($"doc_id", $"predicted"), Seq("doc_id"))
    graft.ops.Curation.planGates(sig, Seq(
      "gopher" -> ($"g_keep" === 1L),
      "blocklist" -> ($"b_keep" === 1L),
      "langid" -> ($"predicted" =!= "und")))
  }

  /** q230: COCHRAN'S Q over the three curation gates
    * ([[graft.ops.ClassifierEval.cochranQ]]) — q215's McNemar
    * generalized to k gates the way q193's Fleiss κ generalizes
    * Cohen's: are the Gopher rules, the blocklist and lang-id
    * systematically DIFFERENT in strictness on the same documents?
    * Unanimous documents cancel — the paired property raw pass-rate
    * deltas lack. Exact integer moments, one final ratio. */
  def gateCochranQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val fl = docs.select($"doc_id")
      .join(TextAnalysis.gopherRules(docs, "doc_id", "text")
        .select($"doc_id", $"keep".as("g_keep")), Seq("doc_id"))
      .join(TextAnalysis.blocklistFilter(docs, "doc_id", "text",
          Seq("slow", "big", "broken"))
        .select($"doc_id", $"keep".as("b_keep")), Seq("doc_id"))
      .join(TextAnalysis.langIdScores(docs, "text")
        .select($"doc_id",
          ($"predicted" =!= "und").cast("long").as("l_keep")), Seq("doc_id"))
    graft.ops.ClassifierEval.cochranQ(fl, Seq("g_keep", "b_keep", "l_keep"))
  }

  /** q232: CAPTURE–RECAPTURE dedup recall audit
    * ([[Dedup.captureRecapture]]) — Chapman's estimator over the
    * MinHash-LSH and SimHash tiers as two "captures" of the unknown
    * true duplicate-pair universe: estimates the pairs BOTH tiers miss
    * without any ground truth, where q176's exact audit needs a bounded
    * slice. Correlated tiers read optimistic — documented; the value is
    * the corpus-version trend. Oracle replays both tiers (prefixed CTE
    * namespaces) and the estimator. */
  def dedupCaptureRecapture(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    Dedup.captureRecapture(
      Dedup.minHashCandidates(docs, "doc_id", "text", threshold = 0.4)
        .select($"a_id", $"b_id"),
      Dedup.simHashCandidates(docs, "doc_id", "text",
        maxHamming = 3, bands = 4).select($"a_id", $"b_id"))
  }

  /** q231: delete-one-SOURCE jackknife error bar
    * ([[graft.ops.Sampling.jackknifeRate]]) for the Gopher keep rate —
    * the cluster-honest uncertainty q153's per-doc bootstrap
    * understates when documents within a source are correlated (one
    * crawl, one template family): delete whole sources, watch the rate
    * move. Exact per-source counts, nano-quantized LOO rates, one
    * final sqrt. Oracle replays the gate, the per-source table and the
    * quantized variance lattice. */
  def jackknifeKeepRate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val fl = docs.select($"doc_id", $"source")
      .join(TextAnalysis.gopherRules(docs, "doc_id", "text")
        .select($"doc_id", $"keep"), Seq("doc_id"))
    graft.ops.Sampling.jackknifeRate(fl, "source", "keep")
  }

  /** Build-once cache for the q234 PERSISTED tokenizer (the lmIndexFor
    * discipline): trains q171's exact merge list once and commits it
    * through the manifest protocol. */
  private def bpeIndexFor(s: SparkSession, dir: String): String =
    VectorQueries.tempIndexDir(s, dir, "graft_bpe_idx") { path =>
      graft.ops.BpeIndex.build(Tables.documents(s, dir), "text", path,
        merges = 6, batchR = 2)
    }

  /** q234: corpus encode from the PERSISTED tokenizer
    * ([[graft.ops.BpeIndex.encode]]) — the q181 chain served from a
    * manifest-committed merge-table artifact instead of in-session
    * state, closing the artifact lifecycle across all four model
    * families (LM counts, BM25 postings, IVF cells, now the
    * tokenizer). Same oracle as q181 (the LIVE training + encode
    * replay), so a hash match proves persisted ≡ live ≡ DuckDB. */
  def bpePersistedEncode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ops.BpeIndex.encode(s, bpeIndexFor(s, dir),
        Tables.documents(s, dir), "doc_id", "text")
      .select($"doc_id", $"n_tokens",
        concat_ws("_", transform($"token_ids", x => x.cast("string")))
          .as("tokens_str"))
      .orderBy($"doc_id")
  }

  /** q235: token BURSTINESS ([[TextAnalysis.tokenBurstiness]]) — the
    * dispersion axis next to q45's TF-IDF and q227's TextRank: which
    * tokens concentrate their mass in FEW documents (topical bursts)
    * vs Poisson scatter (function words, boilerplate noise). Exact
    * integer moments with zeros included via the closed form; the
    * nano-quantized Fano orders the top-25 deterministically. */
  def burstinessTop(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TextAnalysis.tokenBurstiness(Tables.documents(s, dir), "doc_id", "text",
      topK = 25, minDf = 5L)
  }

  /** Weekly cohort retention triangle over events (ops.Funnel.retention). */
  def retention(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ops.Funnel.retention(Tables.events(s, dir), "user_id", "ts")
      .orderBy($"cohort", $"period_offset")
  }

  /** Unpivot (melt): per-language character-class totals computed wide,
    * then melted to (lang, metric, n) long form — the inverse of q47's
    * pivot, covering Spark's Unpivot operator (Expand under the hood:
    * map-only row multiplication, no shuffle beyond the aggregate). */
  def unpivotCharClasses(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val t = $"text"
    val wide = Tables.documents(s, dir)
      .groupBy($"lang")
      .agg(
        sum(TextAnalysis.charClassCount(t, "[aeiou]").cast("long")).as("n_vowels"),
        sum(TextAnalysis.charClassCount(t, "[0-9]").cast("long")).as("n_digits"),
        sum(TextAnalysis.charClassCount(t, "[.,;:!?]").cast("long")).as("n_punct"))
    wide.unpivot(Array($"lang"),
        Array($"n_vowels", $"n_digits", $"n_punct"), "metric", "n")
      .orderBy($"lang", $"metric")
  }

  /** Conjunctive boolean retrieval over the inverted-index pattern: the
    * postings of the three query terms (filter pushed INTO the token
    * explode — the scan reads only matching rows' text), intersected by
    * requiring all |Q| distinct terms per doc, ranked by total term
    * frequency. The rank-then-limit is TakeOrderedAndProject — at 100 TB
    * the only shuffle is the per-doc aggregate of the ~|Q| matching
    * postings, never the full token explosion of non-matching docs. */
  def booleanRetrieval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val qTerms = Seq("dup", "vector", "spark")
    val hits = Tables.documents(s, dir)
      .select($"doc_id", explode(TextAnalysis.tokens($"text")).as("term"))
      .filter($"term".isin(qTerms: _*))
      .groupBy($"doc_id")
      .agg(countDistinct($"term").as("n_terms"), count(lit(1)).as("tf"))
      .filter($"n_terms" === qTerms.length)
      .select($"doc_id", $"tf")
      .orderBy($"tf".desc, $"doc_id")
      .limit(20)
    hits.withColumn("rnk",
      row_number().over(Window.orderBy($"tf".desc, $"doc_id")).cast("long"))
      .orderBy($"rnk")
  }

  /** Prefix-filtered exact Jaccard join ([[Dedup.prefixJaccardJoin]],
    * PPJoin prefix filter) at τ = 1/5 over 3-shingle sets — the SCALE
    * path for what q31 verifies all-pairs on a slice: identical pairs
    * and values, but candidates come from an equi-join on rare-prefix
    * shingles (96% of pairs pruned on this corpus) instead of a cross
    * product. Oracle replays the df-ordered prefix ranks exactly
    * (integer ⌈τL⌉, ties by shingle text). */
  def prefixJaccard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // w=5 shingles: this corpus's 31-word vocabulary makes 3-gram space
    // dense (avg df ~12 at sf0.1 — nothing is "rare"), which defeats ANY
    // frequency-based candidate pruning; 5-gram space is sparse (avg df
    // ~1.05) at every SF, the production norm (MinHashLSH corpora use
    // 5-13-gram shingles for the same reason). Same 25 true pairs.
    Dedup.prefixJaccardJoin(Tables.documents(s, dir), "doc_id", "text",
        tauNum = 1, tauDen = 5, w = 5)
      .select($"a_id", $"b_id", round($"jaccard", 6).as("jaccard"))
      .orderBy($"a_id", $"b_id")
  }

  /** Dataset card: the one-page per-source summary a curation run ships
    * with — volume, token counts, language mix (argmax with lexicographic
    * tie-break), exact-duplicate rate, mean length. Two grouped
    * aggregates (source; source×lang) + a 1-row-per-source join; every
    * count is exact and the ratios are double-of-exact-ints. */
  def datasetCard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = Tables.documents(s, dir)
    val bySource = d.groupBy($"source").agg(
      count(lit(1)).as("n_docs"),
      sum(TextAnalysis.tokenCount($"text").cast("long")).as("sum_tokens"),
      countDistinct($"lang").as("n_langs"),
      (count(lit(1)) - countDistinct(Dedup.normText($"text"))).as("n_exact_dups"),
      sum($"n_chars").as("sum_chars"))
    val topLang = d.groupBy($"source", $"lang").agg(count(lit(1)).as("_n"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy($"source").orderBy($"_n".desc, $"lang")))
      .filter($"_rn" === 1)
      .select($"source", $"lang".as("top_lang"))
    bySource.join(topLang, "source")
      .select($"source", $"n_docs", $"sum_tokens", $"n_langs", $"top_lang",
        ($"n_exact_dups".cast("double") / $"n_docs").as("dup_rate"),
        ($"sum_chars".cast("double") / $"n_docs").as("avg_chars"))
      .orderBy($"source")
  }

  /** Semantic dedup (SemDeDup): k-means cells + within-cell greedy prune
    * ([[graft.ops.SemDedup.prunedWithinCells]]) — the embedding-space
    * answer to what MinHash does lexically. Oracle replays the FULL
    * k-means training (q52's portable arithmetic, trained on all rows),
    * the cell assignment, and every within-cell prune decision. */
  def semDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ops.SemDedup.prunedWithinCells(
        Tables.embeddings(s, dir).select($"vec_id", $"embedding"),
        "vec_id", "embedding", nc = 16, iters = 2, threshold = 0.4,
        trained = Some(VectorQueries.semDedupModelFor(s, dir, nc = 16, iters = 2)))
      .orderBy($"vec_id")
  }

  /** Add-one-smoothed bigram LM document scores
    * ([[TextAnalysis.bigramLogProb]]) — the perplexity-proxy quality
    * signal one rung above q78's unigram model. */
  def bigramLogProb(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TextAnalysis.bigramLogProb(Tables.documents(s, dir), "doc_id", "text")
      .orderBy($"doc_id")
  }

  /** q157: interpolated Kneser-Ney bigram scoring
    * ([[TextAnalysis.knBigramLogProb]], D = 0.75) — the smoothing real
    * n-gram LMs ship with; continuation counts replace raw frequency so
    * always-same-context tokens stop inflating estimates. Same doc-level
    * output shape as q102, so the two smoothing rungs are directly
    * comparable per document. */
  def knBigramLogProb(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TextAnalysis.knBigramLogProb(Tables.documents(s, dir), "doc_id", "text")
      .orderBy($"doc_id")
  }

  /** q158: dedup-threshold sweep ([[Dedup.thresholdSweep]]) — candidate
    * pairs per estimated-Jaccard band plus the cumulative "pairs merged
    * at threshold t" curve, the knob-choosing readout a corpus owner
    * runs before committing to a dedup threshold. */
  def dedupSweep(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.thresholdSweep(Tables.documents(s, dir), "doc_id", "text")

  /** q161: windowed p50/p95 value percentiles from the STREAMING-shaped
    * fixed-bound histogram sketch
    * ([[graft.streaming.EventStreams.windowedValueHistogram]] →
    * [[graft.streaming.EventStreams.windowedQuantiles]]): the
    * operational-percentiles stack — the same two functions run
    * unchanged under readStream (EventStreamsSpec proves stream ≡
    * batch); here the batch twin runs against the oracle. Fixed bounds
    * [0, 500) × 100 bins; out-of-range values clamp to edge bins by
    * contract. */
  def windowedQuantilesQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.streaming.EventStreams
    val hist = EventStreams.windowedValueHistogram(
      Tables.events(s, dir), lo = 0.0, hi = 500.0, bins = 100)
    EventStreams.windowedQuantiles(hist, 0.0, 500.0, 100, Seq(0.5, 0.95))
      .select($"window_start".cast("long").as("window_epoch"), $"event_type",
        $"p", $"est", $"n")
      .orderBy($"window_epoch", $"event_type", $"p")
  }

  /** q162: training-shard prep END TO END — the other half of the
    * pretraining story next to q121's curation chain, as ONE composed
    * Catalyst plan: blocklist gate ([[TextAnalysis.blocklistFilter]]
    * semantics inlined on the shared normalized text) → exact-dedup
    * survivors (min doc id per fingerprint, the q30/q121 stage) → token
    * counts → per-language [[Sampling.packSequences]] at a 256-token
    * budget → per-(lang, seq) shard manifest (doc and token counts).
    * Every stage is an oracle-proven operator; this entry proves the
    * COMPOSITION replays: one plan, one DuckDB replay of the whole
    * chain, shard-manifest-sized output. */
  def shardPrep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.documents(s, dir)
      .select($"doc_id", $"lang", Dedup.normText($"text").as("_nrm"))
    val gated = base.filter(
      size(filter(split($"_nrm", " "),
        t => array_contains(array(lit("big"), lit("slow")), t))) === 0)
    val surv = gated
      .select(md5($"_nrm").as("_fp"), $"doc_id")
      .groupBy($"_fp").agg(min($"doc_id").as("doc_id"))
      .join(gated, Seq("doc_id"))
      .select($"doc_id", $"lang",
        size(split($"_nrm", " ")).cast("long").as("n_tokens"))
    Sampling.packSequences(surv, "doc_id", "n_tokens", "lang",
        budgetTokens = 256)
      .groupBy($"lang", $"seq_id")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("sum_tokens"))
      .orderBy($"lang", $"seq_id")
  }

  /** q164: contrastive TRIPLET mining for embedder training — the
    * (anchor, positive, negative) generator: positives are MinHash
    * near-dup pairs (the q32 candidates — textual paraphrase pairs),
    * negatives a deterministic pick from a bounded md5-fixed sample
    * pool ([[Sampling.fixedSample]], broadcastable by construction),
    * chosen per pair by the smallest md5(anchor:candidate) — no RNG,
    * so the triplet set replays bit-for-bit in any engine.
    *
    * Plan: candidates (band equi-join) × broadcast 100-row pool →
    * WindowGroupLimit argmin per pair. Scale: pairs × 100 broadcast
    * rows, never pairs × corpus. */
  def tripletMining(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val cand = Dedup.minHashCandidates(docs, "doc_id", "text", threshold = 0.4)
    val pool = Sampling.fixedSample(docs.select($"doc_id"), "doc_id", 100)
      .select($"doc_id".as("neg_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"a_id", $"b_id").orderBy($"nk", $"neg_id")
    cand.crossJoin(broadcast(pool))
      .filter($"neg_id" =!= $"a_id" && $"neg_id" =!= $"b_id")
      .withColumn("nk", md5(concat($"a_id".cast("string"), lit(":"),
        $"neg_id".cast("string"))))
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"a_id".as("anchor_id"), $"b_id".as("pos_id"), $"neg_id",
        round($"est_jaccard", 6).as("est_jaccard"))
      .orderBy($"anchor_id", $"pos_id")
  }

  /** q165: source NOVELTY curve — the data-saturation readout for
    * dataset ablation planning: sources are processed in deterministic
    * (alphabetical) order and each content fingerprint is credited to
    * the FIRST source containing it; per source the curve reports how
    * much genuinely new content the source adds over everything before
    * it (novel fingerprints + the cumulative total). A flat tail says
    * "more of this data buys nothing" before anyone trains on it.
    *
    * Plan: fingerprints are map-only; first-source attribution is ONE
    * combiner-friendly min aggregate per fingerprint; the curve is a
    * window over source-count rows. Nothing after the fingerprint
    * groupBy is corpus-sized. */
  def noveltyCurve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fps = Tables.documents(s, dir)
      .select($"source", md5(Dedup.normText($"text")).as("_fp"))
    val perSource = fps
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"_fp").as("n_distinct_fps"))
    val firstSrc = fps.groupBy($"_fp").agg(min($"source").as("source"))
      .groupBy($"source").agg(count(lit(1)).as("n_novel"))
    val w = org.apache.spark.sql.expressions.Window.orderBy($"source")
    perSource.join(firstSrc, Seq("source"), "left")
      .withColumn("n_novel", coalesce($"n_novel", lit(0L)))
      .withColumn("cum_novel", sum($"n_novel").over(w))
      .withColumn("novelty_rate",
        round($"n_novel".cast("double") / $"n_distinct_fps".cast("double"), 6))
      .select($"source", $"n_docs", $"n_distinct_fps", $"n_novel",
        $"cum_novel", $"novelty_rate")
      .orderBy($"source")
  }

  /** q167: stupid-backoff trigram scoring of the held-out slice
    * (doc_id ≡ 0 mod 10) against counts from the other 90%
    * ([[TextAnalysis.stupidBackoffTrigram]]) — the train/held-out
    * perplexity-proxy shape: unlike the self-scoring q78/q102/q157
    * ladder, backoff genuinely fires on unseen n-grams. Completes the
    * LM ladder's backoff tier with the same hot/cold skew-safe joins. */
  def backoffTrigram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TextAnalysis.stupidBackoffTrigram(Tables.documents(s, dir), "doc_id",
        "text", $"doc_id" % 10 === 0)
      .orderBy($"doc_id")
  }

  /** Build-once persisted stupid-backoff LM model (the bm25IndexFor
    * pattern): counts from the doc_id % 10 ≠ 0 slice, temp-dir
    * persisted, rebuilt only when the testdata regenerates. */
  private def lmIndexFor(s: SparkSession, dir: String): String =
    VectorQueries.tempIndexDir(s, dir, "graft_lm_index") { path =>
      import s.implicits._
      graft.ops.LmIndex.build(
        Tables.documents(s, dir).filter($"doc_id" % 10 =!= 0), "text",
        path)
    }

  /** q168: stupid-backoff scoring from the PERSISTED LM model
    * ([[graft.ops.LmIndex]]) — the serving path: the model is built
    * once from the train slice and the held-out batch is scored without
    * touching the training corpus; must byte-match q167's live
    * computation, and the oracle replays the live path, so the hash
    * match proves persisted ≡ live ≡ DuckDB. */
  def lmIndexScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ops.LmIndex.score(s, lmIndexFor(s, dir),
        Tables.documents(s, dir).filter($"doc_id" % 10 === 0),
        "doc_id", "text")
      .orderBy($"doc_id")
  }

  /** Build-once cache for the q170 INCREMENTALLY EXTENDED LM model:
    * counts built from the historic train slice (doc_id < 250), then
    * the newer train batch (doc_id ≥ 250) APPENDED — counts are
    * additive parquet parts, re-aggregated at read; no rebuild. */
  private def lmAppendIndexFor(s: SparkSession, dir: String): String =
    VectorQueries.tempIndexDir(s, dir, "graft_lm_append") { path =>
      import s.implicits._
      val train = Tables.documents(s, dir).filter($"doc_id" % 10 =!= 0)
      graft.ops.LmIndex.build(train.filter($"doc_id" < 250), "text", path)
      graft.ops.LmIndex.append(train.filter($"doc_id" >= 250), "text", path)
    }

  /** q170: stupid-backoff scoring from the APPENDED LM model — must
    * hash-match q167's live computation and q168's one-shot build
    * (same oracle for all three), proving append ≡ rebuild: n-gram
    * counts are additive parquet parts. */
  def lmIndexAppendScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ops.LmIndex.score(s, lmAppendIndexFor(s, dir),
        Tables.documents(s, dir).filter($"doc_id" % 10 === 0),
        "doc_id", "text")
      .orderBy($"doc_id")
  }

  /** Build-once cache for the q180 COMPACTED LM model: the q170 stack
    * (build < 250, append ≥ 250) followed by [[graft.ops.LmIndex
    * .compact]] — the delta stack merged into ONE delta through the
    * shared manifest commit; the spec additionally asserts the
    * single-delta layout, this query proves the SERVING equivalence. */
  private def lmCompactIndexFor(s: SparkSession, dir: String): String =
    VectorQueries.tempIndexDir(s, dir, "graft_lm_compact") { path =>
      import s.implicits._
      val train = Tables.documents(s, dir).filter($"doc_id" % 10 =!= 0)
      graft.ops.LmIndex.build(train.filter($"doc_id" < 250), "text", path)
      graft.ops.LmIndex.append(train.filter($"doc_id" >= 250), "text", path)
      graft.ops.LmIndex.compact(s, path)
    }

  /** q180: stupid-backoff scoring from the COMPACTED LM model — the
    * read-amplification fix for long-lived persisted models: after
    * thousands of appends [[graft.ops.LmIndex.score]] would re-aggregate
    * an unbounded delta stack per probe; compact() merges the stack
    * into one delta (one vocab-sized aggregation, manifest-committed
    * with `remove = exactly the merged deltas`, so concurrent appends
    * survive). Must hash-match q167/q168/q170 (same oracle), proving
    * compacted ≡ delta-stack ≡ live ≡ DuckDB. */
  def lmIndexCompactScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ops.LmIndex.score(s, lmCompactIndexFor(s, dir),
        Tables.documents(s, dir).filter($"doc_id" % 10 === 0),
        "doc_id", "text")
      .orderBy($"doc_id")
  }

  /** q186: TIME-TRAVEL LM serving ([[graft.ops.LmIndex.scoreAt]] /
    * [[graft.ops.Manifest.stateAt]]) — the manifest protocol's snapshot
    * dividend: q170's model directory holds version 1 (build on the
    * historic doc_id < 250 slice) and version 2 (the ≥ 250 append);
    * scoring AS OF version 1 must equal a model that never saw the
    * append. The oracle replays the LIVE backoff computation on the
    * HISTORIC training slice only, so the hash match proves
    * snapshot-read ≡ historic rebuild — no model copies kept, the
    * retained manifest + immutable deltas ARE the old model. */
  def lmTimeTravelScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ops.LmIndex.scoreAt(s, lmAppendIndexFor(s, dir), version = 1L,
        Tables.documents(s, dir).filter($"doc_id" % 10 === 0),
        "doc_id", "text")
      .orderBy($"doc_id")
  }

  /** q159: character-entropy quality profile
    * ([[TextAnalysis.charEntropy]]) — the information-density signal:
    * templated text scores low, random gibberish high; both tails are
    * curation flags. */
  def charEntropyProfile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TextAnalysis.charEntropy(Tables.documents(s, dir), "doc_id", "text")
      .orderBy($"doc_id")
  }

  /** q160: blocklist content gate ([[TextAnalysis.blocklistFilter]]) —
    * the C4-style wordlist pass with per-doc hit counts and the keep
    * verdict (demo list over the synthetic vocabulary; "broken" never
    * occurs, exercising the no-hit term). */
  def blocklistGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TextAnalysis.blocklistFilter(Tables.documents(s, dir), "doc_id", "text",
        Seq("slow", "big", "broken"))
      .orderBy($"doc_id")
  }

  /** Directed containment near-dup pairs ([[Dedup.containmentPairs]]):
    * docs whose 3-shingle set is ≥70% contained in another doc's —
    * the quote/subset-duplicate signal Jaccard under-reports. */
  def containment(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // w=5 for the same sparsity reason as q97 (see prefixJaccard)
    Dedup.containmentPairs(Tables.documents(s, dir), "doc_id", "text",
        threshold = 0.7, maxDf = 20, w = 5)
      .select($"a_id", $"b_id", $"n_a", $"n_inter",
        round($"containment", 6).as("containment"))
      .orderBy($"a_id", $"b_id")
  }

  /** Integer PageRank ([[graft.ops.Components.pageRankInt]], 3 damped
    * iterations) over the MinHash near-dup candidate graph: which
    * duplicate is the hub its variants orbit? Every division is a floor
    * div, so ranks are bit-identical across partitionings and engines —
    * the oracle replays all three iterations. */
  def pageRank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = Dedup.minHashCandidates(Tables.documents(s, dir),
      "doc_id", "text", threshold = 0.4).select($"a_id", $"b_id")
    graft.ops.Components.pageRankInt(pairs, iters = 3)
      .select($"id".as("doc_id"), $"pr_micro", $"deg")
      .orderBy($"pr_micro".desc, $"doc_id")
  }

  /** q128: leakage-safe train/val/test split ([[Curation.clusterSplit]])
    * — the split is assigned per near-dup CLUSTER (MinHash graph, q36's
    * components), so no near-duplicate pair ever straddles splits. The
    * output carries the proof: `leaked_pairs` counts candidate pairs
    * whose endpoints landed in different splits — structurally zero,
    * and the oracle recomputes it from scratch. */
  def clusterSplitSummary(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    splitSummaryOf(s, Tables.documents(s, dir))
  }

  /** Shared body of q128/q141: MinHash pairs → cluster split → per-split
    * summary with the independently-recomputed `leaked_pairs` proof. */
  private def splitSummaryOf(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    // the candidate graph feeds BOTH the components step and the leakage
    // join — pin it once instead of running MinHash banding twice
    val pairs = Dedup.minHashCandidates(docs, "doc_id", "text",
      threshold = 0.4).select($"a_id", $"b_id").pin
    val split = Curation.clusterSplit(docs, "doc_id", pairs)
      .select($"doc_id", $"component", $"n_chars", $"split")
      .pin
    val asg = split.select($"doc_id", $"split")
    val leaked = pairs
      .join(asg.toDF("a_id", "sa"), "a_id")
      .join(asg.toDF("b_id", "sb"), "b_id")
      .filter($"sa" =!= $"sb")
      .agg(count(lit(1)).as("leaked_pairs"))
    split.groupBy($"split")
      .agg(countDistinct($"component").as("n_clusters"),
        count(lit(1)).as("n_docs"),
        sum($"n_chars").as("sum_chars"))
      .crossJoin(broadcast(leaked))
      .orderBy($"split")
  }

  /** q141: the RELEASE pipeline composed end to end — per-domain cap
    * (q129's WindowGroupLimit) feeding the leakage-safe cluster split
    * (q128's components + md5 membership) in ONE plan: what a corpus
    * release actually runs before shipping train/val/test. Every stage
    * is individually oracle-proven; this entry proves the composition
    * (the dedup graph is built on the CAPPED corpus, so cap-then-split
    * ≠ split-then-cap — the oracle replays the composed order). */
  def releaseSplit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val capped = Curation.capPerGroup(Tables.documents(s, dir),
      "source", "n_chars", "doc_id", k = 25)
    splitSummaryOf(s, capped)
  }

  /** q129: per-domain cap ([[Curation.capPerGroup]], RefinedWeb-style):
    * keep the 25 longest docs per source (ties by doc id). The rank
    * filter compiles to WindowGroupLimit — partial per-partition top-k
    * before the shuffle — so a skewed mega-domain never sorts all its
    * rows in one task. Output joins kept-vs-total per source. */
  def sourceCap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val kept = Curation.capPerGroup(docs, "source", "n_chars", "doc_id", k = 25)
    val tot = docs.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
    val k = kept.groupBy($"source")
      .agg(count(lit(1)).as("n_kept"),
        sum($"n_chars").as("kept_chars"),
        min($"n_chars").as("cap_cutoff"))
    tot.join(k, "source").orderBy($"source")
  }

  /** q130: k-anonymity audit ([[Curation.kAnonymityProfile]], k = 5)
    * over quasi-identifiers (lang, 100-char length bucket), profiled per
    * source: cells below k are what a suppression pass would redact
    * before release. Two grouped aggregates, no window. */
  def kAnonymity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
      .withColumn("len_bucket", floor($"n_chars" / 100).cast("long"))
    Curation.kAnonymityProfile(docs, Seq("source"),
        Seq("lang", "len_bucket"), k = 5)
      .orderBy($"source")
  }

  /** q131: Zipf-law slope per language ([[TextAnalysis.zipfSlope]]) —
    * the log-log frequency/rank fit that flags non-natural (templated,
    * machine-generated) corpora. Post-explode state is vocabulary-sized;
    * the one float step is 6-dp-quantized before exact decimal sums, so
    * the oracle replays the regression bit-for-bit. */
  def zipfSlopes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TextAnalysis.zipfSlope(Tables.documents(s, dir), "lang", "text")
      .orderBy($"lang")
  }

  /** q132: lexical-diversity profile per source
    * ([[TextAnalysis.lexicalDiversity]]): type-token ratio + distinct-2
    * — the repetitiveness signals that catch boilerplate sources. */
  def lexicalDiversityBySource(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TextAnalysis.lexicalDiversity(Tables.documents(s, dir), "source", "text")
      .orderBy($"source")
  }

  /** q133: pairwise vocabulary overlap between sources WITHOUT joining
    * corpora ([[TextAnalysis.vocabOverlap]], KMV sketches, k = 64): the
    * sketch-intersection answer to "which domains share a vocabulary" —
    * at 100 TB the corpus is scanned once and the pairwise stage sees
    * only groups² sketch rows. All-integer sketch arithmetic; the
    * oracle replays hashes, ranks, merges, and both estimators. */
  def vocabOverlapBySource(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TextAnalysis.vocabOverlap(Tables.documents(s, dir), "source", "text")
      .orderBy($"group_a", $"group_b")
  }

  /** q134: top-20 PMI collocations ([[TextAnalysis.pmiCollocations]],
    * Church & Hanks 1990) — word pairs co-occurring far above chance,
    * the boilerplate-phrase signal. Vocab-sized count joins, one ln
    * over an exact integer ratio, 6-dp-rounded before the
    * TakeOrderedAndProject cut. */
  def pmiTopCollocations(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TextAnalysis.pmiCollocations(Tables.documents(s, dir), "text")
  }

  /** q135: corpus snapshot diff ([[Curation.corpusDiff]]) — a synthetic
    * "v2 release" (deterministic drops, edits, and additions derived
    * from doc ids) diffed against the corpus: added / removed / changed
    * / same counts, the release audit that scopes incremental
    * reprocessing. One full-outer equi-join of fingerprint frames. */
  def corpusDiffSummary(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir).select($"doc_id", $"text")
    val v2 = docs.filter(pmod($"doc_id", lit(11)) =!= 3)
      .withColumn("text", when(pmod($"doc_id", lit(13)) === 5,
        concat($"text", lit(" v2"))).otherwise($"text"))
      .unionByName(docs.filter(pmod($"doc_id", lit(17)) === 2)
        .select(($"doc_id" + 1000000L).as("doc_id"),
          concat(lit("new "), $"text").as("text")))
    Curation.corpusDiff(docs, v2, "doc_id", "text")
      .groupBy($"change").agg(count(lit(1)).as("n_docs"))
      .orderBy($"change")
  }

  /** q136: k-center greedy coreset ([[Similarity.kCenterGreedy]], k = 8)
    * — the diversity selector over the embedding corpus: each round one
    * map-only scan + a 1-row TakeOrderedAndProject; the driver holds k
    * vectors, never data. The oracle replays all 8 greedy rounds in a
    * recursive CTE (rounded-distance argmax, id tie-break) plus the
    * coverage-radius sequence. */
  def kcenterCoreset(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Similarity.kCenterGreedy(
        Tables.embeddings(s, dir).select($"vec_id", $"embedding"),
        "vec_id", "embedding", k = 8)
      .orderBy($"sel_order")
  }

  /** q137: MMR result diversification ([[Similarity.mmrRerank]],
    * λ = 0.7) — the top-20 cosine hits for the q22 query re-ranked so
    * near-duplicate results stop crowding the page; 8 survive. The
    * candidate set is retrieval-depth-sized (driver-bounded by config,
    * the ExactRank contract); the oracle replays every greedy pick. */
  def mmrDiversified(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cands = Tables.embeddings(s, dir).filter($"vec_id" =!= 0)
      .crossJoin(broadcast(VectorQueries.queryVec(s, dir)))
      .select($"vec_id", $"embedding",
        round(graft.expr.VectorExprs.cosine($"embedding", $"qv"), 6).as("rel"))
      .orderBy($"rel".desc, $"vec_id")
      .limit(20)
    Similarity.mmrRerank(cands, "vec_id", "embedding", "rel", k = 8)
      .orderBy($"rnk")
  }

  /** q138: distributed BPE merge training ([[TextAnalysis.bpeMerges]],
    * 5 rounds) — the tokenizer-training loop in its word-table
    * formulation: corpus scanned once for word counts, every merge
    * round vocabulary-sized, one 1-row argmax collect per round. The
    * oracle unrolls all 5 rounds (pair counts, argmax, left-to-right
    * replace) and matches exactly. */
  def bpeTopMerges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TextAnalysis.bpeMerges(Tables.documents(s, dir), "text", iters = 5)
      .orderBy($"iter")
  }

  /** q139: BPE encoding + fertility audit ([[TextAnalysis.bpeFertility]])
    * — the trained q138 merges applied back to the word table, reported
    * as per-language subwords-per-word (fertility) and chars-per-subword:
    * the train∘encode loop of a production tokenizer, end to end, still
    * vocabulary-sized after the one corpus scan. */
  def bpeFertilityByLang(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TextAnalysis.bpeFertility(Tables.documents(s, dir), "lang", "text", iters = 5)
      .orderBy($"lang")
  }

  /** q171: BATCHED BPE training ([[TextAnalysis.bpeMergesBatched]],
    * 6 merges at R = 2 per round) — the production-regime tokenizer
    * trainer: each driver round computes pair counts ONCE, then
    * greedily accepts the top-2 symbol-disjoint pairs from the ranked
    * lookahead window (disjoint pairs have provably invariant counts,
    * so the batch replays sequential BPE's arithmetic), cutting driver
    * rounds from `merges` to `merges∕R`. The oracle unrolls all 3
    * rounds — rank window, greedy disjoint accept, two anchored
    * replaces — and matches exactly. */
  def bpeBatchedMerges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TextAnalysis.bpeMergesBatched(Tables.documents(s, dir), "text",
        merges = 6, batchR = 2)
      .orderBy($"iter")
  }

  private val bpeMergeCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, String)]]()

  /** Train-once cache for the q181/q182 merge list: the q171 batched
    * trajectory (6 merges, R = 2 → 3 driver rounds), shared so encode
    * and packing don't re-train per query. */
  private def bpeMergesFor(s: SparkSession, dir: String): Seq[(String, String)] =
    bpeMergeCache.computeIfAbsent(VectorQueries.corpusFingerprint(s, dir), _ => {
      import s.implicits._
      TextAnalysis.bpeMergesBatched(Tables.documents(s, dir), "text",
          merges = 6, batchR = 2)
        .orderBy($"iter").select($"pair", $"merged")
        .as[(String, String)].collect().toSeq
    })

  /** Build-once per-corpus signal in [[SnapshotCache]], keyed by the
    * corpus fingerprint (version 0: a corpus has no manifest version). */
  private def corpusSignal(s: SparkSession, dir: String, facet: String)(
      build: => DataFrame): DataFrame =
    SnapshotCache.persisted(SnapshotCache.key(s, "corpus",
      VectorQueries.corpusFingerprint(s, dir), 0L, facet))(build)

  /** Build-once per-corpus CLASSIFIER CONFIDENCE (doc_id, conf) — the
    * q124 sigmoid readout that ~15 eval entries re-derive from scratch
    * (each a full corpus featurize+score pass); ONE scoring pass per
    * corpus, the [[bpeEncodedFor]] discipline. Values identical by
    * construction — plan reuse, not a semantic change. */
  private def confFor(s: SparkSession, dir: String): DataFrame =
    corpusSignal(s, dir, "conf") {
      import s.implicits._
      QualityModel.classifierScore(Tables.documents(s, dir),
          "doc_id", "text")
        .withColumn("conf",
          round(lit(1.0d) / (lit(1.0d) + exp(negate($"score"))), 6))
        .select($"doc_id", $"conf")
    }

  /** Build-once per-corpus UNIGRAM LM log-prob (doc_id, avg_logprob) —
    * the q78 signal shared by the fusion/agreement entries. */
  private def lpFor(s: SparkSession, dir: String): DataFrame =
    corpusSignal(s, dir, "lp") {
      import s.implicits._
      TextAnalysis.unigramLogProb(Tables.documents(s, dir),
          "doc_id", "text")
        .select($"doc_id", $"avg_logprob")
    }

  /** Build-once per-corpus GOPHER gate labels (doc_id, keep) — the
    * q127 rule verdicts the classifier-eval family scores against. */
  private def gopherKeepFor(s: SparkSession, dir: String): DataFrame =
    corpusSignal(s, dir, "gopher") {
      import s.implicits._
      TextAnalysis.gopherRules(Tables.documents(s, dir), "doc_id", "text")
        .select($"doc_id", $"keep")
    }

  /** Build-once ENCODED corpus + its vocab (the lmIndexFor
    * build-once/probe-many discipline applied to tokenization): q181
    * ships the ids, q182 packs by them, q188 decodes them back — three
    * entries, one encode pass. */
  private def bpeEncodedFor(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    def docs = Tables.documents(s, dir)
    (corpusSignal(s, dir, "bpe-enc") {
      TextAnalysis.bpeEncode(docs, "doc_id", "text", bpeMergesFor(s, dir))
    }, corpusSignal(s, dir, "bpe-vocab") {
      TextAnalysis.bpeVocab(docs, "text", bpeMergesFor(s, dir))
    })
  }

  /** q181: corpus BPE ENCODE to token ids ([[TextAnalysis.bpeEncode]])
    * — the tokenizer loop closed: q171's trained merges fold over the
    * vocab-sized word table, subwords map to deterministic integer ids
    * (sorted alphabet, then merge outputs in training order), and each
    * document reassembles its id sequence through a hotColdJoin'd
    * (auto-K) word lookup. The oracle replays training, the id scheme
    * and the per-doc assembly; ids are emitted '_'-joined so the
    * value compare stays scalar. */
  def bpeEncodeQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bpeEncodedFor(s, dir)._1
      .select($"doc_id", $"n_tokens",
        concat_ws("_", transform($"token_ids", x => x.cast("string")))
          .as("tokens_str"))
      .orderBy($"doc_id")
  }

  /** q182: sequence packing over REAL token ids — the q162/q73 shard
    * chain upgraded from whitespace token counts to trained BPE
    * tokenization: [[TextAnalysis.bpeEncode]]'s per-doc id counts feed
    * [[Sampling.packSequences]] (256-token budget, sharded by lang),
    * so sequence boundaries reflect what the model actually consumes.
    * The oracle replays encode + the packing prefix-sum end-to-end. */
  def bpePacking(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val enc = bpeEncodedFor(s, dir)._1.select($"doc_id", $"n_tokens")
    val withLang = Tables.documents(s, dir).select($"doc_id", $"lang")
      .join(enc, Seq("doc_id"))
    Sampling.packSequences(withLang, "doc_id", "n_tokens", "lang",
        budgetTokens = 256)
      .select($"doc_id", $"lang", $"n_tokens", $"seq_id", $"tok_offset")
      .orderBy($"lang", $"doc_id")
  }

  /** q188: BPE DECODE roundtrip audit ([[TextAnalysis.bpeDecode]]) —
    * the invertibility proof for the shipped id sequences: q181's
    * per-doc token ids resolve back through the
    * [[TextAnalysis.bpeVocab]] table and must reassemble the space-free
    * normalized text verbatim (word boundaries are the documented loss
    * — the id scheme has no end-of-word marker). Per doc:
    * (n_tokens, n_chars, ok); any ok = 0 row is a lossy tokenizer bug.
    * The oracle replays training, encode, the vocab AND the decode. */
  def bpeRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val (enc, vocab) = bpeEncodedFor(s, dir)
    val dec = TextAnalysis.bpeDecode(enc, "doc_id", "token_ids", vocab)
    dec.join(enc.select($"doc_id", $"n_tokens"), Seq("doc_id"))
      .join(docs.select($"doc_id",
        concat_ws("",
          filter(TextAnalysis.tokens($"text"), t => length(t) > 0))
          .as("_ref")), Seq("doc_id"))
      .select($"doc_id", $"n_tokens",
        length($"decoded").cast("long").as("n_chars"),
        when($"decoded" === $"_ref", 1L).otherwise(0L).as("ok"))
      .orderBy($"doc_id")
  }

  /** q172: INCREMENTAL dedup-graph maintenance
    * ([[graft.ops.Components.appendToComponents]]) — the q111/q123/q170
    * append contract applied to connected components: the labeling
    * built from the "historic" pair slice (both endpoints < 250) is
    * extended with the remaining pairs as the arriving batch, touching
    * only affected clusters (star edges + new pairs; untouched labels
    * pass through). The oracle closes the FULL pair set with q36's
    * recursive CTE, so the hash match proves
    * append ≡ full recompute ≡ DuckDB.
    *
    * Bench note: this entry's wall time is mostly DEMO overhead, not
    * operator cost — every execution runs the MinHash candidate pass
    * AND a full from-scratch components solve on the historic slice
    * just to have a labeling to append to; the operator under test
    * (appendToComponents) is the cheap tail. Read cross-round deltas
    * accordingly (r14 isolated re-run: ~1.4s total incl. the
    * deliberate full-recompute proof). */
  def componentsAppend(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = Dedup.minHashCandidates(Tables.documents(s, dir),
        "doc_id", "text", threshold = 0.4)
      .select($"a_id", $"b_id")
      .pin // split twice below; candidates run once
    val oldPairs = pairs.filter($"a_id" < 250 && $"b_id" < 250)
    val newPairs = pairs.filter($"a_id" >= 250 || $"b_id" >= 250)
    graft.ops.Components.appendToComponents(
        graft.ops.Components.connectedComponents(oldPairs), newPairs)
      .orderBy($"id")
  }

  /** q140: triangle census of the near-dup graph
    * ([[graft.ops.Components.triangleCensus]]) — high clustering =
    * duplicate CLIQUES (template/mirror families), low = chains of
    * borderline matches that components would over-merge. Ordered-edge
    * node-iterator joins, pure integers + one ratio. */
  def nearDupTriangles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = Dedup.minHashCandidates(Tables.documents(s, dir),
      "doc_id", "text", threshold = 0.4).select($"a_id", $"b_id")
    graft.ops.Components.triangleCensus(pairs)
  }

  /** q143: SCD2 dimension merge ([[graft.ops.Scd.scd2Merge]]) — a
    * synthesized update batch (balance changes + new keys) merged into
    * the customer dimension with full version history: changed keys get
    * their current version CLOSED and a new one OPENED, inserts open
    * their first version. One full-outer equi-join of the open slice;
    * output is a bounded key slice of the versioned table. */
  def scd2Customers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = Tables.customer(s, dir)
    val cur = cust.select($"c_custkey", $"c_acctbal",
      lit(0L).as("valid_from"), lit(999999L).as("valid_to"),
      lit(1L).as("is_current"))
    val upd = cust.filter(pmod($"c_custkey", lit(7)) === 3)
        .select($"c_custkey", ($"c_acctbal" + 100.0d).as("c_acctbal"))
      .unionByName(cust.filter(pmod($"c_custkey", lit(13)) === 2)
        .select(($"c_custkey" + 1000000L).as("c_custkey"), $"c_acctbal"))
    graft.ops.Scd.scd2Merge(cur, upd, "c_custkey", "c_acctbal", batchVersion = 1L)
      .filter($"c_custkey" < 200 ||
        ($"c_custkey" >= 1000000L && $"c_custkey" < 1000200L))
      .orderBy($"c_custkey", $"valid_from")
  }

  /** q144: order-independent table checksums
    * ([[graft.ops.Integrity.tableChecksum]]) — the replica-comparison
    * primitive: one map-side-combined aggregate per table; identical on
    * any partitioning, row order, or engine (the oracle IS the second
    * engine, so the hash match is literally a cross-engine replica
    * check). */
  def tableChecksums(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Integrity.tableChecksum
    tableChecksum(Tables.documents(s, dir), "documents",
        Seq("doc_id", "lang", "source", "n_chars", "text"))
      .unionByName(tableChecksum(Tables.nation(s, dir), "nation",
        Seq("n_nationkey", "n_name", "n_regionkey")))
      .unionByName(tableChecksum(Tables.region(s, dir), "region",
        Seq("r_regionkey", "r_name")))
      .orderBy(col("table_name"))
  }

  /** q145: padding-waste audit for length-bucketed training batches —
    * each doc rounds up to its 64-token bucket; the padding fraction per
    * bucket is what a batch-shape choice costs in wasted FLOPs (the
    * complement of q73's packing). One grouped aggregate over exact
    * integers; ratio is double-of-exact-ints. */
  def paddingWaste(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(TextAnalysis.tokenCount($"text").cast("long").as("n_tokens"))
      .filter($"n_tokens" > 0)
      .withColumn("bucket", expr("((n_tokens + 63) div 64) * 64"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("sum_tokens"),
        sum($"bucket" - $"n_tokens").as("pad_tokens"))
      .withColumn("pad_frac", round($"pad_tokens".cast("double") /
        ($"bucket" * $"n_docs").cast("double"), 6))
      .orderBy($"bucket")
  }

  /** q146: semantic segmentation boundaries (TextTiling, Hearst 1997) —
    * adjacent chunk-embedding cosine dips mark topic shifts; the
    * chunking pipeline's answer to "where should a long doc split".
    * Reuses q62's chunk grid + q64's deterministic projection embedding;
    * one lag window per doc over chunk-count-sized rows. Bounded to the
    * doc_id < 50 slice for output size. */
  def semanticBoundaries(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val chunks = Chunking.chunkByTokens(
        Tables.documents(s, dir).filter($"doc_id" < 50),
        "doc_id", "text", chunkTokens = 64, overlapTokens = 16)
      .select($"doc_id", $"chunk_idx",
        graft.expr.DedupKernel.polyEmbedCol($"chunk").as("emb"))
    val w = Window.partitionBy($"doc_id").orderBy($"chunk_idx")
    chunks.withColumn("prev", lag($"emb", 1).over(w))
      .filter($"prev".isNotNull)
      .withColumn("cos",
        round(graft.expr.VectorExprs.cosine($"prev", $"emb"), 6))
      .groupBy($"doc_id")
      .agg((count(lit(1)) + 1).as("n_chunks"),
        sum(when($"cos" < 0.5, 1L).otherwise(0L)).as("n_boundaries"),
        min($"cos").as("min_adj_cos"))
      .orderBy($"doc_id")
  }

  /** q148: LSH banding plan estimate ([[Dedup.bandingPlanEstimate]]) —
    * the exact candidate-pair count and bucket-size profile the LSH
    * join WOULD emit, per band: the pre-flight check that catches wrong
    * banding parameters on a 100 TB corpus for the price of a grouped
    * count. */
  def lshPlanEstimate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Dedup.bandingPlanEstimate(Tables.documents(s, dir), "doc_id", "text")
      .orderBy($"band")
  }

  /** q149: token-budget mixture planner — q125's DoReMi weights turned
    * into the table a training run actually consumes: per-domain token
    * quotas out of a 10⁹-token budget, epochs (repetition factor, the
    * LLaMA-style data-table column) and an oversampling flag. Quota =
    * floor(weight·B) on the 6-dp weight, so the plan replays exactly. */
  def mixtureBudgetPlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val budget = 1000000000L
    Sampling.domainMixture(Tables.documents(s, dir), "source", "text",
        temperature = 0.5)
      .select($"source", $"n_tokens", $"mixture_weight",
        floor($"mixture_weight" * budget).cast("long").as("quota_tokens"))
      .withColumn("epochs",
        round($"quota_tokens".cast("double") / $"n_tokens".cast("double"), 6))
      .withColumn("oversampled",
        when($"quota_tokens" > $"n_tokens", 1L).otherwise(0L))
      .orderBy($"source")
  }

  /** q194: UniMax budget allocation ([[graft.ops.Sampling.uniMax]]) —
    * the waterfilling language sampler (Chung et al. 2023) next to
    * q149's temperature plan: a 40% token budget (exact integer
    * total·2∕5) spreads as uniformly as the per-language supplies
    * allow, small languages saturate at 1 epoch, the rest share one
    * water level. The closed-form sorted-prefix saturation test makes
    * the whole plan one groups-sized window — and the oracle replays
    * supply counts, the integer saturation scan and the single-divide
    * water level. The driver-side budget derivation is one 1-row
    * aggregate (config-bounded, the q149 literal generalized). */
  def uniMaxPlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, dir).select($"lang",
      size(filter(TextAnalysis.tokens($"text"), t => length(t) > 0))
        .cast("long").as("n_toks"))
    val total = toks.agg(sum($"n_toks")).as[Long].head()
    Sampling.uniMax(toks, "lang", "n_toks", budget = total * 2L / 5L)
      .orderBy($"lang")
  }

  /** q150: rendezvous-sharding rebalance audit
    * ([[graft.ops.Layout.rendezvousShard]]) — docs assigned under 10 and
    * 11 shards, compared: the output PROVES the minimal-movement
    * property (every moved doc lands on the NEW shard; per-shard
    * `n_moved_in` is nonzero only for shard 10), which is why HRW
    * placement rebalances a 100 TB corpus at 1∕(N+1) cost instead of
    * mod-N's full reshuffle. */
  def rendezvousRebalance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = Tables.documents(s, dir).select($"doc_id")
    val a10 = graft.ops.Layout.rendezvousShard(ids, "doc_id", 10)
      .withColumnRenamed("shard", "s10")
    val a11 = graft.ops.Layout.rendezvousShard(ids, "doc_id", 11)
      .withColumnRenamed("shard", "s11")
    a10.join(a11, "doc_id")
      .groupBy($"s11".as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"s10" =!= $"s11", 1L).otherwise(0L)).as("n_moved_in"))
      .orderBy($"shard")
  }

  /** q151: LSH recall/precision audit — the MinHash candidate set
    * (q32's est ≥ 0.4) measured against exact-Jaccard ground truth
    * (q31's machinery at the same threshold) on the bounded slice:
    * the tuning report that says whether 8×4 banding is right for THIS
    * corpus before committing a 100 TB dedup to it. All counts exact;
    * the two ratios are double-of-exact-ints. */
  def lshRecallAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val slice = Tables.documents(s, dir).filter($"doc_id" < 200)
    val truth = Dedup.jaccardPairs(slice, "doc_id", "text", w = 3,
      threshold = 0.4).select($"a_id", $"b_id").pin
    val cand = Dedup.minHashCandidates(Tables.documents(s, dir), "doc_id",
        "text", numHashes = 32, bands = 8, w = 3, threshold = 0.4)
      .filter($"a_id" < 200 && $"b_id" < 200)
      .select($"a_id", $"b_id").pin
    val hits = truth.join(cand, Seq("a_id", "b_id"))
      .agg(count(lit(1)).as("n_hits"))
    truth.agg(count(lit(1)).as("n_truth"))
      .crossJoin(cand.agg(count(lit(1)).as("n_candidates")))
      .crossJoin(hits)
      .select($"n_truth", $"n_candidates", $"n_hits",
        when($"n_truth" === 0L, lit(0.0)).otherwise(
          round($"n_hits".cast("double") / $"n_truth".cast("double"), 6))
          .as("recall"),
        when($"n_candidates" === 0L, lit(0.0)).otherwise(
          round($"n_hits".cast("double") / $"n_candidates".cast("double"), 6))
          .as("precision"))
  }

  /** q153: deterministic bootstrap error bars for a corpus metric —
    * 64 half-subsample replicas of mean(n_chars), membership decided by
    * the md5 device (`hash(id:replica) < 50`), so the "bootstrap" needs
    * no RNG state and replays exactly. Per-replica means are exact
    * DECIMAL ratios quantized to 9 dp; the cross-replica mean/sd are
    * one IEEE expression over exact sums. The explode factor is the
    * replica count (map-side combined immediately); state is 64 rows. */
  def bootstrapCi(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val reps = 64
    val means = Tables.documents(s, dir)
      .select($"doc_id", $"n_chars",
        explode(expr(s"sequence(0, ${reps - 1})")).as("b"))
      .filter(pmod(conv(substring(
          md5(concat_ws(":", $"doc_id", $"b")), 1, 8), 16, 10).cast("long"),
        lit(100L)) < 50)
      .groupBy($"b")
      .agg(count(lit(1)).as("n"), sum($"n_chars").as("sm"))
      .select($"b",
        round($"sm".cast("double") / $"n".cast("double"), 9)
          .cast("decimal(20,9)").as("m"))
    means.agg(
        count(lit(1)).as("n_replicas"),
        sum($"m").as("_s"),
        sum(($"m" * $"m").cast("decimal(38,18)")).as("_q"))
      .select($"n_replicas",
        round($"_s".cast("double") / $"n_replicas".cast("double"), 6)
          .as("mean_of_means"),
        round(sqrt(
          ($"_q".cast("double") - $"_s".cast("double") * $"_s".cast("double") /
            $"n_replicas".cast("double")) / $"n_replicas".cast("double")), 6)
          .as("sd_of_means"))
  }

  private val norm = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"

  /** DuckDB CTE chain ending in `st` (doc_id, shingle-code rows): per-doc
    * DISTINCT w-shingle CODES — [[ngramCtes]] (the q79 replay of the
    * distinctNgramCodes kernel) exploded to rows, mirroring
    * Dedup.shingleCodes exactly. */
  private def shingleSetCtes(w: Int): String =
    s"""${ngramCtes(w)},
       |st AS (SELECT doc_id, unnest(ng) AS shingle FROM ng)""".stripMargin

  // ---- portable-hash oracle building blocks (mirror DedupKernel exactly) --

  /** DuckDB polynomial code-point fold over a string column — identical
    * arithmetic to DedupKernel.polyFold / Dedup.polyHashCol. */
  private def duckFold(sCol: String, base: Long): String = {
    val P = graft.expr.DedupKernel.P
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(generate_series(1, length($sCol)), ci -> CAST(ascii(substr($sCol, ci, 1)) AS BIGINT))), " +
      s"(acc, c) -> (acc * $base + c) % $P)"
  }

  /** Shared DuckDB replay of the q124 hashed classifier down to a
    * `pred` (doc_id, conf) CTE — the q177/q185/q199/q200 prelude,
    * factored once for the newer classifier-eval oracles. */
  private def classifierPredCtes: String = {
    import graft.ops.QualityModel.{NumBuckets, WeightMul, WeightAdd, WeightMod, WeightHalf}
    s"""t AS (SELECT doc_id, string_split($norm, ' ') AS w FROM documents),
       |fx AS (
       |  SELECT doc_id, unnest(list_concat(w,
       |    CASE WHEN len(w) >= 2
       |         THEN list_transform(generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i+1])
       |         ELSE CAST([] AS VARCHAR[]) END)) AS feat
       |  FROM t),
       |f AS (SELECT doc_id, feat FROM fx WHERE length(feat) > 0),
       |fb AS (SELECT doc_id, ${duckFold("feat", graft.expr.DedupKernel.B1)} % $NumBuckets AS bucket FROM f),
       |wt AS (
       |  SELECT g.b AS bucket, ((g.b * $WeightMul + $WeightAdd) % $WeightMod) - $WeightHalf AS w_micro
       |  FROM generate_series(0, ${NumBuckets - 1}) g(b)),
       |cls AS (
       |  SELECT doc_id, COUNT(*) AS n_features, SUM(w_micro) AS sm
       |  FROM fb JOIN wt USING (bucket) GROUP BY 1),
       |pred AS (
       |  SELECT doc_id, ROUND(CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + exp(-ROUND(
       |    CAST(sm AS DOUBLE) / (CAST(n_features AS DOUBLE) * 1000000), 6))), 6) AS conf
       |  FROM cls)""".stripMargin
  }

  /** Shared DuckDB replay of the q127 Gopher rule gate down to a
    * `lab` (doc_id, keep) CTE — the reference-label half of the
    * classifier-eval oracles. */
  private def gopherLabCtes: String =
    s"""tg AS (
       |  SELECT doc_id, list_filter(string_split($norm, ' '), x -> length(x) > 0) AS w
       |  FROM documents),
       |sg AS (
       |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
       |    CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS sum_len,
       |    CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS alpha_words,
       |    CAST(len(list_filter(w, x -> list_contains(['the','be','to','of','and','that','have','with'], x))) AS BIGINT) AS n_stop_hits
       |  FROM tg WHERE len(w) > 0),
       |lab AS (
       |  SELECT doc_id,
       |    CAST(CASE WHEN n_words BETWEEN 20 AND 100000 THEN 1 ELSE 0 END AS BIGINT)
       |    * CAST(CASE WHEN sum_len >= 3 * n_words AND sum_len <= 10 * n_words THEN 1 ELSE 0 END AS BIGINT)
       |    * CAST(CASE WHEN alpha_words * 5 >= n_words * 4 THEN 1 ELSE 0 END AS BIGINT)
       |    * CAST(CASE WHEN n_stop_hits >= 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
       |  FROM sg)""".stripMargin

  /** CTE chain `t → hh → sig → banded`: MinHash signatures (numHashes=32,
    * w=3, perms inlined from DedupKernel.perm) and LSH banding (8 bands ×
    * 4 rows) — the shared DuckDB re-derivation of Dedup.minHashSignatures
    * + banding, used by q32/q36 (self-pairs) and q65 (batch × corpus). */
  private def minhashBandCtes: String = minhashBandCtesFrom("documents")

  private def minhashBandCtesFrom(base: String): String = {
    val P = graft.expr.DedupKernel.P
    val sigItems = (0 until 32).map { i =>
      val (a, b) = graft.expr.DedupKernel.perm(i)
      s"list_min(list_transform(hh, h -> (h * $a + $b) % $P))"
    }.mkString(",\n    ")
    s"""t AS (SELECT doc_id, string_split($norm, ' ') AS w FROM $base),
       |hh AS (
       |  SELECT doc_id, list_transform(
       |    list_transform(generate_series(1, len(w) - 2), i -> array_to_string(w[i:i+2], ' ')),
       |    s -> ${duckFold("s", graft.expr.DedupKernel.B1)}) AS hh
       |  FROM t WHERE len(w) >= 3),
       |sig AS (SELECT doc_id, [$sigItems] AS sig FROM hh),
       |banded AS (
       |  SELECT doc_id, sig, b.b AS band, list_slice(sig, b.b*4 + 1, b.b*4 + 4) AS key
       |  FROM sig, generate_series(0, 7) b(b))""".stripMargin
  }

  /** [[minhashBandCtes]] + `cand(a_id, b_id, est)`: self candidate pairs
    * with est ≥ 0.4 — as used by q32 and q36. */
  private def minhashCtes: String = minhashCtesFrom("documents")

  private def minhashCtesFrom(base: String): String =
    s"""${minhashBandCtesFrom(base)},
       |cand AS (
       |  SELECT a_id, b_id, est FROM (
       |    SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
       |      CAST(len(list_filter(generate_series(1, 32), i -> x.sig[i] = y.sig[i])) AS DOUBLE) / 32 AS est
       |    FROM banded x JOIN banded y
       |      ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id) d
       |  WHERE est >= 0.4)""".stripMargin

  /** CTE chain `t → tok → th → d → fps(doc_id, simhash)`: 62-bit two-lane
    * SimHash fingerprints — the DuckDB re-derivation of Dedup.simHash. */
  private def simhashCtes: String = simhashCtesP("")

  /** The simhash fingerprint replay with `p`-prefixed CTE names, so it
    * can share a WITH clause with the MinHash fragment (both otherwise
    * define `t`/`banded`) — q232 composes the two tiers. */
  private def simhashCtesP(p: String): String = {
    val l1 = duckFold("tk", graft.expr.DedupKernel.B1)
    val l2 = duckFold("tk", graft.expr.DedupKernel.B2)
    s"""${p}t AS (SELECT doc_id, $norm AS nt FROM documents),
       |${p}tok AS (SELECT doc_id, unnest(string_split(nt, ' ')) AS tk FROM ${p}t),
       |${p}th AS (SELECT doc_id, ($l1 << 31) | $l2 AS h FROM ${p}tok WHERE length(tk) > 0),
       |${p}d AS (SELECT doc_id, list(h) AS hs FROM ${p}th GROUP BY doc_id),
       |${p}fps AS (
       |  SELECT doc_id, CAST(list_sum(list_transform(generate_series(0, 61), j ->
       |    CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)) > 0
       |         THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS simhash
       |  FROM ${p}d)""".stripMargin
  }

  /** DuckDB re-derivation of q64's full RAG pipeline: q62's chunk grid,
    * then DedupKernel.polyEmbed per chunk — per dimension d the INTEGER
    * sum Σ_tokens (polyFold(tok)·a_d + b_d) mod P with the same perm(d)
    * coefficients, floated by the single expression (2·S)/P − nTokens —
    * then rounded-cosine scoring, per-doc best chunk, per-query top-5. */
  private def ragOracle: String = {
    val P = graft.expr.DedupKernel.P
    def dims(src: String) = (0 until 64).map { d =>
      val (a, b) = graft.expr.DedupKernel.perm(d)
      s"CAST((2.0 * list_sum(list_transform($src, h -> (h * $a + $b) % $P))) / $P.0 - len($src) AS FLOAT)"
    }.mkString(",\n    ")
    val qvals = ragQueryRows.map { case (i, t) => s"($i, '$t')" }.mkString(", ")
    val qnorm = "regexp_replace(trim(lower(qtext)), '\\s+', ' ', 'g')"
    s"""WITH t AS (
       |  SELECT doc_id, string_split($norm, ' ') AS w FROM documents
       |  WHERE length($norm) > 0),
       |c AS (
       |  SELECT doc_id, unnest(generate_series(1, len(w), 48)) AS s, w
       |  FROM t),
       |ch AS (
       |  SELECT doc_id, CAST((s - 1) // 48 AS BIGINT) AS chunk_idx,
       |    list_transform(w[s : s + 63], tk -> ${duckFold("tk", graft.expr.DedupKernel.B1)}) AS ths
       |  FROM c),
       |emb AS (
       |  SELECT doc_id, chunk_idx, [${dims("ths")}] AS e FROM ch),
       |q(q_id, qtext) AS (VALUES $qvals),
       |qth AS (
       |  SELECT CAST(q_id AS BIGINT) AS q_id,
       |    list_transform(string_split($qnorm, ' '), tk -> ${duckFold("tk", graft.expr.DedupKernel.B1)}) AS ths
       |  FROM q),
       |qemb AS (
       |  SELECT q_id, [${dims("ths")}] AS e FROM qth),
       |sims AS (
       |  SELECT q.q_id, e.doc_id, e.chunk_idx,
       |    ROUND(SUM(CAST(e.e[i.i] AS DOUBLE) * CAST(q.e[i.i] AS DOUBLE)) /
       |      (SQRT(SUM(CAST(e.e[i.i] AS DOUBLE) * CAST(e.e[i.i] AS DOUBLE))) *
       |       SQRT(SUM(CAST(q.e[i.i] AS DOUBLE) * CAST(q.e[i.i] AS DOUBLE)))), 6) AS sim
       |  FROM emb e, qemb q, generate_series(1, 64) i(i)
       |  GROUP BY 1, 2, 3),
       |best AS (
       |  SELECT q_id, doc_id, chunk_idx, sim FROM (
       |    SELECT q_id, doc_id, chunk_idx, sim,
       |      ROW_NUMBER() OVER (PARTITION BY q_id, doc_id ORDER BY sim DESC, chunk_idx) AS rn
       |    FROM sims) b WHERE rn = 1),
       |ranked AS (
       |  SELECT q_id, doc_id, chunk_idx, sim,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, doc_id, chunk_idx) AS BIGINT) AS rnk
       |  FROM best)
       |SELECT q_id, doc_id, chunk_idx, sim, rnk FROM ranked
       |WHERE rnk <= 5
       |ORDER BY q_id, rnk""".stripMargin
  }

  /** Rolling n-gram code at position i over per-token hashes `h` —
    * the DuckDB twin of TextAnalysis.ngramCodes' fold. */
  private def ngramChain(n: Int): String = {
    val B = graft.expr.DedupKernel.B1
    val P = graft.expr.DedupKernel.P
    (1 until n).foldLeft("h[i]")((acc, j) => s"(($acc) * $B + h[i + $j]) % $P")
  }

  /** CTE chain `t → hh → ng(doc_id, ng)`: distinct word n-gram codes per
    * document (docs with ≥ n tokens) — the shared re-derivation of
    * TextAnalysis.ngramCodes used by q77/q79. */
  private def ngramCtes(n: Int): String =
    s"""t AS (SELECT doc_id, string_split($norm, ' ') AS w FROM documents),
       |hh AS (
       |  SELECT doc_id, list_transform(w, tk -> ${duckFold("tk", graft.expr.DedupKernel.B1)}) AS h
       |  FROM t),
       |ng AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    generate_series(1, len(h) - ${n - 1}), i -> ${ngramChain(n)})) AS ng
       |  FROM hh WHERE len(h) >= $n)""".stripMargin

  private val bucketExpr =
    "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100"

  /** The from-scratch BM25 recompute — the oracle for BOTH q82 (live
    * computation) and q122 (persisted-index serving): the index path is
    * only correct if it is bit-equal to this. */
  /** Shared DuckDB replay of the BM25 scoring chain through the ranked
    * CTE `r` (q_id, doc_id, sum_micro, rnk) — q82/q122/q123 append the
    * top-5 score select; q175 appends the ranking-metrics readout. */
  private def bm25RankCtes: String = bm25RankCtes("TRUE")

  /** The corpus predicate parameterizes the INDEXED slice so the
    * time-travel entry (q190) can replay the historic snapshot's corpus
    * while q82/q122/q123/q184 replay the full one. */
  private def bm25RankCtes(corpusPred: String): String = {
    // interpolate the Scala-computed double constants so both engines
    // multiply by the bit-identical values (CAST keeps DuckDB in double
    // arithmetic — bare decimal literals are DECIMAL-typed there)
    val k1 = 1.2d; val b = 0.75d
    def d(x: Double) = s"CAST($x AS DOUBLE)"
    val qvals = ragQueryRows.map { case (i, t) => s"($i, '$t')" }.mkString(", ")
    val qnorm = "regexp_replace(trim(lower(qtext)), '\\s+', ' ', 'g')"
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split($norm, ' ')) AS token
       |  FROM documents WHERE $corpusPred),
       |t AS (SELECT doc_id, token FROM toks WHERE length(token) > 0),
       |dl AS (SELECT doc_id, COUNT(*) AS dl FROM t GROUP BY 1),
       |st AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_len FROM dl),
       |q(q_id, qtext) AS (VALUES $qvals),
       |qt AS (
       |  SELECT DISTINCT CAST(q_id AS BIGINT) AS q_id,
       |    unnest(string_split($qnorm, ' ')) AS token
       |  FROM q),
       |qtok AS (SELECT DISTINCT token FROM qt),
       |tf AS (
       |  SELECT doc_id, token, COUNT(*) AS tf
       |  FROM t JOIN qtok USING (token) GROUP BY 1, 2),
       |dfq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
       |m AS (
       |  SELECT qt.q_id, tf.doc_id,
       |    CAST(round(
       |      ln(${d(1.0)} + (st.n_docs - dfq.df + ${d(0.5)}) / (dfq.df + ${d(0.5)}))
       |        * (tf.tf * ${d(k1 + 1.0)})
       |        / (tf.tf + ${d(k1)} * (${d(1.0 - b)} + ${d(b)} * CAST(dl.dl AS DOUBLE)
       |            / (CAST(st.total_len AS DOUBLE) / CAST(st.n_docs AS DOUBLE))))
       |        * ${d(1e6)}) AS BIGINT) AS micro
       |  FROM tf JOIN dfq USING (token) JOIN dl USING (doc_id)
       |  JOIN qt USING (token), st),
       |sc AS (
       |  SELECT q_id, doc_id, CAST(SUM(micro) AS BIGINT) AS sum_micro
       |  FROM m GROUP BY 1, 2),
       |r AS (
       |  SELECT q_id, doc_id, sum_micro,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY sum_micro DESC, doc_id) AS BIGINT) AS rnk
       |  FROM sc)""".stripMargin
  }

  private def bm25Oracle: String = bm25Oracle("TRUE")

  private def bm25Oracle(corpusPred: String): String = {
    def d(x: Double) = s"CAST($x AS DOUBLE)"
    s"""${bm25RankCtes(corpusPred)}
       |SELECT q_id, doc_id,
       |  ROUND(CAST(sum_micro AS DOUBLE) / ${d(1e6)}, 6) AS bm25, rnk
       |FROM r WHERE rnk <= 5
       |ORDER BY q_id, rnk""".stripMargin
  }

  private val rankMetricsOracle: String = {
    def d(x: Double) = s"CAST($x AS DOUBLE)"
    val ln2 = graft.ops.RankMetrics.ln2Const
    def disc(rankExpr: String) =
      s"CAST(round(${d(1e6)} / (ln(CAST($rankExpr AS DOUBLE) + ${d(1.0)}) / $ln2)) AS BIGINT)"
    s"""$bm25RankCtes,
       |lab AS (
       |  SELECT qt.q_id, t.doc_id
       |  FROM t JOIN qt USING (token) GROUP BY 1, 2 HAVING COUNT(*) >= 2),
       |nrel AS (SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_rel FROM lab GROUP BY 1),
       |hits AS (
       |  SELECT r.q_id, r.rnk,
       |    CASE WHEN lab.doc_id IS NULL THEN 0 ELSE 1 END AS rel
       |  FROM r LEFT JOIN lab ON lab.q_id = r.q_id AND lab.doc_id = r.doc_id
       |  WHERE r.rnk <= 10),
       |agg AS (
       |  SELECT q_id,
       |    CAST(SUM(rel) AS BIGINT) AS hits_k,
       |    MIN(CASE WHEN rel = 1 THEN rnk END) AS first_rel,
       |    CAST(SUM(CASE WHEN rel = 1 THEN ${disc("rnk")} ELSE 0 END) AS BIGINT) AS dcg
       |  FROM hits GROUP BY 1),
       |bounds AS (
       |  SELECT a.q_id, LEAST(COALESCE(n.n_rel, 0), 10) AS m
       |  FROM agg a LEFT JOIN nrel n USING (q_id)),
       |idcg AS (
       |  SELECT q_id, CAST(SUM(${disc("i")}) AS BIGINT) AS idcg FROM (
       |    SELECT b.q_id, unnest(generate_series(1, b.m)) AS i FROM bounds b)
       |  GROUP BY 1)
       |SELECT q_id,
       |  COALESCE(n.n_rel, 0) AS n_rel,
       |  ROUND(CASE WHEN first_rel IS NULL THEN ${d(0.0)}
       |    ELSE ${d(1.0)} / CAST(first_rel AS DOUBLE) END, 6) AS mrr,
       |  ROUND(CAST(COALESCE(hits_k, 0) AS DOUBLE) / ${d(10.0)}, 6) AS p_at_k,
       |  ROUND(CASE WHEN COALESCE(n.n_rel, 0) > 0
       |    THEN CAST(COALESCE(hits_k, 0) AS DOUBLE) / CAST(n.n_rel AS DOUBLE)
       |    ELSE ${d(0.0)} END, 6) AS recall_at_k,
       |  ROUND(CASE WHEN COALESCE(i.idcg, 0) > 0
       |    THEN CAST(COALESCE(dcg, 0) AS DOUBLE) / CAST(i.idcg AS DOUBLE)
       |    ELSE ${d(0.0)} END, 6) AS ndcg_at_k
       |FROM agg a FULL JOIN nrel n USING (q_id) LEFT JOIN idcg i USING (q_id)
       |ORDER BY q_id""".stripMargin
  }

  // ---- shared batched-BPE oracle machinery (q171 / q181 / q182) -----

  /** RE2-safe boundary-anchored pair replace — TextAnalysis.bpeApply's
    * doubled-separator trick verbatim in DuckDB. */
  private def bpeAnchSql(inner: String, sel: String): String =
    s"trim(replace(replace(' ' || replace($inner, ' ', '  ') || ' ', " +
      s"' ' || replace(($sel), ' ', '  ') || ' ', " +
      s"' ' || replace(($sel), ' ', '') || ' '), '  ', ' '))"

  /** The 3-round batched trajectory (R = 2, lookahead 8): per round,
    * rank pairs (cnt desc, pair asc), accept rank 1, accept the lowest-
    * ranked window pair sharing no symbol with it — "symbol" includes
    * rank 1's MERGED output m1 (a runner-up touching a just-minted
    * symbol has stale counts and defers) — apply both merges with the
    * anchored replace. w0..w3 carry (w, sym, freq) so the encode
    * oracles (q181/q182) can map each WORD to its folded subwords; the
    * word tables are MATERIALIZED because they are multiply referenced
    * downstream and naive inlining re-opens the parquet exponentially
    * (the r14 q173 lesson). */
  private def bpeBatchedCtes: String = {
    val iterCtes = (1 to 3).map { i =>
      s"""p$i AS (
         |  SELECT pr, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
         |    SELECT unnest(list_transform(generate_series(1, len(a) - 1),
         |      j -> a[j] || ' ' || a[j + 1])) AS pr, freq
         |    FROM (SELECT string_split(sym, ' ') AS a, freq FROM w${i - 1}))
         |  GROUP BY pr),
         |t$i AS (
         |  SELECT pr, cnt, row_number() OVER (ORDER BY cnt DESC, pr) AS rn FROM p$i),
         |k1$i AS (
         |  SELECT pr, cnt, split_part(pr, ' ', 1) AS s1, split_part(pr, ' ', 2) AS s2,
         |    replace(pr, ' ', '') AS m1
         |  FROM t$i WHERE rn = 1),
         |k2$i AS (
         |  SELECT x.pr, x.cnt FROM t$i x, k1$i k
         |  WHERE x.rn BETWEEN 2 AND 8
         |    AND split_part(x.pr, ' ', 1) NOT IN (k.s1, k.s2, k.m1)
         |    AND split_part(x.pr, ' ', 2) NOT IN (k.s1, k.s2, k.m1)
         |  ORDER BY x.rn LIMIT 1),
         |w$i AS MATERIALIZED (
         |  SELECT w, ${bpeAnchSql(bpeAnchSql("sym",
              s"COALESCE((SELECT pr FROM k1$i), chr(1))"),
            s"COALESCE((SELECT pr FROM k2$i), chr(1))")} AS sym, freq
         |  FROM w${i - 1})""".stripMargin
    }.mkString(",\n")
    s"""w0 AS MATERIALIZED (
       |  SELECT w, trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS sym, CAST(freq AS BIGINT) AS freq FROM (
       |    SELECT tk AS w, COUNT(*) AS freq FROM (
       |      SELECT unnest(string_split($norm, ' ')) AS tk FROM documents)
       |    WHERE length(tk) > 0 GROUP BY tk)),
       |$iterCtes""".stripMargin
  }

  /** Accepted merges with GLOBAL iter: numbers are COMPACTED over the
    * rows that actually exist (row_number over round/slot) and a
    * missing k2 no-ops its replace via a sentinel, so a round with no
    * symbol-disjoint runner-up degrades exactly like the Scala
    * accept-fewer path instead of NULL-poisoning the word table. */
  private def bpeFinalsSql: String =
    "SELECT CAST(row_number() OVER (ORDER BY r, s) AS BIGINT) AS iter, " +
      "pair, merged, cnt FROM (\n" +
      (1 to 3).flatMap { i =>
        Seq(
          s"SELECT $i AS r, 1 AS s, pr AS pair, replace(pr, ' ', '') AS merged, cnt FROM k1$i",
          s"SELECT $i AS r, 2 AS s, pr AS pair, replace(pr, ' ', '') AS merged, cnt FROM k2$i")
      }.mkString("\nUNION ALL\n") + ")"

  /** Encode CTEs on top of [[bpeBatchedCtes]], ending in
    * `enc(doc_id, tids)`: alphabet ids 0..A−1 by sorted char, merge i
    * mints id A+iter−1 (first mint wins on duplicate outputs), each
    * word maps to its folded subword id list, docs reassemble in word
    * order — TextAnalysis.bpeEncode's exact scheme. */
  private def bpeEncodeCtes: String =
    s"""alpha AS (
       |  SELECT DISTINCT unnest(string_split(sym, ' ')) AS sub FROM w0),
       |base AS (
       |  SELECT sub, CAST(row_number() OVER (ORDER BY sub) - 1 AS BIGINT) AS tok_id
       |  FROM alpha WHERE length(sub) > 0),
       |nb AS (SELECT COUNT(*) AS n FROM base),
       |mg AS ($bpeFinalsSql),
       |mtok AS (
       |  SELECT merged AS sub, CAST(nb.n + MIN(iter) - 1 AS BIGINT) AS tok_id
       |  FROM mg, nb GROUP BY merged, nb.n),
       |vocab AS MATERIALIZED (
       |  SELECT * FROM base UNION ALL SELECT * FROM mtok),
       |wid AS MATERIALIZED (
       |  SELECT w, list(tok_id ORDER BY subpos) AS ids FROM (
       |    SELECT w, unnest(generate_series(1, len(a))) AS subpos,
       |      unnest(a) AS sub
       |    FROM (SELECT w, string_split(sym, ' ') AS a FROM w3))
       |  JOIN vocab USING (sub) GROUP BY w),
       |dtw AS (
       |  SELECT doc_id, pos, tk AS w FROM (
       |    SELECT doc_id, unnest(generate_series(1, len(arr))) AS pos,
       |      unnest(arr) AS tk
       |    FROM (SELECT doc_id, string_split($norm, ' ') AS arr FROM documents))
       |  WHERE length(tk) > 0),
       |enc AS MATERIALIZED (
       |  SELECT d.doc_id, flatten(list(wid.ids ORDER BY d.pos)) AS tids
       |  FROM dtw d JOIN wid ON wid.w = d.w GROUP BY d.doc_id)""".stripMargin

  val all: Seq[Query] = Seq(
    Query("q117_dsir_selection", dsirSelection,
      s"""WITH tk0 AS (
         |  SELECT doc_id, lang = 'en' AS tgt,
         |    unnest(string_split($norm, ' ')) AS token
         |  FROM documents),
         |tk AS (SELECT * FROM tk0 WHERE length(token) > 0),
         |c AS (
         |  SELECT token, COUNT(*) AS c_raw,
         |    SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS c_tgt
         |  FROM tk GROUP BY 1),
         |tot AS (SELECT SUM(c_raw) AS t_raw, SUM(c_tgt) AS t_tgt, COUNT(*) AS v FROM c),
         |lr AS (
         |  SELECT token, CAST(ROUND((ln(CAST(c_tgt + 1 AS DOUBLE) / CAST(t_tgt + v AS DOUBLE))
         |    - ln(CAST(c_raw + 1 AS DOUBLE) / CAST(t_raw + v AS DOUBLE))) * 1000000) AS BIGINT) AS lr_micro
         |  FROM c, tot),
         |d AS (
         |  SELECT tk.doc_id, COUNT(*) AS n_tokens, SUM(lr.lr_micro) AS sm
         |  FROM tk JOIN lr USING (token) GROUP BY 1)
         |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  ROUND(CAST(sm AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * 1000000), 6) AS avg_log_ratio
         |FROM d ORDER BY avg_log_ratio DESC, doc_id LIMIT 50""".stripMargin),
    Query("q119_span_removal", spanRemoval,
      s"""WITH t AS (SELECT doc_id, string_split($norm, ' ') AS w FROM documents),
         |hh AS (
         |  SELECT doc_id, list_transform(w, tk -> ${duckFold("tk", graft.expr.DedupKernel.B1)}) AS h
         |  FROM t),
         |gl AS (
         |  SELECT doc_id, list_transform(generate_series(1, len(h) - 7), i -> ${ngramChain(8)}) AS g
         |  FROM hh WHERE len(h) >= 8),
         |st AS (
         |  SELECT doc_id, unnest(generate_series(1, len(g))) AS s, unnest(g) AS code
         |  FROM gl),
         |dup AS (
         |  SELECT code FROM (SELECT DISTINCT doc_id, code FROM st) dd
         |  GROUP BY code HAVING COUNT(*) >= 2),
         |ss AS (
         |  SELECT doc_id, list(s ORDER BY s) AS ss
         |  FROM st JOIN dup USING (code) GROUP BY 1),
         |k AS (
         |  SELECT t.doc_id, t.w, COALESCE(ss.ss, CAST([] AS BIGINT[])) AS ds,
         |    list_filter(generate_series(1, len(t.w)),
         |      p -> len(list_filter(COALESCE(ss.ss, CAST([] AS BIGINT[])),
         |                           x -> x <= p AND p <= x + 7)) = 0) AS kept
         |  FROM t LEFT JOIN ss USING (doc_id))
         |SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
         |  CAST(len(ds) AS BIGINT) AS n_dup_spans,
         |  CAST(len(w) - len(kept) AS BIGINT) AS n_removed,
         |  COALESCE(array_to_string(list_transform(kept, p -> w[p]), ' '), '') AS clean_text
         |FROM k ORDER BY doc_id""".stripMargin),
    Query("q183_maximal_spans", maximalSpans,
      s"""WITH t AS (SELECT doc_id, string_split($norm, ' ') AS w FROM documents),
         |hh AS (
         |  SELECT doc_id, list_transform(w, tk -> ${duckFold("tk", graft.expr.DedupKernel.B1)}) AS h
         |  FROM t),
         |gl AS (
         |  SELECT doc_id, list_transform(generate_series(1, len(h) - 7), i -> ${ngramChain(8)}) AS g
         |  FROM hh WHERE len(h) >= 8),
         |st AS (
         |  SELECT doc_id, unnest(generate_series(1, len(g))) AS s, unnest(g) AS code
         |  FROM gl),
         |dup AS (
         |  SELECT code FROM (SELECT DISTINCT doc_id, code FROM st) dd
         |  GROUP BY code HAVING COUNT(*) >= 2),
         |ss AS (
         |  SELECT doc_id, list(s ORDER BY s) AS ss
         |  FROM st JOIN dup USING (code) GROUP BY 1),
         |k AS (
         |  SELECT t.doc_id, t.w, COALESCE(ss.ss, CAST([] AS BIGINT[])) AS ds
         |  FROM t LEFT JOIN ss USING (doc_id)),
         |hd AS (
         |  SELECT doc_id, w, ds,
         |    CASE WHEN len(ds) = 0 THEN CAST([] AS BIGINT[])
         |      ELSE list_filter(generate_series(1, len(ds)),
         |        i -> i = 1 OR ds[i] - ds[i - 1] > 8) END AS hd
         |  FROM k),
         |sp AS (
         |  SELECT doc_id, w,
         |    CASE WHEN len(hd) = 0 THEN []
         |      ELSE list_filter(
         |        list_transform(generate_series(1, len(hd)), j -> struct_pack(
         |          st := ds[hd[j]],
         |          fin := ds[CASE WHEN j = len(hd) THEN len(ds)
         |            ELSE hd[j + 1] - 1 END] + 7)),
         |        x -> x.fin - x.st + 1 >= 12) END AS sp
         |  FROM hd),
         |kk AS (
         |  SELECT doc_id, w, sp,
         |    list_filter(generate_series(1, len(w)),
         |      p -> len(list_filter(sp, x -> x.st <= p AND p <= x.fin)) = 0) AS kept
         |  FROM sp)
         |SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
         |  CAST(len(sp) AS BIGINT) AS n_spans,
         |  CAST(COALESCE(list_max(list_transform(sp, x -> x.fin - x.st + 1)), 0) AS BIGINT) AS max_span_len,
         |  CAST(len(w) - len(kept) AS BIGINT) AS n_removed,
         |  COALESCE(array_to_string(list_transform(sp,
         |    x -> x.st || ':' || (x.fin - x.st + 1)), ','), '') AS spans_str,
         |  COALESCE(array_to_string(list_transform(kept, p -> w[p]), ' '), '') AS clean_text
         |FROM kk ORDER BY doc_id""".stripMargin),
    Query("q120_alpha_sampling", alphaSampling,
      s"""WITH s AS (SELECT lang, COUNT(*) AS n_g FROM documents GROUP BY 1),
         |t AS (SELECT SUM(n_g) AS n FROM s),
         |qr AS (
         |  SELECT lang, n_g,
         |    CAST(ROUND(exp(0.3 * ln(CAST(n_g AS DOUBLE) / CAST(n AS DOUBLE))) * 1000000000) AS BIGINT) AS qm
         |  FROM s, t),
         |z AS (SELECT SUM(qm) AS z FROM qr),
         |r AS (
         |  SELECT lang,
         |    LEAST(CAST(1.0 AS DOUBLE),
         |      ROUND(0.2 * CAST(t.n AS DOUBLE) *
         |        (CAST(qm AS DOUBLE) / CAST(z.z AS DOUBLE)) /
         |        CAST(n_g AS DOUBLE), 6)) AS rate
         |  FROM qr, z, t)
         |SELECT d.doc_id, d.lang, r.rate
         |FROM documents d JOIN r USING (lang)
         |WHERE CAST(CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS DOUBLE)
         |      < r.rate * 4294967296.0
         |ORDER BY doc_id""".stripMargin),
    Query("q121_ccnet_pipeline", ccnetPipeline,
      s"""WITH keep AS (
         |  SELECT md5($norm) AS fp, MIN(doc_id) AS doc_id
         |  FROM documents GROUP BY 1),
         |surv AS (SELECT d.* FROM documents d JOIN keep USING (doc_id)),
         |lng AS (
         |  SELECT doc_id, CASE
         |    WHEN c_en = 0 AND c_de = 0 AND c_fr = 0 AND c_es = 0 AND c_zh = 0 THEN 'und'
         |    WHEN c_zh > 0 THEN 'zh'
         |    WHEN c_en >= c_de AND c_en >= c_fr AND c_en >= c_es THEN 'en'
         |    WHEN c_de >= c_fr AND c_de >= c_es THEN 'de'
         |    WHEN c_fr >= c_es THEN 'fr'
         |    ELSE 'es' END AS predicted
         |  FROM (
         |    SELECT doc_id,
         |      len(list_filter(string_split($norm, ' '), t -> t IN ('the','a','of','and','to','in','is'))) AS c_en,
         |      len(list_filter(string_split($norm, ' '), t -> t IN ('der','die','das','und','ist','ein'))) AS c_de,
         |      len(list_filter(string_split($norm, ' '), t -> t IN ('le','la','les','et','est','une'))) AS c_fr,
         |      len(list_filter(string_split($norm, ' '), t -> t IN ('el','los','las','y','es','una'))) AS c_es,
         |      length(text) - length(regexp_replace(text, '[\\x{4e00}-\\x{9fff}]', '', 'g')) AS c_zh
         |    FROM surv) s),
         |t2 AS (
         |  SELECT doc_id, token FROM (
         |    SELECT doc_id, unnest(string_split($norm, ' ')) AS token FROM surv) u
         |  WHERE length(token) > 0),
         |c AS (SELECT token, COUNT(*) AS cnt FROM t2 GROUP BY 1),
         |tot AS (SELECT COUNT(*) AS total FROM t2),
         |lp AS (
         |  SELECT doc_id,
         |    ROUND(CAST(SUM(micro) AS DOUBLE) /
         |      (CAST(COUNT(*) AS DOUBLE) * CAST(1000000.0 AS DOUBLE)), 6) AS avg_logprob
         |  FROM (
         |    SELECT t2.doc_id,
         |      CAST(round(ln(CAST(c.cnt AS DOUBLE) / CAST(tot.total AS DOUBLE))
         |        * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS micro
         |    FROM t2 JOIN c USING (token), tot) m
         |  GROUP BY doc_id),
         |sc AS (
         |  SELECT lng.doc_id, lng.predicted, lp.avg_logprob
         |  FROM lng JOIN lp USING (doc_id)),
         |ext AS (
         |  SELECT predicted, MIN(avg_logprob) AS lo, MAX(avg_logprob) AS hi,
         |    COUNT(avg_logprob) AS n
         |  FROM sc GROUP BY 1),
         |b AS (
         |  SELECT predicted, lo, hi, n, bin, COUNT(*) AS c FROM (
         |    SELECT sc.predicted, ext.lo, ext.hi, ext.n,
         |      CASE WHEN ext.hi = ext.lo THEN 0
         |           ELSE LEAST(CAST(floor((sc.avg_logprob - ext.lo)
         |                  / (ext.hi - ext.lo) * 128) AS BIGINT), 127) END AS bin
         |    FROM sc JOIN ext USING (predicted)) bb
         |  GROUP BY 1, 2, 3, 4, 5),
         |cumt AS (
         |  SELECT *, CAST(COALESCE(SUM(c) OVER (PARTITION BY predicted ORDER BY bin
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
         |  FROM b),
         |qs AS (SELECT unnest([CAST(${1.0 / 3} AS DOUBLE), ${2.0 / 3}]) AS p),
         |sel AS (
         |  SELECT predicted, p, lo, hi, bin, c, cb,
         |    CAST(ceil(p * n) AS BIGINT) AS needed
         |  FROM cumt, qs
         |  WHERE cb < CAST(ceil(p * n) AS BIGINT)
         |    AND CAST(ceil(p * n) AS BIGINT) <= cb + c),
         |bq AS (
         |  SELECT predicted, p,
         |    ROUND(CASE WHEN hi = lo THEN lo
         |      ELSE lo + (hi - lo) / 128 * (bin + CAST(needed - cb AS DOUBLE) / c)
         |      END, 6) AS est
         |  FROM sel),
         |bb2 AS (
         |  SELECT predicted, MIN(CASE WHEN p < 0.5 THEN est END) AS b1,
         |    MIN(CASE WHEN p > 0.5 THEN est END) AS b2
         |  FROM bq GROUP BY 1),
         |fin AS (
         |  SELECT sc.predicted,
         |    CASE WHEN sc.avg_logprob > bb2.b2 THEN 'head'
         |         WHEN sc.avg_logprob > bb2.b1 THEN 'middle'
         |         ELSE 'tail' END AS bucket,
         |    sc.avg_logprob
         |  FROM sc JOIN bb2 USING (predicted))
         |SELECT predicted, bucket, COUNT(*) AS n_docs,
         |  MIN(avg_logprob) AS min_lp, MAX(avg_logprob) AS max_lp
         |FROM fin GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Query("q64_rag_topk", ragTopK, ragOracle),
    Query("q77_decontaminate", decontaminate,
      s"""WITH ${ngramCtes(8)},
         |b AS (SELECT doc_id, $bucketExpr AS bucket FROM documents),
         |ev AS (
         |  SELECT DISTINCT unnest(ng.ng) AS ngram
         |  FROM ng JOIN b USING (doc_id) WHERE b.bucket >= 90),
         |tr AS (SELECT ng.doc_id, ng.ng FROM ng JOIN b USING (doc_id) WHERE b.bucket < 80),
         |u AS (SELECT doc_id, unnest(ng) AS ngram FROM tr),
         |hits AS (
         |  SELECT doc_id, COUNT(*) AS n_hits
         |  FROM u JOIN ev USING (ngram) GROUP BY 1)
         |SELECT tr.doc_id, CAST(len(tr.ng) AS BIGINT) AS n_ngrams,
         |  CAST(COALESCE(hits.n_hits, 0) AS BIGINT) AS n_hits,
         |  CAST(COALESCE(hits.n_hits, 0) AS DOUBLE) / len(tr.ng) AS hit_frac
         |FROM tr LEFT JOIN hits USING (doc_id)
         |ORDER BY doc_id""".stripMargin),
    // q116: A-ES weighted sample — md5-derived uniforms, one ln per row,
    // micro-quantized keys with id tiebreak so the sort replays exactly
    Query("q116_weighted_reservoir", weightedReservoir,
      """SELECT doc_id, n_chars,
        |  CAST(round(ln((CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) AS DOUBLE) + 0.5)
        |      / 4503599627370496.0)
        |    / CAST(n_chars AS DOUBLE) * 1e6) AS BIGINT) AS wkey_micro
        |FROM documents
        |WHERE n_chars > 0
        |ORDER BY wkey_micro DESC, doc_id LIMIT 100""".stripMargin),
    // q115: PSI token drift — integer counts + one fixed-order double
    // formula per token, quantized to nano-units (the q78 device)
    Query("q115_token_drift", tokenDrift,
      s"""WITH b AS (SELECT doc_id, $bucketExpr AS bucket FROM documents),
         |ta AS (
         |  SELECT t AS token FROM (
         |    SELECT unnest(string_split($norm, ' ')) AS t
         |    FROM documents JOIN b USING (doc_id) WHERE b.bucket < 80)
         |  WHERE length(t) > 0),
         |tb AS (
         |  SELECT t AS token FROM (
         |    SELECT unnest(string_split($norm, ' ')) AS t
         |    FROM documents JOIN b USING (doc_id) WHERE b.bucket >= 90)
         |  WHERE length(t) > 0),
         |ca AS (SELECT token, COUNT(*) AS n_train FROM ta GROUP BY 1),
         |cb AS (SELECT token, COUNT(*) AS n_test FROM tb GROUP BY 1),
         |j AS (
         |  SELECT COALESCE(ca.token, cb.token) AS token,
         |    CAST(COALESCE(ca.n_train, 0) AS BIGINT) AS n_train,
         |    CAST(COALESCE(cb.n_test, 0) AS BIGINT) AS n_test
         |  FROM ca FULL JOIN cb ON ca.token = cb.token),
         |tot AS (
         |  SELECT CAST(SUM(n_train) AS BIGINT) AS na,
         |    CAST(SUM(n_test) AS BIGINT) AS nb,
         |    CAST(COUNT(*) AS BIGINT) AS v FROM j),
         |c AS (
         |  SELECT j.token, j.n_train, j.n_test,
         |    CAST(round((CAST(j.n_train + 1 AS DOUBLE) / CAST(tot.na + tot.v AS DOUBLE)
         |        - CAST(j.n_test + 1 AS DOUBLE) / CAST(tot.nb + tot.v AS DOUBLE))
         |      * ln((CAST(j.n_train + 1 AS DOUBLE) / CAST(tot.na + tot.v AS DOUBLE))
         |          / (CAST(j.n_test + 1 AS DOUBLE) / CAST(tot.nb + tot.v AS DOUBLE)))
         |      * 1e9) AS BIGINT) AS psi_nano
         |  FROM j, tot)
         |SELECT token, n_train, n_test, psi_nano,
         |  CAST(psi_nano AS DOUBLE) / 1e9 AS psi_contrib
         |FROM c
         |ORDER BY psi_nano DESC, token""".stripMargin),
    Query("q114_contamination_source", decontaminateSources,
      s"""WITH ${ngramCtes(8)},
         |b AS (SELECT doc_id, $bucketExpr AS bucket FROM documents),
         |ev AS (
         |  SELECT ng.doc_id AS eval_id, unnest(ng.ng) AS ngram
         |  FROM ng JOIN b USING (doc_id) WHERE b.bucket >= 90),
         |tr AS (
         |  SELECT ng.doc_id, unnest(ng.ng) AS ngram
         |  FROM ng JOIN b USING (doc_id) WHERE b.bucket < 80),
         |ov AS (
         |  SELECT tr.doc_id, ev.eval_id, COUNT(*) AS n_shared
         |  FROM tr JOIN ev USING (ngram) GROUP BY 1, 2),
         |rk AS (
         |  SELECT doc_id, eval_id, n_shared,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id
         |      ORDER BY n_shared DESC, eval_id ASC) AS rn
         |  FROM ov)
         |SELECT doc_id, eval_id, CAST(n_shared AS BIGINT) AS n_shared
         |FROM rk WHERE rn = 1
         |ORDER BY doc_id""".stripMargin),
    // q112 replays the bloom-gated path: the SQL is the PLAIN overlap
    // (no bloom) — hash-equality proves the exact survivor join strips
    // every bloom false positive from the report
    Query("q112_decontaminate_bloom", decontaminateBloom,
      s"""WITH ${ngramCtes(6)},
         |b AS (SELECT doc_id, $bucketExpr AS bucket FROM documents),
         |ev AS (
         |  SELECT DISTINCT unnest(ng.ng) AS ngram
         |  FROM ng JOIN b USING (doc_id) WHERE b.bucket >= 90),
         |tr AS (SELECT ng.doc_id, ng.ng FROM ng JOIN b USING (doc_id) WHERE b.bucket < 80),
         |u AS (SELECT doc_id, unnest(ng) AS ngram FROM tr),
         |hits AS (
         |  SELECT doc_id, COUNT(*) AS n_hits
         |  FROM u JOIN ev USING (ngram) GROUP BY 1)
         |SELECT tr.doc_id, CAST(len(tr.ng) AS BIGINT) AS n_ngrams,
         |  CAST(COALESCE(hits.n_hits, 0) AS BIGINT) AS n_hits,
         |  CAST(COALESCE(hits.n_hits, 0) AS DOUBLE) / len(tr.ng) AS hit_frac
         |FROM tr LEFT JOIN hits USING (doc_id)
         |ORDER BY doc_id""".stripMargin),
    Query("q78_unigram_logprob", unigramLogProb,
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split($norm, ' ')) AS token FROM documents),
         |t AS (SELECT doc_id, token FROM toks WHERE length(token) > 0),
         |c AS (SELECT token, COUNT(*) AS cnt FROM t GROUP BY 1),
         |tot AS (SELECT COUNT(*) AS total FROM t),
         |m AS (
         |  SELECT t.doc_id,
         |    CAST(round(ln(CAST(c.cnt AS DOUBLE) / CAST(tot.total AS DOUBLE))
         |      * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS micro
         |  FROM t JOIN c USING (token), tot)
         |SELECT doc_id, COUNT(*) AS n_tokens,
         |  CAST(SUM(micro) AS BIGINT) AS sum_micro_nats,
         |  ROUND(CAST(SUM(micro) AS DOUBLE) /
         |    (CAST(COUNT(*) AS DOUBLE) * CAST(1000000.0 AS DOUBLE)), 6) AS avg_logprob
         |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    Query("q79_crossdoc_ngrams", crossDocNgrams,
      s"""WITH ${ngramCtes(8)},
         |u AS (SELECT doc_id, unnest(ng) AS ngram FROM ng),
         |sh AS (SELECT ngram FROM u GROUP BY ngram HAVING COUNT(*) >= 2),
         |hits AS (
         |  SELECT doc_id, COUNT(*) AS n_shared
         |  FROM u JOIN sh USING (ngram) GROUP BY 1)
         |SELECT ng.doc_id, CAST(len(ng.ng) AS BIGINT) AS n_ngrams,
         |  CAST(COALESCE(hits.n_shared, 0) AS BIGINT) AS n_shared,
         |  CAST(COALESCE(hits.n_shared, 0) AS DOUBLE) / len(ng.ng) AS shared_frac
         |FROM ng LEFT JOIN hits USING (doc_id)
         |ORDER BY doc_id""".stripMargin),
    Query("q89_unpivot", unpivotCharClasses,
      """WITH wide AS (
        |  SELECT lang,
        |    CAST(SUM(length(text) - length(regexp_replace(text, '[aeiou]', '', 'g'))) AS BIGINT) AS n_vowels,
        |    CAST(SUM(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) AS BIGINT) AS n_digits,
        |    CAST(SUM(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))) AS BIGINT) AS n_punct
        |  FROM documents GROUP BY lang)
        |SELECT lang, metric, n FROM (
        |  SELECT lang, 'n_vowels' AS metric, n_vowels AS n FROM wide
        |  UNION ALL SELECT lang, 'n_digits', n_digits FROM wide
        |  UNION ALL SELECT lang, 'n_punct', n_punct FROM wide) u
        |ORDER BY lang, metric""".stripMargin),
    Query("q93_length_curriculum", lengthCurriculum, {
      // replays the q75 fixed-width-histogram sketch (128 bins) that the
      // Spark side uses for the decile bounds — same binning, cumulative
      // crossing, and interpolation arithmetic, so the bounds are
      // bit-identical doubles in both engines
      val ps = (s"CAST(0.1 AS DOUBLE)" +: (2 to 9).map(i => s"${i / 10.0d}"))
        .mkString(", ")
      s"""WITH ext AS (
         |  SELECT MIN(CAST(n_chars AS DOUBLE)) AS lo,
         |    MAX(CAST(n_chars AS DOUBLE)) AS hi, COUNT(n_chars) AS n
         |  FROM documents),
         |b AS (
         |  SELECT bin, COUNT(*) AS c FROM (
         |    SELECT CASE WHEN ext.hi = ext.lo THEN 0
         |      ELSE LEAST(CAST(floor((CAST(d.n_chars AS DOUBLE) - ext.lo)
         |             / (ext.hi - ext.lo) * 128) AS BIGINT), 127) END AS bin
         |    FROM documents d, ext WHERE d.n_chars IS NOT NULL)
         |  GROUP BY bin),
         |cumt AS (
         |  SELECT bin, c, CAST(COALESCE(SUM(c) OVER (ORDER BY bin
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
         |  FROM b),
         |qs AS (SELECT unnest([$ps]) AS p),
         |sel AS (
         |  SELECT p, bin, c, cb, ext.lo, ext.hi,
         |    CAST(ceil(p * ext.n) AS BIGINT) AS needed
         |  FROM cumt, qs, ext
         |  WHERE cb < CAST(ceil(p * ext.n) AS BIGINT)
         |    AND CAST(ceil(p * ext.n) AS BIGINT) <= cb + c),
         |bounds AS (
         |  SELECT list(ROUND(CASE WHEN hi = lo THEN lo
         |    ELSE lo + (hi - lo) / 128 * (bin + CAST(needed - cb AS DOUBLE) / c)
         |    END, 6) ORDER BY p) AS bs
         |  FROM sel),
         |a AS (
         |  SELECT doc_id, n_chars,
         |    CAST(1 + len(list_filter(bounds.bs, x -> n_chars > x)) AS BIGINT) AS bucket
         |  FROM documents, bounds)
         |SELECT bucket, COUNT(*) AS n_docs,
         |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
         |FROM a GROUP BY bucket ORDER BY bucket""".stripMargin
    }),
    Query("q92_edit_distance", editDistancePairs,
      s"""WITH $minhashCtes,
         |d AS (SELECT doc_id, $norm AS nt FROM documents),
         |p AS (
         |  SELECT c.a_id, c.b_id,
         |    CAST(levenshtein(a.nt, b.nt) AS BIGINT) AS lev,
         |    CAST(greatest(length(a.nt), length(b.nt)) AS DOUBLE) AS ml
         |  FROM cand c
         |  JOIN d a ON a.doc_id = c.a_id
         |  JOIN d b ON b.doc_id = c.b_id)
         |SELECT a_id, b_id, lev,
         |  ROUND(CAST(1.0 AS DOUBLE) - CAST(lev AS DOUBLE) / ml, 6) AS edit_sim
         |FROM p
         |WHERE CAST(1.0 AS DOUBLE) - CAST(lev AS DOUBLE) / ml >= 0.4
         |ORDER BY a_id, b_id""".stripMargin),
    Query("q91_rolling_active", rollingActives,
      """WITH s AS (
        |  SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS es FROM events),
        |a AS (
        |  SELECT DISTINCT user_id,
        |    (es - ((es % 86400) + 86400) % 86400) // 86400 AS period
        |  FROM s),
        |mx AS (SELECT MAX(period) AS mp FROM a),
        |v AS (
        |  SELECT user_id,
        |    unnest(generate_series(period, least(period + 6, mx.mp))) AS window_period
        |  FROM a, mx)
        |SELECT window_period, COUNT(DISTINCT user_id) AS n_active
        |FROM v GROUP BY 1
        |ORDER BY window_period""".stripMargin),
    Query("q87_retention", retention,
      """WITH s AS (
        |  SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS es FROM events),
        |a AS (
        |  SELECT DISTINCT user_id,
        |    (es - ((es % 604800) + 604800) % 604800) // 604800 AS period
        |  FROM s),
        |c AS (SELECT user_id, MIN(period) AS cohort FROM a GROUP BY 1)
        |SELECT c.cohort, a.period - c.cohort AS period_offset,
        |  COUNT(DISTINCT a.user_id) AS n_users
        |FROM a JOIN c USING (user_id)
        |GROUP BY 1, 2
        |ORDER BY cohort, period_offset""".stripMargin),
    Query("q86_funnel", funnel,
      """WITH v AS (
        |  SELECT user_id, MIN(ts) AS t0 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (
        |  SELECT v.user_id, MIN(e.ts) AS t1
        |  FROM v JOIN events e
        |    ON e.user_id = v.user_id AND e.event_type = 'click' AND e.ts > v.t0
        |  GROUP BY 1),
        |p AS (
        |  SELECT c.user_id, MIN(e.ts) AS t2
        |  FROM c JOIN events e
        |    ON e.user_id = c.user_id AND e.event_type = 'purchase' AND e.ts > c.t1
        |  GROUP BY 1)
        |SELECT * FROM (
        |  SELECT CAST(0 AS BIGINT) AS stage_idx, 'view' AS stage, COUNT(*) AS n_users FROM v
        |  UNION ALL
        |  SELECT CAST(1 AS BIGINT), 'click', COUNT(*) FROM c
        |  UNION ALL
        |  SELECT CAST(2 AS BIGINT), 'purchase', COUNT(*) FROM p) f
        |ORDER BY stage_idx""".stripMargin),
    Query("q85_fixed_sample", fixedSample,
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars
        |  FROM documents
        |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |  LIMIT 25) s
        |ORDER BY doc_id""".stripMargin),
    Query("q83_chunk_dedup", chunkDedup,
      s"""WITH t AS (
         |  SELECT doc_id, string_split($norm, ' ') AS w FROM documents
         |  WHERE length($norm) > 0),
         |c AS (
         |  SELECT doc_id, unnest(generate_series(1, len(w), 32)) AS s, w
         |  FROM t),
         |ch AS (
         |  SELECT doc_id, CAST((s - 1) // 32 AS BIGINT) AS chunk_idx,
         |    md5(array_to_string(w[s : s + 31], ' ')) AS chunk_fp
         |  FROM c),
         |g AS (
         |  SELECT chunk_fp, COUNT(*) AS n_copies,
         |    COUNT(DISTINCT doc_id) AS n_docs
         |  FROM ch GROUP BY 1),
         |k AS (
         |  SELECT chunk_fp, doc_id AS keep_doc, chunk_idx AS keep_idx FROM (
         |    SELECT chunk_fp, doc_id, chunk_idx,
         |      ROW_NUMBER() OVER (PARTITION BY chunk_fp
         |        ORDER BY doc_id, chunk_idx) AS rn
         |    FROM ch) x WHERE rn = 1)
         |SELECT g.chunk_fp, g.n_copies, g.n_docs, k.keep_doc, k.keep_idx
         |FROM g JOIN k USING (chunk_fp)
         |WHERE g.n_copies >= 2
         |ORDER BY chunk_fp""".stripMargin),
    Query("q80_zorder_layout", zorderLayout,
      """WITH b AS (
        |  SELECT (o_custkey % 1024) AS x,
        |    ((CAST(FLOOR(epoch(o_orderdate)) AS BIGINT) // 86400) % 1024) AS y
        |  FROM orders),
        |z AS (
        |  SELECT CAST(list_sum(list_transform(generate_series(0, 9),
        |    i -> (((x >> i) & 1) << (2 * i)) + (((y >> i) & 1) << (2 * i + 1)))) AS BIGINT) AS z
        |  FROM b)
        |SELECT z >> 14 AS zbucket, COUNT(*) AS n_orders,
        |  MIN(z) AS min_z, MAX(z) AS max_z, CAST(SUM(z) AS BIGINT) AS sum_z
        |FROM z GROUP BY 1 ORDER BY zbucket""".stripMargin),
    Query("q81_epoch_shuffle", epochShuffle,
      """SELECT doc_id, lang,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR) || ':1'), doc_id) - 1 AS BIGINT) AS pos
        |FROM documents
        |ORDER BY lang, pos""".stripMargin),
    Query("q82_bm25_topk", bm25TopK, bm25Oracle),
    Query("q175_retrieval_metrics", retrievalMetrics, rankMetricsOracle),
    Query("q176_dedup_audit", dedupAudit, {
      def d(x: Double) = s"CAST($x AS DOUBLE)"
      s"""WITH ${minhashCtesFrom("(SELECT * FROM documents WHERE doc_id < 200)")},
         |tt AS (
         |  SELECT doc_id, string_split($norm, ' ') AS w
         |  FROM documents WHERE doc_id < 200),
         |sht AS (
         |  SELECT DISTINCT doc_id, s FROM (
         |    SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 2),
         |      i -> array_to_string(w[i:i+2], ' '))) AS s
         |    FROM tt WHERE len(w) >= 3) u),
         |szt AS (SELECT doc_id, COUNT(*) AS n FROM sht GROUP BY doc_id),
         |intert AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS ni
         |  FROM sht a JOIN sht b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |truth AS (
         |  SELECT a_id, b_id FROM intert
         |  JOIN szt sa ON a_id = sa.doc_id JOIN szt sb ON b_id = sb.doc_id
         |  WHERE ROUND(CAST(ni AS DOUBLE) / (sa.n + sb.n - ni), 6) >= 0.4),
         |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth),
         |nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cand FROM cand),
         |nh AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_hit
         |  FROM truth t JOIN cand c ON t.a_id = c.a_id AND t.b_id = c.b_id)
         |SELECT n_truth, n_cand, n_hit,
         |  ROUND(CASE WHEN n_cand > 0
         |    THEN CAST(n_hit AS DOUBLE) / CAST(n_cand AS DOUBLE)
         |    ELSE ${d(0.0)} END, 6) AS band_precision,
         |  ROUND(CASE WHEN n_truth > 0
         |    THEN CAST(n_hit AS DOUBLE) / CAST(n_truth AS DOUBLE)
         |    ELSE ${d(0.0)} END, 6) AS band_recall
         |FROM nt, nc, nh""".stripMargin
    }),
    // the index-backed serving path must be LOSSLESS: its oracle is the
    // identical from-scratch recompute — hash equality proves the
    // persisted postings/df/dl/stats reproduce the live computation
    Query("q122_bm25_index", bm25IndexTopK, bm25Oracle),
    // append-maintained index: build(<250) + append(>=250) must serve
    // identically to the one-shot full-corpus computation
    Query("q123_bm25_append", bm25AppendTopK, bm25Oracle),
    Query("q184_bm25_compact", bm25CompactTopK, bm25Oracle),
    Query("q190_bm25_time_travel", bm25TimeTravelTopK, bm25Oracle("doc_id < 250")),
    Query("q195_index_diff", indexVersionDiff,
      s"""SELECT doc_id,
         |  CAST(len(list_filter(string_split($norm, ' '),
         |    x -> length(x) > 0)) AS BIGINT) AS dl,
         |  'added' AS change
         |FROM documents
         |WHERE doc_id >= 250
         |  AND len(list_filter(string_split($norm, ' '), x -> length(x) > 0)) > 0
         |ORDER BY doc_id""".stripMargin),
    // q124 replays the full classifier: feature list (unigrams + adjacent
    // bigrams of the normalized text), polynomial bucket hash, LCG
    // stand-in weight table, exact integer score sum
    Query("q124_quality_classifier", qualityClassifier, {
      import graft.ops.QualityModel.{NumBuckets, WeightMul, WeightAdd, WeightMod, WeightHalf}
      s"""WITH t AS (SELECT doc_id, string_split($norm, ' ') AS w FROM documents),
         |fx AS (
         |  SELECT doc_id, unnest(list_concat(w,
         |    CASE WHEN len(w) >= 2
         |         THEN list_transform(generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i+1])
         |         ELSE CAST([] AS VARCHAR[]) END)) AS feat
         |  FROM t),
         |f AS (SELECT doc_id, feat FROM fx WHERE length(feat) > 0),
         |fb AS (SELECT doc_id, ${duckFold("feat", graft.expr.DedupKernel.B1)} % $NumBuckets AS bucket FROM f),
         |wt AS (
         |  SELECT g.b AS bucket, ((g.b * $WeightMul + $WeightAdd) % $WeightMod) - $WeightHalf AS w_micro
         |  FROM generate_series(0, ${NumBuckets - 1}) g(b)),
         |d AS (
         |  SELECT doc_id, COUNT(*) AS n_features, SUM(w_micro) AS sm
         |  FROM fb JOIN wt USING (bucket) GROUP BY 1)
         |SELECT doc_id, CAST(n_features AS BIGINT) AS n_features,
         |  ROUND(CAST(sm AS DOUBLE) / (CAST(n_features AS DOUBLE) * 1000000), 6) AS score,
         |  CAST(CASE WHEN sm > 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM d ORDER BY doc_id""".stripMargin
    }),
    // q177 composes the q124 classifier replay (score → sigmoid conf)
    // with the q127 rule-gate replay (keep) and replays the integer
    // binning, per-bin gaps and the exact-integer ECE
    Query("q177_calibration", calibrationAudit, {
      import graft.ops.QualityModel.{NumBuckets, WeightMul, WeightAdd, WeightMod, WeightHalf}
      def d(x: Double) = s"CAST($x AS DOUBLE)"
      s"""WITH t AS (SELECT doc_id, string_split($norm, ' ') AS w FROM documents),
         |fx AS (
         |  SELECT doc_id, unnest(list_concat(w,
         |    CASE WHEN len(w) >= 2
         |         THEN list_transform(generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i+1])
         |         ELSE CAST([] AS VARCHAR[]) END)) AS feat
         |  FROM t),
         |f AS (SELECT doc_id, feat FROM fx WHERE length(feat) > 0),
         |fb AS (SELECT doc_id, ${duckFold("feat", graft.expr.DedupKernel.B1)} % $NumBuckets AS bucket FROM f),
         |wt AS (
         |  SELECT g.b AS bucket, ((g.b * $WeightMul + $WeightAdd) % $WeightMod) - $WeightHalf AS w_micro
         |  FROM generate_series(0, ${NumBuckets - 1}) g(b)),
         |cls AS (
         |  SELECT doc_id, COUNT(*) AS n_features, SUM(w_micro) AS sm
         |  FROM fb JOIN wt USING (bucket) GROUP BY 1),
         |pred AS (
         |  SELECT doc_id, ROUND(${d(1.0)} / (${d(1.0)} + exp(-ROUND(
         |    CAST(sm AS DOUBLE) / (CAST(n_features AS DOUBLE) * 1000000), 6))), 6) AS conf
         |  FROM cls),
         |tg AS (
         |  SELECT doc_id, list_filter(string_split($norm, ' '), x -> length(x) > 0) AS w
         |  FROM documents),
         |sg AS (
         |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
         |    CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS sum_len,
         |    CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS alpha_words,
         |    CAST(len(list_filter(w, x -> list_contains(['the','be','to','of','and','that','have','with'], x))) AS BIGINT) AS n_stop_hits
         |  FROM tg WHERE len(w) > 0),
         |lab AS (
         |  SELECT doc_id,
         |    CAST(CASE WHEN n_words BETWEEN 20 AND 100000 THEN 1 ELSE 0 END AS BIGINT)
         |    * CAST(CASE WHEN sum_len >= 3 * n_words AND sum_len <= 10 * n_words THEN 1 ELSE 0 END AS BIGINT)
         |    * CAST(CASE WHEN alpha_words * 5 >= n_words * 4 THEN 1 ELSE 0 END AS BIGINT)
         |    * CAST(CASE WHEN n_stop_hits >= 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
         |  FROM sg),
         |j AS (
         |  SELECT p.doc_id, CAST(round(p.conf * 1e6) AS BIGINT) AS cm, l.keep
         |  FROM pred p JOIN lab l USING (doc_id)),
         |pb AS (
         |  SELECT LEAST((cm * 10) // 1000000, 9) AS bin,
         |    CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(cm) AS BIGINT) AS sc,
         |    CAST(SUM(keep) AS BIGINT) AS sp
         |  FROM j GROUP BY 1),
         |pg AS (
         |  SELECT bin, n_docs, sc, sp,
         |    CAST(round(abs(CAST(sc AS DOUBLE) / (CAST(n_docs AS DOUBLE) * 1e6)
         |      - CAST(sp AS DOUBLE) / CAST(n_docs AS DOUBLE)) * 1e6) AS BIGINT) AS gap_micro
         |  FROM pb),
         |tot AS (
         |  SELECT CAST(SUM(n_docs) AS BIGINT) AS n,
         |    CAST(SUM(gap_micro * n_docs) AS BIGINT) AS gsum
         |  FROM pg)
         |SELECT CAST(bin AS BIGINT) AS bin, n_docs,
         |  ROUND(CAST(sc AS DOUBLE) / (CAST(n_docs AS DOUBLE) * 1e6), 6) AS mean_conf,
         |  ROUND(CAST(sp AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS frac_pos,
         |  ROUND(CAST(gap_micro AS DOUBLE) / 1e6, 6) AS gap,
         |  ROUND(CAST(gsum AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6), 6) AS ece
         |FROM pg, tot ORDER BY bin""".stripMargin
    }),
    // q185 reuses q177's two replays (classifier + rule gate), then
    // computes the exact integer U-statistic over per-distinct-micro-
    // score class counts: 2U = sum np*(2*below + nn)
    Query("q185_quality_auc", qualityAuc, {
      import graft.ops.QualityModel.{NumBuckets, WeightMul, WeightAdd, WeightMod, WeightHalf}
      def d(x: Double) = s"CAST($x AS DOUBLE)"
      s"""WITH t AS (SELECT doc_id, string_split($norm, ' ') AS w FROM documents),
         |fx AS (
         |  SELECT doc_id, unnest(list_concat(w,
         |    CASE WHEN len(w) >= 2
         |         THEN list_transform(generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i+1])
         |         ELSE CAST([] AS VARCHAR[]) END)) AS feat
         |  FROM t),
         |f AS (SELECT doc_id, feat FROM fx WHERE length(feat) > 0),
         |fb AS (SELECT doc_id, ${duckFold("feat", graft.expr.DedupKernel.B1)} % $NumBuckets AS bucket FROM f),
         |wt AS (
         |  SELECT g.b AS bucket, ((g.b * $WeightMul + $WeightAdd) % $WeightMod) - $WeightHalf AS w_micro
         |  FROM generate_series(0, ${NumBuckets - 1}) g(b)),
         |cls AS (
         |  SELECT doc_id, COUNT(*) AS n_features, SUM(w_micro) AS sm
         |  FROM fb JOIN wt USING (bucket) GROUP BY 1),
         |pred AS (
         |  SELECT doc_id, ROUND(${d(1.0)} / (${d(1.0)} + exp(-ROUND(
         |    CAST(sm AS DOUBLE) / (CAST(n_features AS DOUBLE) * 1000000), 6))), 6) AS conf
         |  FROM cls),
         |tg AS (
         |  SELECT doc_id, list_filter(string_split($norm, ' '), x -> length(x) > 0) AS w
         |  FROM documents),
         |sg AS (
         |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
         |    CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS sum_len,
         |    CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS alpha_words,
         |    CAST(len(list_filter(w, x -> list_contains(['the','be','to','of','and','that','have','with'], x))) AS BIGINT) AS n_stop_hits
         |  FROM tg WHERE len(w) > 0),
         |lab AS (
         |  SELECT doc_id,
         |    CAST(CASE WHEN n_words BETWEEN 20 AND 100000 THEN 1 ELSE 0 END AS BIGINT)
         |    * CAST(CASE WHEN sum_len >= 3 * n_words AND sum_len <= 10 * n_words THEN 1 ELSE 0 END AS BIGINT)
         |    * CAST(CASE WHEN alpha_words * 5 >= n_words * 4 THEN 1 ELSE 0 END AS BIGINT)
         |    * CAST(CASE WHEN n_stop_hits >= 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
         |  FROM sg),
         |j AS (
         |  SELECT CAST(round(p.conf * 1e6) AS BIGINT) AS cm, l.keep
         |  FROM pred p JOIN lab l USING (doc_id)),
         |g AS (
         |  SELECT cm, CAST(SUM(keep) AS BIGINT) AS np,
         |    CAST(SUM(1 - keep) AS BIGINT) AS nn
         |  FROM j GROUP BY cm),
         |c AS (
         |  SELECT cm, np, nn,
         |    CAST(COALESCE(SUM(nn) OVER (ORDER BY cm
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS below
         |  FROM g),
         |t2 AS (
         |  SELECT CAST(SUM(np) AS BIGINT) AS n_pos, CAST(SUM(nn) AS BIGINT) AS n_neg,
         |    CAST(SUM(np * (2 * below + nn)) AS BIGINT) AS u2
         |  FROM c)
         |SELECT n_pos, n_neg,
         |  CASE WHEN n_pos > 0 AND n_neg > 0
         |    THEN ROUND(CAST(u2 AS DOUBLE) /
         |      (${d(2.0)} * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)), 6)
         |    ELSE ${d(0.5)} END AS auc
         |FROM t2""".stripMargin
    }),
    // q199: the q177 classifier + gopher replays, then the exact-integer
    // conformal k, the grid order statistic and the held-out coverage
    Query("q199_conformal", conformalAudit, {
      import graft.ops.QualityModel.{NumBuckets, WeightMul, WeightAdd, WeightMod, WeightHalf}
      def d(x: Double) = s"CAST($x AS DOUBLE)"
      s"""WITH t AS (SELECT doc_id, string_split($norm, ' ') AS w FROM documents),
         |fx AS (
         |  SELECT doc_id, unnest(list_concat(w,
         |    CASE WHEN len(w) >= 2
         |         THEN list_transform(generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i+1])
         |         ELSE CAST([] AS VARCHAR[]) END)) AS feat
         |  FROM t),
         |f AS (SELECT doc_id, feat FROM fx WHERE length(feat) > 0),
         |fb AS (SELECT doc_id, ${duckFold("feat", graft.expr.DedupKernel.B1)} % $NumBuckets AS bucket FROM f),
         |wt AS (
         |  SELECT g.b AS bucket, ((g.b * $WeightMul + $WeightAdd) % $WeightMod) - $WeightHalf AS w_micro
         |  FROM generate_series(0, ${NumBuckets - 1}) g(b)),
         |cls AS (
         |  SELECT doc_id, COUNT(*) AS n_features, SUM(w_micro) AS sm
         |  FROM fb JOIN wt USING (bucket) GROUP BY 1),
         |pred AS (
         |  SELECT doc_id, ROUND(${d(1.0)} / (${d(1.0)} + exp(-ROUND(
         |    CAST(sm AS DOUBLE) / (CAST(n_features AS DOUBLE) * 1000000), 6))), 6) AS conf
         |  FROM cls),
         |tg AS (
         |  SELECT doc_id, list_filter(string_split($norm, ' '), x -> length(x) > 0) AS w
         |  FROM documents),
         |sg AS (
         |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
         |    CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS sum_len,
         |    CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS alpha_words,
         |    CAST(len(list_filter(w, x -> list_contains(['the','be','to','of','and','that','have','with'], x))) AS BIGINT) AS n_stop_hits
         |  FROM tg WHERE len(w) > 0),
         |lab AS (
         |  SELECT doc_id,
         |    CAST(CASE WHEN n_words BETWEEN 20 AND 100000 THEN 1 ELSE 0 END AS BIGINT)
         |    * CAST(CASE WHEN sum_len >= 3 * n_words AND sum_len <= 10 * n_words THEN 1 ELSE 0 END AS BIGINT)
         |    * CAST(CASE WHEN alpha_words * 5 >= n_words * 4 THEN 1 ELSE 0 END AS BIGINT)
         |    * CAST(CASE WHEN n_stop_hits >= 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
         |  FROM sg),
         |sc AS (
         |  SELECT p.doc_id,
         |    ABS(l.keep * 1000000 - CAST(round(p.conf * 1e6) AS BIGINT)) AS sm,
         |    p.doc_id % 2 = 1 AS cal
         |  FROM pred p JOIN lab l USING (doc_id)),
         |nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM sc WHERE cal),
         |ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_eval FROM sc WHERE NOT cal),
         |kk AS (SELECT n_cal, CAST(((n_cal + 1) * 900000 + 999999) // 1000000 AS BIGINT) AS k FROM nc),
         |g AS (SELECT sm, COUNT(*) AS n FROM sc WHERE cal GROUP BY sm),
         |cum AS (
         |  SELECT sm, SUM(n) OVER (ORDER BY sm
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
         |  FROM g),
         |q AS (SELECT MIN(cum.sm) AS qm FROM cum, kk WHERE cum.c >= kk.k),
         |cov AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_cov FROM sc, q
         |  WHERE NOT sc.cal AND sc.sm <= q.qm)
         |SELECT kk.n_cal, ne.n_eval, ${d(0.1)} AS alpha, kk.k,
         |  ROUND(CAST(q.qm AS DOUBLE) / 1e6, 6) AS threshold,
         |  ROUND(CAST(cov.n_cov AS DOUBLE) / CAST(ne.n_eval AS DOUBLE), 6) AS coverage
         |FROM kk, ne, q, cov""".stripMargin
    }),
    // q200: the q177 classifier replay split by cohort, integer binning,
    // add-one smoothing, per-bin PSI terms and the carried total
    Query("q200_score_drift", scoreDriftAudit, {
      import graft.ops.QualityModel.{NumBuckets, WeightMul, WeightAdd, WeightMod, WeightHalf}
      def d(x: Double) = s"CAST($x AS DOUBLE)"
      s"""WITH t AS (SELECT doc_id, string_split($norm, ' ') AS w FROM documents),
         |fx AS (
         |  SELECT doc_id, unnest(list_concat(w,
         |    CASE WHEN len(w) >= 2
         |         THEN list_transform(generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i+1])
         |         ELSE CAST([] AS VARCHAR[]) END)) AS feat
         |  FROM t),
         |f AS (SELECT doc_id, feat FROM fx WHERE length(feat) > 0),
         |fb AS (SELECT doc_id, ${duckFold("feat", graft.expr.DedupKernel.B1)} % $NumBuckets AS bucket FROM f),
         |wt AS (
         |  SELECT g.b AS bucket, ((g.b * $WeightMul + $WeightAdd) % $WeightMod) - $WeightHalf AS w_micro
         |  FROM generate_series(0, ${NumBuckets - 1}) g(b)),
         |cls AS (
         |  SELECT doc_id, COUNT(*) AS n_features, SUM(w_micro) AS sm
         |  FROM fb JOIN wt USING (bucket) GROUP BY 1),
         |pred AS (
         |  SELECT doc_id, ROUND(${d(1.0)} / (${d(1.0)} + exp(-ROUND(
         |    CAST(sm AS DOUBLE) / (CAST(n_features AS DOUBLE) * 1000000), 6))), 6) AS conf
         |  FROM cls),
         |bn AS (
         |  SELECT doc_id,
         |    LEAST((CAST(round(conf * 1e6) AS BIGINT) * 10) // 1000000, 9) AS bin
         |  FROM pred),
         |bins(bin) AS (SELECT CAST(g.b AS BIGINT) FROM generate_series(0, 9) g(b)),
         |ca AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_a FROM bn WHERE doc_id < 250 GROUP BY 1),
         |cb AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_b FROM bn WHERE doc_id >= 250 GROUP BY 1),
         |cells AS (
         |  SELECT bins.bin, COALESCE(ca.n_a, 0) AS n_a, COALESCE(cb.n_b, 0) AS n_b
         |  FROM bins LEFT JOIN ca USING (bin) LEFT JOIN cb USING (bin)),
         |tot AS (SELECT CAST(SUM(n_a) AS BIGINT) AS ta, CAST(SUM(n_b) AS BIGINT) AS tb FROM cells),
         |terms AS (
         |  SELECT bin, n_a, n_b,
         |    ROUND(CAST(n_a + 1 AS DOUBLE) / CAST(ta + 10 AS DOUBLE), 6) AS p_a,
         |    ROUND(CAST(n_b + 1 AS DOUBLE) / CAST(tb + 10 AS DOUBLE), 6) AS p_b
         |  FROM cells, tot),
         |tm AS (
         |  SELECT *, CAST(round((p_a - p_b) * ln(p_a / p_b) * 1e6) AS BIGINT) AS pm
         |  FROM terms),
         |pt AS (SELECT CAST(SUM(pm) AS BIGINT) AS s FROM tm)
         |SELECT bin, n_a, n_b, p_a, p_b,
         |  ROUND(CAST(pm AS DOUBLE) / 1e6, 6) AS psi_bin,
         |  ROUND(CAST(pt.s AS DOUBLE) / 1e6, 6) AS psi_total
         |FROM tm, pt
         |ORDER BY bin""".stripMargin
    }),
    // q201: classifier + gopher replays, then the micro-score grid,
    // the DESCENDING cumulative precision and the exact-integer AP sum
    Query("q201_avg_precision", qualityAp,
      s"""WITH $classifierPredCtes,
         |$gopherLabCtes,
         |j AS (
         |  SELECT CAST(round(p.conf * 1e6) AS BIGINT) AS cm, l.keep
         |  FROM pred p JOIN lab l USING (doc_id)),
         |g AS (
         |  SELECT cm, CAST(SUM(keep) AS BIGINT) AS np,
         |    CAST(SUM(1 - keep) AS BIGINT) AS nn
         |  FROM j GROUP BY cm),
         |c AS (
         |  SELECT np, nn,
         |    CAST(SUM(np) OVER (ORDER BY cm DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ctp,
         |    CAST(SUM(nn) OVER (ORDER BY cm DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cfp
         |  FROM g),
         |p2 AS (
         |  SELECT np, nn,
         |    CAST(round(CAST(ctp AS DOUBLE) / CAST(ctp + cfp AS DOUBLE) * 1e6) AS BIGINT) AS pm
         |  FROM c),
         |t2 AS (
         |  SELECT CAST(SUM(np) AS BIGINT) AS n_pos, CAST(SUM(nn) AS BIGINT) AS n_neg,
         |    CAST(COUNT(*) AS BIGINT) AS n_thresholds,
         |    CAST(SUM(np * pm) AS BIGINT) AS tsum
         |  FROM p2)
         |SELECT n_pos, n_neg, n_thresholds,
         |  ROUND(CAST(n_pos AS DOUBLE) / CAST(n_pos + n_neg AS DOUBLE), 6) AS prevalence,
         |  CASE WHEN n_pos > 0
         |    THEN ROUND(CAST(tsum AS DOUBLE) / (CAST(n_pos AS DOUBLE) * 1e6), 6)
         |    ELSE CAST(0.0 AS DOUBLE) END AS ap
         |FROM t2""".stripMargin),
    // q202: token counts per source, densified over the global vocab,
    // one self-join on token, nano-quantized pointwise JSD terms
    Query("q202_source_jsd", sourceJsdMatrix,
      s"""WITH tk AS (
         |  SELECT g, t AS token FROM (
         |    SELECT source AS g, unnest(string_split($norm, ' ')) AS t
         |    FROM documents)
         |  WHERE length(t) > 0),
         |cnt AS (SELECT g, token, CAST(COUNT(*) AS BIGINT) AS n FROM tk GROUP BY 1, 2),
         |tot AS (SELECT g, CAST(SUM(n) AS BIGINT) AS t FROM cnt GROUP BY 1),
         |voc AS (SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS v FROM cnt),
         |vv AS (SELECT DISTINCT token FROM cnt),
         |gg AS (SELECT DISTINCT g FROM cnt),
         |dense AS (
         |  SELECT vv.token, gg.g, COALESCE(cnt.n, 0) AS n, tot.t
         |  FROM vv CROSS JOIN gg
         |  LEFT JOIN cnt ON cnt.token = vv.token AND cnt.g = gg.g
         |  JOIN tot ON tot.g = gg.g),
         |pr AS (
         |  SELECT a.g AS group_a, b.g AS group_b,
         |    CAST(a.n + 1 AS DOUBLE) / CAST(a.t + voc.v AS DOUBLE) AS p,
         |    CAST(b.n + 1 AS DOUBLE) / CAST(b.t + voc.v AS DOUBLE) AS q
         |  FROM dense a JOIN dense b ON a.token = b.token, voc
         |  WHERE a.g < b.g),
         |tm AS (
         |  SELECT group_a, group_b,
         |    CAST(round((0.5 * p * ln(2.0 * p / (p + q)) +
         |      0.5 * q * ln(2.0 * q / (p + q))) * 1e9) AS BIGINT) AS jn
         |  FROM pr)
         |SELECT group_a, group_b, CAST(COUNT(*) AS BIGINT) AS n_types,
         |  ROUND(CAST(SUM(jn) AS DOUBLE) / 1e9, 6) + 0.0 AS jsd
         |FROM tm GROUP BY 1, 2
         |ORDER BY group_a, group_b""".stripMargin),
    // q203: classifier replay split by cohort, grid CDFs, exact
    // cross-multiplied sup selection (smallest score on argmax ties)
    Query("q203_ks_drift", ksDrift,
      s"""WITH $classifierPredCtes,
         |ga AS (
         |  SELECT CAST(round(conf * 1e6) AS BIGINT) AS sm,
         |    CAST(COUNT(*) AS BIGINT) AS na
         |  FROM pred WHERE doc_id < 250 GROUP BY 1),
         |gb AS (
         |  SELECT CAST(round(conf * 1e6) AS BIGINT) AS sm,
         |    CAST(COUNT(*) AS BIGINT) AS nb
         |  FROM pred WHERE doc_id >= 250 GROUP BY 1),
         |cells AS (
         |  SELECT COALESCE(ga.sm, gb.sm) AS sm,
         |    COALESCE(na, 0) AS na, COALESCE(nb, 0) AS nb
         |  FROM ga FULL JOIN gb ON ga.sm = gb.sm),
         |cum AS (
         |  SELECT sm,
         |    CAST(SUM(na) OVER (ORDER BY sm
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ca,
         |    CAST(SUM(nb) OVER (ORDER BY sm
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cb
         |  FROM cells),
         |tt AS (SELECT MAX(ca) AS ta, MAX(cb) AS tb FROM cum),
         |df AS (SELECT sm, ABS(ca * tb - cb * ta) AS dn, ta, tb FROM cum, tt),
         |dm AS (SELECT MAX(dn) AS d FROM df)
         |SELECT MIN(ta) AS n_a, MIN(tb) AS n_b,
         |  ROUND(CAST(MIN(dn) AS DOUBLE) /
         |    (CAST(MIN(ta) AS DOUBLE) * CAST(MIN(tb) AS DOUBLE)), 6) AS d,
         |  ROUND(CAST(MIN(sm) AS DOUBLE) / 1e6, 6) AS d_at
         |FROM df, dm WHERE df.dn = dm.d""".stripMargin),
    // q237: the q203 replay keyed by source — per-source grid CDFs,
    // PARTITIONed windows, per-source sup with the same tie-break
    Query("q237_ks_by_source", ksDriftBySource,
      s"""WITH $classifierPredCtes,
         |ps AS (
         |  SELECT d.source AS g, p.doc_id < 250 AS isa,
         |    CAST(round(p.conf * 1e6) AS BIGINT) AS sm
         |  FROM pred p JOIN documents d USING (doc_id)),
         |cells AS (
         |  SELECT g, sm,
         |    CAST(SUM(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS na,
         |    CAST(SUM(CASE WHEN isa THEN 0 ELSE 1 END) AS BIGINT) AS nb
         |  FROM ps GROUP BY 1, 2),
         |cum AS (
         |  SELECT g, sm,
         |    CAST(SUM(na) OVER (PARTITION BY g ORDER BY sm
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ca,
         |    CAST(SUM(nb) OVER (PARTITION BY g ORDER BY sm
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cb
         |  FROM cells),
         |tt AS (SELECT g, MAX(ca) AS ta, MAX(cb) AS tb FROM cum GROUP BY 1),
         |df2 AS (
         |  SELECT cum.g, sm, ABS(ca * tb - cb * ta) AS dn, ta, tb
         |  FROM cum JOIN tt USING (g)),
         |dm AS (SELECT g, MAX(dn) AS dmx FROM df2 GROUP BY 1)
         |SELECT d2.g AS source, MIN(ta) AS n_a, MIN(tb) AS n_b,
         |  CASE WHEN MIN(ta) = 0 OR MIN(tb) = 0 THEN CAST(0.0 AS DOUBLE)
         |    ELSE ROUND(CAST(MIN(dn) AS DOUBLE) /
         |      (CAST(MIN(ta) AS DOUBLE) * CAST(MIN(tb) AS DOUBLE)), 6) END AS d,
         |  CASE WHEN MIN(ta) = 0 OR MIN(tb) = 0 THEN CAST(0.0 AS DOUBLE)
         |    ELSE ROUND(CAST(MIN(sm) AS DOUBLE) / 1e6, 6) END AS d_at
         |FROM df2 d2 JOIN dm ON d2.g = dm.g AND d2.dn = dm.dmx
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    // q238: lang-id replay, contingency cells, the four exact C(n,2)
    // pair sums, one fixed-order ARI with the degenerate conventions
    Query("q238_cluster_ari", clusterAri,
      s"""WITH $langIdPredCtes,
         |cells AS (
         |  SELECT lang AS a, predicted AS b, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM p GROUP BY 1, 2),
         |sij AS (
         |  SELECT CAST(COALESCE(SUM((n * (n - 1)) // 2), 0) AS BIGINT) AS sij,
         |    CAST(COALESCE(SUM(n), 0) AS BIGINT) AS nn
         |  FROM cells),
         |sa AS (
         |  SELECT CAST(COALESCE(SUM((m * (m - 1)) // 2), 0) AS BIGINT) AS sa
         |  FROM (SELECT CAST(SUM(n) AS BIGINT) AS m FROM cells GROUP BY a)),
         |sb AS (
         |  SELECT CAST(COALESCE(SUM((m * (m - 1)) // 2), 0) AS BIGINT) AS sb
         |  FROM (SELECT CAST(SUM(n) AS BIGINT) AS m FROM cells GROUP BY b))
         |SELECT nn AS n, sij AS pairs_both, sa AS pairs_a, sb AS pairs_b,
         |  CASE WHEN (nn * (nn - 1)) // 2 = 0 THEN CAST(1.0 AS DOUBLE)
         |    WHEN abs((CAST(sa AS DOUBLE) + CAST(sb AS DOUBLE)) / 2.0 -
         |        CAST(CAST(sa AS HUGEINT) * CAST(sb AS HUGEINT) AS DOUBLE) /
         |        CAST((nn * (nn - 1)) // 2 AS DOUBLE)) < 1e-12
         |    THEN CASE WHEN CAST(sij AS DOUBLE) =
         |        (CAST(sa AS DOUBLE) + CAST(sb AS DOUBLE)) / 2.0
         |      THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
         |    ELSE ROUND((CAST(sij AS DOUBLE) -
         |        CAST(CAST(sa AS HUGEINT) * CAST(sb AS HUGEINT) AS DOUBLE) /
         |        CAST((nn * (nn - 1)) // 2 AS DOUBLE)) /
         |      ((CAST(sa AS DOUBLE) + CAST(sb AS DOUBLE)) / 2.0 -
         |        CAST(CAST(sa AS HUGEINT) * CAST(sb AS HUGEINT) AS DOUBLE) /
         |        CAST((nn * (nn - 1)) // 2 AS DOUBLE)), 6) + 0.0 END AS ari
         |FROM sij, sa, sb""".stripMargin),
    // q239: the q206 cells + a third (joint) nano-quantized entropy;
    // homogeneity/completeness from integer entropy differences
    Query("q239_v_measure", clusterVMeasure,
      s"""WITH $langIdPredCtes,
         |cells AS (
         |  SELECT lang AS a, predicted AS b, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM p GROUP BY 1, 2),
         |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM cells),
         |ma AS (SELECT a, CAST(SUM(n) AS BIGINT) AS na FROM cells GROUP BY 1),
         |mb AS (SELECT b, CAST(SUM(n) AS BIGINT) AS nb FROM cells GROUP BY 1),
         |hA AS (
         |  SELECT CAST(COALESCE(SUM(CAST(round(-((CAST(na AS DOUBLE) / CAST(nn AS DOUBLE)) *
         |    ln(CAST(na AS DOUBLE) / CAST(nn AS DOUBLE))) * 1e9) AS BIGINT)), 0) AS BIGINT) AS ha
         |  FROM ma, tot),
         |hB AS (
         |  SELECT CAST(COALESCE(SUM(CAST(round(-((CAST(nb AS DOUBLE) / CAST(nn AS DOUBLE)) *
         |    ln(CAST(nb AS DOUBLE) / CAST(nn AS DOUBLE))) * 1e9) AS BIGINT)), 0) AS BIGINT) AS hb
         |  FROM mb, tot),
         |hAB AS (
         |  SELECT CAST(COALESCE(SUM(CAST(round(-((CAST(n AS DOUBLE) / CAST(nn AS DOUBLE)) *
         |    ln(CAST(n AS DOUBLE) / CAST(nn AS DOUBLE))) * 1e9) AS BIGINT)), 0) AS BIGINT) AS hab
         |  FROM cells, tot),
         |vm AS (
         |  SELECT nn, ha, hb, hab,
         |    CASE WHEN ha = 0 THEN CAST(1.0 AS DOUBLE)
         |      ELSE CAST(ha - (hab - hb) AS DOUBLE) / CAST(ha AS DOUBLE) END AS homc,
         |    CASE WHEN hb = 0 THEN CAST(1.0 AS DOUBLE)
         |      ELSE CAST(hb - (hab - ha) AS DOUBLE) / CAST(hb AS DOUBLE) END AS comc
         |  FROM tot, hA, hB, hAB)
         |SELECT nn AS n,
         |  ROUND(CAST(ha AS DOUBLE) / 1e9, 6) AS h_a,
         |  ROUND(CAST(hb AS DOUBLE) / 1e9, 6) AS h_b,
         |  ROUND(CAST(hab AS DOUBLE) / 1e9, 6) AS h_ab,
         |  ROUND(homc, 6) AS homogeneity,
         |  ROUND(comc, 6) AS completeness,
         |  CASE WHEN homc + comc <= 0.0 THEN CAST(0.0 AS DOUBLE)
         |    ELSE ROUND(2.0 * homc * comc / (homc + comc), 6) END AS v_measure
         |FROM vm""".stripMargin),
    // q240: MinHash candidates, canonical edges, two label joins,
    // degree/intra sums per source, exact-integer q-terms
    Query("q240_modularity", nearDupModularity,
      s"""WITH $minhashCtes,
         |e AS (
         |  SELECT DISTINCT LEAST(a_id, b_id) AS a, GREATEST(a_id, b_id) AS b
         |  FROM cand WHERE a_id <> b_id),
         |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e),
         |lab AS (SELECT doc_id AS id, source AS c FROM documents),
         |j AS (
         |  SELECT la.c AS ca, lb.c AS cb
         |  FROM e JOIN lab la ON e.a = la.id JOIN lab lb ON e.b = lb.id),
         |ds AS (
         |  SELECT c, CAST(COUNT(*) AS BIGINT) AS d_sum
         |  FROM (SELECT ca AS c FROM j UNION ALL SELECT cb AS c FROM j) u
         |  GROUP BY 1),
         |ei AS (
         |  SELECT ca AS c, CAST(COUNT(*) AS BIGINT) AS e_within
         |  FROM j WHERE ca = cb GROUP BY 1),
         |nn AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM lab GROUP BY 1),
         |per AS (
         |  SELECT nn.c AS community, n_nodes,
         |    CAST(COALESCE(d_sum, 0) AS BIGINT) AS d_sum,
         |    CAST(COALESCE(e_within, 0) AS BIGINT) AS e_within,
         |    ROUND(CAST(CAST(4 AS HUGEINT) * m * COALESCE(e_within, 0) -
         |        CAST(COALESCE(d_sum, 0) AS HUGEINT) * COALESCE(d_sum, 0) AS DOUBLE) /
         |      (4.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)), 6) + 0.0 AS q_term
         |  FROM nn LEFT JOIN ds ON nn.c = ds.c LEFT JOIN ei ON nn.c = ei.c, mm),
         |qt AS (
         |  SELECT CAST(COALESCE(SUM(CAST(round(q_term * 1e9) AS BIGINT)), 0) AS BIGINT) AS qn
         |  FROM per)
         |SELECT community, n_nodes, d_sum, e_within, q_term,
         |  ROUND(CAST(qn AS DOUBLE) / 1e9, 6) + 0.0 AS q_total
         |FROM per, qt ORDER BY community""".stripMargin),
    // q241: distinct bipartite edges, uniform ppb start, six unrolled
    // half-steps with exact floor-division renormalization
    Query("q241_hits", eventHits, {
      def half(k: Int, from: String, joinKey: String, groupKey: String,
          out: String): String =
        s"""${out}${k}r AS (
           |  SELECT $groupKey, CAST(SUM($from) AS BIGINT) AS s
           |  FROM ev JOIN ${if (out == "h") s"a${k - 1}" else s"h$k"} USING ($joinKey)
           |  GROUP BY 1),
           |${out}${k}t AS (SELECT CAST(SUM(s) AS BIGINT) AS t FROM ${out}${k}r),
           |${out}$k AS (
           |  SELECT $groupKey, (s * 1000000000) // t AS $out
           |  FROM ${out}${k}r, ${out}${k}t)""".stripMargin
      s"""WITH ev AS (
         |  SELECT DISTINCT CAST(user_id AS BIGINT) AS hub,
         |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS auth
         |  FROM events
         |  WHERE CAST(json_extract_string(props, '$$.k') AS BIGINT) IS NOT NULL),
         |hd AS (SELECT hub, CAST(COUNT(*) AS BIGINT) AS deg FROM ev GROUP BY 1),
         |ad AS (SELECT auth, CAST(COUNT(*) AS BIGINT) AS deg FROM ev GROUP BY 1),
         |na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ad),
         |a0 AS (SELECT auth, 1000000000 // n AS a FROM ad, na),
         |${half(1, "a", "auth", "hub", "h")},
         |${half(1, "h", "hub", "auth", "a")},
         |${half(2, "a", "auth", "hub", "h")},
         |${half(2, "h", "hub", "auth", "a")},
         |${half(3, "a", "auth", "hub", "h")},
         |${half(3, "h", "hub", "auth", "a")}
         |SELECT side, id, score_ppb, deg FROM (
         |  SELECT 'hub' AS side, hub AS id, h AS score_ppb, deg
         |  FROM h3 JOIN hd USING (hub)
         |  UNION ALL
         |  SELECT 'auth' AS side, auth AS id, a AS score_ppb, deg
         |  FROM a3 JOIN ad USING (auth)) u
         |ORDER BY side, score_ppb DESC, id""".stripMargin
    }),
    // q242: classifier replay, five stratified 2×2 cells, nano-quantized
    // MH sums, per-stratum and pooled ORs with honest NULLs
    Query("q242_mantel_haenszel", lengthGateMh,
      s"""WITH $classifierPredCtes,
         |cx AS (
         |  SELECT d.lang AS stratum, (d.n_chars > 300) AS e, (p.conf >= 0.5) AS o
         |  FROM documents d JOIN pred p USING (doc_id)),
         |cells2 AS (
         |  SELECT stratum,
         |    CAST(COALESCE(SUM(CASE WHEN e AND o THEN 1 ELSE 0 END), 0) AS BIGINT) AS expo_out,
         |    CAST(COALESCE(SUM(CASE WHEN e AND NOT o THEN 1 ELSE 0 END), 0) AS BIGINT) AS expo_noout,
         |    CAST(COALESCE(SUM(CASE WHEN NOT e AND o THEN 1 ELSE 0 END), 0) AS BIGINT) AS unexp_out,
         |    CAST(COALESCE(SUM(CASE WHEN NOT e AND NOT o THEN 1 ELSE 0 END), 0) AS BIGINT) AS unexp_noout,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM cx GROUP BY 1),
         |tm AS (
         |  SELECT
         |    CAST(COALESCE(SUM(CAST(round(CAST(expo_out AS DOUBLE) * CAST(unexp_noout AS DOUBLE) /
         |      CAST(n AS DOUBLE) * 1e9) AS BIGINT)), 0) AS BIGINT) AS sad,
         |    CAST(COALESCE(SUM(CAST(round(CAST(expo_noout AS DOUBLE) * CAST(unexp_out AS DOUBLE) /
         |      CAST(n AS DOUBLE) * 1e9) AS BIGINT)), 0) AS BIGINT) AS sbc
         |  FROM cells2)
         |SELECT stratum, n, expo_out, expo_noout, unexp_out, unexp_noout,
         |  CASE WHEN expo_noout * unexp_out = 0 THEN NULL
         |    ELSE ROUND(CAST(expo_out AS DOUBLE) * CAST(unexp_noout AS DOUBLE) /
         |      (CAST(expo_noout AS DOUBLE) * CAST(unexp_out AS DOUBLE)), 6) END AS or_stratum,
         |  CASE WHEN sbc = 0 THEN NULL
         |    ELSE ROUND(CAST(sad AS DOUBLE) / CAST(sbc AS DOUBLE), 6) END AS or_mh
         |FROM cells2, tm ORDER BY stratum""".stripMargin),
    // q243: classifier replay, 199 md5-seeded relabelings, exact
    // HUGEINT cross-multiplied comparisons, integer BH cut
    Query("q243_drift_bh", sourceDriftBh,
      s"""WITH $classifierPredCtes,
         |bse AS (
         |  SELECT d.source AS g, d.doc_id AS id, (d.doc_id < 250) AS inn,
         |    CAST(round(p.conf * 1e6) AS BIGINT) AS sm
         |  FROM documents d JOIN pred p USING (doc_id)),
         |obs AS (
         |  SELECT g,
         |    CAST(COALESCE(SUM(CASE WHEN inn THEN sm END), 0) AS BIGINT) AS soa,
         |    CAST(COALESCE(SUM(CASE WHEN inn THEN 1 ELSE 0 END), 0) AS BIGINT) AS coa,
         |    CAST(COALESCE(SUM(CASE WHEN NOT inn THEN sm END), 0) AS BIGINT) AS sob,
         |    CAST(COALESCE(SUM(CASE WHEN NOT inn THEN 1 ELSE 0 END), 0) AS BIGINT) AS cob
         |  FROM bse GROUP BY 1),
         |pr AS (
         |  SELECT b.g, b.sm, o.coa, o.coa + o.cob AS n, r.r,
         |    CAST(concat('0x', substr(md5(concat_ws(':', b.id, r.r)), 1, 8)) AS BIGINT) AS u
         |  FROM bse b JOIN obs o USING (g) CROSS JOIN generate_series(1, 199) r(r)),
         |pp AS (
         |  SELECT g, r,
         |    CAST(COALESCE(SUM(CASE WHEN u * n < coa * 4294967296 THEN sm END), 0) AS BIGINT) AS spa,
         |    CAST(COALESCE(SUM(CASE WHEN u * n < coa * 4294967296 THEN 1 ELSE 0 END), 0) AS BIGINT) AS cpa,
         |    CAST(COALESCE(SUM(CASE WHEN NOT (u * n < coa * 4294967296) THEN sm END), 0) AS BIGINT) AS spb,
         |    CAST(COALESCE(SUM(CASE WHEN NOT (u * n < coa * 4294967296) THEN 1 ELSE 0 END), 0) AS BIGINT) AS cpb
         |  FROM pr GROUP BY 1, 2),
         |geq AS (
         |  SELECT pp.g, CAST(SUM(CASE WHEN cpa = 0 OR cpb = 0 THEN 1
         |    WHEN abs(CAST(spa AS HUGEINT) * cpb - CAST(spb AS HUGEINT) * cpa) *
         |        (CAST(coa AS HUGEINT) * cob) >=
         |      abs(CAST(soa AS HUGEINT) * cob - CAST(sob AS HUGEINT) * coa) *
         |        (CAST(cpa AS HUGEINT) * cpb) THEN 1 ELSE 0 END) AS BIGINT) AS perm_ge
         |  FROM pp JOIN obs USING (g) GROUP BY 1),
         |mg AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM obs),
         |rk AS (
         |  SELECT o.g, o.soa, o.coa, o.sob, o.cob, x.perm_ge,
         |    CAST(ROW_NUMBER() OVER (ORDER BY x.perm_ge, o.g) AS BIGINT) AS p_rank
         |  FROM obs o JOIN geq x USING (g)),
         |km AS (
         |  SELECT MAX(CASE WHEN (1 + perm_ge) * m * 20 <= p_rank * 1 * 200
         |    THEN p_rank END) AS kmax
         |  FROM rk, mg)
         |SELECT g AS "group", coa AS n_a, cob AS n_b,
         |  ROUND(abs(CAST(soa AS DOUBLE) / CAST(coa AS DOUBLE) -
         |    CAST(sob AS DOUBLE) / CAST(cob AS DOUBLE)) / 1e6, 6) AS d_obs,
         |  perm_ge, 1 + perm_ge AS p_num, CAST(200 AS BIGINT) AS p_den, p_rank,
         |  (p_rank <= COALESCE(kmax, 0)) AS rejected
         |FROM rk, km ORDER BY p_rank""".stripMargin),
    // q204: per-(source, length) counts, length-grid cumulative, the
    // exact grouped Gini identity in HUGEINT, one final divide
    Query("q204_token_gini", tokenGiniBySource,
      s"""WITH t AS (
         |  SELECT source AS grp,
         |    CAST(len(string_split($norm, ' ')) AS BIGINT) AS len
         |  FROM documents),
         |g AS (
         |  SELECT grp, len, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM t WHERE len > 0 GROUP BY 1, 2),
         |cum AS (
         |  SELECT grp, len, c,
         |    CAST(COALESCE(SUM(c) OVER (PARTITION BY grp ORDER BY len
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
         |  FROM g),
         |agg AS (
         |  SELECT grp, CAST(SUM(c) AS BIGINT) AS n_docs,
         |    SUM(CAST(len AS HUGEINT) * c) AS tot,
         |    SUM(CAST(len AS HUGEINT) * c * (2 * cb + c + 1)) AS num
         |  FROM cum GROUP BY 1)
         |SELECT grp AS "group", n_docs, CAST(tot AS BIGINT) AS total_tokens,
         |  ROUND(CAST(num - (n_docs + 1) * tot AS DOUBLE) /
         |    CAST(n_docs * tot AS DOUBLE), 6) AS gini
         |FROM agg ORDER BY grp""".stripMargin),
    // q205: classifier + unigram-LM replays, per-signal grid
    // competition ranks, exact nano RRF fusion, top-50 cut
    Query("q205_rrf_blend", rrfBlend,
      s"""WITH $classifierPredCtes,
         |toks AS (
         |  SELECT doc_id, unnest(string_split($norm, ' ')) AS token FROM documents),
         |tk AS (SELECT doc_id, token FROM toks WHERE length(token) > 0),
         |uc AS (SELECT token, COUNT(*) AS cnt FROM tk GROUP BY 1),
         |ut AS (SELECT COUNT(*) AS total FROM tk),
         |um AS (
         |  SELECT tk.doc_id,
         |    CAST(round(ln(CAST(uc.cnt AS DOUBLE) / CAST(ut.total AS DOUBLE))
         |      * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS micro
         |  FROM tk JOIN uc USING (token), ut),
         |lp AS (
         |  SELECT doc_id,
         |    ROUND(CAST(SUM(micro) AS DOUBLE) /
         |      (CAST(COUNT(*) AS DOUBLE) * CAST(1000000.0 AS DOUBLE)), 6) AS avg_logprob
         |  FROM um GROUP BY doc_id),
         |ga AS (
         |  SELECT CAST(round(conf * 1e6) AS BIGINT) AS sm, COUNT(*) AS cnt
         |  FROM pred GROUP BY 1),
         |ra AS (
         |  SELECT sm, CAST(COALESCE(SUM(cnt) OVER (ORDER BY sm DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1 AS BIGINT) AS rank_a
         |  FROM ga),
         |ja AS (
         |  SELECT p.doc_id, ra.rank_a
         |  FROM pred p JOIN ra ON CAST(round(p.conf * 1e6) AS BIGINT) = ra.sm),
         |gb2 AS (
         |  SELECT CAST(round(avg_logprob * 1e6) AS BIGINT) AS sm, COUNT(*) AS cnt
         |  FROM lp GROUP BY 1),
         |rb2 AS (
         |  SELECT sm, CAST(COALESCE(SUM(cnt) OVER (ORDER BY sm DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1 AS BIGINT) AS rank_b
         |  FROM gb2),
         |jb AS (
         |  SELECT l.doc_id, rb2.rank_b
         |  FROM lp l JOIN rb2 ON CAST(round(l.avg_logprob * 1e6) AS BIGINT) = rb2.sm),
         |fuse AS (
         |  SELECT ja.doc_id, rank_a, rank_b,
         |    CAST(round(1e9 / CAST(rank_a + 60 AS DOUBLE)) AS BIGINT) +
         |      CAST(round(1e9 / CAST(rank_b + 60 AS DOUBLE)) AS BIGINT) AS rrf_nano
         |  FROM ja JOIN jb USING (doc_id))
         |SELECT doc_id, rank_a, rank_b, rrf_nano,
         |  ROUND(CAST(rrf_nano AS DOUBLE) / 1e9, 6) AS rrf
         |FROM fuse ORDER BY rrf_nano DESC, doc_id LIMIT 50""".stripMargin),
    // q206: lang-id replay, contingency cells, nano-quantized entropy
    // and pointwise-MI terms, one fixed-order normalization
    Query("q206_cluster_nmi", clusterNmi,
      s"""WITH $langIdPredCtes,
         |cells AS (
         |  SELECT lang AS a, predicted AS b, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM p GROUP BY 1, 2),
         |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM cells),
         |ma AS (SELECT a, CAST(SUM(n) AS BIGINT) AS na FROM cells GROUP BY 1),
         |mb AS (SELECT b, CAST(SUM(n) AS BIGINT) AS nb FROM cells GROUP BY 1),
         |hA AS (
         |  SELECT CAST(COALESCE(SUM(CAST(round(-((CAST(na AS DOUBLE) / CAST(nn AS DOUBLE)) *
         |    ln(CAST(na AS DOUBLE) / CAST(nn AS DOUBLE))) * 1e9) AS BIGINT)), 0) AS BIGINT) AS ha
         |  FROM ma, tot),
         |hB AS (
         |  SELECT CAST(COALESCE(SUM(CAST(round(-((CAST(nb AS DOUBLE) / CAST(nn AS DOUBLE)) *
         |    ln(CAST(nb AS DOUBLE) / CAST(nn AS DOUBLE))) * 1e9) AS BIGINT)), 0) AS BIGINT) AS hb
         |  FROM mb, tot),
         |mi AS (
         |  SELECT CAST(COALESCE(SUM(CAST(round((CAST(n AS DOUBLE) / CAST(nn AS DOUBLE)) *
         |    ln(CAST(nn AS DOUBLE) * CAST(n AS DOUBLE) /
         |      (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))) * 1e9) AS BIGINT)), 0) AS BIGINT) AS mim
         |  FROM cells JOIN ma USING (a) JOIN mb USING (b), tot)
         |SELECT tot.nn AS n,
         |  ROUND(CAST(ha AS DOUBLE) / 1e9, 6) AS h_a,
         |  ROUND(CAST(hb AS DOUBLE) / 1e9, 6) AS h_b,
         |  ROUND(CAST(mim AS DOUBLE) / 1e9, 6) + 0.0 AS mi,
         |  CASE WHEN ha > 0 AND hb > 0
         |    THEN ROUND(CAST(mim AS DOUBLE) /
         |      sqrt(CAST(ha AS DOUBLE) * CAST(hb AS DOUBLE)), 6) + 0.0
         |    ELSE CAST(0.0 AS DOUBLE) END AS nmi
         |FROM tot, hA, hB, mi""".stripMargin),
    // q207: classifier + unigram-LM replays, doubled-average-rank
    // grids (2·below + ties + 1, exact integers even at .5 midpoints),
    // HUGEINT Pearson sums, one fixed-order double ratio
    Query("q207_spearman", spearmanSignals,
      s"""WITH $classifierPredCtes,
         |toks AS (
         |  SELECT doc_id, unnest(string_split($norm, ' ')) AS token FROM documents),
         |tk AS (SELECT doc_id, token FROM toks WHERE length(token) > 0),
         |uc AS (SELECT token, COUNT(*) AS cnt FROM tk GROUP BY 1),
         |ut AS (SELECT COUNT(*) AS total FROM tk),
         |um AS (
         |  SELECT tk.doc_id,
         |    CAST(round(ln(CAST(uc.cnt AS DOUBLE) / CAST(ut.total AS DOUBLE))
         |      * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS micro
         |  FROM tk JOIN uc USING (token), ut),
         |lp AS (
         |  SELECT doc_id,
         |    ROUND(CAST(SUM(micro) AS DOUBLE) /
         |      (CAST(COUNT(*) AS DOUBLE) * CAST(1000000.0 AS DOUBLE)), 6) AS avg_logprob
         |  FROM um GROUP BY doc_id),
         |ga AS (
         |  SELECT CAST(round(conf * 1e6) AS BIGINT) AS sm, COUNT(*) AS cnt
         |  FROM pred GROUP BY 1),
         |ra AS (
         |  SELECT sm, 2 * CAST(COALESCE(SUM(cnt) OVER (ORDER BY sm ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    + cnt + 1 AS r2a
         |  FROM ga),
         |ja AS (
         |  SELECT p.doc_id, ra.r2a AS x
         |  FROM pred p JOIN ra ON CAST(round(p.conf * 1e6) AS BIGINT) = ra.sm),
         |gb2 AS (
         |  SELECT CAST(round(avg_logprob * 1e6) AS BIGINT) AS sm, COUNT(*) AS cnt
         |  FROM lp GROUP BY 1),
         |rb2 AS (
         |  SELECT sm, 2 * CAST(COALESCE(SUM(cnt) OVER (ORDER BY sm ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    + cnt + 1 AS r2b
         |  FROM gb2),
         |jb AS (
         |  SELECT l.doc_id, rb2.r2b AS y
         |  FROM lp l JOIN rb2 ON CAST(round(l.avg_logprob * 1e6) AS BIGINT) = rb2.sm),
         |j AS (SELECT x, y FROM ja JOIN jb USING (doc_id)),
         |t2 AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(COUNT(DISTINCT x) AS BIGINT) AS n_distinct_a,
         |    CAST(COUNT(DISTINCT y) AS BIGINT) AS n_distinct_b,
         |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
         |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
         |    SUM(CAST(y AS HUGEINT) * y) AS syy,
         |    SUM(CAST(x AS HUGEINT) * y) AS sxy
         |  FROM j)
         |SELECT n, n_distinct_a, n_distinct_b,
         |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
         |    AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
         |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
         |  THEN ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
         |    sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
         |      (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
         |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) + 0.0
         |  ELSE CAST(0.0 AS DOUBLE) END AS rho
         |FROM t2""".stripMargin),
    // q208: tokenization, first-source word attribution, the bounded
    // cumulative curve, nano-quantized ln/ln²/ln·ln OLS terms, exact
    // integer sums, one fixed-order slope/intercept/r² readout
    Query("q208_heaps_law", heapsLaw,
      s"""WITH tok AS (
         |  SELECT source AS grp, unnest(string_split($norm, ' ')) AS t
         |  FROM documents),
         |tk AS (SELECT grp, t FROM tok WHERE length(t) > 0),
         |pg AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_tokens FROM tk GROUP BY 1),
         |fw AS (SELECT t, MIN(grp) AS grp FROM tk GROUP BY t),
         |fg AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_new FROM fw GROUP BY 1),
         |curve AS (
         |  SELECT pg.grp,
         |    CAST(SUM(pg.n_tokens) OVER (ORDER BY pg.grp) AS BIGINT) AS cum_tokens,
         |    CAST(SUM(COALESCE(fg.n_new, 0)) OVER (ORDER BY pg.grp) AS BIGINT) AS cum_vocab
         |  FROM pg LEFT JOIN fg USING (grp)),
         |pts AS (
         |  SELECT
         |    CAST(CAST(round(ln(CAST(cum_tokens AS DOUBLE)) * 1e9) AS BIGINT)
         |      AS DOUBLE) / 1e9 AS x,
         |    CAST(CAST(round(ln(CAST(cum_vocab AS DOUBLE)) * 1e9) AS BIGINT)
         |      AS DOUBLE) / 1e9 AS y
         |  FROM curve),
         |t2 AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS points,
         |    CAST(SUM(CAST(round(x * 1e9) AS BIGINT)) AS BIGINT) AS sx,
         |    CAST(SUM(CAST(round(y * 1e9) AS BIGINT)) AS BIGINT) AS sy,
         |    CAST(SUM(CAST(round(x * x * 1e9) AS BIGINT)) AS BIGINT) AS sxx,
         |    CAST(SUM(CAST(round(y * y * 1e9) AS BIGINT)) AS BIGINT) AS syy,
         |    CAST(SUM(CAST(round(x * y * 1e9) AS BIGINT)) AS BIGINT) AS sxy
         |  FROM pts),
         |f AS (
         |  SELECT points,
         |    CAST(points AS DOUBLE) * (CAST(sxx AS DOUBLE) / 1e9)
         |      - (CAST(sx AS DOUBLE) / 1e9) * (CAST(sx AS DOUBLE) / 1e9) AS var_x,
         |    CAST(points AS DOUBLE) * (CAST(syy AS DOUBLE) / 1e9)
         |      - (CAST(sy AS DOUBLE) / 1e9) * (CAST(sy AS DOUBLE) / 1e9) AS var_y,
         |    CAST(points AS DOUBLE) * (CAST(sxy AS DOUBLE) / 1e9)
         |      - (CAST(sx AS DOUBLE) / 1e9) * (CAST(sy AS DOUBLE) / 1e9) AS cov,
         |    CAST(sx AS DOUBLE) / 1e9 AS sxd, CAST(sy AS DOUBLE) / 1e9 AS syd
         |  FROM t2),
         |b AS (SELECT points, var_x, var_y, cov, cov / var_x AS beta,
         |    (syd - cov / var_x * sxd) / CAST(points AS DOUBLE) AS ln_k
         |  FROM f)
         |SELECT points, ROUND(beta, 6) + 0.0 AS beta,
         |  ROUND(ln_k, 6) + 0.0 AS ln_k,
         |  ROUND(exp(ln_k), 6) AS k,
         |  CASE WHEN var_y > 0 THEN ROUND(cov * cov / (var_x * var_y), 6)
         |    ELSE CAST(1.0 AS DOUBLE) END AS r2
         |FROM b""".stripMargin),
    // q209: the q197 closure + weights, micro-quantized, then the
    // exact-integer Kish identity per source
    Query("q209_ess", essBySource,
      s"""WITH RECURSIVE $minhashCtes,
         |sym AS (
         |  SELECT a_id AS a, b_id AS b FROM cand
         |  UNION SELECT b_id, a_id FROM cand
         |  UNION SELECT a_id, a_id FROM cand
         |  UNION SELECT b_id, b_id FROM cand),
         |reach(a, b) AS (
         |  SELECT a, b FROM sym
         |  UNION
         |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
         |comp AS (SELECT a AS id, MIN(b) AS component FROM reach GROUP BY a),
         |lab AS (
         |  SELECT d.doc_id, d.source, COALESCE(c.component, d.doc_id) AS component
         |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
         |sz AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS csize FROM lab GROUP BY 1),
         |w AS (
         |  SELECT lab.doc_id, lab.source,
         |    CAST(round(ROUND(CAST(1.0 AS DOUBLE) / CAST(csize AS DOUBLE), 6)
         |      * 1e6) AS BIGINT) AS wq
         |  FROM lab JOIN sz USING (component))
         |SELECT source AS "group", CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  ROUND(CAST(SUM(wq) AS DOUBLE) / 1e6, 6) AS sum_w,
         |  ROUND(CAST(SUM(wq) AS DOUBLE) * CAST(SUM(wq) AS DOUBLE) /
         |    CAST(SUM(CAST(wq AS HUGEINT) * wq) AS DOUBLE), 6) AS ess,
         |  ROUND(CAST(SUM(wq) AS DOUBLE) * CAST(SUM(wq) AS DOUBLE) /
         |    CAST(SUM(CAST(wq AS HUGEINT) * wq) AS DOUBLE) /
         |    CAST(COUNT(*) AS DOUBLE), 6) AS ess_ratio
         |FROM w GROUP BY source ORDER BY source""".stripMargin),
    // q210: classifier replay, cohort grids, exact 2U + tie sums in
    // HUGEINT, fixed-order z / rank-biserial readouts
    Query("q210_mann_whitney", mannWhitneyDrift,
      s"""WITH $classifierPredCtes,
         |ga AS (
         |  SELECT CAST(round(conf * 1e6) AS BIGINT) AS sm,
         |    CAST(COUNT(*) AS BIGINT) AS na
         |  FROM pred WHERE doc_id < 250 GROUP BY 1),
         |gb AS (
         |  SELECT CAST(round(conf * 1e6) AS BIGINT) AS sm,
         |    CAST(COUNT(*) AS BIGINT) AS nb
         |  FROM pred WHERE doc_id >= 250 GROUP BY 1),
         |cells AS (
         |  SELECT sm, COALESCE(na, 0) AS na, COALESCE(nb, 0) AS nb
         |  FROM ga FULL JOIN gb USING (sm)),
         |cum AS (
         |  SELECT na, nb, CAST(COALESCE(SUM(nb) OVER (ORDER BY sm
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
         |  FROM cells),
         |t2 AS (
         |  SELECT CAST(SUM(na) AS BIGINT) AS n_a, CAST(SUM(nb) AS BIGINT) AS n_b,
         |    SUM(CAST(na AS HUGEINT) * (2 * cb + nb)) AS u2,
         |    SUM(CAST(na + nb AS HUGEINT) * (na + nb) * (na + nb)
         |      - CAST(na + nb AS HUGEINT)) AS tc
         |  FROM cum)
         |SELECT n_a, n_b,
         |  ROUND(CAST(u2 AS DOUBLE) / 2.0, 6) AS u_a,
         |  ROUND(CAST(u2 AS DOUBLE) /
         |    (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) - 1.0, 6) AS rank_biserial,
         |  CASE WHEN CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0 *
         |      ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1.0)
         |        - CAST(tc AS DOUBLE) /
         |          ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) *
         |           (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 1.0))) > 0
         |  THEN ROUND((CAST(u2 AS DOUBLE) / 2.0
         |      - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0) /
         |    sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0 *
         |      ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1.0)
         |        - CAST(tc AS DOUBLE) /
         |          ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) *
         |           (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 1.0)))), 6) + 0.0
         |  ELSE CAST(0.0 AS DOUBLE) END AS z
         |FROM t2""".stripMargin),
    // q211: source×lang contingency INCLUDING zero-observed cells via
    // the marginals cross join, nano-quantized (o−e)²/e terms
    Query("q211_chi_square", sourceLangChiSquare,
      s"""WITH cells AS (
         |  SELECT source AS a, lang AS b, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM documents GROUP BY 1, 2),
         |ma AS (SELECT a, CAST(SUM(n) AS BIGINT) AS na FROM cells GROUP BY 1),
         |mb AS (SELECT b, CAST(SUM(n) AS BIGINT) AS nb FROM cells GROUP BY 1),
         |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM cells),
         |grid AS (
         |  SELECT ma.na, mb.nb, COALESCE(c.n, 0) AS o
         |  FROM ma CROSS JOIN mb
         |  LEFT JOIN cells c ON c.a = ma.a AND c.b = mb.b),
         |terms AS (
         |  SELECT CAST(COALESCE(SUM(CAST(round(
         |    (CAST(o AS DOUBLE) - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / CAST(nn AS DOUBLE)) *
         |    (CAST(o AS DOUBLE) - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / CAST(nn AS DOUBLE)) /
         |    (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / CAST(nn AS DOUBLE)) * 1e9)
         |    AS BIGINT)), 0) AS BIGINT) AS chi9
         |  FROM grid, tot),
         |cnt AS (
         |  SELECT CAST(SUM(n) AS BIGINT) AS n,
         |    CAST(COUNT(DISTINCT a) AS BIGINT) AS n_rows,
         |    CAST(COUNT(DISTINCT b) AS BIGINT) AS n_cols
         |  FROM cells)
         |SELECT n, n_rows, n_cols,
         |  (n_rows - 1) * (n_cols - 1) AS dof,
         |  CASE WHEN (n_rows - 1) * (n_cols - 1) > 0
         |    THEN ROUND(CAST(chi9 AS DOUBLE) / 1e9, 6)
         |    ELSE CAST(0.0 AS DOUBLE) END AS chi2,
         |  CASE WHEN (n_rows - 1) * (n_cols - 1) > 0
         |    THEN ROUND(sqrt(CAST(chi9 AS DOUBLE) / 1e9 /
         |      (CAST(n AS DOUBLE) *
         |       CAST(LEAST(n_rows - 1, n_cols - 1) AS DOUBLE))), 6)
         |    ELSE CAST(0.0 AS DOUBLE) END AS cramers_v
         |FROM cnt, terms""".stripMargin),
    // q212: classifier + gopher replays, pure-integer Brier sum,
    // q177 binning, nano-quantized reliability/resolution terms
    Query("q212_brier", brierAudit,
      s"""WITH $classifierPredCtes,
         |$gopherLabCtes,
         |j AS (
         |  SELECT CAST(round(p.conf * 1e6) AS BIGINT) AS cm,
         |    CAST(l.keep AS BIGINT) AS y
         |  FROM pred p JOIN lab l USING (doc_id)),
         |pb AS (
         |  SELECT LEAST((cm * 10) // 1000000, 9) AS bin,
         |    CAST(COUNT(*) AS BIGINT) AS nk,
         |    CAST(SUM(cm) AS BIGINT) AS sc,
         |    CAST(SUM(y) AS BIGINT) AS sy,
         |    SUM(CAST(cm - y * 1000000 AS HUGEINT) * (cm - y * 1000000)) AS sq
         |  FROM j GROUP BY 1),
         |tot AS (
         |  SELECT CAST(SUM(nk) AS BIGINT) AS n, CAST(SUM(sy) AS BIGINT) AS syt,
         |    SUM(sq) AS sqt, CAST(COUNT(*) AS BIGINT) AS bins_used
         |  FROM pb),
         |terms AS (
         |  SELECT
         |    CAST(COALESCE(SUM(CAST(round(CAST(nk AS DOUBLE) *
         |      (CAST(sc AS DOUBLE) / (CAST(nk AS DOUBLE) * 1e6) - CAST(sy AS DOUBLE) / CAST(nk AS DOUBLE)) *
         |      (CAST(sc AS DOUBLE) / (CAST(nk AS DOUBLE) * 1e6) - CAST(sy AS DOUBLE) / CAST(nk AS DOUBLE)) * 1e9)
         |      AS BIGINT)), 0) AS BIGINT) AS rel9,
         |    CAST(COALESCE(SUM(CAST(round(CAST(nk AS DOUBLE) *
         |      (CAST(sy AS DOUBLE) / CAST(nk AS DOUBLE) - CAST(syt AS DOUBLE) / CAST(n AS DOUBLE)) *
         |      (CAST(sy AS DOUBLE) / CAST(nk AS DOUBLE) - CAST(syt AS DOUBLE) / CAST(n AS DOUBLE)) * 1e9)
         |      AS BIGINT)), 0) AS BIGINT) AS res9
         |  FROM pb, tot)
         |SELECT n, bins_used AS n_bins_used,
         |  ROUND(CAST(sqt AS DOUBLE) / (CAST(n AS DOUBLE) * 1e12), 6) AS brier,
         |  ROUND(CAST(rel9 AS DOUBLE) / (CAST(n AS DOUBLE) * 1e9), 6) AS reliability,
         |  ROUND(CAST(res9 AS DOUBLE) / (CAST(n AS DOUBLE) * 1e9), 6) AS resolution,
         |  ROUND((CAST(syt AS DOUBLE) / CAST(n AS DOUBLE)) *
         |    (1.0 - CAST(syt AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS uncertainty,
         |  ROUND(CAST(sqt AS DOUBLE) / (CAST(n AS DOUBLE) * 1e12) -
         |    (CAST(rel9 AS DOUBLE) / (CAST(n AS DOUBLE) * 1e9) -
         |     CAST(res9 AS DOUBLE) / (CAST(n AS DOUBLE) * 1e9) +
         |     (CAST(syt AS DOUBLE) / CAST(n AS DOUBLE)) *
         |     (1.0 - CAST(syt AS DOUBLE) / CAST(n AS DOUBLE))), 6) AS within_bin_resid
         |FROM tot, terms""".stripMargin),
    // q213: quasi-identifier cells, per-(cell, lang) entropy terms,
    // distinct-l and entropy-l floors per source
    Query("q213_l_diversity", lDiversity,
      s"""WITH v AS (
         |  SELECT source, CAST(floor(n_chars / 100) AS BIGINT) AS len_bucket,
         |    lang, CAST(COUNT(*) AS BIGINT) AS nv
         |  FROM documents GROUP BY 1, 2, 3),
         |ct AS (
         |  SELECT source, len_bucket, CAST(SUM(nv) AS BIGINT) AS n,
         |    CAST(COUNT(*) AS BIGINT) AS ldist
         |  FROM v GROUP BY 1, 2),
         |h AS (
         |  SELECT v.source, v.len_bucket,
         |    CAST(SUM(CAST(round(-((CAST(nv AS DOUBLE) / CAST(n AS DOUBLE)) *
         |      ln(CAST(nv AS DOUBLE) / CAST(n AS DOUBLE))) * 1e9) AS BIGINT)) AS BIGINT) AS hsum
         |  FROM v JOIN ct USING (source, len_bucket) GROUP BY 1, 2),
         |cj AS (
         |  SELECT ct.source, ct.n, ct.ldist, h.hsum
         |  FROM ct JOIN h USING (source, len_bucket))
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_cells,
         |  CAST(MIN(ldist) AS BIGINT) AS l_floor,
         |  CAST(SUM(CASE WHEN ldist < 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_risky_cells,
         |  CAST(SUM(CASE WHEN ldist < 2 THEN n ELSE 0 END) AS BIGINT) AS n_risky_rows,
         |  ROUND(exp(CAST(MIN(hsum) AS DOUBLE) / 1e9), 6) AS entropy_l_floor
         |FROM cj GROUP BY 1 ORDER BY 1""".stripMargin),
    // q193: the q177/q185 classifier + gopher replays plus the q160
    // blocklist, melted to (item, label) ratings and folded through the
    // exact-integer Fleiss identity
    Query("q193_gate_agreement", gateAgreement, {
      import graft.ops.QualityModel.{NumBuckets, WeightMul, WeightAdd, WeightMod, WeightHalf}
      def d(x: Double) = s"CAST($x AS DOUBLE)"
      s"""WITH t AS (SELECT doc_id, string_split($norm, ' ') AS w FROM documents),
         |fx AS (
         |  SELECT doc_id, unnest(list_concat(w,
         |    CASE WHEN len(w) >= 2
         |         THEN list_transform(generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i+1])
         |         ELSE CAST([] AS VARCHAR[]) END)) AS feat
         |  FROM t),
         |f AS (SELECT doc_id, feat FROM fx WHERE length(feat) > 0),
         |fb AS (SELECT doc_id, ${duckFold("feat", graft.expr.DedupKernel.B1)} % $NumBuckets AS bucket FROM f),
         |wt AS (
         |  SELECT g.b AS bucket, ((g.b * $WeightMul + $WeightAdd) % $WeightMod) - $WeightHalf AS w_micro
         |  FROM generate_series(0, ${NumBuckets - 1}) g(b)),
         |cls AS (
         |  SELECT doc_id, COUNT(*) AS n_features, SUM(w_micro) AS sm
         |  FROM fb JOIN wt USING (bucket) GROUP BY 1),
         |pred AS (
         |  SELECT doc_id, ROUND(${d(1.0)} / (${d(1.0)} + exp(-ROUND(
         |    CAST(sm AS DOUBLE) / (CAST(n_features AS DOUBLE) * 1000000), 6))), 6) AS conf
         |  FROM cls),
         |tg AS (
         |  SELECT doc_id, list_filter(string_split($norm, ' '), x -> length(x) > 0) AS w
         |  FROM documents),
         |sg AS (
         |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
         |    CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS sum_len,
         |    CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS alpha_words,
         |    CAST(len(list_filter(w, x -> list_contains(['the','be','to','of','and','that','have','with'], x))) AS BIGINT) AS n_stop_hits
         |  FROM tg WHERE len(w) > 0),
         |lab AS (
         |  SELECT doc_id,
         |    CAST(CASE WHEN n_words BETWEEN 20 AND 100000 THEN 1 ELSE 0 END AS BIGINT)
         |    * CAST(CASE WHEN sum_len >= 3 * n_words AND sum_len <= 10 * n_words THEN 1 ELSE 0 END AS BIGINT)
         |    * CAST(CASE WHEN alpha_words * 5 >= n_words * 4 THEN 1 ELSE 0 END AS BIGINT)
         |    * CAST(CASE WHEN n_stop_hits >= 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
         |  FROM sg),
         |bl AS (
         |  SELECT doc_id,
         |    CASE WHEN len(list_filter(string_split($norm, ' '),
         |        x -> list_contains(['big', 'broken', 'slow'], x))) = 0
         |      THEN 1 ELSE 0 END AS b_keep
         |  FROM documents),
         |sig AS (
         |  SELECT l.doc_id, l.keep AS g_keep, b.b_keep,
         |    CASE WHEN p.conf >= ${d(0.5)} THEN 1 ELSE 0 END AS c_keep
         |  FROM lab l JOIN bl b USING (doc_id) JOIN pred p USING (doc_id)),
         |rat AS (
         |  SELECT doc_id, CAST(g_keep AS VARCHAR) AS rl FROM sig
         |  UNION ALL SELECT doc_id, CAST(b_keep AS VARCHAR) FROM sig
         |  UNION ALL SELECT doc_id, CAST(c_keep AS VARCHAR) FROM sig),
         |cells AS (
         |  SELECT doc_id, rl, CAST(COUNT(*) AS BIGINT) AS nij
         |  FROM rat GROUP BY 1, 2),
         |tot AS (
         |  SELECT CAST(SUM(nij * nij) AS BIGINT) AS s2,
         |    CAST(SUM(nij) // 3 AS BIGINT) AS n_items
         |  FROM cells),
         |cat AS (
         |  SELECT CAST(SUM(cj * cj) AS BIGINT) AS c2 FROM (
         |    SELECT rl, CAST(SUM(nij) AS BIGINT) AS cj FROM cells GROUP BY rl)),
         |fin AS (SELECT s2, n_items, n_items * 3 AS nn FROM tot)
         |SELECT n_items, CAST(3 AS BIGINT) AS n_raters,
         |  ROUND(CAST(s2 - nn AS DOUBLE) / CAST(nn * 2 AS DOUBLE), 6) AS p_bar,
         |  ROUND(CAST(c2 AS DOUBLE) / CAST(nn * nn AS DOUBLE), 6) AS p_e,
         |  CASE WHEN nn * nn - c2 = 0 THEN ${d(1.0)}
         |    ELSE ROUND(CAST((s2 - nn) * nn - c2 * 2 AS DOUBLE) /
         |      CAST(2 * (nn * nn - c2) AS DOUBLE), 6) + 0.0 END AS kappa
         |FROM fin, cat""".stripMargin
    }),
    // q178 extends q177: the same two replays, swept over the literal
    // temperature grid (unnest of CAST AS DOUBLE values — the p-list
    // convention), per-T integer binning/ECE, argmin flagged
    Query("q178_temp_scaling", temperatureScaling, {
      import graft.ops.QualityModel.{NumBuckets, WeightMul, WeightAdd, WeightMod, WeightHalf}
      def d(x: Double) = s"CAST($x AS DOUBLE)"
      val gridList = (1 to 16).map(i => d(i * 0.25)).mkString("[", ", ", "]")
      s"""WITH t AS (SELECT doc_id, string_split($norm, ' ') AS w FROM documents),
         |fx AS (
         |  SELECT doc_id, unnest(list_concat(w,
         |    CASE WHEN len(w) >= 2
         |         THEN list_transform(generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i+1])
         |         ELSE CAST([] AS VARCHAR[]) END)) AS feat
         |  FROM t),
         |f AS (SELECT doc_id, feat FROM fx WHERE length(feat) > 0),
         |fb AS (SELECT doc_id, ${duckFold("feat", graft.expr.DedupKernel.B1)} % $NumBuckets AS bucket FROM f),
         |wt AS (
         |  SELECT g.b AS bucket, ((g.b * $WeightMul + $WeightAdd) % $WeightMod) - $WeightHalf AS w_micro
         |  FROM generate_series(0, ${NumBuckets - 1}) g(b)),
         |cls AS (
         |  SELECT doc_id, COUNT(*) AS n_features, SUM(w_micro) AS sm
         |  FROM fb JOIN wt USING (bucket) GROUP BY 1),
         |sc2 AS (
         |  SELECT doc_id, ROUND(CAST(sm AS DOUBLE) / (CAST(n_features AS DOUBLE) * 1000000), 6) AS score
         |  FROM cls),
         |tgr AS (SELECT unnest($gridList) AS tv),
         |tg2 AS (
         |  SELECT doc_id, list_filter(string_split($norm, ' '), x -> length(x) > 0) AS w
         |  FROM documents),
         |sg2 AS (
         |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
         |    CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS sum_len,
         |    CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS alpha_words,
         |    CAST(len(list_filter(w, x -> list_contains(['the','be','to','of','and','that','have','with'], x))) AS BIGINT) AS n_stop_hits
         |  FROM tg2 WHERE len(w) > 0),
         |lab AS (
         |  SELECT doc_id,
         |    CAST(CASE WHEN n_words BETWEEN 20 AND 100000 THEN 1 ELSE 0 END AS BIGINT)
         |    * CAST(CASE WHEN sum_len >= 3 * n_words AND sum_len <= 10 * n_words THEN 1 ELSE 0 END AS BIGINT)
         |    * CAST(CASE WHEN alpha_words * 5 >= n_words * 4 THEN 1 ELSE 0 END AS BIGINT)
         |    * CAST(CASE WHEN n_stop_hits >= 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
         |  FROM sg2),
         |j AS (
         |  SELECT s.doc_id, g.tv,
         |    CAST(round(ROUND(${d(1.0)} / (${d(1.0)} + exp(-(s.score / g.tv))), 6) * 1e6) AS BIGINT) AS cm,
         |    l.keep
         |  FROM sc2 s JOIN lab l USING (doc_id), tgr g),
         |pb AS (
         |  SELECT tv, LEAST((cm * 10) // 1000000, 9) AS bin,
         |    CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(cm) AS BIGINT) AS sc,
         |    CAST(SUM(keep) AS BIGINT) AS sp
         |  FROM j GROUP BY 1, 2),
         |pg AS (
         |  SELECT tv, n,
         |    CAST(round(abs(CAST(sc AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6)
         |      - CAST(sp AS DOUBLE) / CAST(n AS DOUBLE)) * 1e6) AS BIGINT) AS gap_micro
         |  FROM pb),
         |pt AS (
         |  SELECT tv, ROUND(CAST(SUM(gap_micro * n) AS DOUBLE) /
         |    (CAST(SUM(n) AS DOUBLE) * 1e6), 6) AS ece
         |  FROM pg GROUP BY 1),
         |rk AS (
         |  SELECT tv, ece, ROW_NUMBER() OVER (ORDER BY ece, tv) AS rn FROM pt)
         |SELECT tv AS t, ece,
         |  CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS BIGINT) AS is_best
         |FROM rk ORDER BY t""".stripMargin
    }),
    // q179 replays span corruption: tokenization, per-block md5 offsets
    // (the q46 hex device), sentinel splicing and both assemblies
    Query("q179_span_corrupt", spanCorruption, {
      val B = 8; val S = 2; val M = B - S + 1
      s"""WITH w0 AS (
         |  SELECT doc_id, list_filter(string_split($norm, ' '), x -> length(x) > 0) AS w
         |  FROM documents),
         |wb AS (
         |  SELECT doc_id, w, len(w) // $B AS nb
         |  FROM w0 WHERE len(w) // $B >= 1),
         |ob AS (
         |  SELECT doc_id, w, nb,
         |    list_transform(generate_series(0, CAST(nb AS INT) - 1), b ->
         |      CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)), 1, 8)) AS BIGINT) % $M AS INT)) AS offs
         |  FROM wb)
         |SELECT doc_id,
         |  array_to_string(
         |    flatten(list_transform(generate_series(0, CAST(nb AS INT) - 1), b ->
         |      w[b*$B + 1 : b*$B + offs[b+1]]
         |      || ['<extra_id_' || CAST(b AS VARCHAR) || '>']
         |      || w[b*$B + offs[b+1] + ${S + 1} : b*$B + $B]))
         |    || w[CAST(nb AS INT)*$B + 1 : len(w)], ' ') AS input_text,
         |  array_to_string(
         |    flatten(list_transform(generate_series(0, CAST(nb AS INT) - 1), b ->
         |      ['<extra_id_' || CAST(b AS VARCHAR) || '>']
         |      || w[b*$B + offs[b+1] + 1 : b*$B + offs[b+1] + $S]))
         |    || ['<extra_id_' || CAST(nb AS VARCHAR) || '>'], ' ') AS target_text,
         |  CAST(nb AS BIGINT) AS n_spans
         |FROM ob ORDER BY doc_id""".stripMargin
    }),
    // q125 replays the whole DoReMi chain: exact micro-nat token
    // log-probs per domain, one-divide means, max anchor, nano-quantized
    // exp(excess/τ), normalized weights
    Query("q125_doremi_mixture", doremiMixture,
      s"""WITH tk0 AS (
         |  SELECT source, unnest(string_split($norm, ' ')) AS token FROM documents),
         |tk AS (SELECT * FROM tk0 WHERE length(token) > 0),
         |c AS (SELECT token, COUNT(*) AS cnt FROM tk GROUP BY 1),
         |tot AS (SELECT COUNT(*) AS total FROM tk),
         |g AS (
         |  SELECT source, COUNT(*) AS n_tokens,
         |    SUM(CAST(ROUND(ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)) * 1000000) AS BIGINT)) AS sm
         |  FROM tk JOIN c USING (token), tot GROUP BY 1),
         |a AS (
         |  SELECT source, n_tokens,
         |    CAST(sm AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * 1000000) AS avg_lp
         |  FROM g),
         |m AS (SELECT MAX(avg_lp) AS mx FROM a),
         |q AS (
         |  SELECT source, n_tokens, avg_lp,
         |    CAST(ROUND(exp((mx - avg_lp) / 0.5) * 1000000000) AS BIGINT) AS qm
         |  FROM a, m),
         |z AS (SELECT SUM(qm) AS z FROM q)
         |SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  ROUND(avg_lp, 6) AS avg_logprob,
         |  ROUND(CAST(qm AS DOUBLE) / CAST(z AS DOUBLE), 6) AS mixture_weight
         |FROM q, z ORDER BY source""".stripMargin),
    // q126 replays the average-hash kernel bit-for-bit: per-position byte
    // codes (docs are printable ASCII — q50's verified premise, so
    // ascii(substr) == payload byte), cell = ((i-1)*64)//n, cross-
    // multiplied sign test, 4×16-bit banding, exact Hamming verify
    Query("q126_phash_neardup", phashNearDup,
      s"""WITH md AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000,
         |    CASE WHEN length(text) >= 20 THEN
         |      substr(text, 1, CAST((doc_id * 7) % (length(text) - 8) AS INT)) || 'xxxxxxxx'
         |        || substr(text, CAST((doc_id * 7) % (length(text) - 8) AS INT) + 9)
         |    ELSE text END
         |  FROM documents),
         |cs AS (
         |  SELECT doc_id,
         |    list_transform(generate_series(1, length(text)), i -> CAST(ascii(substr(text, i, 1)) AS BIGINT)) AS c
         |  FROM md WHERE length(text) > 0),
         |h AS (SELECT doc_id, len(c) AS n, list_sum(c) AS tot, c FROM cs),
         |fp AS (
         |  SELECT doc_id, CAST(list_sum(list_transform(generate_series(0, 63), j ->
         |    CASE WHEN
         |      list_sum(list_transform(generate_series(1, n), i -> CASE WHEN ((i-1)*64)//n = j THEN c[i] ELSE 0 END)) * n
         |      > tot * list_sum(list_transform(generate_series(1, n), i -> CASE WHEN ((i-1)*64)//n = j THEN 1 ELSE 0 END))
         |    THEN (CASE WHEN j = 63 THEN CAST(-9223372036854775807 AS BIGINT) - 1
         |               ELSE (CAST(1 AS BIGINT) << j) END)
         |    ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS phash
         |  FROM h),
         |bd AS (
         |  SELECT doc_id, phash, b.b AS band, (phash >> (b.b * 16)) & 65535 AS key
         |  FROM fp, generate_series(0, 3) b(b)),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
         |    CAST(bit_count(xor(x.phash, y.phash)) AS BIGINT) AS hamming
         |  FROM bd x JOIN bd y ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id)
         |SELECT a_id, b_id, hamming FROM cand
         |WHERE hamming <= 3 ORDER BY a_id, b_id""".stripMargin),
    // q127 replays every rule with the same integer decisions
    // (cross-multiplied bounds) and one-divide rounded report columns
    Query("q127_gopher_rules", gopherQuality,
      s"""WITH t AS (
         |  SELECT doc_id, list_filter(string_split($norm, ' '), x -> length(x) > 0) AS w
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
         |    CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS sum_len,
         |    CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS alpha_words,
         |    CAST(len(list_filter(w, x -> list_contains(['the','be','to','of','and','that','have','with'], x))) AS BIGINT) AS n_stop_hits
         |  FROM t WHERE len(w) > 0),
         |r AS (
         |  SELECT doc_id, n_words,
         |    ROUND(CAST(sum_len AS DOUBLE) / CAST(n_words AS DOUBLE), 6) AS mean_word_len,
         |    ROUND(CAST(alpha_words AS DOUBLE) / CAST(n_words AS DOUBLE), 6) AS alpha_frac,
         |    n_stop_hits,
         |    CAST(CASE WHEN n_words BETWEEN 20 AND 100000 THEN 1 ELSE 0 END AS BIGINT) AS r_words,
         |    CAST(CASE WHEN sum_len >= 3 * n_words AND sum_len <= 10 * n_words THEN 1 ELSE 0 END AS BIGINT) AS r_meanlen,
         |    CAST(CASE WHEN alpha_words * 5 >= n_words * 4 THEN 1 ELSE 0 END AS BIGINT) AS r_alpha,
         |    CAST(CASE WHEN n_stop_hits >= 1 THEN 1 ELSE 0 END AS BIGINT) AS r_stop
         |  FROM s)
         |SELECT doc_id, n_words, mean_word_len, alpha_frac, n_stop_hits,
         |  r_words, r_meanlen, r_alpha, r_stop,
         |  r_words * r_meanlen * r_alpha * r_stop AS keep
         |FROM r ORDER BY doc_id""".stripMargin),
    Query("q65_incremental_dedup", incrementalDedup,
      s"""WITH $minhashBandCtes
         |SELECT batch_id, corpus_id, est AS est_jaccard FROM (
         |  SELECT DISTINCT y.doc_id AS batch_id, x.doc_id AS corpus_id,
         |    CAST(len(list_filter(generate_series(1, 32), i -> x.sig[i] = y.sig[i])) AS DOUBLE) / 32 AS est
         |  FROM banded x JOIN banded y
         |    ON x.band = y.band AND x.key = y.key
         |  WHERE x.doc_id % 5 <> 0 AND y.doc_id % 5 = 0) d
         |WHERE est >= 0.4
         |ORDER BY batch_id, corpus_id""".stripMargin),
    Query("q32_minhash_lsh", minhashCandidates,
      s"""WITH $minhashCtes
         |SELECT a_id, b_id, est AS est_jaccard FROM cand ORDER BY a_id, b_id""".stripMargin),
    Query("q33_simhash", simhashFingerprints,
      s"""WITH $simhashCtes
         |SELECT doc_id, simhash FROM fps ORDER BY doc_id""".stripMargin),
    Query("q36_dedup_clusters", dedupClusters,
      s"""WITH RECURSIVE $minhashCtes,
         |sym AS (
         |  SELECT a_id AS a, b_id AS b FROM cand
         |  UNION SELECT b_id, a_id FROM cand
         |  UNION SELECT a_id, a_id FROM cand
         |  UNION SELECT b_id, b_id FROM cand),
         |reach(a, b) AS (
         |  SELECT a, b FROM sym
         |  UNION
         |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a)
         |SELECT a AS id, MIN(b) AS component FROM reach GROUP BY a ORDER BY id""".stripMargin),
    Query("q197_soft_dedup", softDedupWeights,
      s"""WITH RECURSIVE $minhashCtes,
         |sym AS (
         |  SELECT a_id AS a, b_id AS b FROM cand
         |  UNION SELECT b_id, a_id FROM cand
         |  UNION SELECT a_id, a_id FROM cand
         |  UNION SELECT b_id, b_id FROM cand),
         |reach(a, b) AS (
         |  SELECT a, b FROM sym
         |  UNION
         |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
         |comp AS (SELECT a AS id, MIN(b) AS component FROM reach GROUP BY a),
         |lab AS (
         |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
         |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
         |sz AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS csize FROM lab GROUP BY 1)
         |SELECT doc_id, component, csize,
         |  ROUND(CAST(1.0 AS DOUBLE) / CAST(csize AS DOUBLE), 6) AS weight
         |FROM lab JOIN sz USING (component)
         |ORDER BY doc_id""".stripMargin),
    Query("q198_vocab_coverage", vocabCoverageCurve,
      s"""WITH tk AS (
         |  SELECT unnest(string_split($norm, ' ')) AS t FROM documents),
         |c AS (
         |  SELECT t, CAST(COUNT(*) AS BIGINT) AS cnt FROM tk
         |  WHERE length(t) > 0 GROUP BY t),
         |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c),
         |r AS (
         |  SELECT t, cnt,
         |    CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, t) AS BIGINT) AS rank,
         |    CAST(SUM(cnt) OVER (ORDER BY cnt DESC, t
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |  FROM c),
         |th(tm) AS (VALUES (CAST(900000 AS BIGINT)), (CAST(950000 AS BIGINT)), (CAST(990000 AS BIGINT))),
         |x AS (
         |  SELECT th.tm, r.rank, r.cum, tot.total
         |  FROM r, th, tot
         |  WHERE CAST(r.cum AS HUGEINT) * 1000000 >= CAST(th.tm AS HUGEINT) * CAST(tot.total AS HUGEINT)),
         |g AS (
         |  SELECT tm, MIN(rank) AS vocab_size, CAST(MIN(total) AS BIGINT) AS total_tokens
         |  FROM x GROUP BY tm)
         |SELECT ROUND(CAST(g.tm AS DOUBLE) / 1e6, 6) AS threshold,
         |  g.vocab_size,
         |  r.cum AS covered_tokens,
         |  g.total_tokens,
         |  ROUND(CAST(1.0 AS DOUBLE) - CAST(r.cum AS DOUBLE) / CAST(g.total_tokens AS DOUBLE), 6) AS oov_rate
         |FROM g JOIN r ON r.rank = g.vocab_size
         |ORDER BY threshold""".stripMargin),
    Query("q37_simhash_neardup", simhashNearDups,
      s"""WITH $simhashCtes,
         |banded AS (
         |  SELECT doc_id, simhash, b.b AS band, (simhash >> (b.b * 16)) & 65535 AS chunk
         |  FROM fps, generate_series(0, 3) b(b)),
         |pairs AS (
         |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
         |    CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
         |  FROM banded x JOIN banded y
         |    ON x.band = y.band AND x.chunk = y.chunk AND x.doc_id < y.doc_id)
         |SELECT a_id, b_id, hamming FROM pairs WHERE hamming <= 3 ORDER BY a_id, b_id""".stripMargin),
    Query("q30_dedup_exact", dedupExact,
      s"""SELECT md5($norm) AS fp, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
         |FROM documents
         |GROUP BY 1
         |ORDER BY fp""".stripMargin),
    Query("q31_ngram_jaccard", ngramJaccard,
      s"""WITH t AS (
         |  SELECT doc_id, string_split($norm, ' ') AS w
         |  FROM documents WHERE doc_id < 200),
         |sh AS (
         |  SELECT DISTINCT doc_id, s FROM (
         |    SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 2),
         |      i -> array_to_string(w[i:i+2], ' '))) AS s
         |    FROM t WHERE len(w) >= 3) u),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS ni
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT a_id, b_id,
         |  ROUND(CAST(ni AS DOUBLE) / (sa.n + sb.n - ni), 6) AS jaccard
         |FROM inter
         |JOIN sz sa ON a_id = sa.doc_id
         |JOIN sz sb ON b_id = sb.doc_id
         |WHERE CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) >= 0.2
         |ORDER BY a_id, b_id""".stripMargin),
    Query("q34_embed_neardup", embeddingNearDups,
      s"""WITH ${VectorQueries.srpBucketCtes(numPlanes = 5, dim = 64, numTables = 10)},
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id
         |  FROM buck x JOIN buck y
         |    ON x.t = y.t AND x.bucket = y.bucket AND x.vec_id < y.vec_id),
         |sims AS (
         |  SELECT cand.a_id, cand.b_id,
         |    ROUND(SUM(CAST(a.embedding[i.i] AS DOUBLE) * CAST(b.embedding[i.i] AS DOUBLE)) /
         |      (SQRT(SUM(CAST(a.embedding[i.i] AS DOUBLE) * CAST(a.embedding[i.i] AS DOUBLE))) *
         |       SQRT(SUM(CAST(b.embedding[i.i] AS DOUBLE) * CAST(b.embedding[i.i] AS DOUBLE)))), 6) AS cos_sim
         |  FROM cand
         |  JOIN embeddings a ON a.vec_id = cand.a_id
         |  JOIN embeddings b ON b.vec_id = cand.b_id,
         |  generate_series(1, 64) i(i)
         |  GROUP BY 1, 2)
         |SELECT a_id, b_id, cos_sim FROM sims
         |WHERE cos_sim >= 0.4
         |ORDER BY a_id, b_id""".stripMargin),
    Query("q40_token_stats", tokenStats,
      s"""SELECT lang, COUNT(*) AS n_docs,
         |  CAST(SUM(len(string_split($norm, ' '))) AS BIGINT) AS sum_tokens,
         |  CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]{1,8}|[0-9]{1,3}|[^A-Za-z0-9\\s]'))) AS BIGINT) AS sum_subwords,
         |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
         |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         |  CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
         |FROM documents
         |GROUP BY lang
         |ORDER BY lang""".stripMargin),
    Query("q38_winnow_fp", winnowFingerprints, {
      val P = 1000000007L; val B = 131L
      val coef = (0 until 8).map(j => (0 until j).foldLeft(1L)((a, _) => a * B % P))
      val terms = coef.zipWithIndex
        .map { case (c, j) => s"CAST(ascii(substr(nt, i + $j, 1)) AS BIGINT) * $c" }
        .mkString(" + ")
      s"""WITH t AS (SELECT doc_id, $norm AS nt FROM documents),
         |f AS (
         |  SELECT doc_id,
         |    list_transform(generate_series(1, length(nt) - 7), i -> ($terms) % $P) AS h
         |  FROM t WHERE length(nt) >= 11),
         |w AS (
         |  SELECT doc_id,
         |    unnest(list_distinct(list_transform(generate_series(1, len(h) - 3),
         |      w -> list_min(h[w:w+3])))) AS fp
         |  FROM f)
         |SELECT doc_id, COUNT(*) AS n_fps, MIN(fp) AS min_fp, MAX(fp) AS max_fp,
         |  CAST(SUM(fp) AS BIGINT) AS sum_fp
         |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }),
    Query("q46_hash_split", splitCounts,
      """WITH b AS (
        |  SELECT doc_id, n_chars,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, n_chars,
        |    CASE WHEN bucket < 80 THEN 'train'
        |         WHEN bucket < 90 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM b)
        |SELECT split, COUNT(*) AS n_docs, MIN(doc_id) AS min_id,
        |  MAX(doc_id) AS max_id, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM s
        |GROUP BY split
        |ORDER BY split""".stripMargin),
    Query("q41_quality_scores", qualityScores,
      s"""SELECT doc_id, length(text) AS len,
         |  len(string_split($norm, ' ')) AS n_tokens,
         |  length(text) - length(regexp_replace(text, '[aeiou]', '', 'g')) AS n_vowels,
         |  length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digits,
         |  length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct,
         |  CAST(length(text) - length(regexp_replace(text, '[aeiou]', '', 'g')) AS DOUBLE) / length(text) AS vowel_ratio,
         |  CASE
         |    WHEN len(string_split($norm, ' ')) >= 50
         |      AND CAST(length(text) - length(regexp_replace(text, '[aeiou]', '', 'g')) AS DOUBLE) / length(text) > 0.2 THEN 'good'
         |    WHEN len(string_split($norm, ' ')) >= 20 THEN 'fair'
         |    ELSE 'short' END AS quality
         |FROM documents
         |ORDER BY doc_id""".stripMargin),
    Query("q42_langid", langIdConfusion,
      s"""WITH $langIdPredCtes
         |SELECT lang, predicted, COUNT(*) AS n
         |FROM p
         |GROUP BY lang, predicted
         |ORDER BY lang, predicted""".stripMargin),
    Query("q43_fingerprint", fingerprints,
      s"""SELECT doc_id, md5($norm) AS fp
         |FROM documents
         |ORDER BY doc_id""".stripMargin),
    Query("q44_chunking", chunkedDocs,
      """WITH starts AS (
        |  SELECT doc_id, text,
        |    unnest(generate_series(1, length(text), 224)) AS s
        |  FROM documents)
        |SELECT doc_id, (s - 1) // 224 AS chunk_idx,
        |  CAST(length(substr(text, CAST(s AS INTEGER), 256)) AS BIGINT) AS chunk_len,
        |  md5(substr(text, CAST(s AS INTEGER), 256)) AS chunk_fp
        |FROM starts
        |ORDER BY doc_id, chunk_idx""".stripMargin),
    Query("q45_top_terms", topTerms,
      s"""SELECT token, COUNT(DISTINCT doc_id) AS doc_freq, COUNT(*) AS total_tf
         |FROM (
         |  SELECT doc_id, unnest(string_split($norm, ' ')) AS token
         |  FROM documents) t
         |WHERE length(token) > 0
         |GROUP BY token
         |ORDER BY doc_freq DESC, total_tf DESC, token
         |LIMIT 50""".stripMargin),
    Query("q62_token_chunks", tokenChunks,
      s"""WITH t AS (
         |  SELECT doc_id, string_split($norm, ' ') AS w FROM documents
         |  WHERE length($norm) > 0),
         |c AS (
         |  SELECT doc_id,
         |    unnest(generate_series(1, len(w), 48)) AS s, w
         |  FROM t)
         |SELECT doc_id,
         |  CAST((s - 1) // 48 AS BIGINT) AS chunk_idx,
         |  CAST(len(w[s : s + 63]) AS BIGINT) AS n_tokens,
         |  md5(array_to_string(w[s : s + 63], ' ')) AS chunk_fp
         |FROM c
         |ORDER BY doc_id, chunk_idx""".stripMargin),
    Query("q61_hash_sample", sampleSummary,
      """SELECT lang, COUNT(*) AS n_docs, MIN(doc_id) AS min_id,
        |  MAX(doc_id) AS max_id, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 10
        |GROUP BY lang
        |ORDER BY lang""".stripMargin),
    Query("q57_frame_features", frameFeatures, {
      val bins = Seq(2 -> "2f", 3 -> "3f", 4 -> "4f", 5 -> "5f", 6 -> "6f", 7 -> "7e")
        .map { case (j, hi) =>
          s"""CAST(CAST(length(ch) - length(regexp_replace(ch, '[\\x${j}0-\\x$hi]', '', 'g')) AS FLOAT)
             |    / CAST(length(ch) AS FLOAT) AS DOUBLE) AS b$j""".stripMargin
        }.mkString(",\n  ")
      s"""WITH fr AS (
         |  SELECT doc_id,
         |    unnest(generate_series(CAST(0 AS BIGINT),
         |      CAST((length(text) - 1) // 256 AS BIGINT), 2)) AS frame_idx,
         |    text
         |  FROM documents
         |  WHERE length(text) > 0),
         |c AS (
         |  SELECT doc_id, frame_idx,
         |    substr(text, CAST(frame_idx * 256 + 1 AS INTEGER), 256) AS ch
         |  FROM fr)
         |SELECT doc_id, frame_idx,
         |  $bins
         |FROM c
         |ORDER BY doc_id, frame_idx""".stripMargin
    }),
    Query("q71_quality_dedup", qualityDedup,
      s"""WITH RECURSIVE $minhashCtes,
         |sym AS (
         |  SELECT a_id AS a, b_id AS b FROM cand
         |  UNION SELECT b_id, a_id FROM cand
         |  UNION SELECT a_id, a_id FROM cand
         |  UNION SELECT b_id, b_id FROM cand),
         |reach(a, b) AS (
         |  SELECT a, b FROM sym
         |  UNION
         |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
         |comp AS (SELECT a AS id, MIN(b) AS component FROM reach GROUP BY a),
         |j AS (
         |  SELECT c.component, c.id, d.n_chars
         |  FROM comp c JOIN documents d ON d.doc_id = c.id)
         |SELECT component, n_docs, id AS keep_id, n_chars AS keep_chars
         |FROM (
         |  SELECT component, id, n_chars,
         |    COUNT(*) OVER (PARTITION BY component) AS n_docs,
         |    ROW_NUMBER() OVER (PARTITION BY component
         |      ORDER BY n_chars DESC, id ASC) AS rn
         |  FROM j) t
         |WHERE rn = 1
         |ORDER BY component""".stripMargin),
    Query("q72_tfidf_terms", tfidfTopTerms,
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split($norm, ' ')) AS token FROM documents),
         |t AS (SELECT doc_id, token FROM toks WHERE length(token) > 0),
         |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM t GROUP BY 1, 2),
         |idf AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM t GROUP BY 1),
         |nn AS (SELECT COUNT(DISTINCT doc_id) AS n FROM t),
         |sc AS (
         |  SELECT f.doc_id, f.token, f.tf, d.df,
         |    ROUND(f.tf * ln((nn.n + 1.0) / (d.df + 1.0)), 6) AS tfidf
         |  FROM tf f JOIN idf d USING (token), nn
         |  WHERE f.doc_id < 50)
         |SELECT doc_id, token, tf, df, tfidf, rn FROM (
         |  SELECT sc.*, ROW_NUMBER() OVER (PARTITION BY doc_id
         |    ORDER BY tfidf DESC, token) AS rn
         |  FROM sc) x
         |WHERE rn <= 3
         |ORDER BY doc_id, rn""".stripMargin),
    Query("q73_sequence_packing", sequencePacking,
      s"""WITH t AS (
         |  SELECT doc_id, lang,
         |    CAST(len(string_split($norm, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, lang, n_tokens,
         |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
         |  FROM t)
         |SELECT doc_id, lang, n_tokens,
         |  cum // 256 AS seq_id, cum % 256 AS tok_offset
         |FROM c
         |ORDER BY lang, doc_id""".stripMargin),
    Query("q74_weighted_mixture", weightedMixture,
      """SELECT lang, COUNT(*) AS n_docs, MIN(doc_id) AS min_id,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
        |  < CASE lang WHEN 'en' THEN 50 WHEN 'zh' THEN 100 WHEN 'de' THEN 25
        |              WHEN 'fr' THEN 75 WHEN 'es' THEN 10 ELSE 100 END
        |GROUP BY lang
        |ORDER BY lang""".stripMargin),
    Query("q66_pii_scrub", piiScrub, {
      import graft.ops.PiiScrub.{EmailRe, Ipv4Re, PhoneRe}
      s"""WITH t AS (
         |  SELECT c_custkey,
         |    'User ' || c_name || ' <user' || c_custkey || '@example.' ||
         |    CASE WHEN c_nationkey % 2 = 0 THEN 'com' ELSE 'org' END ||
         |    '> last login 10.' || (c_nationkey % 254) || '.' ||
         |    (c_custkey % 254) || '.' || (c_custkey % 7) ||
         |    CASE WHEN c_custkey % 5 = 0 THEN ' tel 25-989-741-2988'
         |         ELSE '' END AS contact
         |  FROM customer)
         |SELECT c_custkey AS cust_id,
         |  CAST(len(regexp_extract_all(contact, '$EmailRe')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(contact, '$Ipv4Re')) AS BIGINT) AS n_ips,
         |  CAST(len(regexp_extract_all(contact, '$PhoneRe')) AS BIGINT) AS n_phones,
         |  regexp_replace(regexp_replace(regexp_replace(contact,
         |    '$EmailRe', '<EMAIL>', 'g'),
         |    '$PhoneRe', '<PHONE>', 'g'),
         |    '$Ipv4Re', '<IP>', 'g') AS redacted
         |FROM t
         |ORDER BY cust_id""".stripMargin
    }),
    Query("q67_repetition", repetitionSummary, {
      val P = graft.expr.DedupKernel.P
      val B = graft.expr.DedupKernel.B1
      s"""WITH t AS (SELECT doc_id, string_split($norm, ' ') AS w FROM documents),
         |c AS (
         |  SELECT doc_id,
         |    list_transform(w, tk -> ${duckFold("tk", B)}) AS h
         |  FROM t),
         |g AS (
         |  SELECT doc_id,
         |    list_transform(range(1, len(h)), i -> (h[i] * $B + h[i + 1]) % $P) AS ng
         |  FROM c WHERE len(h) >= 2)
         |SELECT doc_id,
         |  CAST(len(ng) AS BIGINT) AS n_ngrams,
         |  CAST(len(list_distinct(ng)) AS BIGINT) AS n_distinct,
         |  CAST(len(ng) - len(list_distinct(ng)) AS DOUBLE) / len(ng) AS dup_frac
         |FROM g
         |ORDER BY doc_id""".stripMargin
    }),
    Query("q68_stratified_sample", stratifiedByLang, {
      val P = graft.expr.DedupKernel.P
      val (a, b) = graft.expr.DedupKernel.perm(1)
      s"""SELECT doc_id, lang, rn FROM (
         |  SELECT doc_id, lang,
         |    ROW_NUMBER() OVER (PARTITION BY lang
         |      ORDER BY ((doc_id % $P) * $a + $b) % $P, doc_id) AS rn
         |  FROM documents) s
         |WHERE rn <= 25
         |ORDER BY lang, rn""".stripMargin
    }),
    Query("q50_multimodal_hist", multimodalHist, {
      val bins = Seq(2 -> "2f", 3 -> "3f", 4 -> "4f", 5 -> "5f", 6 -> "6f", 7 -> "7e")
        .map { case (j, hi) =>
          s"""CAST(CAST(length(text) - length(regexp_replace(text, '[\\x${j}0-\\x$hi]', '', 'g')) AS FLOAT)
             |    / CAST(length(text) AS FLOAT) AS DOUBLE) AS b$j""".stripMargin
        }.mkString(",\n  ")
      s"""SELECT doc_id,
         |  $bins
         |FROM documents
         |ORDER BY doc_id""".stripMargin
    }),
    Query("q108_pagerank", pageRank, {
      def iter(k: Int): String =
        s"""c$k AS (
           |  SELECT a.dst, CAST(SUM(r.r // d.deg) AS BIGINT) AS sc
           |  FROM adj a JOIN r${k - 1} r ON a.src = r.id JOIN deg d ON a.src = d.src
           |  GROUP BY 1),
           |r$k AS (
           |  SELECT d.src AS id,
           |    (3000000000000 // (20 * nn.n)) + (85 * COALESCE(c.sc, 0)) // 100 AS r
           |  FROM deg d CROSS JOIN nn LEFT JOIN c$k c ON d.src = c.dst)""".stripMargin
      s"""WITH $minhashCtes,
         |adj AS (
         |  SELECT a_id AS src, b_id AS dst FROM cand
         |  UNION
         |  SELECT b_id, a_id FROM cand),
         |deg AS (SELECT src, COUNT(*) AS deg FROM adj GROUP BY 1),
         |nn AS (SELECT COUNT(*) AS n FROM deg),
         |r0 AS (SELECT src AS id, 1000000000000 // n AS r FROM deg, nn),
         |${iter(1)},
         |${iter(2)},
         |${iter(3)}
         |SELECT r3.id AS doc_id, r3.r AS pr_micro, d.deg
         |FROM r3 JOIN deg d ON r3.id = d.src
         |ORDER BY pr_micro DESC, doc_id""".stripMargin
    }),
    Query("q102_bigram_logprob", bigramLogProb,
      s"""WITH w AS (
         |  SELECT doc_id, string_split($norm, ' ') AS ws FROM documents
         |  WHERE len(string_split($norm, ' ')) >= 2),
         |bi AS (
         |  SELECT doc_id, b['p'] AS p, b['c'] AS c FROM (
         |    SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 1),
         |      i -> struct_pack(p := ws[i], c := ws[i + 1]))) AS b
         |    FROM w)),
         |pc AS (SELECT p, c, COUNT(*) AS cpc FROM bi GROUP BY 1, 2),
         |cx AS (SELECT p, COUNT(*) AS cp FROM bi GROUP BY 1),
         |vb AS (SELECT COUNT(DISTINCT t) AS v FROM (
         |  SELECT unnest(string_split($norm, ' ')) AS t FROM documents) u
         |  WHERE length(t) > 0),
         |m AS (
         |  SELECT bi.doc_id,
         |    CAST(round(ln(CAST(pc.cpc + 1 AS DOUBLE) / CAST(cx.cp + vb.v AS DOUBLE))
         |      * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS micro
         |  FROM bi JOIN pc USING (p, c) JOIN cx USING (p), vb)
         |SELECT doc_id, COUNT(*) AS n_bigrams,
         |  CAST(SUM(micro) AS BIGINT) AS sum_micro_nats,
         |  ROUND(CAST(SUM(micro) AS DOUBLE) /
         |    (CAST(COUNT(*) AS DOUBLE) * CAST(1000000.0 AS DOUBLE)), 6) AS avg_logprob
         |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    Query("q103_containment", containment,
      s"""WITH ${shingleSetCtes(5)},
         |dfreq AS (SELECT shingle, COUNT(*) AS df FROM st GROUP BY 1),
         |rare AS (
         |  SELECT st.doc_id, st.shingle FROM st JOIN dfreq USING (shingle)
         |  WHERE dfreq.df <= 20),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM st GROUP BY 1),
         |inter AS (
         |  SELECT c.a_id, c.b_id, COUNT(*) AS ni
         |  FROM cand c
         |  JOIN st sa ON sa.doc_id = c.a_id
         |  JOIN st sb ON sb.doc_id = c.b_id AND sb.shingle = sa.shingle
         |  GROUP BY 1, 2)
         |SELECT a_id, b_id, za.n AS n_a, ni AS n_inter,
         |  ROUND(CAST(ni AS DOUBLE) / za.n, 6) AS containment
         |FROM inter JOIN sz za ON za.doc_id = a_id
         |WHERE CAST(ni AS DOUBLE) / za.n >= 0.7
         |ORDER BY a_id, b_id""".stripMargin),
    Query("q94_semdedup", semDedup,
      s"""WITH ${VectorQueries.kmeansCtes("", "embedding", 64, 16, 42L, _ => "TRUE", unitNorm = true)},
         |cells AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
         |    FROM cdist) t WHERE rn = 1),
         |pairs AS (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.cell
         |  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id),
         |sims AS (
         |  SELECT p.a_id, p.b_id, p.cell,
         |    ROUND(SUM(CAST(a.embedding[i.i] AS DOUBLE) * CAST(b.embedding[i.i] AS DOUBLE)) /
         |      (SQRT(SUM(CAST(a.embedding[i.i] AS DOUBLE) * CAST(a.embedding[i.i] AS DOUBLE))) *
         |       SQRT(SUM(CAST(b.embedding[i.i] AS DOUBLE) * CAST(b.embedding[i.i] AS DOUBLE)))), 6) AS sim
         |  FROM pairs p
         |  JOIN embeddings a ON a.vec_id = p.a_id
         |  JOIN embeddings b ON b.vec_id = p.b_id,
         |  generate_series(1, 64) i(i)
         |  GROUP BY 1, 2, 3)
         |SELECT b_id AS vec_id, cell, MIN(a_id) AS trigger_id, MAX(sim) AS max_sim
         |FROM sims WHERE sim >= 0.4
         |GROUP BY b_id, cell
         |ORDER BY vec_id""".stripMargin),
    Query("q95_boolean_retrieval", booleanRetrieval,
      s"""WITH hits AS (
         |  SELECT doc_id,
         |    COUNT(DISTINCT term) AS n_terms, COUNT(*) AS tf
         |  FROM (SELECT doc_id, unnest(string_split($norm, ' ')) AS term
         |        FROM documents) t
         |  WHERE term IN ('dup', 'vector', 'spark')
         |  GROUP BY doc_id
         |  HAVING COUNT(DISTINCT term) = 3)
         |SELECT doc_id, tf,
         |  CAST(ROW_NUMBER() OVER (ORDER BY tf DESC, doc_id) AS BIGINT) AS rnk
         |FROM hits
         |ORDER BY tf DESC, doc_id
         |LIMIT 20""".stripMargin),
    Query("q97_prefix_jaccard", prefixJaccard,
      s"""WITH ${shingleSetCtes(5)},
         |dfreq AS (SELECT shingle, COUNT(*) AS df FROM st GROUP BY 1),
         |ord AS (
         |  SELECT st.doc_id, st.shingle,
         |    ROW_NUMBER() OVER (PARTITION BY st.doc_id ORDER BY df.df, st.shingle) AS rn,
         |    COUNT(*) OVER (PARTITION BY st.doc_id) AS L
         |  FROM st JOIN dfreq df USING (shingle)),
         |pref AS (
         |  SELECT doc_id, shingle FROM ord
         |  WHERE rn <= L - (L * 1 + 4) // 5 + 1),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM pref a JOIN pref b ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM st GROUP BY 1),
         |inter AS (
         |  SELECT c.a_id, c.b_id, COUNT(*) AS ni
         |  FROM cand c
         |  JOIN st sa ON sa.doc_id = c.a_id
         |  JOIN st sb ON sb.doc_id = c.b_id AND sb.shingle = sa.shingle
         |  GROUP BY 1, 2)
         |SELECT a_id, b_id,
         |  ROUND(CAST(ni AS DOUBLE) / (za.n + zb.n - ni), 6) AS jaccard
         |FROM inter
         |JOIN sz za ON za.doc_id = a_id
         |JOIN sz zb ON zb.doc_id = b_id
         |WHERE CAST(ni AS DOUBLE) / (za.n + zb.n - ni) >= 0.2
         |ORDER BY a_id, b_id""".stripMargin),
    Query("q100_dataset_card", datasetCard,
      s"""WITH base AS (
         |  SELECT source,
         |    COUNT(*) AS n_docs,
         |    CAST(SUM(len(string_split($norm, ' '))) AS BIGINT) AS sum_tokens,
         |    COUNT(DISTINCT lang) AS n_langs,
         |    COUNT(*) - COUNT(DISTINCT $norm) AS n_exact_dups,
         |    SUM(n_chars) AS sum_chars
         |  FROM documents GROUP BY source),
         |tl AS (
         |  SELECT source, lang AS top_lang FROM (
         |    SELECT source, lang,
         |      ROW_NUMBER() OVER (PARTITION BY source ORDER BY COUNT(*) DESC, lang) AS rn
         |    FROM documents GROUP BY source, lang) t
         |  WHERE rn = 1)
         |SELECT b.source, b.n_docs, b.sum_tokens, b.n_langs, tl.top_lang,
         |  CAST(b.n_exact_dups AS DOUBLE) / b.n_docs AS dup_rate,
         |  CAST(b.sum_chars AS DOUBLE) / b.n_docs AS avg_chars
         |FROM base b JOIN tl USING (source)
         |ORDER BY b.source""".stripMargin),

    Query("q128_cluster_split", clusterSplitSummary,
      s"""WITH RECURSIVE $minhashCtes,
         |sym AS (
         |  SELECT a_id AS a, b_id AS b FROM cand
         |  UNION SELECT b_id, a_id FROM cand
         |  UNION SELECT a_id, a_id FROM cand
         |  UNION SELECT b_id, b_id FROM cand),
         |reach(a, b) AS (
         |  SELECT a, b FROM sym
         |  UNION
         |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
         |comp AS (SELECT a AS id, MIN(b) AS component FROM reach GROUP BY a),
         |asg AS (
         |  SELECT d.doc_id, d.n_chars, COALESCE(c.component, d.doc_id) AS component
         |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
         |sp AS (
         |  SELECT doc_id, n_chars, component,
         |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
         |  FROM (SELECT asg.*,
         |    CAST(concat('0x', substr(md5(CAST(component AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b
         |    FROM asg)),
         |leaked AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS leaked_pairs
         |  FROM cand j JOIN sp x ON j.a_id = x.doc_id JOIN sp y ON j.b_id = y.doc_id
         |  WHERE x.split <> y.split)
         |SELECT split, COUNT(DISTINCT component) AS n_clusters, COUNT(*) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         |  (SELECT leaked_pairs FROM leaked) AS leaked_pairs
         |FROM sp GROUP BY split ORDER BY split""".stripMargin),

    Query("q129_source_cap", sourceCap,
      """WITH r AS (
        |  SELECT doc_id, source, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents),
        |tot AS (
        |  SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |  FROM documents GROUP BY source),
        |k AS (
        |  SELECT source, COUNT(*) AS n_kept, CAST(SUM(n_chars) AS BIGINT) AS kept_chars,
        |    MIN(n_chars) AS cap_cutoff
        |  FROM r WHERE rn <= 25 GROUP BY source)
        |SELECT t.source, t.n_docs, t.sum_chars, k.n_kept, k.kept_chars, k.cap_cutoff
        |FROM tot t JOIN k USING (source) ORDER BY t.source""".stripMargin),

    Query("q130_kanonymity", kAnonymity,
      """WITH c AS (
        |  SELECT source, lang, CAST(floor(n_chars / 100) AS BIGINT) AS len_bucket,
        |    COUNT(*) AS n
        |  FROM documents GROUP BY 1, 2, 3)
        |SELECT source, COUNT(*) AS n_cells,
        |  CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_risky_cells,
        |  CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS n_risky_rows,
        |  CAST(MIN(n) AS BIGINT) AS anonymity
        |FROM c GROUP BY source ORDER BY source""".stripMargin),

    Query("q131_zipf_slope", zipfSlopes,
      s"""WITH t AS (
         |  SELECT lang, unnest(string_split($norm, ' ')) AS tk FROM documents),
         |f AS (
         |  SELECT lang, tk, COUNT(*) AS freq FROM t WHERE length(tk) > 0
         |  GROUP BY lang, tk),
         |r AS (
         |  SELECT lang, freq,
         |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY freq DESC, tk) AS rnk
         |  FROM f),
         |xy AS (
         |  SELECT lang,
         |    CAST(ROUND(ln(CAST(rnk AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
         |    CAST(ROUND(ln(CAST(freq AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
         |  FROM r),
         |s AS (
         |  SELECT lang, COUNT(*) AS n_types, SUM(x) AS sx, SUM(y) AS sy,
         |    SUM(CAST(x * y AS DECIMAL(38,12))) AS sxy,
         |    SUM(CAST(x * x AS DECIMAL(38,12))) AS sxx
         |  FROM xy GROUP BY lang)
         |SELECT lang, n_types,
         |  CASE WHEN CAST(n_types AS DOUBLE) * CAST(sxx AS DOUBLE) -
         |            CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0 THEN NULL
         |  ELSE ROUND((CAST(n_types AS DOUBLE) * CAST(sxy AS DOUBLE) -
         |         CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
         |        (CAST(n_types AS DOUBLE) * CAST(sxx AS DOUBLE) -
         |         CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) + 0.0 END AS zipf_slope
         |FROM s ORDER BY lang""".stripMargin),

    Query("q132_lexical_diversity", lexicalDiversityBySource,
      s"""WITH t AS (
         |  SELECT source, list_filter(string_split($norm, ' '), x -> length(x) > 0) AS w
         |  FROM documents),
         |uni AS (
         |  SELECT source, COUNT(*) AS n_tokens, COUNT(DISTINCT g) AS n_types
         |  FROM (SELECT source, unnest(w) AS g FROM t) GROUP BY source),
         |bi AS (
         |  SELECT source, COUNT(*) AS n_bigrams, COUNT(DISTINCT g) AS n_bigram_types
         |  FROM (SELECT source,
         |    unnest(list_transform(generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i + 1])) AS g
         |    FROM t) GROUP BY source)
         |SELECT u.source, u.n_tokens, u.n_types,
         |  ROUND(CAST(u.n_types AS DOUBLE) / u.n_tokens, 6) AS ttr,
         |  COALESCE(b.n_bigrams, 0) AS n_bigrams,
         |  COALESCE(b.n_bigram_types, 0) AS n_bigram_types,
         |  CASE WHEN COALESCE(b.n_bigrams, 0) = 0 THEN NULL
         |  ELSE ROUND(CAST(b.n_bigram_types AS DOUBLE) / b.n_bigrams, 6) END AS distinct2
         |FROM uni u LEFT JOIN bi b USING (source) ORDER BY u.source""".stripMargin),

    Query("q133_vocab_overlap", vocabOverlapBySource, {
      val P = graft.expr.DedupKernel.P
      val (a, b) = graft.expr.DedupKernel.perm(0)
      val kp = 63L * P
      s"""WITH t AS (
         |  SELECT source, unnest(string_split($norm, ' ')) AS tk FROM documents),
         |c AS (
         |  SELECT source, ${duckFold("tk", graft.expr.DedupKernel.B1)} AS code
         |  FROM t WHERE length(tk) > 0),
         |hh AS (SELECT DISTINCT source, ((code % $P) * $a + $b) % $P AS h FROM c),
         |r AS (
         |  SELECT source, h,
         |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
         |  FROM hh),
         |sk AS (
         |  SELECT source, list_sort(list(h)) AS hs
         |  FROM r WHERE rn <= 64 GROUP BY source),
         |e AS (
         |  SELECT source, hs,
         |    CAST(CASE WHEN len(hs) < 64 THEN len(hs) ELSE $kp // hs[64] END AS BIGINT) AS est
         |  FROM sk),
         |p AS (
         |  SELECT x.source AS group_a, y.source AS group_b,
         |    x.hs AS ha, y.hs AS hb, x.est AS est_a, y.est AS est_b
         |  FROM e x JOIN e y ON x.source < y.source),
         |m AS (SELECT p.*, list_sort(list_distinct(list_concat(ha, hb))) AS u FROM p),
         |mm AS (
         |  SELECT m.*, u[1:LEAST(len(u), 64)] AS uk,
         |    CAST(CASE WHEN len(u) < 64 THEN len(u) ELSE $kp // u[64] END AS BIGINT) AS est_union
         |  FROM m),
         |q AS (
         |  SELECT group_a, group_b, est_a, est_b, est_union,
         |    len(list_filter(uk, hx -> list_contains(ha, hx) AND list_contains(hb, hx))) AS cnt,
         |    len(uk) AS ku
         |  FROM mm)
         |SELECT group_a, group_b, est_a, est_b, est_union,
         |  CAST(cnt * est_union // ku AS BIGINT) AS est_inter,
         |  ROUND(CAST(cnt AS DOUBLE) / ku, 6) AS jacc_est
         |FROM q ORDER BY group_a, group_b""".stripMargin
    }),

    Query("q134_pmi_collocations", pmiTopCollocations,
      s"""WITH t AS (
         |  SELECT list_filter(string_split($norm, ' '), x -> length(x) > 0) AS w
         |  FROM documents),
         |uni AS (
         |  SELECT g AS wu, COUNT(*) AS n_w
         |  FROM (SELECT unnest(w) AS g FROM t) GROUP BY g),
         |b0 AS (
         |  SELECT unnest(list_transform(generate_series(1, len(w) - 1),
         |    i -> {'wa': w[i], 'wb': w[i + 1]})) AS pr
         |  FROM t),
         |bi AS (
         |  SELECT pr.wa AS wa, pr.wb AS wb, COUNT(*) AS n_ab
         |  FROM b0 GROUP BY 1, 2 HAVING COUNT(*) >= 5),
         |n1 AS (SELECT CAST(SUM(n_w) AS BIGINT) AS n1 FROM uni),
         |n2 AS (SELECT CAST(SUM(GREATEST(len(w) - 1, 0)) AS BIGINT) AS n2 FROM t),
         |j AS (
         |  SELECT b.wa, b.wb, CAST(b.n_ab AS BIGINT) AS n_ab,
         |    ua.n_w AS n_a, ub.n_w AS n_b
         |  FROM bi b JOIN uni ua ON b.wa = ua.wu JOIN uni ub ON b.wb = ub.wu)
         |SELECT wa || ' ' || wb AS bigram, n_ab,
         |  ROUND(ln((CAST(n_ab AS DOUBLE) * n1 * n1) / (CAST(n2 AS DOUBLE) * n_a * n_b)), 6) + 0.0 AS pmi
         |FROM j, n1, n2
         |ORDER BY pmi DESC, bigram LIMIT 20""".stripMargin),

    Query("q135_corpus_diff", corpusDiffSummary,
      s"""WITH oldv AS (SELECT doc_id, md5($norm) AS fp FROM documents),
         |v2raw AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 13 = 5 THEN text || ' v2' ELSE text END AS text
         |  FROM documents WHERE doc_id % 11 <> 3
         |  UNION ALL
         |  SELECT doc_id + 1000000, 'new ' || text
         |  FROM documents WHERE doc_id % 17 = 2),
         |newv AS (SELECT doc_id, md5($norm) AS fp FROM v2raw),
         |j AS (
         |  SELECT o.fp AS fo, n.fp AS fn
         |  FROM oldv o FULL OUTER JOIN newv n ON o.doc_id = n.doc_id)
         |SELECT CASE WHEN fo IS NULL THEN 'added'
         |            WHEN fn IS NULL THEN 'removed'
         |            WHEN fo <> fn THEN 'changed'
         |            ELSE 'same' END AS change,
         |  COUNT(*) AS n_docs
         |FROM j GROUP BY 1 ORDER BY 1""".stripMargin),

    Query("q136_kcenter_coreset", kcenterCoreset,
      """WITH RECURSIVE
        |e AS (SELECT vec_id, embedding AS v FROM embeddings),
        |sel(it, ids) AS (
        |  SELECT 1, [(SELECT MIN(vec_id) FROM e)]
        |  UNION ALL
        |  SELECT it + 1, list_append(ids, (
        |    SELECT vec_id FROM (
        |      SELECT x.vec_id AS vec_id,
        |        ROUND(MIN(SQRT(list_sum(list_transform(generate_series(1, 64),
        |          i -> (CAST(x.v[i] AS DOUBLE) - CAST(y.v[i] AS DOUBLE))
        |             * (CAST(x.v[i] AS DOUBLE) - CAST(y.v[i] AS DOUBLE)))))), 6) AS d6
        |      FROM e x, e y
        |      WHERE list_contains(s.ids, y.vec_id) AND NOT list_contains(s.ids, x.vec_id)
        |      GROUP BY x.vec_id)
        |    ORDER BY d6 DESC, vec_id LIMIT 1))
        |  FROM sel s WHERE it < 8),
        |fin AS (SELECT ids FROM sel WHERE it = 8),
        |ord AS (
        |  SELECT CAST(g.o AS BIGINT) AS sel_order, CAST(ids[g.o] AS BIGINT) AS vec_id, ids
        |  FROM fin, generate_series(1, 8) g(o))
        |SELECT o.sel_order, o.vec_id,
        |  CASE WHEN o.sel_order = 1 THEN 0.0 ELSE (
        |    SELECT ROUND(MIN(SQRT(list_sum(list_transform(generate_series(1, 64),
        |      i -> (CAST(ex.v[i] AS DOUBLE) - CAST(ey.v[i] AS DOUBLE))
        |         * (CAST(ex.v[i] AS DOUBLE) - CAST(ey.v[i] AS DOUBLE)))))), 6)
        |    FROM e ex, e ey
        |    WHERE ex.vec_id = o.vec_id AND list_contains(o.ids[1:o.sel_order - 1], ey.vec_id)
        |  ) END AS radius
        |FROM ord o ORDER BY o.sel_order""".stripMargin),

    Query("q137_mmr_rerank", mmrDiversified, {
      // 6-dp-rounded cosine of two list columns — the q22 formula as an
      // inline expression (list_sum is sequential like the codegen kernel)
      def sim(a: String, b: String): String = {
        def ls(x: String, y: String) =
          s"list_sum(list_transform(generate_series(1, 64), i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE)))"
        s"""ROUND(CASE WHEN ${ls(a, a)} = 0 OR ${ls(b, b)} = 0 THEN 0
           |  ELSE ${ls(a, b)} / (SQRT(${ls(a, a)}) * SQRT(${ls(b, b)})) END, 6)""".stripMargin
      }
      s"""WITH RECURSIVE
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |cand AS (
         |  SELECT e.vec_id, e.embedding AS v, ${sim("e.embedding", "q.qv")} AS rel
         |  FROM embeddings e, q WHERE e.vec_id <> 0
         |  ORDER BY rel DESC, e.vec_id LIMIT 20),
         |sel(it, ids) AS (
         |  SELECT 1, [(SELECT vec_id FROM cand ORDER BY rel DESC, vec_id LIMIT 1)]
         |  UNION ALL
         |  SELECT it + 1, list_append(ids, (
         |    SELECT vec_id FROM (
         |      SELECT x.vec_id, ROUND(0.7 * MIN(x.rel) - 0.3 * MAX(${sim("x.v", "y.v")}), 6) AS mmr
         |      FROM cand x, cand y
         |      WHERE list_contains(s.ids, y.vec_id) AND NOT list_contains(s.ids, x.vec_id)
         |      GROUP BY x.vec_id)
         |    ORDER BY mmr DESC, vec_id LIMIT 1))
         |  FROM sel s WHERE it < 8),
         |fin AS (SELECT ids FROM sel WHERE it = 8),
         |ord AS (
         |  SELECT CAST(g.o AS BIGINT) AS rnk, CAST(ids[g.o] AS BIGINT) AS vec_id, ids
         |  FROM fin, generate_series(1, 8) g(o)),
         |res AS (
         |  SELECT o.rnk, o.vec_id, c.rel,
         |    CASE WHEN o.rnk = 1 THEN ROUND(0.7 * c.rel, 6)
         |    ELSE (SELECT ROUND(0.7 * MIN(cx.rel) - 0.3 * MAX(${sim("cx.v", "cy.v")}), 6) + 0.0
         |          FROM cand cx, cand cy
         |          WHERE cx.vec_id = o.vec_id AND list_contains(o.ids[1:o.rnk - 1], cy.vec_id)) END AS mmr
         |  FROM ord o JOIN cand c ON c.vec_id = o.vec_id)
         |SELECT rnk, vec_id, rel, mmr FROM res ORDER BY rnk""".stripMargin
    }),

    Query("q138_bpe_merges", bpeTopMerges, {
      // 5 unrolled merge rounds: pair counts over the symbol table,
      // argmax (cnt desc, pair asc), left-to-right non-overlapping
      // replace — the exact TextAnalysis.bpeMerges trajectory
      val iterCtes = (1 to 5).map { i =>
        s"""p$i AS (
           |  SELECT pr, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
           |    SELECT unnest(list_transform(generate_series(1, len(a) - 1),
           |      j -> a[j] || ' ' || a[j + 1])) AS pr, freq
           |    FROM (SELECT string_split(sym, ' ') AS a, freq FROM w${i - 1}))
           |  GROUP BY pr),
           |b$i AS (SELECT pr, cnt FROM p$i ORDER BY cnt DESC, pr LIMIT 1),
           |w$i AS (
           |  SELECT trim(replace(replace(
           |      ' ' || replace(sym, ' ', '  ') || ' ',
           |      ' ' || replace((SELECT pr FROM b$i), ' ', '  ') || ' ',
           |      ' ' || replace((SELECT pr FROM b$i), ' ', '') || ' '),
           |    '  ', ' ')) AS sym, freq
           |  FROM w${i - 1})""".stripMargin
      }.mkString(",\n")
      val finals = (1 to 5).map { i =>
        s"SELECT CAST($i AS BIGINT) AS iter, pr AS pair, replace(pr, ' ', '') AS merged, cnt FROM b$i"
      }.mkString("\nUNION ALL\n")
      s"""WITH w0 AS (
         |  SELECT trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS sym, CAST(freq AS BIGINT) AS freq FROM (
         |    SELECT tk AS w, COUNT(*) AS freq FROM (
         |      SELECT unnest(string_split($norm, ' ')) AS tk FROM documents)
         |    WHERE length(tk) > 0 GROUP BY tk)),
         |$iterCtes
         |$finals
         |ORDER BY iter""".stripMargin
    }),

    Query("q139_bpe_fertility", bpeFertilityByLang, {
      // q138's 5 training rounds with the word identity carried through,
      // then the encoded symbol counts joined back per (lang, word)
      val iterCtes = (1 to 5).map { i =>
        s"""p$i AS (
           |  SELECT pr, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
           |    SELECT unnest(list_transform(generate_series(1, len(a) - 1),
           |      j -> a[j] || ' ' || a[j + 1])) AS pr, freq
           |    FROM (SELECT string_split(sym, ' ') AS a, freq FROM w${i - 1}))
           |  GROUP BY pr),
           |b$i AS (SELECT pr FROM p$i ORDER BY cnt DESC, pr LIMIT 1),
           |w$i AS (
           |  SELECT w, trim(replace(replace(
           |      ' ' || replace(sym, ' ', '  ') || ' ',
           |      ' ' || replace((SELECT pr FROM b$i), ' ', '  ') || ' ',
           |      ' ' || replace((SELECT pr FROM b$i), ' ', '') || ' '),
           |    '  ', ' ')) AS sym, freq
           |  FROM w${i - 1})""".stripMargin
      }.mkString(",\n")
      s"""WITH wl AS (
         |  SELECT lang, tk AS w, COUNT(*) AS freq FROM (
         |    SELECT lang, unnest(string_split($norm, ' ')) AS tk FROM documents)
         |  WHERE length(tk) > 0 GROUP BY 1, 2),
         |g0 AS (SELECT w, CAST(SUM(freq) AS BIGINT) AS freq FROM wl GROUP BY w),
         |w0 AS (SELECT w, trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS sym, freq FROM g0),
         |$iterCtes,
         |enc AS (SELECT w, CAST(len(string_split(sym, ' ')) AS BIGINT) AS n_syms FROM w5)
         |SELECT wl.lang, CAST(SUM(wl.freq) AS BIGINT) AS n_words,
         |  CAST(SUM(wl.freq * e.n_syms) AS BIGINT) AS n_subwords,
         |  ROUND(CAST(SUM(wl.freq * e.n_syms) AS DOUBLE) / CAST(SUM(wl.freq) AS DOUBLE), 6) AS fertility,
         |  ROUND(CAST(SUM(wl.freq * length(wl.w)) AS DOUBLE) / CAST(SUM(wl.freq * e.n_syms) AS DOUBLE), 6) AS chars_per_subword
         |FROM wl JOIN enc e USING (w)
         |GROUP BY wl.lang ORDER BY wl.lang""".stripMargin
    }),

    Query("q171_bpe_batched", bpeBatchedMerges, {
      // 3 unrolled BATCHED rounds, R = 2, lookahead 8: rank the round's
      // pairs (cnt desc, pair asc), accept rank 1, accept the lowest-
      // ranked window pair sharing no symbol with it — "symbol" includes
      // rank 1's MERGED output m1 (a runner-up touching a just-minted
      // symbol has stale counts and defers) — apply BOTH merges with the
      // anchored doubled-separator replace — the exact
      s"""WITH $bpeBatchedCtes
         |$bpeFinalsSql
         |ORDER BY iter""".stripMargin
    }),

    // append ≡ full recompute: the oracle is q36's closure over the
    // ENTIRE candidate pair set — the incremental path must land on
    // exactly the labeling a from-scratch solve produces
    Query("q172_components_append", componentsAppend,
      s"""WITH RECURSIVE $minhashCtes,
         |sym AS (
         |  SELECT a_id AS a, b_id AS b FROM cand
         |  UNION SELECT b_id, a_id FROM cand
         |  UNION SELECT a_id, a_id FROM cand
         |  UNION SELECT b_id, b_id FROM cand),
         |reach(a, b) AS (
         |  SELECT a, b FROM sym
         |  UNION
         |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a)
         |SELECT a AS id, MIN(b) AS component FROM reach GROUP BY a ORDER BY id""".stripMargin),

    Query("q140_triangle_census", nearDupTriangles,
      s"""WITH $minhashCtes,
         |e AS (
         |  SELECT DISTINCT LEAST(a_id, b_id) AS a, GREATEST(a_id, b_id) AS b
         |  FROM cand WHERE a_id <> b_id),
         |tri AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
         |  FROM e e1 JOIN e e2 ON e1.b = e2.a
         |    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         |deg AS (
         |  SELECT id, COUNT(*) AS deg
         |  FROM (SELECT a AS id FROM e UNION ALL SELECT b FROM e) GROUP BY id),
         |w AS (
         |  SELECT CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges,
         |    COUNT(*) AS n_nodes
         |  FROM deg)
         |SELECT n_nodes, n_wedges, n_triangles,
         |  CASE WHEN n_wedges = 0 THEN 0.0
         |    ELSE ROUND(3.0 * CAST(n_triangles AS DOUBLE) / CAST(n_wedges AS DOUBLE), 6)
         |  END AS clustering_coeff
         |FROM tri, w""".stripMargin),

    Query("q141_release_split", releaseSplit,
      s"""WITH RECURSIVE capped AS (
         |  SELECT doc_id, text, n_chars FROM (
         |    SELECT doc_id, text, n_chars,
         |      ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
         |    FROM documents) WHERE rn <= 25),
         |${minhashCtesFrom("capped")},
         |sym AS (
         |  SELECT a_id AS a, b_id AS b FROM cand
         |  UNION SELECT b_id, a_id FROM cand
         |  UNION SELECT a_id, a_id FROM cand
         |  UNION SELECT b_id, b_id FROM cand),
         |reach(a, b) AS (
         |  SELECT a, b FROM sym
         |  UNION
         |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
         |comp AS (SELECT a AS id, MIN(b) AS component FROM reach GROUP BY a),
         |asg AS (
         |  SELECT d.doc_id, d.n_chars, COALESCE(c.component, d.doc_id) AS component
         |  FROM capped d LEFT JOIN comp c ON d.doc_id = c.id),
         |sp AS (
         |  SELECT doc_id, n_chars, component,
         |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
         |  FROM (SELECT asg.*,
         |    CAST(concat('0x', substr(md5(CAST(component AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b
         |    FROM asg)),
         |leaked AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS leaked_pairs
         |  FROM cand j JOIN sp x ON j.a_id = x.doc_id JOIN sp y ON j.b_id = y.doc_id
         |  WHERE x.split <> y.split)
         |SELECT split, COUNT(DISTINCT component) AS n_clusters, COUNT(*) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         |  (SELECT leaked_pairs FROM leaked) AS leaked_pairs
         |FROM sp GROUP BY split ORDER BY split""".stripMargin),

    Query("q143_scd2_merge", scd2Customers,
      """WITH cur AS (
        |  SELECT c_custkey, c_acctbal, CAST(0 AS BIGINT) AS valid_from,
        |    CAST(999999 AS BIGINT) AS valid_to, CAST(1 AS BIGINT) AS is_current
        |  FROM customer),
        |upd AS (
        |  SELECT c_custkey, c_acctbal + 100.0 AS newv FROM customer WHERE c_custkey % 7 = 3
        |  UNION ALL
        |  SELECT c_custkey + 1000000, c_acctbal FROM customer WHERE c_custkey % 13 = 2),
        |j AS (
        |  SELECT COALESCE(c.c_custkey, u.c_custkey) AS k, c.c_acctbal AS oldv,
        |    c.valid_from AS vf, u.newv
        |  FROM cur c FULL OUTER JOIN upd u ON c.c_custkey = u.c_custkey),
        |m AS (
        |  SELECT k AS c_custkey, oldv AS c_acctbal, vf AS valid_from,
        |    CAST(999999 AS BIGINT) AS valid_to, CAST(1 AS BIGINT) AS is_current
        |  FROM j WHERE vf IS NOT NULL AND (newv IS NULL OR newv = oldv)
        |  UNION ALL
        |  SELECT k, oldv, vf, CAST(1 AS BIGINT), CAST(0 AS BIGINT)
        |  FROM j WHERE newv IS NOT NULL AND vf IS NOT NULL AND newv <> oldv
        |  UNION ALL
        |  SELECT k, newv, CAST(1 AS BIGINT), CAST(999999 AS BIGINT), CAST(1 AS BIGINT)
        |  FROM j WHERE newv IS NOT NULL AND (vf IS NULL OR newv <> oldv))
        |SELECT c_custkey, c_acctbal, valid_from, valid_to, is_current FROM m
        |WHERE c_custkey < 200 OR (c_custkey >= 1000000 AND c_custkey < 1000200)
        |ORDER BY c_custkey, valid_from""".stripMargin),

    Query("q144_table_checksum", tableChecksums, {
      // injective rendering, mirroring Integrity.tableChecksum: escape
      // '\' and '|', tag NULL as '\N' (unreachable by any escaped value)
      def ck(table: String, cols: Seq[String]): String = {
        val rendered = cols.map(c =>
          s"coalesce(replace(replace(CAST($c AS VARCHAR), '\\', '\\\\'), '|', '\\|'), '\\N')")
        s"""SELECT '$table' AS table_name, COUNT(*) AS n_rows,
           |  CAST(CAST(SUM(CAST(concat('0x', substr(md5(concat_ws('|', ${rendered.mkString(", ")})), 1, 15)) AS BIGINT)) AS DECIMAL(38,0)) AS VARCHAR) AS checksum
           |FROM $table""".stripMargin
      }
      s"""${ck("documents", Seq("doc_id", "lang", "source", "n_chars", "text"))}
         |UNION ALL
         |${ck("nation", Seq("n_nationkey", "n_name", "n_regionkey"))}
         |UNION ALL
         |${ck("region", Seq("r_regionkey", "r_name"))}
         |ORDER BY table_name""".stripMargin
    }),

    Query("q145_padding_waste", paddingWaste,
      s"""WITH t AS (
         |  SELECT CAST(len(string_split($norm, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |b AS (
         |  SELECT ((n_tokens + 63) // 64) * 64 AS bucket, n_tokens
         |  FROM t WHERE n_tokens > 0)
         |SELECT bucket, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
         |  CAST(SUM(bucket - n_tokens) AS BIGINT) AS pad_tokens,
         |  ROUND(CAST(SUM(bucket - n_tokens) AS DOUBLE) /
         |    CAST(bucket * COUNT(*) AS DOUBLE), 6) AS pad_frac
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin),

    Query("q146_semantic_boundaries", semanticBoundaries, {
      // q64's chunk grid + polyEmbed replay, then adjacent-chunk cosine
      val P = graft.expr.DedupKernel.P
      def dims(src: String) = (0 until 64).map { d =>
        val (a, b) = graft.expr.DedupKernel.perm(d)
        s"CAST((2.0 * list_sum(list_transform($src, h -> (h * $a + $b) % $P))) / $P.0 - len($src) AS FLOAT)"
      }.mkString(",\n    ")
      def ls(x: String, y: String) =
        s"list_sum(list_transform(generate_series(1, 64), i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE)))"
      def cos(a: String, b: String) =
        s"""ROUND(CASE WHEN ${ls(a, a)} = 0 OR ${ls(b, b)} = 0 THEN 0
           |  ELSE ${ls(a, b)} / (SQRT(${ls(a, a)}) * SQRT(${ls(b, b)})) END, 6)""".stripMargin
      s"""WITH t AS (
         |  SELECT doc_id, string_split($norm, ' ') AS w FROM documents
         |  WHERE doc_id < 50 AND length($norm) > 0),
         |c AS (
         |  SELECT doc_id, unnest(generate_series(1, len(w), 48)) AS s, w
         |  FROM t),
         |ch AS (
         |  SELECT doc_id, CAST((s - 1) // 48 AS BIGINT) AS chunk_idx,
         |    list_transform(w[s : s + 63], tk -> ${duckFold("tk", graft.expr.DedupKernel.B1)}) AS ths
         |  FROM c),
         |emb AS (
         |  SELECT doc_id, chunk_idx, [${dims("ths")}] AS e FROM ch),
         |adj AS (
         |  SELECT a.doc_id, ${cos("a.e", "b.e")} AS cos
         |  FROM emb a JOIN emb b
         |    ON a.doc_id = b.doc_id AND b.chunk_idx = a.chunk_idx + 1)
         |SELECT doc_id, CAST(COUNT(*) + 1 AS BIGINT) AS n_chunks,
         |  CAST(SUM(CASE WHEN cos < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_boundaries,
         |  MIN(cos) AS min_adj_cos
         |FROM adj GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }),

    Query("q148_lsh_plan", lshPlanEstimate,
      s"""WITH $minhashBandCtes,
         |bc AS (SELECT band, key, COUNT(*) AS c FROM banded GROUP BY band, key)
         |SELECT CAST(band AS BIGINT) AS band, COUNT(*) AS n_buckets,
         |  CAST(MAX(c) AS BIGINT) AS max_bucket,
         |  CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS candidate_pairs,
         |  CAST(SUM(c) AS BIGINT) AS n_rows
         |FROM bc GROUP BY band ORDER BY band""".stripMargin),

    Query("q194_unimax", uniMaxPlan,
      s"""WITH tk AS (
         |  SELECT lang, CAST(len(list_filter(string_split($norm, ' '),
         |    x -> length(x) > 0)) AS BIGINT) AS n
         |  FROM documents),
         |g AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS n_tokens FROM tk GROUP BY 1),
         |tot AS (SELECT CAST(SUM(n_tokens) * 2 // 5 AS BIGINT) AS b FROM g),
         |sc AS (
         |  SELECT lang, n_tokens,
         |    CAST(ROW_NUMBER() OVER (ORDER BY n_tokens, lang) AS BIGINT) AS i,
         |    CAST(SUM(n_tokens) OVER (ORDER BY n_tokens, lang
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pfx,
         |    CAST(COUNT(*) OVER () AS BIGINT) AS l
         |  FROM g),
         |st AS (
         |  SELECT sc.*, tot.b,
         |    (n_tokens * (l - i + 1) + (pfx - n_tokens)) <= b AS sat
         |  FROM sc, tot),
         |cut AS (
         |  SELECT CAST(COALESCE(SUM(CASE WHEN sat THEN 1 END), 0) AS BIGINT) AS k,
         |    CAST(COALESCE(SUM(CASE WHEN sat THEN n_tokens END), 0) AS BIGINT) AS psat,
         |    CAST(COUNT(*) AS BIGINT) AS lt
         |  FROM st)
         |SELECT lang, n_tokens,
         |  CASE WHEN sat THEN CAST(n_tokens AS DOUBLE)
         |    ELSE ROUND(CAST(b - psat AS DOUBLE) / CAST(lt - k AS DOUBLE), 6) END AS alloc,
         |  ROUND((CASE WHEN sat THEN CAST(n_tokens AS DOUBLE)
         |    ELSE ROUND(CAST(b - psat AS DOUBLE) / CAST(lt - k AS DOUBLE), 6) END)
         |    / CAST(b AS DOUBLE), 6) AS share
         |FROM st, cut
         |ORDER BY lang""".stripMargin),

    Query("q149_mixture_budget", mixtureBudgetPlan,
      s"""WITH tk0 AS (
         |  SELECT source, unnest(string_split($norm, ' ')) AS token FROM documents),
         |tk AS (SELECT * FROM tk0 WHERE length(token) > 0),
         |c AS (SELECT token, COUNT(*) AS cnt FROM tk GROUP BY 1),
         |tot AS (SELECT COUNT(*) AS total FROM tk),
         |g AS (
         |  SELECT source, COUNT(*) AS n_tokens,
         |    SUM(CAST(ROUND(ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)) * 1000000) AS BIGINT)) AS sm
         |  FROM tk JOIN c USING (token), tot GROUP BY 1),
         |a AS (
         |  SELECT source, n_tokens,
         |    CAST(sm AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * 1000000) AS avg_lp
         |  FROM g),
         |m AS (SELECT MAX(avg_lp) AS mx FROM a),
         |q AS (
         |  SELECT source, n_tokens,
         |    CAST(ROUND(exp((mx - avg_lp) / 0.5) * 1000000000) AS BIGINT) AS qm
         |  FROM a, m),
         |z AS (SELECT SUM(qm) AS z FROM q),
         |w AS (
         |  SELECT source, n_tokens,
         |    ROUND(CAST(qm AS DOUBLE) / CAST(z AS DOUBLE), 6) AS mixture_weight
         |  FROM q, z),
         |p AS (
         |  SELECT source, n_tokens, mixture_weight,
         |    CAST(FLOOR(mixture_weight * 1000000000) AS BIGINT) AS quota_tokens
         |  FROM w)
         |SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens, mixture_weight,
         |  quota_tokens,
         |  ROUND(CAST(quota_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS epochs,
         |  CAST(CASE WHEN quota_tokens > n_tokens THEN 1 ELSE 0 END AS BIGINT) AS oversampled
         |FROM p ORDER BY source""".stripMargin),

    Query("q150_rendezvous_shards", rendezvousRebalance,
      """WITH x AS (
        |  SELECT doc_id, s.s AS shard,
        |    CAST(concat('0x', substr(md5(concat_ws(':', doc_id, s.s)), 1, 8)) AS BIGINT) AS hw
        |  FROM documents, generate_series(0, 10) s(s)),
        |a10 AS (
        |  SELECT doc_id, shard AS s10 FROM (
        |    SELECT doc_id, shard,
        |      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hw DESC, shard) AS rn
        |    FROM x WHERE shard <= 9) WHERE rn = 1),
        |a11 AS (
        |  SELECT doc_id, shard AS s11 FROM (
        |    SELECT doc_id, shard,
        |      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hw DESC, shard) AS rn
        |    FROM x) WHERE rn = 1)
        |SELECT CAST(s11 AS BIGINT) AS shard, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN s10 <> s11 THEN 1 ELSE 0 END) AS BIGINT) AS n_moved_in
        |FROM a10 JOIN a11 USING (doc_id)
        |GROUP BY 1 ORDER BY shard""".stripMargin),

    Query("q151_lsh_recall", lshRecallAudit,
      s"""WITH $minhashCtes,
         |gt AS (
         |  SELECT doc_id, string_split($norm, ' ') AS w
         |  FROM documents WHERE doc_id < 200),
         |gsh AS (
         |  SELECT DISTINCT doc_id, s FROM (
         |    SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 2),
         |      i -> array_to_string(w[i:i+2], ' '))) AS s
         |    FROM gt WHERE len(w) >= 3) u),
         |gsz AS (SELECT doc_id, COUNT(*) AS n FROM gsh GROUP BY doc_id),
         |ginter AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS ni
         |  FROM gsh a JOIN gsh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |truth AS (
         |  SELECT a_id, b_id FROM ginter
         |  JOIN gsz sa ON a_id = sa.doc_id
         |  JOIN gsz sb ON b_id = sb.doc_id
         |  WHERE CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) >= 0.4),
         |cin AS (SELECT a_id, b_id FROM cand WHERE a_id < 200 AND b_id < 200),
         |h AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_hits
         |  FROM truth t JOIN cin c ON t.a_id = c.a_id AND t.b_id = c.b_id),
         |tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth),
         |cc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates FROM cin)
         |SELECT n_truth, n_candidates, n_hits,
         |  CASE WHEN n_truth = 0 THEN 0.0
         |    ELSE ROUND(CAST(n_hits AS DOUBLE) / CAST(n_truth AS DOUBLE), 6) END AS recall,
         |  CASE WHEN n_candidates = 0 THEN 0.0
         |    ELSE ROUND(CAST(n_hits AS DOUBLE) / CAST(n_candidates AS DOUBLE), 6) END AS precision
         |FROM tt, cc, h""".stripMargin),

    Query("q153_bootstrap_ci", bootstrapCi,
      """WITH x AS (
        |  SELECT b.b AS b, n_chars
        |  FROM documents, generate_series(0, 63) b(b)
        |  WHERE CAST(concat('0x', substr(md5(concat_ws(':', doc_id, b.b)), 1, 8)) AS BIGINT) % 100 < 50),
        |m AS (
        |  SELECT b,
        |    CAST(ROUND(CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9) AS DECIMAL(20,9)) AS m
        |  FROM x GROUP BY b),
        |agg AS (
        |  SELECT COUNT(*) AS n_replicas, SUM(m) AS s,
        |    SUM(CAST(m * m AS DECIMAL(38,18))) AS q
        |  FROM m)
        |SELECT CAST(n_replicas AS BIGINT) AS n_replicas,
        |  ROUND(CAST(s AS DOUBLE) / CAST(n_replicas AS DOUBLE), 6) AS mean_of_means,
        |  ROUND(SQRT((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) /
        |    CAST(n_replicas AS DOUBLE)) / CAST(n_replicas AS DOUBLE)), 6) AS sd_of_means
        |FROM agg""".stripMargin),

    Query("q157_kn_bigram", knBigramLogProb,
      s"""WITH w AS (
         |  SELECT doc_id, string_split($norm, ' ') AS ws FROM documents
         |  WHERE len(string_split($norm, ' ')) >= 2),
         |bi AS (
         |  SELECT doc_id, b['p'] AS p, b['c'] AS c FROM (
         |    SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 1),
         |      i -> struct_pack(p := ws[i], c := ws[i + 1]))) AS b
         |    FROM w)),
         |pc AS (SELECT p, c, COUNT(*) AS cpc FROM bi GROUP BY 1, 2),
         |cx AS (SELECT p, CAST(SUM(cpc) AS BIGINT) AS cp, COUNT(*) AS n1p FROM pc GROUP BY 1),
         |ct AS (SELECT c, COUNT(*) AS n1m FROM pc GROUP BY 1),
         |bt AS (SELECT COUNT(*) AS b FROM pc),
         |m AS (
         |  SELECT bi.doc_id,
         |    CAST(round(ln((greatest(CAST(pc.cpc AS DOUBLE) - 0.75, CAST(0 AS DOUBLE)) +
         |      0.75 * CAST(cx.n1p AS DOUBLE) * (CAST(ct.n1m AS DOUBLE) / CAST(bt.b AS DOUBLE))) /
         |      CAST(cx.cp AS DOUBLE)) * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS micro
         |  FROM bi JOIN pc USING (p, c) JOIN cx USING (p) JOIN ct USING (c), bt)
         |SELECT doc_id, COUNT(*) AS n_bigrams,
         |  CAST(SUM(micro) AS BIGINT) AS sum_micro_nats,
         |  ROUND(CAST(SUM(micro) AS DOUBLE) /
         |    (CAST(COUNT(*) AS DOUBLE) * CAST(1000000.0 AS DOUBLE)), 6) AS avg_logprob
         |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    Query("q158_dedup_sweep", dedupSweep,
      s"""WITH ${minhashBandCtesFrom("documents")},
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
         |    CAST(len(list_filter(generate_series(1, 32), i -> x.sig[i] = y.sig[i])) AS DOUBLE) / 32 AS est
         |  FROM banded x JOIN banded y
         |    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id),
         |bl AS (SELECT least(floor(est * 10), 9) / 10.0 AS band_lo FROM cand),
         |g AS (SELECT band_lo, COUNT(*) AS n_pairs FROM bl GROUP BY 1)
         |SELECT band_lo, n_pairs,
         |  CAST(SUM(n_pairs) OVER (ORDER BY band_lo DESC) AS BIGINT) AS cum_pairs
         |FROM g ORDER BY band_lo""".stripMargin),

    Query("q159_char_entropy", charEntropyProfile,
      s"""WITH t AS (
         |  SELECT doc_id, $norm AS nt FROM documents WHERE length($norm) > 0),
         |cx AS (
         |  SELECT doc_id, length(nt) AS L,
         |    list_transform(generate_series(1, length(nt)), i -> substr(nt, i, 1)) AS cs
         |  FROM t),
         |e AS (
         |  SELECT doc_id, L,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(list_distinct(cs), c ->
         |        CAST(round(-(CAST(len(list_filter(cs, x -> x = c)) AS DOUBLE) /
         |          CAST(L AS DOUBLE)) *
         |          ln(CAST(len(list_filter(cs, x -> x = c)) AS DOUBLE) /
         |          CAST(L AS DOUBLE)) *
         |          CAST(1000000000.0 AS DOUBLE)) AS BIGINT))),
         |      (acc, x) -> acc + x) AS nano
         |  FROM cx)
         |SELECT doc_id, CAST(L AS BIGINT) AS n_chars,
         |  ROUND(CAST(nano AS DOUBLE) / CAST(1000000000.0 AS DOUBLE), 6) AS entropy_nats
         |FROM e ORDER BY doc_id""".stripMargin),

    Query("q161_windowed_quantiles", windowedQuantilesQuery,
      """WITH b AS (
        |  SELECT CAST(FLOOR(epoch(ts)/3600)*3600 AS BIGINT) AS window_epoch, event_type,
        |    least(greatest(CAST(floor((value - 0.0) / 500.0 * 100) AS BIGINT), 0), 99) AS bin
        |  FROM events),
        |g AS (SELECT window_epoch, event_type, bin, COUNT(*) AS n FROM b GROUP BY 1, 2, 3),
        |c AS (
        |  SELECT g.*,
        |    COALESCE(SUM(n) OVER (PARTITION BY window_epoch, event_type ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb,
        |    SUM(n) OVER (PARTITION BY window_epoch, event_type) AS nn
        |  FROM g),
        |qs AS (SELECT unnest([CAST(0.5 AS DOUBLE), 0.95]) AS p),
        |q AS (SELECT c.*, p FROM c, qs),
        |r AS (
        |  SELECT window_epoch, event_type, p, bin, n, cumb, nn,
        |    CAST(ceil(p * nn) AS BIGINT) AS needed
        |  FROM q)
        |SELECT window_epoch, event_type, p,
        |  ROUND(0.0 + 5.0 * (bin + CAST(needed - cumb AS DOUBLE) / n), 6) AS est,
        |  CAST(nn AS BIGINT) AS n
        |FROM r WHERE cumb < needed AND needed <= cumb + n
        |ORDER BY window_epoch, event_type, p""".stripMargin),

    Query("q167_backoff_trigram", backoffTrigram, backoffTrigramOracle),
    Query("q168_lm_index_score", lmIndexScore, backoffTrigramOracle),
    Query("q170_lm_index_append", lmIndexAppendScore, backoffTrigramOracle),
    Query("q180_lm_compact", lmIndexCompactScore, backoffTrigramOracle),
    Query("q186_lm_time_travel", lmTimeTravelScore,
      backoffTrigramOracle("doc_id % 10 <> 0 AND doc_id < 250")),
    Query("q187_annotator_kappa", annotatorKappa,
      s"""WITH $langIdPredCtes,
         |cells AS (
         |  SELECT lang AS a, predicted AS b, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM p GROUP BY 1, 2),
         |tot AS (
         |  SELECT CAST(SUM(n) AS BIGINT) AS n_total,
         |    CAST(COALESCE(SUM(CASE WHEN a = b THEN n END), 0) AS BIGINT) AS agree
         |  FROM cells),
         |ma AS (SELECT a, CAST(SUM(n) AS BIGINT) AS na FROM cells GROUP BY a),
         |mb AS (SELECT b, CAST(SUM(n) AS BIGINT) AS nb FROM cells GROUP BY b),
         |sx AS (
         |  SELECT CAST(COALESCE(SUM(na * nb), 0) AS BIGINT) AS s
         |  FROM ma JOIN mb ON ma.a = mb.b)
         |SELECT n_total AS n, agree,
         |  ROUND(CAST(agree AS DOUBLE) / CAST(n_total AS DOUBLE), 6) AS po,
         |  ROUND(CAST(s AS DOUBLE) /
         |    (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)), 6) AS pe,
         |  CASE WHEN n_total * n_total - s = 0 THEN CAST(1.0 AS DOUBLE)
         |    ELSE ROUND(CAST(n_total * agree - s AS DOUBLE) /
         |      CAST(n_total * n_total - s AS DOUBLE), 6) + 0.0 END AS kappa
         |FROM tot, sx""".stripMargin),
    Query("q189_langid_report", langIdReport,
      s"""WITH $langIdPredCtes,
         |cells AS (
         |  SELECT lang AS a, predicted AS b, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM p GROUP BY 1, 2),
         |tr AS (SELECT a AS class, CAST(SUM(n) AS BIGINT) AS n_true FROM cells GROUP BY a),
         |pr AS (SELECT b AS class, CAST(SUM(n) AS BIGINT) AS n_pred FROM cells GROUP BY b),
         |tpx AS (SELECT a AS class, n AS tp FROM cells WHERE a = b),
         |pc AS (
         |  SELECT COALESCE(tr.class, pr.class) AS class,
         |    CAST(COALESCE(n_true, 0) AS BIGINT) AS n_true,
         |    CAST(COALESCE(n_pred, 0) AS BIGINT) AS n_pred,
         |    CAST(COALESCE(tp, 0) AS BIGINT) AS tp
         |  FROM tr FULL JOIN pr ON tr.class = pr.class
         |  LEFT JOIN tpx ON COALESCE(tr.class, pr.class) = tpx.class),
         |pm AS (
         |  SELECT *, CAST(ROUND(2e6 * CAST(tp AS DOUBLE) /
         |    CAST(n_true + n_pred AS DOUBLE)) AS BIGINT) AS f1m
         |  FROM pc),
         |mac AS (
         |  SELECT COUNT(*) AS k, CAST(SUM(f1m) AS BIGINT) AS fsum FROM pm)
         |SELECT class, n_true, n_pred, tp,
         |  ROUND(CASE WHEN n_pred > 0 THEN CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE)
         |    ELSE CAST(0.0 AS DOUBLE) END, 6) AS precision,
         |  ROUND(CASE WHEN n_true > 0 THEN CAST(tp AS DOUBLE) / CAST(n_true AS DOUBLE)
         |    ELSE CAST(0.0 AS DOUBLE) END, 6) AS recall,
         |  ROUND(CAST(f1m AS DOUBLE) / 1e6, 6) AS f1,
         |  ROUND(CAST(fsum AS DOUBLE) / (CAST(k AS DOUBLE) * 1e6), 6) AS macro_f1
         |FROM pm, mac
         |ORDER BY class""".stripMargin),
    Query("q192_filter_funnel", filterFunnelQuery,
      s"""WITH $funnelGateCtes,
         |fr AS (
         |  SELECT CASE WHEN g_keep = 0 THEN 0 WHEN b_keep = 0 THEN 1
         |    WHEN predicted = 'und' THEN 2 ELSE 3 END AS stage
         |  FROM sig),
         |cnt AS (SELECT stage, CAST(COUNT(*) AS BIGINT) AS rej FROM fr GROUP BY 1),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM fr),
         |gg(stage, gate) AS (VALUES (0, 'gopher'), (1, 'blocklist'), (2, 'langid')),
         |j AS (
         |  SELECT gg.stage, gg.gate, CAST(COALESCE(c.rej, 0) AS BIGINT) AS n_rejected
         |  FROM gg LEFT JOIN cnt c USING (stage)),
         |k2 AS (
         |  SELECT stage, gate, n_rejected,
         |    t - CAST(COALESCE(SUM(n_rejected) OVER (ORDER BY stage
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_in
         |  FROM j, tot)
         |SELECT CAST(stage AS BIGINT) AS stage, gate, n_in, n_rejected,
         |  n_in - n_rejected AS n_out,
         |  ROUND(CASE WHEN n_in > 0 THEN CAST(n_rejected AS DOUBLE) / CAST(n_in AS DOUBLE)
         |    ELSE CAST(0.0 AS DOUBLE) END, 6) AS reject_share
         |FROM k2 ORDER BY stage""".stripMargin),
    Query("q181_bpe_encode", bpeEncodeQuery,
      s"""WITH $bpeBatchedCtes,
         |$bpeEncodeCtes
         |SELECT doc_id, CAST(len(tids) AS BIGINT) AS n_tokens,
         |  array_to_string(list_transform(tids, x -> CAST(x AS VARCHAR)), '_') AS tokens_str
         |FROM enc ORDER BY doc_id""".stripMargin),
    Query("q188_bpe_roundtrip", bpeRoundtrip,
      s"""WITH $bpeBatchedCtes,
         |$bpeEncodeCtes,
         |dx AS (
         |  SELECT doc_id, n_tokens, p, tid FROM (
         |    SELECT doc_id, len(tids) AS n_tokens,
         |      unnest(generate_series(1, len(tids))) AS p,
         |      unnest(tids) AS tid
         |    FROM enc)),
         |dec AS (
         |  SELECT doc_id, CAST(MIN(n_tokens) AS BIGINT) AS n_tokens,
         |    string_agg(sub, '' ORDER BY p) AS decoded
         |  FROM dx JOIN vocab ON vocab.tok_id = dx.tid
         |  GROUP BY doc_id),
         |ref AS (
         |  SELECT doc_id, replace($norm, ' ', '') AS r FROM documents)
         |SELECT dec.doc_id, n_tokens,
         |  CAST(length(decoded) AS BIGINT) AS n_chars,
         |  CAST(CASE WHEN decoded = r THEN 1 ELSE 0 END AS BIGINT) AS ok
         |FROM dec JOIN ref USING (doc_id)
         |ORDER BY doc_id""".stripMargin),
    Query("q182_bpe_packing", bpePacking,
      s"""WITH $bpeBatchedCtes,
         |$bpeEncodeCtes,
         |tt AS (
         |  SELECT d.doc_id, d.lang, CAST(len(e.tids) AS BIGINT) AS n_tokens
         |  FROM documents d JOIN enc e USING (doc_id)),
         |cc AS (
         |  SELECT doc_id, lang, n_tokens,
         |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
         |  FROM tt)
         |SELECT doc_id, lang, n_tokens,
         |  cum // 256 AS seq_id, cum % 256 AS tok_offset
         |FROM cc ORDER BY lang, doc_id""".stripMargin),
    Query("q165_novelty_curve", noveltyCurve,
      s"""WITH fps AS (
         |  SELECT source, md5($norm) AS fp FROM documents),
         |ps AS (
         |  SELECT source, COUNT(*) AS n_docs,
         |    COUNT(DISTINCT fp) AS n_distinct_fps
         |  FROM fps GROUP BY 1),
         |fsrc AS (
         |  SELECT source, COUNT(*) AS n_novel FROM (
         |    SELECT fp, MIN(source) AS source FROM fps GROUP BY 1)
         |  GROUP BY 1)
         |SELECT ps.source, ps.n_docs, ps.n_distinct_fps,
         |  COALESCE(f.n_novel, 0) AS n_novel,
         |  CAST(SUM(COALESCE(f.n_novel, 0)) OVER (ORDER BY ps.source) AS BIGINT) AS cum_novel,
         |  ROUND(CAST(COALESCE(f.n_novel, 0) AS DOUBLE) / ps.n_distinct_fps, 6) AS novelty_rate
         |FROM ps LEFT JOIN fsrc f USING (source)
         |ORDER BY ps.source""".stripMargin),

    Query("q164_triplet_mining", tripletMining,
      s"""WITH $minhashCtes,
         |pool AS (
         |  SELECT doc_id AS neg_id FROM documents
         |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 100),
         |x AS (
         |  SELECT c.a_id, c.b_id, c.est, p.neg_id,
         |    md5(CAST(c.a_id AS VARCHAR) || ':' || CAST(p.neg_id AS VARCHAR)) AS nk
         |  FROM cand c, pool p
         |  WHERE p.neg_id <> c.a_id AND p.neg_id <> c.b_id),
         |r AS (
         |  SELECT x.*, ROW_NUMBER() OVER (PARTITION BY a_id, b_id ORDER BY nk, neg_id) AS rn
         |  FROM x)
         |SELECT a_id AS anchor_id, b_id AS pos_id, neg_id,
         |  ROUND(est, 6) AS est_jaccard
         |FROM r WHERE rn = 1 ORDER BY anchor_id, pos_id""".stripMargin),

    Query("q162_shard_prep", shardPrep,
      s"""WITH nt AS (
         |  SELECT doc_id, lang, $norm AS nrm FROM documents),
         |keep AS (
         |  SELECT doc_id, lang, nrm FROM nt
         |  WHERE len(list_filter(string_split(nrm, ' '),
         |    t -> list_contains(['big', 'slow'], t))) = 0),
         |fp AS (SELECT md5(nrm) AS f, MIN(doc_id) AS doc_id FROM keep GROUP BY 1),
         |surv AS (
         |  SELECT k.doc_id, k.lang,
         |    CAST(len(string_split(k.nrm, ' ')) AS BIGINT) AS n_tokens
         |  FROM keep k JOIN fp USING (doc_id)),
         |c AS (
         |  SELECT doc_id, lang, n_tokens,
         |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
         |  FROM surv)
         |SELECT lang, cum // 256 AS seq_id, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
         |FROM c GROUP BY 1, 2 ORDER BY lang, seq_id""".stripMargin),

    Query("q160_blocklist_gate", blocklistGate,
      s"""WITH w AS (
         |  SELECT doc_id, string_split($norm, ' ') AS ws FROM documents)
         |SELECT doc_id,
         |  CAST(len(list_filter(ws, t -> length(t) > 0)) AS BIGINT) AS n_tokens,
         |  CAST(len(list_filter(ws, t -> list_contains(['big', 'broken', 'slow'], t))) AS BIGINT) AS n_hits,
         |  CASE WHEN len(list_filter(ws, t -> list_contains(['big', 'broken', 'slow'], t))) = 0
         |    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS keep
         |FROM w ORDER BY doc_id""".stripMargin),

    // q215: the q177 classifier + gopher replays thresholded to paired
    // gates, exact off-diagonal cells, continuity-corrected statistic
    Query("q215_mcnemar", gateMcnemar,
      s"""WITH $classifierPredCtes,
         |$gopherLabCtes,
         |j AS (
         |  SELECT CASE WHEN l.keep = 1 THEN 1 ELSE 0 END AS a,
         |    CASE WHEN p.conf >= CAST(0.5 AS DOUBLE) THEN 1 ELSE 0 END AS b
         |  FROM lab l JOIN pred p USING (doc_id)),
         |c AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(a * b) AS BIGINT) AS both_pass,
         |    CAST(SUM(a * (1 - b)) AS BIGINT) AS only_a,
         |    CAST(SUM((1 - a) * b) AS BIGINT) AS only_b,
         |    CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS neither
         |  FROM j)
         |SELECT n, both_pass, only_a, only_b, neither,
         |  CASE WHEN only_a + only_b = 0 OR abs(only_a - only_b) - 1 <= 0
         |    THEN CAST(0.0 AS DOUBLE)
         |    ELSE ROUND(CAST((abs(only_a - only_b) - 1) *
         |        (abs(only_a - only_b) - 1) AS DOUBLE) /
         |      CAST(only_a + only_b AS DOUBLE), 6) END AS chi2
         |FROM c""".stripMargin),

    // q219: the q177 binning extended with prefix sums, bins^2 segment
    // means and the bins^3 PAV minimax lattice, before/after ECE
    Query("q219_isotonic", isotonicAudit,
      s"""WITH $classifierPredCtes,
         |$gopherLabCtes,
         |j AS (
         |  SELECT p.doc_id, CAST(round(p.conf * 1e6) AS BIGINT) AS cm, l.keep
         |  FROM pred p JOIN lab l USING (doc_id)),
         |pb AS (
         |  SELECT LEAST((cm * 10) // 1000000, 9) AS bin,
         |    CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(cm) AS BIGINT) AS sc,
         |    CAST(SUM(keep) AS BIGINT) AS sp
         |  FROM j GROUP BY 1),
         |pfx AS (
         |  SELECT bin, n_docs, sc, sp,
         |    CAST(SUM(n_docs) OVER (ORDER BY bin) AS BIGINT) AS pn,
         |    CAST(SUM(sp) OVER (ORDER BY bin) AS BIGINT) AS psl
         |  FROM pb),
         |js AS (
         |  SELECT bin AS bj,
         |    CAST(COALESCE(LAG(pn) OVER (ORDER BY bin), 0) AS BIGINT) AS pn0,
         |    CAST(COALESCE(LAG(psl) OVER (ORDER BY bin), 0) AS BIGINT) AS psl0
         |  FROM pfx),
         |seg AS (
         |  SELECT js.bj, k.bin AS bk,
         |    CAST(round(CAST(k.psl - js.psl0 AS DOUBLE) /
         |      CAST(k.pn - js.pn0 AS DOUBLE) * 1e6) AS BIGINT) AS m
         |  FROM js JOIN pfx k ON js.bj <= k.bin),
         |mm AS (
         |  SELECT i.bin AS bi, s.bj, MIN(s.m) AS mn
         |  FROM seg s JOIN pb i ON s.bj <= i.bin AND i.bin <= s.bk
         |  GROUP BY 1, 2),
         |iso AS (
         |  SELECT bi AS bin, CAST(MAX(mn) AS BIGINT) AS iso_micro
         |  FROM mm GROUP BY 1),
         |bo AS (
         |  SELECT pb.bin, pb.n_docs, pb.sc, iso.iso_micro,
         |    CAST(round(CAST(pb.sp AS DOUBLE) / CAST(pb.n_docs AS DOUBLE) * 1e6)
         |      AS BIGINT) AS fp_micro,
         |    abs(CAST(round(CAST(pb.sc AS DOUBLE) / CAST(pb.n_docs AS DOUBLE))
         |        AS BIGINT) -
         |      CAST(round(CAST(pb.sp AS DOUBLE) / CAST(pb.n_docs AS DOUBLE) * 1e6)
         |        AS BIGINT)) AS gap0,
         |    abs(iso.iso_micro -
         |      CAST(round(CAST(pb.sp AS DOUBLE) / CAST(pb.n_docs AS DOUBLE) * 1e6)
         |        AS BIGINT)) AS gap1
         |  FROM pb JOIN iso USING (bin)),
         |tot AS (
         |  SELECT CAST(SUM(n_docs) AS BIGINT) AS n,
         |    CAST(SUM(gap0 * n_docs) AS BIGINT) AS g0,
         |    CAST(SUM(gap1 * n_docs) AS BIGINT) AS g1
         |  FROM bo)
         |SELECT CAST(bo.bin AS BIGINT) AS bin, bo.n_docs,
         |  ROUND(CAST(bo.sc AS DOUBLE) / (CAST(bo.n_docs AS DOUBLE) * 1e6), 6) AS mean_conf,
         |  ROUND(CAST(bo.fp_micro AS DOUBLE) / 1e6, 6) AS frac_pos,
         |  ROUND(CAST(bo.iso_micro AS DOUBLE) / 1e6, 6) AS iso_fit,
         |  ROUND(CAST(tot.g0 AS DOUBLE) / (CAST(tot.n AS DOUBLE) * 1e6), 6) AS ece_before,
         |  ROUND(CAST(tot.g1 AS DOUBLE) / (CAST(tot.n AS DOUBLE) * 1e6), 6) AS ece_after
         |FROM bo, tot ORDER BY bin""".stripMargin),

    // q220: dense (cell x language) completion, exact common-denominator
    // integer deviations |ncv*N - gv*nc|, worst-cell TVD per source
    Query("q220_t_closeness", tCloseness,
      """WITH v AS (
        |  SELECT source, CAST(FLOOR(n_chars / 100) AS BIGINT) AS len_bucket,
        |    lang, CAST(COUNT(*) AS BIGINT) AS ncv
        |  FROM documents GROUP BY 1, 2, 3),
        |g AS (SELECT lang, CAST(SUM(ncv) AS BIGINT) AS gv FROM v GROUP BY 1),
        |nt AS (SELECT CAST(SUM(ncv) AS BIGINT) AS n FROM v),
        |ct AS (
        |  SELECT source, len_bucket, CAST(SUM(ncv) AS BIGINT) AS nc
        |  FROM v GROUP BY 1, 2),
        |dd AS (
        |  SELECT ct.source, ct.len_bucket, ct.nc,
        |    abs(CAST(COALESCE(v.ncv, 0) AS HUGEINT) * nt.n -
        |      CAST(g.gv AS HUGEINT) * ct.nc) AS dev
        |  FROM ct CROSS JOIN g
        |  LEFT JOIN v ON v.source = ct.source AND v.len_bucket = ct.len_bucket
        |    AND v.lang = g.lang, nt),
        |cells AS (
        |  SELECT source, len_bucket, MAX(nc) AS nc, SUM(dev) AS devsum
        |  FROM dd GROUP BY 1, 2),
        |tv AS (
        |  SELECT source, len_bucket, nc,
        |    CAST(round(CAST(devsum AS DOUBLE) /
        |      (CAST(2.0 AS DOUBLE) * CAST(nc AS DOUBLE) * CAST(nt.n AS DOUBLE))
        |      * 1e6) AS BIGINT) AS tvd_micro
        |  FROM cells, nt)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_cells,
        |  ROUND(CAST(MAX(tvd_micro) AS DOUBLE) / 1e6, 6) AS t_max,
        |  CAST(SUM(CASE WHEN tvd_micro > 200000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_risky_cells,
        |  CAST(SUM(CASE WHEN tvd_micro > 200000 THEN nc ELSE 0 END) AS BIGINT)
        |    AS n_risky_rows
        |FROM tv GROUP BY 1 ORDER BY 1""".stripMargin),

    // q221: count-of-counts over the corpus vocabulary, r* donor join on
    // r+1, missing mass N1/N on every row
    Query("q221_good_turing", goodTuringReadout,
      s"""WITH tk AS (
         |  SELECT unnest(string_split($norm, ' ')) AS t FROM documents),
         |w AS (SELECT t FROM tk WHERE length(t) > 0),
         |wc AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS r FROM w GROUP BY 1),
         |coc AS (SELECT r, CAST(COUNT(*) AS BIGINT) AS n_words FROM wc GROUP BY 1),
         |tot AS (
         |  SELECT CAST(SUM(r * n_words) AS BIGINT) AS n,
         |    CAST(COALESCE(SUM(CASE WHEN r = 1 THEN n_words END), 0) AS BIGINT) AS n1
         |  FROM coc),
         |nxt AS (SELECT r - 1 AS r, n_words AS n_next FROM coc)
         |SELECT c.r, c.n_words,
         |  CASE WHEN nxt.n_next IS NULL THEN CAST(0.0 AS DOUBLE)
         |    ELSE ROUND(CAST(c.r + 1 AS DOUBLE) * CAST(nxt.n_next AS DOUBLE) /
         |      CAST(c.n_words AS DOUBLE), 6) END AS r_star,
         |  CASE WHEN nxt.n_next IS NULL THEN CAST(0.0 AS DOUBLE)
         |    ELSE ROUND(CAST(c.r + 1 AS DOUBLE) * CAST(nxt.n_next AS DOUBLE) /
         |      (CAST(c.n_words AS DOUBLE) * CAST(tot.n AS DOUBLE)), 6) END AS p_word,
         |  ROUND(CAST(tot.n1 AS DOUBLE) / CAST(tot.n AS DOUBLE), 6) AS missing_mass,
         |  tot.n AS total_tokens
         |FROM coc c LEFT JOIN nxt USING (r), tot
         |WHERE c.r IN (SELECT r FROM coc ORDER BY r LIMIT 10)
         |ORDER BY c.r""".stripMargin),

    // q222: distinct (doc, token) presence cells vs lang='en', four
    // nano-quantized MI terms, top-25 on (mi_nano, token)
    Query("q222_token_label_mi", tokenLabelMiTop,
      s"""WITH tk AS (
         |  SELECT doc_id, unnest(string_split($norm, ' ')) AS token FROM documents),
         |dt AS (SELECT DISTINCT doc_id, token FROM tk WHERE length(token) > 0),
         |lb AS (
         |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
         |  FROM documents),
         |tot AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(y) AS BIGINT) AS n1
         |  FROM lb),
         |pt AS (
         |  SELECT dt.token, CAST(COUNT(*) AS BIGINT) AS df,
         |    CAST(SUM(lb.y) AS BIGINT) AS n11
         |  FROM dt JOIN lb USING (doc_id) GROUP BY 1),
         |mi AS (
         |  SELECT token, df, n11,
         |    (CASE WHEN n11 = 0 THEN 0
         |      ELSE CAST(round((CAST(n11 AS DOUBLE) / CAST(tot.nd AS DOUBLE)) *
         |        ln(CAST(tot.nd AS DOUBLE) * CAST(n11 AS DOUBLE) /
         |          (CAST(df AS DOUBLE) * CAST(tot.n1 AS DOUBLE))) * 1e9) AS BIGINT) END
         |     + CASE WHEN df - n11 = 0 THEN 0
         |      ELSE CAST(round((CAST(df - n11 AS DOUBLE) / CAST(tot.nd AS DOUBLE)) *
         |        ln(CAST(tot.nd AS DOUBLE) * CAST(df - n11 AS DOUBLE) /
         |          (CAST(df AS DOUBLE) * CAST(tot.nd - tot.n1 AS DOUBLE))) * 1e9) AS BIGINT) END
         |     + CASE WHEN tot.n1 - n11 = 0 THEN 0
         |      ELSE CAST(round((CAST(tot.n1 - n11 AS DOUBLE) / CAST(tot.nd AS DOUBLE)) *
         |        ln(CAST(tot.nd AS DOUBLE) * CAST(tot.n1 - n11 AS DOUBLE) /
         |          (CAST(tot.nd - df AS DOUBLE) * CAST(tot.n1 AS DOUBLE))) * 1e9) AS BIGINT) END
         |     + CASE WHEN tot.nd - tot.n1 - (df - n11) = 0 THEN 0
         |      ELSE CAST(round((CAST(tot.nd - tot.n1 - (df - n11) AS DOUBLE) / CAST(tot.nd AS DOUBLE)) *
         |        ln(CAST(tot.nd AS DOUBLE) * CAST(tot.nd - tot.n1 - (df - n11) AS DOUBLE) /
         |          (CAST(tot.nd - df AS DOUBLE) * CAST(tot.nd - tot.n1 AS DOUBLE))) * 1e9) AS BIGINT) END
         |    ) AS mi_nano
         |  FROM pt, tot WHERE df >= 5)
         |SELECT token, df, n11,
         |  ROUND(CAST(mi_nano AS DOUBLE) / 1e9, 6) + 0.0 AS mi
         |FROM mi ORDER BY mi_nano DESC, token LIMIT 25""".stripMargin),

    // q223: exact per-stratum moments over micro-quantized lengths,
    // sigma micro-quantization, proportional vs Neyman budgets
    Query("q223_neyman", neymanBudget,
      """WITH s AS (
        |  SELECT source AS stratum, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    SUM(CAST(CAST(round(CAST(n_chars AS DOUBLE) * 1e6) AS BIGINT) AS HUGEINT)) AS sv,
        |    SUM(CAST(CAST(round(CAST(n_chars AS DOUBLE) * 1e6) AS BIGINT) AS HUGEINT) *
        |        CAST(round(CAST(n_chars AS DOUBLE) * 1e6) AS BIGINT)) AS sv2
        |  FROM documents GROUP BY 1),
        |m AS (
        |  SELECT stratum, n_rows,
        |    CAST(round(sqrt(GREATEST(
        |      (CAST(sv2 AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) /
        |        CAST(n_rows AS DOUBLE)) / CAST(n_rows AS DOUBLE),
        |      CAST(0.0 AS DOUBLE)))) AS BIGINT) AS sig_micro
        |  FROM s),
        |w AS (
        |  SELECT stratum, n_rows, sig_micro,
        |    CAST(n_rows AS HUGEINT) * sig_micro AS wgt
        |  FROM m),
        |tot AS (SELECT SUM(wgt) AS wt, CAST(SUM(n_rows) AS BIGINT) AS nt FROM w)
        |SELECT stratum, n_rows,
        |  ROUND(CAST(sig_micro AS DOUBLE) / 1e6, 6) AS sigma,
        |  ROUND(CAST(n_rows AS DOUBLE) / CAST(tot.nt AS DOUBLE), 6) AS share_prop,
        |  LEAST(n_rows, CAST(round(CAST(1000 AS DOUBLE) * CAST(n_rows AS DOUBLE) /
        |    CAST(tot.nt AS DOUBLE)) AS BIGINT)) AS alloc_prop,
        |  CASE WHEN tot.wt = 0 THEN CAST(0 AS BIGINT)
        |    ELSE LEAST(n_rows, CAST(round(CAST(1000 AS DOUBLE) * CAST(wgt AS DOUBLE) /
        |      CAST(tot.wt AS DOUBLE)) AS BIGINT)) END AS alloc_neyman
        |FROM w, tot ORDER BY stratum""".stripMargin),

    // q224: the q140 candidate edges, exact integer degree moments over
    // both orientations, Newman's ratio
    Query("q224_assortativity", nearDupAssortativity,
      s"""WITH $minhashCtes,
         |e AS (
         |  SELECT DISTINCT LEAST(a_id, b_id) AS a, GREATEST(a_id, b_id) AS b
         |  FROM cand WHERE a_id <> b_id),
         |deg AS (
         |  SELECT id, CAST(COUNT(*) AS BIGINT) AS deg
         |  FROM (SELECT a AS id FROM e UNION ALL SELECT b FROM e) GROUP BY id),
         |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg),
         |wd AS (
         |  SELECT da.deg AS du, db.deg AS dv
         |  FROM e JOIN deg da ON da.id = e.a JOIN deg db ON db.id = e.b),
         |s AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
         |    SUM(CAST(du + dv AS HUGEINT)) AS sx,
         |    SUM(CAST(du AS HUGEINT) * dv) AS sxy,
         |    SUM(CAST(du AS HUGEINT) * du + CAST(dv AS HUGEINT) * dv) AS sxx
         |  FROM wd)
         |SELECT nn.n_nodes, s.n_edges,
         |  CASE WHEN s.n_edges = 0 OR
         |      CAST(s.sxx AS DOUBLE) / (CAST(2.0 AS DOUBLE) * CAST(s.n_edges AS DOUBLE)) -
         |      (CAST(s.sx AS DOUBLE) / (CAST(2.0 AS DOUBLE) * CAST(s.n_edges AS DOUBLE))) *
         |      (CAST(s.sx AS DOUBLE) / (CAST(2.0 AS DOUBLE) * CAST(s.n_edges AS DOUBLE))) <= 0
         |    THEN CAST(0.0 AS DOUBLE)
         |    ELSE ROUND(
         |      (CAST(s.sxy AS DOUBLE) / CAST(s.n_edges AS DOUBLE) -
         |       (CAST(s.sx AS DOUBLE) / (CAST(2.0 AS DOUBLE) * CAST(s.n_edges AS DOUBLE))) *
         |       (CAST(s.sx AS DOUBLE) / (CAST(2.0 AS DOUBLE) * CAST(s.n_edges AS DOUBLE)))) /
         |      (CAST(s.sxx AS DOUBLE) / (CAST(2.0 AS DOUBLE) * CAST(s.n_edges AS DOUBLE)) -
         |       (CAST(s.sx AS DOUBLE) / (CAST(2.0 AS DOUBLE) * CAST(s.n_edges AS DOUBLE))) *
         |       (CAST(s.sx AS DOUBLE) / (CAST(2.0 AS DOUBLE) * CAST(s.n_edges AS DOUBLE)))), 6)
         |  END AS assortativity
         |FROM nn, s""".stripMargin),

    // q225: positional 8-gram codes, the q77 split, hit positions via the
    // broadcast-set join, islands (pos - row_number) run arithmetic
    Query("q225_contamination_runs", contaminationRunsReport,
      s"""WITH t AS (SELECT doc_id, string_split($norm, ' ') AS w FROM documents),
         |hh AS (
         |  SELECT doc_id, list_transform(w, tk -> ${duckFold("tk", graft.expr.DedupKernel.B1)}) AS h
         |  FROM t),
         |gl AS (
         |  SELECT doc_id, list_transform(generate_series(1, len(h) - 7), i -> ${ngramChain(8)}) AS g
         |  FROM hh WHERE len(h) >= 8),
         |b AS (SELECT doc_id, $bucketExpr AS bucket FROM documents),
         |ev AS (
         |  SELECT DISTINCT unnest(g) AS code
         |  FROM gl JOIN b USING (doc_id) WHERE b.bucket >= 90),
         |tr AS (
         |  SELECT gl.doc_id, unnest(generate_series(1, len(g))) AS pos,
         |    unnest(g) AS code
         |  FROM gl JOIN b USING (doc_id) WHERE b.bucket < 80),
         |h2 AS (SELECT tr.doc_id, tr.pos FROM tr JOIN ev USING (code)),
         |isl AS (
         |  SELECT doc_id, pos,
         |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |  FROM h2),
         |runs AS (
         |  SELECT doc_id, grp, CAST(COUNT(*) AS BIGINT) AS run
         |  FROM isl GROUP BY 1, 2)
         |SELECT doc_id, CAST(SUM(run) AS BIGINT) AS n_hits,
         |  CAST(COUNT(*) AS BIGINT) AS n_runs,
         |  CAST(MAX(run) AS BIGINT) AS max_run,
         |  CAST(MAX(run) + 7 AS BIGINT) AS max_token_span
         |FROM runs GROUP BY 1 ORDER BY doc_id""".stripMargin),
    // q226: unrolled 2-core peeling — every round recomputes degrees on
    // the remaining edges and drops sub-2 nodes; rounds past the
    // fixpoint are no-ops, so 12 unrolls ≡ the Spark op's converged
    // fixpoint (which THROWS if it needs more than its matching
    // maxRounds=12 — a mismatch can't pass silently)
    Query("q226_kcore", nearDupKCore, {
      // MATERIALIZED: each round is referenced by the next round's
      // degree count, filter and NOT IN probes — inlining would expand
      // e12 into an exponential tree of base-table scans
      def peel(r: Int): String =
        s"""d$r AS MATERIALIZED (
           |  SELECT id, CAST(COUNT(*) AS BIGINT) AS deg FROM (
           |    SELECT a AS id FROM e${r - 1} UNION ALL SELECT b FROM e${r - 1})
           |  GROUP BY 1),
           |e$r AS MATERIALIZED (
           |  SELECT a, b FROM e${r - 1}
           |  WHERE a NOT IN (SELECT id FROM d$r WHERE deg < 2)
           |    AND b NOT IN (SELECT id FROM d$r WHERE deg < 2))""".stripMargin
      s"""WITH $minhashCtes,
         |e0 AS MATERIALIZED (
         |  SELECT DISTINCT LEAST(a_id, b_id) AS a, GREATEST(a_id, b_id) AS b
         |  FROM cand WHERE a_id <> b_id),
         |${(1 to 12).map(peel).mkString(",\n")}
         |SELECT id AS doc_id, CAST(COUNT(*) AS BIGINT) AS deg FROM (
         |  SELECT a AS id FROM e12 UNION ALL SELECT b FROM e12)
         |GROUP BY 1 ORDER BY doc_id""".stripMargin
    }),
    // q227: the q108 PageRank iteration replayed verbatim on the
    // adjacent-token bigram graph with token-STRING node ids
    Query("q227_textrank", textRankTop, {
      def iter(k: Int): String =
        s"""c$k AS (
           |  SELECT a.dst, CAST(SUM(r.r // d.deg) AS BIGINT) AS sc
           |  FROM adj a JOIN r${k - 1} r ON a.src = r.id JOIN deg d ON a.src = d.src
           |  GROUP BY 1),
           |r$k AS (
           |  SELECT d.src AS id,
           |    (3000000000000 // (20 * nn.n)) + (85 * COALESCE(c.sc, 0)) // 100 AS r
           |  FROM deg d CROSS JOIN nn LEFT JOIN c$k c ON d.src = c.dst)""".stripMargin
      s"""WITH w AS (SELECT string_split($norm, ' ') AS ws FROM documents),
         |bgp AS MATERIALIZED (
         |  SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
         |    i -> {'a': ws[i], 'b': ws[i + 1]})) AS p
         |  FROM w),
         |adj AS MATERIALIZED (
         |  SELECT DISTINCT p['a'] AS src, p['b'] AS dst FROM bgp
         |  WHERE p['a'] <> p['b'] AND len(p['a']) > 0 AND len(p['b']) > 0
         |  UNION
         |  SELECT p['b'], p['a'] FROM bgp
         |  WHERE p['a'] <> p['b'] AND len(p['a']) > 0 AND len(p['b']) > 0),
         |deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM adj GROUP BY 1),
         |nn AS (SELECT COUNT(*) AS n FROM deg),
         |r0 AS (SELECT src AS id, 1000000000000 // n AS r FROM deg, nn),
         |${iter(1)},
         |${iter(2)},
         |${iter(3)}
         |SELECT r3.id AS token, r3.r AS pr_micro, d.deg
         |FROM r3 JOIN deg d ON r3.id = d.src
         |ORDER BY pr_micro DESC, token ASC LIMIT 25""".stripMargin
    }),
    // q229: independent pass counts over the q192 gate replays, the
    // (n_pass, gate) ordering, and the est recurrence unrolled per stage
    Query("q229_gate_plan", gatePlanQuery,
      s"""WITH $funnelGateCtes,
         |fl AS (
         |  SELECT g_keep, b_keep,
         |    CASE WHEN predicted <> 'und' THEN 1 ELSE 0 END AS l_keep
         |  FROM sig),
         |m AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(g_keep) AS BIGINT) AS p0,
         |    CAST(SUM(b_keep) AS BIGINT) AS p1,
         |    CAST(SUM(l_keep) AS BIGINT) AS p2,
         |    CAST(SUM(g_keep * b_keep * l_keep) AS BIGINT) AS joint
         |  FROM fl),
         |np AS (
         |  SELECT t.gate,
         |    CASE t.gate WHEN 'gopher' THEN m.p0 WHEN 'blocklist' THEN m.p1
         |      ELSE m.p2 END AS n_pass,
         |    m.n, m.joint
         |  FROM (VALUES ('gopher'), ('blocklist'), ('langid')) t(gate), m),
         |r AS (
         |  SELECT gate, n_pass, n, joint,
         |    CAST(ROW_NUMBER() OVER (ORDER BY n_pass, gate) AS BIGINT) AS planned_stage,
         |    n_pass * 1000000 // n AS r_micro
         |  FROM np),
         |s1 AS (SELECT r_micro FROM r WHERE planned_stage = 1),
         |s2 AS (SELECT r_micro FROM r WHERE planned_stage = 2)
         |SELECT r.planned_stage, r.gate, r.n_pass,
         |  CAST(r.r_micro AS DOUBLE) / 1000000 AS pass_rate,
         |  CAST(CASE r.planned_stage
         |    WHEN 1 THEN r.n
         |    WHEN 2 THEN (r.n * s1.r_micro) // 1000000
         |    ELSE (((r.n * s1.r_micro) // 1000000) * s2.r_micro) // 1000000
         |  END AS BIGINT) AS est_rows_in,
         |  r.joint AS n_out_final
         |FROM r, s1, s2
         |ORDER BY planned_stage""".stripMargin),
    Query("q230_cochran_q", gateCochranQ,
      s"""WITH $funnelGateCtes,
         |fl AS (
         |  SELECT g_keep, b_keep,
         |    CASE WHEN predicted <> 'und' THEN 1 ELSE 0 END AS l_keep
         |  FROM sig),
         |m AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(g_keep) AS HUGEINT) AS c0,
         |    CAST(SUM(b_keep) AS HUGEINT) AS c1,
         |    CAST(SUM(l_keep) AS HUGEINT) AS c2,
         |    CAST(SUM(g_keep + b_keep + l_keep) AS HUGEINT) AS t,
         |    CAST(SUM((g_keep + b_keep + l_keep) * (g_keep + b_keep + l_keep)) AS HUGEINT) AS sr2
         |  FROM fl)
         |SELECT n AS n_docs, CAST(3 AS BIGINT) AS k_gates,
         |  CAST(2 AS BIGINT) AS dof,
         |  CASE WHEN t * 3 - sr2 <= 0 THEN CAST(0.0 AS DOUBLE)
         |    ELSE ROUND(
         |      CAST(((c0*c0 + c1*c1 + c2*c2) * 3 - t * t) * 2 AS DOUBLE) /
         |      CAST(t * 3 - sr2 AS DOUBLE), 6)
         |  END AS q_stat
         |FROM m""".stripMargin),
    // q245: the q230 gate replay, cancelled-n² item/total variance
    // integers, one fixed-order alpha
    Query("q245_cronbach", gateCronbach,
      s"""WITH $funnelGateCtes,
         |fl AS (
         |  SELECT g_keep, b_keep,
         |    CASE WHEN predicted <> 'und' THEN 1 ELSE 0 END AS l_keep
         |  FROM sig),
         |m AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(g_keep) AS HUGEINT) AS c0,
         |    CAST(SUM(b_keep) AS HUGEINT) AS c1,
         |    CAST(SUM(l_keep) AS HUGEINT) AS c2,
         |    CAST(SUM(g_keep + b_keep + l_keep) AS HUGEINT) AS t,
         |    CAST(SUM((g_keep + b_keep + l_keep) * (g_keep + b_keep + l_keep)) AS HUGEINT) AS st2
         |  FROM fl)
         |SELECT n AS n_docs, CAST(3 AS BIGINT) AS k_gates,
         |  CASE WHEN CAST(n AS HUGEINT) * st2 - t * t <= 0 THEN CAST(0.0 AS DOUBLE)
         |    ELSE ROUND(1.5 * (1.0 -
         |      CAST((CAST(n AS HUGEINT) * c0 - c0 * c0) +
         |        (CAST(n AS HUGEINT) * c1 - c1 * c1) +
         |        (CAST(n AS HUGEINT) * c2 - c2 * c2) AS DOUBLE) /
         |      CAST(CAST(n AS HUGEINT) * st2 - t * t AS DOUBLE)), 6)
         |  END AS alpha
         |FROM m""".stripMargin),
    // q247: top-51 order statistics, nano-quantized log ratios, the
    // Hill identity with an honest NULL on a flat tail
    Query("q247_hill_tail", docLengthHill,
      """WITH t AS (
        |  SELECT CAST(n_chars AS BIGINT) AS x FROM documents
        |  ORDER BY x DESC LIMIT 51),
        |tl AS (SELECT CAST(MIN(x) AS BIGINT) AS xt FROM t),
        |sl AS (
        |  SELECT CAST(COALESCE(SUM(CAST(round(ln(CAST(x AS DOUBLE) /
        |    CAST(xt AS DOUBLE)) * 1e9) AS BIGINT)), 0) AS BIGINT) AS sl
        |  FROM t, tl WHERE x > xt),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents)
        |SELECT CAST(50 AS BIGINT) AS k, n, xt AS x_tail,
        |  ROUND(CAST(sl AS DOUBLE) / 50.0 / 1e9, 6) AS inv_alpha,
        |  CASE WHEN sl = 0 THEN NULL
        |    ELSE ROUND(50.0 * 1e9 / CAST(sl AS DOUBLE), 6) END AS alpha
        |FROM nn, tl, sl""".stripMargin),
    // q249: classifier + Gopher-label replays, desc score-grid
    // prefixes, whole-score bucket cuts (cp monotone in cd, so the
    // max-pair IS the boundary row)
    Query("q249_gain_curve", qualityGainCurve,
      s"""WITH $classifierPredCtes,
         |$gopherLabCtes,
         |grid AS (
         |  SELECT CAST(round(p.conf * 1e6) AS BIGINT) AS sm,
         |    CAST(COUNT(*) AS BIGINT) AS cnt,
         |    CAST(SUM(l.keep) AS BIGINT) AS pos
         |  FROM pred p JOIN lab l USING (doc_id) GROUP BY 1),
         |cum AS (
         |  SELECT sm,
         |    CAST(SUM(cnt) OVER (ORDER BY sm DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cd,
         |    CAST(SUM(pos) OVER (ORDER BY sm DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cp
         |  FROM grid),
         |tt AS (SELECT MAX(cd) AS nn, MAX(cp) AS pp FROM cum),
         |sp AS (SELECT CAST(unnest(generate_series(1, 10)) AS BIGINT) AS bucket)
         |SELECT s.bucket, (s.bucket * tt.nn) // 10 AS cutoff_docs,
         |  CAST(COALESCE(MAX(c.cd), 0) AS BIGINT) AS docs_used,
         |  CAST(COALESCE(MAX(c.cp), 0) AS BIGINT) AS pos_captured,
         |  ROUND(CAST(COALESCE(MAX(c.cp), 0) AS DOUBLE) / CAST(tt.pp AS DOUBLE), 6) AS gain,
         |  CASE WHEN COALESCE(MAX(c.cd), 0) = 0 THEN NULL
         |    ELSE ROUND((CAST(COALESCE(MAX(c.cp), 0) AS DOUBLE) / CAST(tt.pp AS DOUBLE)) /
         |      (CAST(COALESCE(MAX(c.cd), 0) AS DOUBLE) / CAST(tt.nn AS DOUBLE)), 6) END AS lift
         |FROM sp s CROSS JOIN tt
         |LEFT JOIN cum c ON c.cd <= (s.bucket * tt.nn) // 10
         |GROUP BY s.bucket, tt.nn, tt.pp
         |ORDER BY s.bucket""".stripMargin),
    // q252: left-fold norms, micro unit grid, per-dim HUGEINT sums,
    // the ‖Σû‖² − Σ‖û‖² identity, two fixed-order ratios
    Query("q252_isotropy", embeddingIsotropy,
      """WITH nrm AS (
        |  SELECT embedding,
        |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
        |      (acc, v) -> acc + v)) AS nv
        |  FROM embeddings),
        |uq AS (
        |  SELECT list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE) / nv * 1000000.0) AS BIGINT)) AS u
        |  FROM nrm),
        |ux AS (
        |  SELECT unnest(list_transform(generate_series(1, len(u)),
        |    i -> struct_pack(i := i, v := u[i]))) AS x
        |  FROM uq),
        |pd AS (
        |  SELECT x['i'] - 1 AS dim,
        |    SUM(CAST(x['v'] AS HUGEINT)) AS s,
        |    SUM(CAST(x['v'] AS HUGEINT) * x['v']) AS q
        |  FROM ux GROUP BY 1),
        |tt AS (
        |  SELECT SUM(s * s) AS ss, SUM(q) AS qq,
        |    CAST(COUNT(*) AS BIGINT) AS dim
        |  FROM pd),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings)
        |SELECT n, dim,
        |  ROUND(CAST(qq AS DOUBLE) / CAST(n AS DOUBLE) / 1e12, 6) AS mean_self,
        |  ROUND(CAST(ss - qq AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE) / 1e12, 6)
        |    + 0.0 AS mean_pairwise_cos
        |FROM tt, nn""".stripMargin),
    // q253: classifier replay, doubled integer ranks on the score
    // grid, HUGEINT rank sums, the div/mod quotient device, tie term
    Query("q253_kruskal", sourceScoreKruskal,
      s"""WITH $classifierPredCtes,
         |j AS (SELECT d.source AS g, CAST(round(p.conf * 1e6) AS BIGINT) AS sm
         |      FROM pred p JOIN documents d USING (doc_id)),
         |gg AS (SELECT g, sm, CAST(COUNT(*) AS BIGINT) AS c FROM j GROUP BY 1, 2),
         |gl AS (SELECT sm, CAST(SUM(c) AS BIGINT) AS t FROM gg GROUP BY 1),
         |rk AS (
         |  SELECT sm, 2 * CAST(COALESCE(SUM(t) OVER (ORDER BY sm
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    + t + 1 AS r2
         |  FROM gl),
         |per AS (
         |  SELECT g, CAST(SUM(c) AS BIGINT) AS n,
         |    SUM(CAST(c AS HUGEINT) * r2) AS rr
         |  FROM gg JOIN rk USING (sm) GROUP BY 1),
         |pq AS (
         |  SELECT n,
         |    CAST((rr * rr) % CAST(n AS HUGEINT) AS BIGINT) AS r,
         |    (rr * rr - (rr * rr) % CAST(n AS HUGEINT)) // CAST(n AS HUGEINT) AS q
         |  FROM per),
         |pf AS (SELECT n, q,
         |    CAST(round(CAST(r AS DOUBLE) / CAST(n AS DOUBLE) * 1e9) AS BIGINT) AS f
         |  FROM pq),
         |tc AS (SELECT SUM(CAST(t AS HUGEINT) * t * t - t) AS tc FROM gl),
         |ag AS (
         |  SELECT CAST(SUM(n) AS BIGINT) AS n,
         |    CAST(COUNT(*) AS BIGINT) AS k_groups,
         |    SUM(q) AS qq, CAST(SUM(f) AS BIGINT) AS ff
         |  FROM pf)
         |SELECT n, k_groups, k_groups - 1 AS dof,
         |  ROUND((CAST(qq AS DOUBLE) + CAST(ff AS DOUBLE) / 1e9) * 3.0 /
         |    (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)) -
         |    (CAST(n AS DOUBLE) + 1.0) * 3.0, 6) AS h,
         |  ROUND(1.0 - CAST(tc AS DOUBLE) / (CAST(n AS DOUBLE) *
         |    CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)), 6)
         |    AS tie_c,
         |  CASE WHEN CAST(tc AS DOUBLE) < CAST(n AS DOUBLE) * CAST(n AS DOUBLE) *
         |      CAST(n AS DOUBLE) - CAST(n AS DOUBLE)
         |    THEN ROUND(((CAST(qq AS DOUBLE) + CAST(ff AS DOUBLE) / 1e9) * 3.0 /
         |      (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)) -
         |      (CAST(n AS DOUBLE) + 1.0) * 3.0) /
         |      (1.0 - CAST(tc AS DOUBLE) / (CAST(n AS DOUBLE) *
         |        CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(n AS DOUBLE))), 6)
         |    ELSE NULL END AS h_adj
         |FROM ag, tc""".stripMargin),
    // q254: per-source lower-median scan, exact micro deviations,
    // per-group and global div/mod quotient splits, fixed-order F
    Query("q254_brown_forsythe", sourceScoreSpread,
      s"""WITH $classifierPredCtes,
         |j AS (SELECT d.source AS g, CAST(round(p.conf * 1e6) AS BIGINT) AS sm
         |      FROM pred p JOIN documents d USING (doc_id)),
         |gg AS (SELECT g, sm, CAST(COUNT(*) AS BIGINT) AS c FROM j GROUP BY 1, 2),
         |cum AS (
         |  SELECT g, sm, c, CAST(SUM(c) OVER (PARTITION BY g ORDER BY sm
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cm
         |  FROM gg),
         |tg AS (SELECT g, CAST(SUM(c) AS BIGINT) AS ng FROM gg GROUP BY 1),
         |med AS (SELECT g, MIN(sm) AS med
         |  FROM cum JOIN tg USING (g) WHERE cm * 2 >= ng GROUP BY 1),
         |per AS (
         |  SELECT g, CAST(SUM(c) AS BIGINT) AS n,
         |    SUM(CAST(c AS HUGEINT) * abs(sm - med)) AS s,
         |    SUM(CAST(c AS HUGEINT) * abs(sm - med) * abs(sm - med)) AS qz
         |  FROM gg JOIN med USING (g) GROUP BY 1),
         |pq AS (
         |  SELECT n, qz, s,
         |    CAST((s * s) % CAST(n AS HUGEINT) AS BIGINT) AS r,
         |    (s * s - (s * s) % CAST(n AS HUGEINT)) // CAST(n AS HUGEINT) AS q
         |  FROM per),
         |pf AS (SELECT n, s, qz, q,
         |    CAST(round(CAST(r AS DOUBLE) / CAST(n AS DOUBLE) * 1e9) AS BIGINT) AS f
         |  FROM pq),
         |ag AS (
         |  SELECT CAST(SUM(n) AS BIGINT) AS n,
         |    CAST(COUNT(*) AS BIGINT) AS k_groups,
         |    SUM(s) AS st, SUM(qz) AS qt, SUM(q) AS qn,
         |    CAST(SUM(f) AS BIGINT) AS fn
         |  FROM pf),
         |a2 AS (
         |  SELECT *,
         |    CAST((st * st) % CAST(n AS HUGEINT) AS BIGINT) AS rt,
         |    (st * st - (st * st) % CAST(n AS HUGEINT)) // CAST(n AS HUGEINT) AS qt2
         |  FROM ag),
         |a3 AS (SELECT *,
         |    CAST(round(CAST(rt AS DOUBLE) / CAST(n AS DOUBLE) * 1e9) AS BIGINT) AS ft
         |  FROM a2),
         |a4 AS (
         |  SELECT n, k_groups,
         |    (CAST(qn AS DOUBLE) + CAST(fn AS DOUBLE) / 1e9) -
         |      (CAST(qt2 AS DOUBLE) + CAST(ft AS DOUBLE) / 1e9) AS between_,
         |    CAST(qt AS DOUBLE) -
         |      (CAST(qn AS DOUBLE) + CAST(fn AS DOUBLE) / 1e9) AS within_
         |  FROM a3)
         |SELECT n, k_groups, k_groups - 1 AS dof1, n - k_groups AS dof2,
         |  ROUND(between_ / 1e12, 6) AS ssb,
         |  ROUND(within_ / 1e12, 6) AS ssw,
         |  CASE WHEN within_ > 0.0
         |    THEN ROUND((between_ / (CAST(k_groups AS DOUBLE) - 1.0)) /
         |      (within_ / (CAST(n AS DOUBLE) - CAST(k_groups AS DOUBLE))), 6)
         |    ELSE NULL END AS f
         |FROM a4""".stripMargin),
    // q256: clean token grid, per-source singleton/doubleton counts,
    // the closed-form bias-corrected chao1
    Query("q256_chao1", sourceChao1,
      s"""WITH tk AS (
         |  SELECT source, unnest(list_filter(string_split($norm, ' '),
         |    x -> length(x) > 0)) AS w
         |  FROM documents),
         |gw AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM tk GROUP BY 1, 2),
         |ag AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS v_obs,
         |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         |    CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
         |  FROM gw GROUP BY 1)
         |SELECT source AS "group", v_obs, f1, f2,
         |  ROUND(CAST(v_obs AS DOUBLE) + CAST(f1 AS DOUBLE) *
         |    (CAST(f1 AS DOUBLE) - 1.0) /
         |    ((CAST(f2 AS DOUBLE) + 1.0) * 2.0), 6) AS chao1
         |FROM ag""".stripMargin),
    // q257: exact counts, the integer overrepresentation cross-compare,
    // one fixed-order G2 per row, nano ranking with token tie-break
    Query("q257_llr_keywords", sourceKeywords,
      s"""WITH tk AS (
         |  SELECT source, unnest(list_filter(string_split($norm, ' '),
         |    x -> length(x) > 0)) AS w
         |  FROM documents),
         |gw AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS a
         |  FROM tk GROUP BY 1, 2),
         |vocab AS (SELECT w, CAST(SUM(a) AS BIGINT) AS cw FROM gw GROUP BY 1),
         |marg AS (SELECT source, CAST(SUM(a) AS BIGINT) AS ng
         |  FROM gw GROUP BY 1),
         |tt AS (SELECT CAST(SUM(ng) AS BIGINT) AS nn FROM marg),
         |cand AS (
         |  SELECT gw.source AS grp, gw.w, gw.a, vocab.cw - gw.a AS b,
         |    marg.ng, tt.nn - marg.ng AS n2, vocab.cw, tt.nn
         |  FROM gw JOIN vocab USING (w) JOIN marg USING (source) CROSS JOIN tt
         |  WHERE CAST(gw.a AS HUGEINT) * (tt.nn - marg.ng) >
         |    CAST(vocab.cw - gw.a AS HUGEINT) * marg.ng),
         |g2x AS (
         |  SELECT grp, w, a, b,
         |    CAST(round((CAST(a AS DOUBLE) * ln(CAST(a AS DOUBLE) *
         |        CAST(nn AS DOUBLE) / (CAST(cw AS DOUBLE) * CAST(ng AS DOUBLE)))
         |      + CASE WHEN b = 0 THEN CAST(0.0 AS DOUBLE)
         |          ELSE CAST(b AS DOUBLE) * ln(CAST(b AS DOUBLE) *
         |            CAST(nn AS DOUBLE) / (CAST(cw AS DOUBLE) *
         |            CAST(n2 AS DOUBLE))) END) * 2e9) AS BIGINT) AS g2n
         |  FROM cand),
         |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY grp
         |  ORDER BY g2n DESC, w ASC) AS r FROM g2x)
         |SELECT grp AS "group", w AS token, a AS cnt, b AS rest_cnt,
         |  ROUND(CAST(g2n AS DOUBLE) / 1e9, 6) + 0.0 AS g2
         |FROM rk WHERE r <= 5""".stripMargin),
    // q258: top-30 cut, nano rates on the M x k frame, per-word
    // HUGEINT moments, nano |dz| pair sums
    Query("q258_burrows_delta", sourceStyleDelta,
      s"""WITH tk AS (
         |  SELECT source, unnest(list_filter(string_split($norm, ' '),
         |    x -> length(x) > 0)) AS w
         |  FROM documents),
         |gw AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM tk GROUP BY 1, 2),
         |top AS (SELECT w FROM (
         |    SELECT w, CAST(SUM(c) AS BIGINT) AS cw FROM gw GROUP BY 1)
         |  ORDER BY cw DESC, w ASC LIMIT 30),
         |marg AS (SELECT source, CAST(SUM(c) AS BIGINT) AS ng
         |  FROM gw GROUP BY 1),
         |f AS (
         |  SELECT t.w, m.source,
         |    CAST(round(CAST(COALESCE(g.c, 0) AS DOUBLE) * 1e9 /
         |      CAST(m.ng AS DOUBLE)) AS BIGINT) AS fq
         |  FROM top t CROSS JOIN marg m
         |  LEFT JOIN gw g ON g.w = t.w AND g.source = m.source),
         |st AS (
         |  SELECT w, SUM(CAST(fq AS HUGEINT)) AS s,
         |    SUM(CAST(fq AS HUGEINT) * fq) AS q,
         |    CAST(COUNT(*) AS BIGINT) AS k
         |  FROM f GROUP BY 1),
         |kept AS (SELECT * FROM (
         |    SELECT *, (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) *
         |      CAST(s AS DOUBLE) / CAST(k AS DOUBLE)) / CAST(k AS DOUBLE) AS var_
         |    FROM st)
         |  WHERE var_ > 0.0),
         |m1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM kept),
         |z AS (
         |  SELECT f.w, f.source,
         |    (CAST(f.fq AS DOUBLE) - CAST(kept.s AS DOUBLE) /
         |      CAST(kept.k AS DOUBLE)) / sqrt(kept.var_) AS zz
         |  FROM f JOIN kept USING (w)),
         |pr AS (
         |  SELECT a.source AS src_a, b.source AS src_b,
         |    CAST(SUM(CAST(round(abs(a.zz - b.zz) * 1e9) AS BIGINT))
         |      AS BIGINT) AS sdz
         |  FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT src_a, src_b, m1.m AS n_words,
         |  ROUND(CAST(sdz AS DOUBLE) / 1e9 / CAST(m1.m AS DOUBLE), 6) AS delta
         |FROM pr, m1""".stripMargin),
    // q259: top-20 cut, exact |v*N - n*f| HUGEINT numerators, one
    // final double division
    Query("q259_dispersion", tokenDispersion,
      s"""WITH tk AS (
         |  SELECT source, unnest(list_filter(string_split($norm, ' '),
         |    x -> length(x) > 0)) AS w
         |  FROM documents),
         |gw AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS v
         |  FROM tk GROUP BY 1, 2),
         |top AS (SELECT w, f FROM (
         |    SELECT w, CAST(SUM(v) AS BIGINT) AS f FROM gw GROUP BY 1)
         |  ORDER BY f DESC, w ASC LIMIT 20),
         |marg AS (SELECT source, CAST(SUM(v) AS BIGINT) AS ng
         |  FROM gw GROUP BY 1),
         |tt AS (SELECT CAST(SUM(ng) AS BIGINT) AS nn FROM marg),
         |nm AS (
         |  SELECT t.w, t.f, tt.nn,
         |    abs(CAST(COALESCE(g.v, 0) AS HUGEINT) * tt.nn -
         |      CAST(m.ng AS HUGEINT) * t.f) AS num
         |  FROM top t CROSS JOIN marg m CROSS JOIN tt
         |  LEFT JOIN gw g ON g.w = t.w AND g.source = m.source)
         |SELECT w AS token, f AS total_cnt,
         |  ROUND(CAST(SUM(num) AS DOUBLE) * 0.5 /
         |    (CAST(f AS DOUBLE) * CAST(nn AS DOUBLE)), 6) AS dp
         |FROM nm GROUP BY w, f, nn""".stripMargin),
    // q276: the q187 cells, union marginals m_k = na_k + nb_k, the
    // cleared-denominator (4N(K-1)agree - S)/(4N^2(K-1) - S) ratio
    Query("q276_gwet_ac1", langIdAc1,
      s"""WITH $langIdPredCtes,
         |cells AS (
         |  SELECT lang AS a, predicted AS b, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM p GROUP BY 1, 2),
         |tot AS (
         |  SELECT CAST(SUM(n) AS BIGINT) AS n_total,
         |    CAST(COALESCE(SUM(CASE WHEN a = b THEN n END), 0) AS BIGINT)
         |      AS agree
         |  FROM cells),
         |ma AS (SELECT a, CAST(SUM(n) AS BIGINT) AS na FROM cells GROUP BY a),
         |mb AS (SELECT b, CAST(SUM(n) AS BIGINT) AS nb FROM cells GROUP BY b),
         |mm AS (
         |  SELECT COALESCE(na, 0) + COALESCE(nb, 0) AS m
         |  FROM ma FULL JOIN mb ON ma.a = mb.b),
         |ks AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_classes FROM mm),
         |sx AS (
         |  SELECT COALESCE(SUM(CAST(m AS HUGEINT) *
         |    (CAST(t.n_total AS HUGEINT) * 2 - m)), 0) AS s
         |  FROM mm, tot t)
         |SELECT n_total AS n, k_classes, agree,
         |  ROUND(CAST(agree AS DOUBLE) / CAST(n_total AS DOUBLE), 6) AS po,
         |  CASE WHEN k_classes > 1 THEN
         |    ROUND(CAST(s AS DOUBLE) / (CAST(n_total AS DOUBLE) *
         |      CAST(n_total AS DOUBLE) * 4.0 *
         |      (CAST(k_classes AS DOUBLE) - 1.0)), 6)
         |    ELSE NULL END AS pe,
         |  CASE WHEN k_classes > 1 AND
         |      CAST(n_total AS HUGEINT) * n_total * 4 * (k_classes - 1) - s
         |        <> 0
         |    THEN ROUND(CAST(CAST(agree AS HUGEINT) * n_total * 4 *
         |        (k_classes - 1) - s AS DOUBLE) /
         |      CAST(CAST(n_total AS HUGEINT) * n_total * 4 *
         |        (k_classes - 1) - s AS DOUBLE), 6) + 0.0
         |    ELSE CAST(1.0 AS DOUBLE) END AS ac1
         |FROM tot, ks, sx""".stripMargin),
    // q279: classifier + unigram-LM + length replays, three doubled-rank
    // grids with tie cubes, exact-integer S' and the cleared W denominator
    Query("q279_kendall_w", signalKendallW,
      s"""WITH $classifierPredCtes,
         |toks AS (
         |  SELECT doc_id, unnest(string_split($norm, ' ')) AS token FROM documents),
         |tk AS (SELECT doc_id, token FROM toks WHERE length(token) > 0),
         |uc AS (SELECT token, COUNT(*) AS cnt FROM tk GROUP BY 1),
         |ut AS (SELECT COUNT(*) AS total FROM tk),
         |um AS (
         |  SELECT tk.doc_id,
         |    CAST(round(ln(CAST(uc.cnt AS DOUBLE) / CAST(ut.total AS DOUBLE))
         |      * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS micro
         |  FROM tk JOIN uc USING (token), ut),
         |lp AS (
         |  SELECT doc_id,
         |    ROUND(CAST(SUM(micro) AS DOUBLE) /
         |      (CAST(COUNT(*) AS DOUBLE) * CAST(1000000.0 AS DOUBLE)), 6) AS avg_logprob
         |  FROM um GROUP BY doc_id),
         |ga AS (
         |  SELECT CAST(round(conf * 1e6) AS BIGINT) AS sm,
         |    CAST(COUNT(*) AS BIGINT) AS t
         |  FROM pred GROUP BY 1),
         |ra AS (
         |  SELECT sm, 2 * CAST(COALESCE(SUM(t) OVER (ORDER BY sm ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    + t + 1 AS r0
         |  FROM ga),
         |ta AS (SELECT CAST(COALESCE(SUM(CAST(t AS HUGEINT) * t * t - t), 0)
         |  AS HUGEINT) AS tt FROM ga),
         |ja AS (SELECT p2.doc_id, ra.r0
         |  FROM pred p2 JOIN ra ON CAST(round(p2.conf * 1e6) AS BIGINT) = ra.sm),
         |gb2 AS (
         |  SELECT CAST(round(avg_logprob * 1e6) AS BIGINT) AS sm,
         |    CAST(COUNT(*) AS BIGINT) AS t
         |  FROM lp GROUP BY 1),
         |rb2 AS (
         |  SELECT sm, 2 * CAST(COALESCE(SUM(t) OVER (ORDER BY sm ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    + t + 1 AS r1
         |  FROM gb2),
         |tb2 AS (SELECT CAST(COALESCE(SUM(CAST(t AS HUGEINT) * t * t - t), 0)
         |  AS HUGEINT) AS tt FROM gb2),
         |jb2 AS (SELECT l.doc_id, rb2.r1
         |  FROM lp l JOIN rb2 ON CAST(round(l.avg_logprob * 1e6) AS BIGINT) = rb2.sm),
         |gc AS (
         |  SELECT CAST(round(CAST(n_chars AS DOUBLE) * 1e6) AS BIGINT) AS sm,
         |    CAST(COUNT(*) AS BIGINT) AS t
         |  FROM documents GROUP BY 1),
         |rc AS (
         |  SELECT sm, 2 * CAST(COALESCE(SUM(t) OVER (ORDER BY sm ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    + t + 1 AS r2c
         |  FROM gc),
         |tc2 AS (SELECT CAST(COALESCE(SUM(CAST(t AS HUGEINT) * t * t - t), 0)
         |  AS HUGEINT) AS tt FROM gc),
         |jc AS (SELECT d.doc_id, rc.r2c
         |  FROM documents d
         |  JOIN rc ON CAST(round(CAST(d.n_chars AS DOUBLE) * 1e6) AS BIGINT) = rc.sm),
         |jall AS (
         |  SELECT ja.r0 + jb2.r1 + jc.r2c AS R
         |  FROM ja JOIN jb2 USING (doc_id) JOIN jc USING (doc_id)),
         |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM jall),
         |s2 AS (
         |  SELECT CAST(COALESCE(SUM(CAST(R - 3 * (n + 1) AS HUGEINT) *
         |    (R - 3 * (n + 1))), 0) AS HUGEINT) AS sp
         |  FROM jall, nn),
         |dn AS (
         |  SELECT CAST(9 AS HUGEINT) * (CAST(n AS HUGEINT) * n * n - n)
         |    - 3 * (ta.tt + tb2.tt + tc2.tt) AS den
         |  FROM nn, ta, tb2, tc2)
         |SELECT n AS n_items, CAST(3 AS BIGINT) AS m_rankers,
         |  CASE WHEN den > 0 THEN
         |      ROUND(3.0 * CAST(sp AS DOUBLE) / CAST(den AS DOUBLE), 6)
         |    ELSE CAST(0.0 AS DOUBLE) END AS w,
         |  CASE WHEN den > 0 THEN
         |      ROUND(3.0 * (CAST(n AS DOUBLE) - 1.0) *
         |        (3.0 * CAST(sp AS DOUBLE) / CAST(den AS DOUBLE)), 6)
         |    ELSE CAST(0.0 AS DOUBLE) END AS friedman_chi2
         |FROM nn, s2, dn""".stripMargin),
    // q295: classifier + gopher replays, reverse-cumulative confusion
    // grid, DECIMAL-exact MCC numerator, fixed-order sqrt denominator
    Query("q295_mcc_sweep", classifierMccSweep,
      s"""WITH $classifierPredCtes,
         |$gopherLabCtes,
         |j AS (
         |  SELECT CAST(round(p2.conf * 1e6) AS BIGINT) AS sm, lab.keep
         |  FROM pred p2 JOIN lab USING (doc_id)),
         |g AS (
         |  SELECT sm, CAST(SUM(keep) AS BIGINT) AS np,
         |    CAST(SUM(1 - keep) AS BIGINT) AS nn
         |  FROM j GROUP BY 1),
         |tot AS (SELECT CAST(SUM(np) AS BIGINT) AS p,
         |  CAST(SUM(nn) AS BIGINT) AS n FROM g),
         |cum AS (
         |  SELECT sm,
         |    CAST(SUM(np) OVER (ORDER BY sm DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
         |    CAST(SUM(nn) OVER (ORDER BY sm DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fp
         |  FROM g),
         |cf AS (
         |  SELECT sm, tp, fp, p - tp AS fn, n - fp AS tn, p, n
         |  FROM cum, tot),
         |r AS (
         |  SELECT sm, tp, fp, fn, tn,
         |    CASE WHEN sqrt((CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE)) *
         |        (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE)) *
         |        (CAST(tn AS DOUBLE) + CAST(fp AS DOUBLE)) *
         |        (CAST(tn AS DOUBLE) + CAST(fn AS DOUBLE))) > 0.0
         |      THEN ROUND(CAST(CAST(tp AS HUGEINT) * tn
         |          - CAST(fp AS HUGEINT) * fn AS DOUBLE) /
         |        sqrt((CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE)) *
         |          (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE)) *
         |          (CAST(tn AS DOUBLE) + CAST(fp AS DOUBLE)) *
         |          (CAST(tn AS DOUBLE) + CAST(fn AS DOUBLE))), 6) + 0.0
         |      ELSE CAST(0.0 AS DOUBLE) END AS mcc,
         |    CASE WHEN p > 0 AND n > 0
         |      THEN ROUND(CAST(tp AS DOUBLE) / CAST(p AS DOUBLE) +
         |        CAST(tn AS DOUBLE) / CAST(n AS DOUBLE) - 1.0, 6) + 0.0
         |      ELSE CAST(0.0 AS DOUBLE) END AS youden_j
         |  FROM cf),
         |rk AS (SELECT *, ROW_NUMBER() OVER (ORDER BY mcc DESC, sm ASC)
         |  AS rn FROM r)
         |SELECT CAST(sm AS DOUBLE) / 1e6 AS threshold, tp, fp, fn, tn,
         |  mcc, youden_j,
         |  CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS BIGINT) AS is_best
         |FROM rk ORDER BY threshold""".stripMargin),
    // q286: classifier + LM + gopher replays, the md5-bucket
    // permutation bijection, six exact U-statistic AUC blocks
    Query("q286_perm_auc", signalPermAucNull, {
      // one exact-AUC block over `src`(sm BIGINT, keep) → `<p>auc`(auc)
      def aucBlock(p: String, src: String): String =
        s"""${p}g AS (
           |  SELECT sm, CAST(SUM(keep) AS BIGINT) AS np,
           |    CAST(SUM(1 - keep) AS BIGINT) AS nn
           |  FROM $src GROUP BY sm),
           |${p}c AS (
           |  SELECT np, nn,
           |    CAST(COALESCE(SUM(nn) OVER (ORDER BY sm
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |      AS BIGINT) AS below
           |  FROM ${p}g),
           |${p}auc AS (
           |  SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
           |    CAST(SUM(nn) AS BIGINT) AS n_neg,
           |    CASE WHEN SUM(np) > 0 AND SUM(nn) > 0 THEN
           |      ROUND(CAST(SUM(np * (2 * below + nn)) AS DOUBLE) /
           |        (2.0 * CAST(SUM(np) AS DOUBLE) * CAST(SUM(nn) AS DOUBLE)), 6)
           |      ELSE CAST(0.5 AS DOUBLE) END AS auc
           |  FROM ${p}c)""".stripMargin
      // per signal: real grid, permuted assignment, permuted grid
      def signalBlocks(p: String, valExpr: String): String =
        s"""${p}r AS (
           |  SELECT CAST(round($valExpr * 1e6) AS BIGINT) AS sm, w0.keep
           |  FROM wide w0),
           |${aucBlock(p + "r", p + "r")},
           |${p}pv AS (
           |  SELECT bkt, ROW_NUMBER() OVER (PARTITION BY bkt
           |      ORDER BY doc_id) AS pos,
           |    CAST(round($valExpr * 1e6) AS BIGINT) AS sm
           |  FROM wide w0),
           |${p}ps AS (
           |  SELECT doc_id, bkt, ROW_NUMBER() OVER (PARTITION BY bkt
           |    ORDER BY md5v) AS pos
           |  FROM wide w0),
           |${p}p AS (
           |  SELECT s2.sm, w1.keep
           |  FROM ${p}ps s1 JOIN ${p}pv s2 USING (bkt, pos)
           |  JOIN wide w1 ON w1.doc_id = s1.doc_id),
           |${aucBlock(p + "p", p + "p")}""".stripMargin
      s"""WITH $classifierPredCtes,
         |toks AS (
         |  SELECT doc_id, unnest(string_split($norm, ' ')) AS token FROM documents),
         |tk AS (SELECT doc_id, token FROM toks WHERE length(token) > 0),
         |uc AS (SELECT token, COUNT(*) AS cnt FROM tk GROUP BY 1),
         |ut AS (SELECT COUNT(*) AS total FROM tk),
         |um AS (
         |  SELECT tk.doc_id,
         |    CAST(round(ln(CAST(uc.cnt AS DOUBLE) / CAST(ut.total AS DOUBLE))
         |      * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS micro
         |  FROM tk JOIN uc USING (token), ut),
         |lp AS (
         |  SELECT doc_id,
         |    ROUND(CAST(SUM(micro) AS DOUBLE) /
         |      (CAST(COUNT(*) AS DOUBLE) * CAST(1000000.0 AS DOUBLE)), 6)
         |      AS avg_logprob
         |  FROM um GROUP BY doc_id),
         |tg AS (
         |  SELECT doc_id, list_filter(string_split($norm, ' '), x -> length(x) > 0) AS w
         |  FROM documents),
         |sg AS (
         |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
         |    CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS sum_len,
         |    CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS alpha_words,
         |    CAST(len(list_filter(w, x -> list_contains(['the','be','to','of','and','that','have','with'], x))) AS BIGINT) AS n_stop_hits
         |  FROM tg WHERE len(w) > 0),
         |lab AS (
         |  SELECT doc_id,
         |    CAST(CASE WHEN n_words BETWEEN 20 AND 100000 THEN 1 ELSE 0 END AS BIGINT)
         |    * CAST(CASE WHEN sum_len >= 3 * n_words AND sum_len <= 10 * n_words THEN 1 ELSE 0 END AS BIGINT)
         |    * CAST(CASE WHEN alpha_words * 5 >= n_words * 4 THEN 1 ELSE 0 END AS BIGINT)
         |    * CAST(CASE WHEN n_stop_hits >= 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
         |  FROM sg),
         |wide AS (
         |  SELECT p2.doc_id, p2.conf, lp.avg_logprob,
         |    CAST(d.n_chars AS DOUBLE) AS len, lab.keep,
         |    md5(CAST(p2.doc_id AS VARCHAR)) AS md5v,
         |    CAST(concat('0x', substr(md5(CAST(p2.doc_id AS VARCHAR)), 1, 8))
         |      AS BIGINT) % 256 AS bkt
         |  FROM pred p2 JOIN lp USING (doc_id)
         |  JOIN documents d USING (doc_id) JOIN lab USING (doc_id)),
         |${signalBlocks("a", "w0.avg_logprob")},
         |${signalBlocks("b", "w0.conf")},
         |${signalBlocks("c", "w0.len")}
         |SELECT * FROM (
         |  SELECT 'avg_logprob' AS signal, arauc.n_pos, arauc.n_neg,
         |    arauc.auc, apauc.auc AS auc_null, arauc.auc - apauc.auc AS delta
         |  FROM arauc, apauc
         |  UNION ALL
         |  SELECT 'conf', brauc.n_pos, brauc.n_neg, brauc.auc, bpauc.auc,
         |    brauc.auc - bpauc.auc FROM brauc, bpauc
         |  UNION ALL
         |  SELECT 'len', crauc.n_pos, crauc.n_neg, crauc.auc, cpauc.auc,
         |    crauc.auc - cpauc.auc FROM crauc, cpauc)
         |ORDER BY signal""".stripMargin
    }),
    // q285: classifier replay + source join, per-source grids, pair
    // expansion, doubled-rank HUGEINT sums, fixed-order z per pair
    Query("q285_mw_matrix", sourceMwMatrix,
      s"""WITH $classifierPredCtes,
         |sg AS (
         |  SELECT d.source AS gsrc, CAST(round(p2.conf * 1e6) AS BIGINT) AS sm,
         |    CAST(COUNT(*) AS BIGINT) AS c
         |  FROM pred p2 JOIN documents d USING (doc_id) GROUP BY 1, 2),
         |ss AS (SELECT DISTINCT gsrc FROM sg),
         |prs AS (SELECT x.gsrc AS sa, y.gsrc AS sb
         |  FROM ss x JOIN ss y ON x.gsrc < y.gsrc),
         |ga AS (SELECT prs.sa, prs.sb, sg.sm, sg.c AS na
         |  FROM prs JOIN sg ON sg.gsrc = prs.sa),
         |gb AS (SELECT prs.sa, prs.sb, sg.sm, sg.c AS nb
         |  FROM prs JOIN sg ON sg.gsrc = prs.sb),
         |cells AS (
         |  SELECT COALESCE(ga.sa, gb.sa) AS sa, COALESCE(ga.sb, gb.sb) AS sb,
         |    COALESCE(ga.sm, gb.sm) AS sm,
         |    CAST(COALESCE(na, 0) AS BIGINT) AS na,
         |    CAST(COALESCE(nb, 0) AS BIGINT) AS nb
         |  FROM ga FULL JOIN gb
         |  ON ga.sa = gb.sa AND ga.sb = gb.sb AND ga.sm = gb.sm),
         |wnd AS (
         |  SELECT sa, sb, na, nb,
         |    CAST(COALESCE(SUM(nb) OVER (PARTITION BY sa, sb ORDER BY sm
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS cb
         |  FROM cells),
         |t2 AS (
         |  SELECT sa, sb, CAST(SUM(na) AS BIGINT) AS n_a,
         |    CAST(SUM(nb) AS BIGINT) AS n_b,
         |    CAST(SUM(CAST(na AS HUGEINT) * (2 * cb + nb)) AS HUGEINT) AS u2,
         |    CAST(SUM(CAST(na + nb AS HUGEINT) * (na + nb) * (na + nb)
         |      - (na + nb)) AS HUGEINT) AS tc
         |  FROM wnd GROUP BY 1, 2)
         |SELECT sa AS src_a, sb AS src_b, n_a, n_b,
         |  ROUND(CAST(u2 AS DOUBLE) / 2.0, 6) AS u_a,
         |  ROUND(CAST(u2 AS DOUBLE) /
         |    (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) - 1.0, 6) + 0.0
         |    AS rank_biserial,
         |  CASE WHEN CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0 *
         |      (((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) + 1.0)
         |        - CAST(tc AS DOUBLE) /
         |          ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) *
         |           ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) - 1.0))) > 0.0
         |    THEN ROUND((CAST(u2 AS DOUBLE) / 2.0
         |        - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0) /
         |      sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0 *
         |        (((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) + 1.0)
         |          - CAST(tc AS DOUBLE) /
         |            ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) *
         |             ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) - 1.0)))), 6)
         |      + 0.0
         |    ELSE CAST(0.0 AS DOUBLE) END AS z
         |FROM t2 ORDER BY src_a, src_b""".stripMargin),
    // q292: the q204 length grid, nano within/total/between Theil
    // terms, cleared shares (+0.0: quantized relative entropies)
    Query("q292_theil", sourceTheil,
      s"""WITH t AS (
         |  SELECT source AS grp,
         |    CAST(len(string_split($norm, ' ')) AS BIGINT) AS len
         |  FROM documents),
         |g AS (
         |  SELECT grp, len, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM t WHERE len > 0 GROUP BY 1, 2),
         |gr AS (
         |  SELECT grp, CAST(SUM(c) AS BIGINT) AS n_docs,
         |    CAST(SUM(c * len) AS BIGINT) AS xg
         |  FROM g GROUP BY 1),
         |tt AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n,
         |  CAST(SUM(xg) AS BIGINT) AS x FROM gr),
         |win AS (
         |  SELECT g.grp, CAST(COALESCE(SUM(CAST(round(
         |      CAST(g.c AS DOUBLE) * CAST(g.len AS DOUBLE) *
         |      ln(CAST(gr.n_docs AS DOUBLE) * CAST(g.len AS DOUBLE) /
         |        CAST(gr.xg AS DOUBLE)) * 1e9) AS BIGINT)), 0) AS BIGINT)
         |    AS wsum
         |  FROM g JOIN gr USING (grp) GROUP BY 1),
         |tot AS (
         |  SELECT CAST(COALESCE(SUM(CAST(round(
         |      CAST(g.c AS DOUBLE) * CAST(g.len AS DOUBLE) *
         |      ln(CAST(tt.n AS DOUBLE) * CAST(g.len AS DOUBLE) /
         |        CAST(tt.x AS DOUBLE)) * 1e9) AS BIGINT)), 0) AS BIGINT)
         |    AS tsum
         |  FROM g, tt),
         |btw AS (
         |  SELECT CAST(COALESCE(SUM(CAST(round(
         |      (CAST(gr.xg AS DOUBLE) / CAST(tt.x AS DOUBLE)) *
         |      ln(CAST(gr.xg AS DOUBLE) * CAST(tt.n AS DOUBLE) /
         |        (CAST(tt.x AS DOUBLE) * CAST(gr.n_docs AS DOUBLE))) * 1e9)
         |      AS BIGINT)), 0) AS BIGINT) AS bsum
         |  FROM gr, tt)
         |SELECT gr.grp AS "group", gr.n_docs, gr.xg AS total_tokens,
         |  ROUND(CAST(gr.xg AS DOUBLE) / CAST(tt.x AS DOUBLE), 6) AS share,
         |  ROUND(CAST(win.wsum AS DOUBLE) /
         |    (1e9 * CAST(gr.xg AS DOUBLE)), 6) + 0.0 AS theil_within,
         |  ROUND(CAST(btw.bsum AS DOUBLE) / 1e9, 6) + 0.0 AS theil_between,
         |  ROUND(CAST(tot.tsum AS DOUBLE) /
         |    (1e9 * CAST(tt.x AS DOUBLE)), 6) + 0.0 AS theil_total
         |FROM gr JOIN win ON gr.grp = win.grp, tt, tot, btw
         |ORDER BY "group"""".stripMargin),
    // q290: the q168 split, ML bigram/unigram tables, OOV drop, one
    // micro term per (pair, lambda), exact sums, argmax flag
    Query("q290_jm_sweep", jmLambdaSweep, {
      val lams = (1 to 9).map(i => s"CAST(${i / 10.0d} AS DOUBLE)")
        .mkString(", ")
      s"""WITH w AS (
         |  SELECT doc_id, string_split($norm, ' ') AS ws FROM documents
         |  WHERE len(string_split($norm, ' ')) >= 2),
         |bitr AS (
         |  SELECT b['p'] AS p, b['c'] AS c FROM (
         |    SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
         |      i -> struct_pack(p := ws[i], c := ws[i + 1]))) AS b
         |    FROM w WHERE doc_id % 10 <> 0)),
         |pc AS (SELECT p, c, CAST(COUNT(*) AS BIGINT) AS cpc
         |  FROM bitr GROUP BY 1, 2),
         |cx AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS cp
         |  FROM bitr GROUP BY 1),
         |uni AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS cw FROM (
         |    SELECT unnest(string_split($norm, ' ')) AS t FROM documents
         |    WHERE doc_id % 10 <> 0) u
         |  WHERE length(t) > 0 GROUP BY 1),
         |tot AS (SELECT CAST(SUM(cw) AS BIGINT) AS nw FROM uni),
         |hob AS (
         |  SELECT b['p'] AS p, b['c'] AS c, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM (
         |    SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
         |      i -> struct_pack(p := ws[i], c := ws[i + 1]))) AS b
         |    FROM w WHERE doc_id % 10 = 0)
         |  GROUP BY 1, 2),
         |sc AS (
         |  SELECT hob.p, hob.c, hob.n,
         |    CASE WHEN pc.cpc IS NOT NULL AND cx.cp IS NOT NULL
         |      THEN CAST(pc.cpc AS DOUBLE) / CAST(cx.cp AS DOUBLE)
         |      ELSE CAST(0.0 AS DOUBLE) END AS pbi,
         |    CASE WHEN uni.cw IS NOT NULL
         |      THEN CAST(uni.cw AS DOUBLE) / CAST(tot.nw AS DOUBLE)
         |      ELSE CAST(0.0 AS DOUBLE) END AS puni
         |  FROM hob LEFT JOIN pc USING (p, c) LEFT JOIN cx USING (p)
         |  LEFT JOIN uni ON uni.t = hob.c, tot),
         |oov AS (SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_oov
         |  FROM sc WHERE puni <= 0.0),
         |ls AS (SELECT unnest([$lams]) AS lambda),
         |pl AS (
         |  SELECT ls.lambda, CAST(SUM(sc.n) AS BIGINT) AS n_scored,
         |    CAST(SUM(sc.n * CAST(round(ln(ls.lambda * sc.pbi +
         |      (1.0 - ls.lambda) * sc.puni) * 1e6) AS BIGINT)) AS BIGINT) AS smm
         |  FROM sc, ls WHERE sc.puni > 0.0 GROUP BY 1),
         |av AS (
         |  SELECT lambda, n_scored,
         |    ROUND(CAST(smm AS DOUBLE) /
         |      (CAST(n_scored AS DOUBLE) * 1e6), 6) AS avg_logprob
         |  FROM pl),
         |rk AS (SELECT *, ROW_NUMBER() OVER (ORDER BY avg_logprob DESC, lambda)
         |  AS rn FROM av)
         |SELECT lambda, n_scored, n_oov, avg_logprob,
         |  ROUND(exp(-avg_logprob), 6) AS perplexity,
         |  CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS BIGINT) AS is_best
         |FROM rk, oov ORDER BY lambda""".stripMargin
    }),
    // q291: recursive greedy argmax (the q137 device) + first-covering-
    // pick word attribution for the gain/cumulative readouts
    Query("q291_set_cover", vocabSetCover,
      s"""WITH RECURSIVE
         |dw AS (
         |  SELECT doc_id, unnest(list_distinct(list_filter(
         |    string_split($norm, ' '), x -> length(x) > 0))) AS w
         |  FROM documents),
         |dd AS (SELECT DISTINCT doc_id FROM dw),
         |sel(it, ids) AS (
         |  SELECT 1, [(SELECT doc_id FROM (
         |    SELECT d.doc_id,
         |      (SELECT COUNT(*) FROM dw x WHERE x.doc_id = d.doc_id) AS gain
         |    FROM dd d)
         |    ORDER BY gain DESC, doc_id LIMIT 1)]
         |  UNION ALL
         |  SELECT it + 1, list_append(ids, (SELECT doc_id FROM (
         |    SELECT d.doc_id,
         |      (SELECT COUNT(*) FROM dw x WHERE x.doc_id = d.doc_id
         |        AND NOT EXISTS (SELECT 1 FROM dw cc
         |          WHERE list_contains(s.ids, cc.doc_id) AND cc.w = x.w)) AS gain
         |    FROM dd d WHERE NOT list_contains(s.ids, d.doc_id))
         |    ORDER BY gain DESC, doc_id LIMIT 1))
         |  FROM sel s WHERE it < 8),
         |fin AS (SELECT ids FROM sel WHERE it = 8),
         |ord AS (
         |  SELECT CAST(g.o AS BIGINT) AS rank, CAST(ids[g.o] AS BIGINT) AS doc_id
         |  FROM fin, generate_series(1, 8) g(o)),
         |fw AS (
         |  SELECT x.w, CAST(MIN(o.rank) AS BIGINT) AS fr
         |  FROM dw x JOIN ord o USING (doc_id) GROUP BY 1),
         |gains AS (
         |  SELECT fr AS rank, CAST(COUNT(*) AS BIGINT) AS new_words
         |  FROM fw GROUP BY 1)
         |SELECT o.rank, o.doc_id,
         |  CAST(COALESCE(g.new_words, 0) AS BIGINT) AS new_words,
         |  CAST(SUM(COALESCE(g.new_words, 0)) OVER (ORDER BY o.rank
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS cum_words
         |FROM ord o LEFT JOIN gains g USING (rank)
         |ORDER BY o.rank""".stripMargin),
    // q283: bit-exact CMS rebuild — polynomial item codes, the shared
    // (a,b) hash rows, integer mod buckets, min-over-rows estimate
    Query("q283_countmin", tokenCountMin, {
      val P = graft.expr.DedupKernel.P
      val hjRows = (0 until 4).map { j =>
        val (a, b) = graft.expr.DedupKernel.perm(j)
        s"($j, CAST($a AS BIGINT), CAST($b AS BIGINT))"
      }.mkString(", ")
      s"""WITH toks AS (
         |  SELECT unnest(string_split($norm, ' ')) AS token FROM documents),
         |tk AS (SELECT token FROM toks WHERE length(token) > 0),
         |cd AS (SELECT token, ${duckFold("token", 31L)} AS code FROM tk),
         |hj AS (SELECT * FROM (VALUES $hjRows) t(j, a, b)),
         |cells AS (
         |  SELECT hj.j, (cd.code * hj.a + hj.b) % $P % 1024 AS bucket,
         |    CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM cd, hj GROUP BY 1, 2),
         |ex AS (
         |  SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_cnt
         |  FROM tk GROUP BY 1
         |  ORDER BY exact_cnt DESC, token LIMIT 25),
         |dd AS (SELECT DISTINCT token, code FROM cd),
         |pb AS (
         |  SELECT ex.token, ex.exact_cnt, hj.j,
         |    (dd.code * hj.a + hj.b) % $P % 1024 AS bucket
         |  FROM ex JOIN dd USING (token), hj),
         |es AS (
         |  SELECT pb.token, pb.exact_cnt,
         |    CAST(MIN(COALESCE(cells.cnt, 0)) AS BIGINT) AS cms_est
         |  FROM pb LEFT JOIN cells ON cells.j = pb.j AND cells.bucket = pb.bucket
         |  GROUP BY 1, 2)
         |SELECT token, exact_cnt, cms_est,
         |  CAST(cms_est - exact_cnt AS BIGINT) AS overshoot
         |FROM es ORDER BY exact_cnt DESC, token""".stripMargin
    }),
    // q287: the q230 gate replay with lang-id ABSTAINING on 'und',
    // per-item nano disagreement terms, cleared D_e integers
    Query("q287_krippendorff", gateKrippendorff,
      s"""WITH $funnelGateCtes,
         |votes AS (
         |  SELECT doc_id, CAST(g_keep AS VARCHAR) AS v FROM sig
         |  UNION ALL
         |  SELECT doc_id, CAST(b_keep AS VARCHAR) AS v FROM sig
         |  UNION ALL
         |  SELECT p3.doc_id,
         |    CAST(CASE WHEN p3.predicted = p3.lang THEN 1 ELSE 0 END AS VARCHAR) AS v
         |  FROM p p3 WHERE p3.predicted <> 'und'),
         |iv AS (
         |  SELECT doc_id AS i, v, CAST(COUNT(*) AS BIGINT) AS nic
         |  FROM votes GROUP BY 1, 2),
         |mi AS (
         |  SELECT i, CAST(SUM(nic) AS BIGINT) AS m,
         |    CAST(SUM(CAST(nic AS HUGEINT) * nic) AS HUGEINT) AS sq
         |  FROM iv GROUP BY 1 HAVING SUM(nic) >= 2),
         |nt AS (
         |  SELECT CAST(COALESCE(SUM(m), 0) AS BIGINT) AS n,
         |    CAST(COUNT(*) AS BIGINT) AS n_items
         |  FROM mi),
         |dob AS (
         |  SELECT CAST(COALESCE(SUM(CAST(round(
         |      CAST(CAST(m AS HUGEINT) * m - sq AS DOUBLE) /
         |        (CAST(m AS DOUBLE) - 1.0) * 1e9) AS BIGINT)), 0) AS BIGINT)
         |    AS do9
         |  FROM mi),
         |marg AS (
         |  SELECT iv.v, CAST(SUM(iv.nic) AS BIGINT) AS nc
         |  FROM iv JOIN mi ON iv.i = mi.i GROUP BY 1),
         |de AS (
         |  SELECT CAST(COALESCE(SUM(CAST(nc AS HUGEINT) * nc), 0) AS HUGEINT)
         |      AS sqc,
         |    CAST(COUNT(*) AS BIGINT) AS n_values
         |  FROM marg)
         |SELECT n_items, n_values, n AS n_pairable,
         |  ROUND((CAST(do9 AS DOUBLE) / 1e9) / CAST(n AS DOUBLE), 6) AS d_o,
         |  ROUND((CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(sqc AS DOUBLE)) /
         |    (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)), 6) AS d_e,
         |  CASE WHEN n >= 2 AND
         |      (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(sqc AS DOUBLE)) /
         |        (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) > 0.0
         |    THEN ROUND(1.0 - ((CAST(do9 AS DOUBLE) / 1e9) / CAST(n AS DOUBLE)) /
         |      ((CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(sqc AS DOUBLE)) /
         |       (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))), 6) + 0.0
         |    ELSE CAST(1.0 AS DOUBLE) END AS alpha
         |FROM nt, dob, de""".stripMargin),
    // q275: classifier replay, calibration binning, nano sqrt(p*q)
    // terms summed as integers, the clamp and H = sqrt(1-BC)
    Query("q275_hellinger", sourceHellinger,
      s"""WITH $classifierPredCtes,
         |j AS (SELECT d.source AS g, p.conf
         |  FROM pred p JOIN documents d USING (doc_id)),
         |cells AS (
         |  SELECT g, LEAST((CAST(round(conf * 1e6) AS BIGINT) * 20) // 1000000,
         |    19) AS bin, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM j GROUP BY 1, 2),
         |gl AS (SELECT bin, CAST(SUM(c) AS BIGINT) AS gg FROM cells GROUP BY 1),
         |tt AS (SELECT CAST(SUM(gg) AS BIGINT) AS nn FROM gl),
         |mg AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM cells GROUP BY 1),
         |tm AS (
         |  SELECT cells.g, mg.n,
         |    CAST(round(sqrt(CAST(c AS DOUBLE) * CAST(gg AS DOUBLE) /
         |      (CAST(mg.n AS DOUBLE) * CAST(tt.nn AS DOUBLE))) * 1e9)
         |      AS BIGINT) AS t
         |  FROM cells JOIN gl USING (bin) JOIN mg ON cells.g = mg.g
         |  CROSS JOIN tt),
         |ag AS (SELECT g, n, CAST(SUM(t) AS BIGINT) AS bc9
         |  FROM tm GROUP BY 1, 2)
         |SELECT g AS "group", n,
         |  ROUND(LEAST(CAST(bc9 AS DOUBLE) / 1e9, CAST(1.0 AS DOUBLE)), 6)
         |    AS bc,
         |  ROUND(sqrt(GREATEST(CAST(1.0 AS DOUBLE) -
         |    LEAST(CAST(bc9 AS DOUBLE) / 1e9, CAST(1.0 AS DOUBLE)),
         |    CAST(0.0 AS DOUBLE))), 6) AS hellinger
         |FROM ag ORDER BY "group"""".stripMargin),
    // q273: the q203 grid with (na+nb)-weighted squared cross-mult
    // terms, one final division, the asymptotic 5% criterion
    Query("q273_cvm", cvmDrift,
      s"""WITH $classifierPredCtes,
         |ga AS (
         |  SELECT CAST(round(conf * 1e6) AS BIGINT) AS sm,
         |    CAST(COUNT(*) AS BIGINT) AS na
         |  FROM pred WHERE doc_id < 250 GROUP BY 1),
         |gb AS (
         |  SELECT CAST(round(conf * 1e6) AS BIGINT) AS sm,
         |    CAST(COUNT(*) AS BIGINT) AS nb
         |  FROM pred WHERE doc_id >= 250 GROUP BY 1),
         |cells AS (
         |  SELECT COALESCE(ga.sm, gb.sm) AS sm,
         |    COALESCE(na, 0) AS na, COALESCE(nb, 0) AS nb
         |  FROM ga FULL JOIN gb ON ga.sm = gb.sm),
         |cum AS (
         |  SELECT sm, na, nb,
         |    CAST(SUM(na) OVER (ORDER BY sm
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ca,
         |    CAST(SUM(nb) OVER (ORDER BY sm
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cb
         |  FROM cells),
         |tt AS (SELECT MAX(ca) AS ta, MAX(cb) AS tb FROM cum),
         |ag AS (
         |  SELECT MIN(ta) AS n_a, MIN(tb) AS n_b,
         |    SUM(CAST(na + nb AS HUGEINT) *
         |      (CAST(ca AS HUGEINT) * tb - CAST(cb AS HUGEINT) * ta) *
         |      (CAST(ca AS HUGEINT) * tb - CAST(cb AS HUGEINT) * ta)) AS ssq
         |  FROM cum, tt)
         |SELECT n_a, n_b,
         |  ROUND(CAST(ssq AS DOUBLE) /
         |    (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) *
         |     (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) *
         |     (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))), 6) AS t,
         |  ROUND((1.0 + 1.0 / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
         |    / 6.0, 6) AS mean_h0,
         |  CAST(CASE WHEN CAST(ssq AS DOUBLE) /
         |    (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) *
         |     (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) *
         |     (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))) > 0.46136
         |    THEN 1 ELSE 0 END AS BIGINT) AS reject_05
         |FROM ag""".stripMargin),
    // q274: the q271 per-label grids self-joined on dim — every pair
    // dot an exact HUGEINT, diagonal via the isotropy identity
    Query("q274_label_separation", labelSeparation,
      """WITH nrm AS (
        |  SELECT label, embedding,
        |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
        |      (acc, v) -> acc + v)) AS nv
        |  FROM embeddings),
        |uq AS (
        |  SELECT label, list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE) / nv * 1000000.0) AS BIGINT)) AS u
        |  FROM nrm),
        |ux AS (
        |  SELECT label, unnest(list_transform(generate_series(1, len(u)),
        |    i -> struct_pack(i := i, v := u[i]))) AS x
        |  FROM uq),
        |pd AS (
        |  SELECT label, x['i'] - 1 AS dim,
        |    CAST(COUNT(*) AS BIGINT) AS cnt,
        |    SUM(CAST(x['v'] AS HUGEINT)) AS s,
        |    SUM(CAST(x['v'] AS HUGEINT) * x['v']) AS q
        |  FROM ux GROUP BY 1, 2),
        |tg AS (SELECT label, MAX(cnt) AS n FROM pd GROUP BY 1),
        |pr AS (
        |  SELECT a.label AS src_a, b.label AS src_b,
        |    SUM(a.s * b.s) AS dot, SUM(a.q) AS qq
        |  FROM pd a JOIN pd b ON a.dim = b.dim AND a.label <= b.label
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, ta.n AS n_a, tb.n AS n_b,
        |  CASE WHEN src_a = src_b THEN
        |    CASE WHEN ta.n >= 2 THEN
        |      ROUND(CAST(dot - qq AS DOUBLE) /
        |        (CAST(ta.n AS DOUBLE) * (CAST(ta.n AS DOUBLE) - 1.0)) / 1e12, 6) + 0.0
        |      ELSE NULL END
        |    ELSE ROUND(CAST(dot AS DOUBLE) /
        |      (CAST(ta.n AS DOUBLE) * CAST(tb.n AS DOUBLE)) / 1e12, 6) + 0.0
        |  END AS mean_cos
        |FROM pr
        |JOIN tg ta ON pr.src_a = ta.label
        |JOIN tg tb ON pr.src_b = tb.label
        |ORDER BY src_a, src_b""".stripMargin),
    // q271: per-label norms, micro unit grids, per-(label, dim) sums,
    // the quadratic-form identity per label, single-vector NULL
    Query("q271_label_isotropy", labelIsotropy,
      """WITH nrm AS (
        |  SELECT label, embedding,
        |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
        |      (acc, v) -> acc + v)) AS nv
        |  FROM embeddings),
        |uq AS (
        |  SELECT label, list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE) / nv * 1000000.0) AS BIGINT)) AS u
        |  FROM nrm),
        |ux AS (
        |  SELECT label, unnest(list_transform(generate_series(1, len(u)),
        |    i -> struct_pack(i := i, v := u[i]))) AS x
        |  FROM uq),
        |pd AS (
        |  SELECT label, x['i'] - 1 AS dim,
        |    CAST(COUNT(*) AS BIGINT) AS cnt,
        |    SUM(CAST(x['v'] AS HUGEINT)) AS s,
        |    SUM(CAST(x['v'] AS HUGEINT) * x['v']) AS q
        |  FROM ux GROUP BY 1, 2),
        |tt AS (
        |  SELECT label, MAX(cnt) AS n, CAST(COUNT(*) AS BIGINT) AS dim,
        |    SUM(s * s) AS ss, SUM(q) AS qq
        |  FROM pd GROUP BY 1)
        |SELECT label AS "group", n, dim,
        |  ROUND(CAST(qq AS DOUBLE) / CAST(n AS DOUBLE) / 1e12, 6) AS mean_self,
        |  CASE WHEN n >= 2 THEN
        |    ROUND(CAST(ss - qq AS DOUBLE) /
        |      (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) / 1e12, 6) + 0.0
        |    ELSE NULL END AS mean_pairwise_cos
        |FROM tt ORDER BY "group"""".stripMargin),
    // q272: gopher labels x source, exact counts, the fixed-order
    // Wilson centre and half-width at the baked z literal
    Query("q272_wilson", sourceKeepWilson,
      s"""WITH $gopherLabCtes,
         |f AS (SELECT d.source AS g, l.keep AS y
         |  FROM lab l JOIN documents d USING (doc_id)),
         |c AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(y) AS BIGINT) AS r
         |  FROM f GROUP BY 1),
         |w AS (
         |  SELECT g, n, r,
         |    CAST(r AS DOUBLE) / CAST(n AS DOUBLE) AS p,
         |    1.0 + (1.959964 * 1.959964) / CAST(n AS DOUBLE) AS den
         |  FROM c),
         |w2 AS (
         |  SELECT g, n, r, p,
         |    (p + (1.959964 * 1.959964) / (CAST(n AS DOUBLE) * 2.0)) / den
         |      AS center,
         |    (1.959964 / den) * sqrt(p * (1.0 - p) / CAST(n AS DOUBLE) +
         |      (1.959964 * 1.959964) /
         |      (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 4.0)) AS half
         |  FROM w)
         |SELECT g AS "group", n, r, ROUND(p, 6) AS rate,
         |  ROUND(center - half, 6) + 0.0 AS lo95,
         |  ROUND(center + half, 6) AS hi95
         |FROM w2 ORDER BY "group"""".stripMargin),
    // q270: clean tokens, [.!?]+ sentence splits, vowel-group syllable
    // clamp, exact integer counts, fixed-order Flesch
    Query("q270_readability", sourceReadability,
      s"""WITH t AS (
         |  SELECT source,
         |    list_filter(string_split($norm, ' '), x -> length(x) > 0) AS ws,
         |    $norm AS nt
         |  FROM documents),
         |f AS (SELECT source, ws, string_split_regex(nt, '[.!?]+') AS sents
         |  FROM t WHERE len(ws) > 0),
         |per AS (
         |  SELECT source, CAST(len(ws) AS BIGINT) AS w,
         |    CAST(GREATEST(1, len(list_filter(sents,
         |      x -> length(trim(x)) > 0))) AS BIGINT) AS s,
         |    CAST(list_sum(list_transform(ws,
         |      x -> GREATEST(1, len(regexp_extract_all(x, '[aeiouy]+')))))
         |      AS BIGINT) AS y
         |  FROM f),
         |ag AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(w) AS BIGINT) AS n_words,
         |    CAST(SUM(s) AS BIGINT) AS n_sentences,
         |    CAST(SUM(y) AS BIGINT) AS n_syllables
         |  FROM per GROUP BY 1)
         |SELECT source AS "group", n_docs, n_words, n_sentences, n_syllables,
         |  ROUND(CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE), 6)
         |    AS words_per_sentence,
         |  ROUND(CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE), 6)
         |    AS syllables_per_word,
         |  ROUND(CAST(206.835 AS DOUBLE) -
         |    CAST(1.015 AS DOUBLE) *
         |      (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)) -
         |    CAST(84.6 AS DOUBLE) *
         |      (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)), 6)
         |    AS flesch
         |FROM ag""".stripMargin),
    // q267: gopher labels + fixed-width buckets, exact A/B integers,
    // fixed-order t/var/z ratios
    Query("q267_ca_trend", gopherLengthTrend,
      s"""WITH $gopherLabCtes,
         |f AS (
         |  SELECT LEAST(d.n_chars // 500, 9) AS w, l.keep AS y
         |  FROM lab l JOIN documents d USING (doc_id)),
         |g AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(y) AS BIGINT) AS r
         |  FROM f GROUP BY 1),
         |ag AS (
         |  SELECT CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(r) AS BIGINT) AS r,
         |    CAST(COUNT(*) AS BIGINT) AS k_buckets,
         |    SUM(CAST(w AS HUGEINT) * r) AS swr,
         |    SUM(CAST(w AS HUGEINT) * n) AS swn,
         |    SUM(CAST(w AS HUGEINT) * w * n) AS swwn
         |  FROM g),
         |ab AS (
         |  SELECT *,
         |    CAST(n AS HUGEINT) * swr - CAST(r AS HUGEINT) * swn AS a,
         |    CAST(r AS HUGEINT) * (n - r) *
         |      (CAST(n AS HUGEINT) * swwn - swn * swn) AS b
         |  FROM ag)
         |SELECT n, r, k_buckets,
         |  ROUND(CAST(a AS DOUBLE) / CAST(n AS DOUBLE), 6) + 0.0 AS t_stat,
         |  ROUND(CAST(b AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) *
         |    CAST(n AS DOUBLE)), 6) AS var_t,
         |  CASE WHEN b > 0 THEN
         |    ROUND((CAST(a AS DOUBLE) / CAST(n AS DOUBLE)) /
         |      sqrt(CAST(b AS DOUBLE) / (CAST(n AS DOUBLE) *
         |        CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 6) + 0.0
         |    ELSE NULL END AS z
         |FROM ab""".stripMargin),
    // q268: classifier + gopher replays, micro grids for all three
    // variables, nine HUGEINT moments, the first-order partial
    Query("q268_partial_corr", scoreKeepPartial,
      s"""WITH $classifierPredCtes,
         |$gopherLabCtes,
         |fr AS (
         |  SELECT CAST(round(p.conf * 1e6) AS BIGINT) AS x,
         |    CAST(round(CAST(l.keep AS DOUBLE) * 1e6) AS BIGINT) AS y,
         |    CAST(round(CAST(d.n_chars AS DOUBLE) * 1e6) AS BIGINT) AS z
         |  FROM pred p JOIN lab l USING (doc_id)
         |  JOIN documents d USING (doc_id)),
         |m AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
         |    SUM(CAST(z AS HUGEINT)) AS sz,
         |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
         |    SUM(CAST(y AS HUGEINT) * y) AS syy,
         |    SUM(CAST(z AS HUGEINT) * z) AS szz,
         |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
         |    SUM(CAST(x AS HUGEINT) * z) AS sxz,
         |    SUM(CAST(y AS HUGEINT) * z) AS syz
         |  FROM fr),
         |rr AS (
         |  SELECT n,
         |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) *
         |      CAST(sy AS DOUBLE)) / sqrt((CAST(n AS DOUBLE) *
         |      CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
         |      (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) *
         |      CAST(sy AS DOUBLE))) AS rxy,
         |    (CAST(n AS DOUBLE) * CAST(sxz AS DOUBLE) - CAST(sx AS DOUBLE) *
         |      CAST(sz AS DOUBLE)) / sqrt((CAST(n AS DOUBLE) *
         |      CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
         |      (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) *
         |      CAST(sz AS DOUBLE))) AS rxz,
         |    (CAST(n AS DOUBLE) * CAST(syz AS DOUBLE) - CAST(sy AS DOUBLE) *
         |      CAST(sz AS DOUBLE)) / sqrt((CAST(n AS DOUBLE) *
         |      CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) *
         |      (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) *
         |      CAST(sz AS DOUBLE))) AS ryz
         |  FROM m)
         |SELECT n, ROUND(rxy, 6) + 0.0 AS r_xy, ROUND(rxz, 6) + 0.0 AS r_xz,
         |  ROUND(ryz, 6) + 0.0 AS r_yz,
         |  CASE WHEN (1.0 - rxz * rxz) * (1.0 - ryz * ryz) > 0.0
         |    THEN ROUND((rxy - rxz * ryz) /
         |      sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)), 6) + 0.0
         |    ELSE NULL END AS r_partial
         |FROM rr""".stripMargin),
    // q266: BRUTE-FORCE all-pairs cosine on the same quantized grid —
    // a match proves the AllPairs prefix filter complete
    Query("q266_cosine_tf", cosineNearDup,
      s"""WITH ws AS (
         |  SELECT doc_id, list_filter(string_split($norm, ' '),
         |    x -> length(x) > 0) AS t
         |  FROM documents),
         |tk AS (
         |  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c FROM (
         |    SELECT doc_id, unnest(CASE WHEN len(t) >= 3
         |      THEN list_transform(generate_series(1, len(t) - 2),
         |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
         |      ELSE CAST([] AS VARCHAR[]) END) AS w
         |    FROM ws) GROUP BY 1, 2),
         |nr AS (SELECT doc_id,
         |    sqrt(SUM(CAST(c AS DOUBLE) * CAST(c AS DOUBLE))) AS nrm
         |  FROM tk GROUP BY 1),
         |u AS (SELECT tk.doc_id, tk.w,
         |    CAST(round(CAST(c AS DOUBLE) * 1e6 / nrm) AS BIGINT) AS u
         |  FROM tk JOIN nr USING (doc_id)),
         |p AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |    SUM(CAST(a.u AS HUGEINT) * b.u) AS sim
         |  FROM u a JOIN u b ON a.w = b.w AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT a_id, b_id, ROUND(CAST(sim AS DOUBLE) / 1e12, 6) AS cos
         |FROM p WHERE sim >= 800000000000""".stripMargin),
    // q264: the q203 replay + lambda and the 100-term pico-quantized
    // Kolmogorov series (order-free integer sum)
    Query("q264_ks_p", ksDriftTest,
      s"""WITH $classifierPredCtes,
         |ga AS (
         |  SELECT CAST(round(conf * 1e6) AS BIGINT) AS sm,
         |    CAST(COUNT(*) AS BIGINT) AS na
         |  FROM pred WHERE doc_id < 250 GROUP BY 1),
         |gb AS (
         |  SELECT CAST(round(conf * 1e6) AS BIGINT) AS sm,
         |    CAST(COUNT(*) AS BIGINT) AS nb
         |  FROM pred WHERE doc_id >= 250 GROUP BY 1),
         |cells AS (
         |  SELECT COALESCE(ga.sm, gb.sm) AS sm,
         |    COALESCE(na, 0) AS na, COALESCE(nb, 0) AS nb
         |  FROM ga FULL JOIN gb ON ga.sm = gb.sm),
         |cum AS (
         |  SELECT sm,
         |    CAST(SUM(na) OVER (ORDER BY sm
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ca,
         |    CAST(SUM(nb) OVER (ORDER BY sm
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cb
         |  FROM cells),
         |tt AS (SELECT MAX(ca) AS ta, MAX(cb) AS tb FROM cum),
         |df AS (SELECT sm, ABS(ca * tb - cb * ta) AS dn, ta, tb FROM cum, tt),
         |dmx AS (SELECT MAX(dn) AS d FROM df),
         |base AS (
         |  SELECT MIN(ta) AS n_a, MIN(tb) AS n_b, MIN(dn) AS dmn,
         |    MIN(sm) AS at
         |  FROM df, dmx WHERE df.dn = dmx.d),
         |lm AS (
         |  SELECT *, sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) /
         |    (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))) *
         |    (CAST(dmn AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))
         |    AS lam
         |  FROM base),
         |ser AS (
         |  SELECT n_a, n_b, dmn, at, lam,
         |    CAST(SUM((CASE WHEN j % 2 = 1 THEN 1 ELSE -1 END) *
         |      CAST(round(exp(-2.0 * CAST(j * j AS DOUBLE) * lam * lam)
         |        * 1e12) AS BIGINT)) AS BIGINT) AS ps
         |  FROM lm, (SELECT unnest(generate_series(1, 100)) AS j)
         |  GROUP BY 1, 2, 3, 4, 5)
         |SELECT n_a, n_b,
         |  ROUND(CAST(dmn AS DOUBLE) /
         |    (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) AS d,
         |  ROUND(CAST(at AS DOUBLE) / 1e6, 6) AS d_at,
         |  ROUND(lam, 6) AS lambda,
         |  CASE WHEN dmn = 0 THEN CAST(1.0 AS DOUBLE)
         |    ELSE GREATEST(LEAST(ROUND(CAST(ps AS DOUBLE) * 2.0 / 1e12, 6),
         |      CAST(1.0 AS DOUBLE)), CAST(0.0 AS DOUBLE)) END AS p_value
         |FROM ser""".stripMargin),
    // q265: the q185 grid with doubled placements both ways, exact
    // HUGEINT a2 and squared-deviation sums, fixed-order se/CI
    Query("q265_auc_ci", qualityAucCi,
      s"""WITH $classifierPredCtes,
         |$gopherLabCtes,
         |jj AS (SELECT p.conf, l.keep FROM pred p JOIN lab l USING (doc_id)),
         |g AS (SELECT CAST(round(conf * 1e6) AS BIGINT) AS sm,
         |    CAST(SUM(keep) AS BIGINT) AS np,
         |    CAST(SUM(1 - keep) AS BIGINT) AS nn
         |  FROM jj GROUP BY 1),
         |pl AS (
         |  SELECT sm, np, nn,
         |    2 * CAST(COALESCE(SUM(nn) OVER (ORDER BY sm
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) + nn AS v10,
         |    2 * CAST(COALESCE(SUM(np) OVER (ORDER BY sm DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) + np AS v01
         |  FROM g),
         |tt AS (SELECT CAST(SUM(np) AS BIGINT) AS n1,
         |    CAST(SUM(nn) AS BIGINT) AS n0,
         |    SUM(CAST(np AS HUGEINT) * v10) AS a2
         |  FROM pl),
         |dv AS (
         |  SELECT
         |    SUM(CAST(np AS HUGEINT) * (CAST(v10 AS HUGEINT) * n1 - a2) *
         |      (CAST(v10 AS HUGEINT) * n1 - a2)) AS s10n,
         |    SUM(CAST(nn AS HUGEINT) * (CAST(v01 AS HUGEINT) * n0 - a2) *
         |      (CAST(v01 AS HUGEINT) * n0 - a2)) AS s01n
         |  FROM pl, tt),
         |fin AS (
         |  SELECT n1, n0,
         |    CAST(a2 AS DOUBLE) /
         |      (CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE) * 2.0) AS auc,
         |    sqrt(
         |      CAST(s10n AS DOUBLE) /
         |        ((CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE) * 2.0) *
         |         (CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE) * 2.0)) /
         |        (CAST(n1 AS DOUBLE) - 1.0) / CAST(n1 AS DOUBLE) +
         |      CAST(s01n AS DOUBLE) /
         |        ((CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE) * 2.0) *
         |         (CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE) * 2.0)) /
         |        (CAST(n0 AS DOUBLE) - 1.0) / CAST(n0 AS DOUBLE)) AS se
         |  FROM tt, dv)
         |SELECT n1 AS n_pos, n0 AS n_neg, ROUND(auc, 6) AS auc,
         |  ROUND(se, 6) AS se,
         |  ROUND(auc - 1.959964 * se, 6) + 0.0 AS lo95,
         |  ROUND(auc + 1.959964 * se, 6) AS hi95
         |FROM fin""".stripMargin),
    // q263: group counts, the nano weight grid, the exact clip, both
    // HUGEINT ESS moments, fixed-order readouts
    Query("q263_importance_weights", sourceImportanceWeights,
      """WITH c AS (
        |  SELECT source AS grp, CAST(COUNT(*) AS BIGINT) AS n_rows
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS nn,
        |  CAST(COUNT(*) AS BIGINT) AS k FROM c),
        |w AS (
        |  SELECT grp, n_rows, t.nn, t.k,
        |    CAST(round(CAST(t.nn AS DOUBLE) * 1e9 /
        |      (CAST(t.k AS DOUBLE) * CAST(n_rows AS DOUBLE))) AS BIGINT)
        |      AS wraw
        |  FROM c, t),
        |w2 AS (SELECT *, LEAST(wraw, 2000000000) AS wq FROM w),
        |e AS (
        |  SELECT SUM(CAST(n_rows AS HUGEINT) * wq) AS sw,
        |    SUM(CAST(n_rows AS HUGEINT) * wq * wq) AS sw2
        |  FROM w2),
        |e2 AS (SELECT ROUND(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) /
        |  CAST(sw2 AS DOUBLE), 6) AS ess FROM e)
        |SELECT grp AS "group", n_rows,
        |  ROUND(CAST(n_rows AS DOUBLE) / CAST(nn AS DOUBLE), 6) AS share,
        |  ROUND(CAST(wraw AS DOUBLE) / 1e9, 6) AS raw_w,
        |  ROUND(CAST(wq AS DOUBLE) / 1e9, 6) AS w,
        |  e2.ess,
        |  ROUND(e2.ess / CAST(nn AS DOUBLE), 6) AS ess_frac
        |FROM w2, e2""".stripMargin),
    // q260: three gram streams (never crossing document boundaries),
    // per-order totals/distincts, NULL ratios on empty orders
    Query("q260_ngram_diversity", sourceNgramDiversity,
      s"""WITH t AS (
         |  SELECT source, list_filter(string_split($norm, ' '),
         |    x -> length(x) > 0) AS w
         |  FROM documents),
         |u1 AS (SELECT source, unnest(w) AS g FROM t),
         |a1 AS (SELECT source, CAST(SUM(c) AS BIGINT) AS t1,
         |    CAST(COUNT(*) AS BIGINT) AS d1c
         |  FROM (SELECT source, g, CAST(COUNT(*) AS BIGINT) AS c
         |    FROM u1 GROUP BY 1, 2) GROUP BY 1),
         |u2 AS (SELECT source, unnest(CASE WHEN len(w) >= 2
         |    THEN list_transform(generate_series(1, len(w) - 1),
         |      i -> w[i] || ' ' || w[i+1])
         |    ELSE CAST([] AS VARCHAR[]) END) AS g FROM t),
         |a2 AS (SELECT source, CAST(SUM(c) AS BIGINT) AS t2,
         |    CAST(COUNT(*) AS BIGINT) AS d2c
         |  FROM (SELECT source, g, CAST(COUNT(*) AS BIGINT) AS c
         |    FROM u2 GROUP BY 1, 2) GROUP BY 1),
         |u3 AS (SELECT source, unnest(CASE WHEN len(w) >= 3
         |    THEN list_transform(generate_series(1, len(w) - 2),
         |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
         |    ELSE CAST([] AS VARCHAR[]) END) AS g FROM t),
         |a3 AS (SELECT source, CAST(SUM(c) AS BIGINT) AS t3,
         |    CAST(COUNT(*) AS BIGINT) AS d3c
         |  FROM (SELECT source, g, CAST(COUNT(*) AS BIGINT) AS c
         |    FROM u3 GROUP BY 1, 2) GROUP BY 1),
         |base AS (SELECT DISTINCT source FROM documents)
         |SELECT b.source AS "group",
         |  COALESCE(a1.t1, 0) AS n1_total, COALESCE(a1.d1c, 0) AS n1_distinct,
         |  CASE WHEN COALESCE(a1.t1, 0) > 0 THEN ROUND(CAST(a1.d1c AS DOUBLE) /
         |    CAST(a1.t1 AS DOUBLE), 6) ELSE NULL END AS d1,
         |  COALESCE(a2.t2, 0) AS n2_total, COALESCE(a2.d2c, 0) AS n2_distinct,
         |  CASE WHEN COALESCE(a2.t2, 0) > 0 THEN ROUND(CAST(a2.d2c AS DOUBLE) /
         |    CAST(a2.t2 AS DOUBLE), 6) ELSE NULL END AS d2,
         |  COALESCE(a3.t3, 0) AS n3_total, COALESCE(a3.d3c, 0) AS n3_distinct,
         |  CASE WHEN COALESCE(a3.t3, 0) > 0 THEN ROUND(CAST(a3.d3c AS DOUBLE) /
         |    CAST(a3.t3 AS DOUBLE), 6) ELSE NULL END AS d3
         |FROM base b LEFT JOIN a1 USING (source) LEFT JOIN a2 USING (source)
         |LEFT JOIN a3 USING (source)""".stripMargin),
    Query("q235_burstiness", burstinessTop,
      s"""WITH tk AS (
         |  SELECT doc_id, unnest(string_split($norm, ' ')) AS token
         |  FROM documents),
         |pd AS (
         |  SELECT token, doc_id, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM tk WHERE length(token) > 0 GROUP BY 1, 2),
         |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
         |pt AS (
         |  SELECT token, CAST(COUNT(*) AS BIGINT) AS df,
         |    CAST(SUM(c) AS BIGINT) AS tf,
         |    SUM(CAST(c AS HUGEINT) * c) AS s2
         |  FROM pd GROUP BY 1),
         |f AS (
         |  SELECT token, df, tf,
         |    CAST(round(1000000000.0 *
         |      CAST(CAST(nd.n AS HUGEINT) * s2 - CAST(tf AS HUGEINT) * tf AS DOUBLE) /
         |      CAST(CAST(nd.n AS HUGEINT) * tf AS DOUBLE)) AS BIGINT) AS fn
         |  FROM pt, nd WHERE df >= 5)
         |SELECT token, df, tf, CAST(fn AS DOUBLE) / 1000000000.0 AS fano
         |FROM f ORDER BY fn DESC, token LIMIT 25""".stripMargin),
    // q234: identical SQL to q181 — the oracle replays the LIVE
    // training + encode, so the persisted-artifact serving path must
    // hash-match it (persisted ≡ live ≡ DuckDB)
    Query("q234_bpe_persisted", bpePersistedEncode,
      s"""WITH $bpeBatchedCtes,
         |$bpeEncodeCtes
         |SELECT doc_id, CAST(len(tids) AS BIGINT) AS n_tokens,
         |  array_to_string(list_transform(tids, x -> CAST(x AS VARCHAR)), '_') AS tokens_str
         |FROM enc ORDER BY doc_id""".stripMargin),
    Query("q231_jackknife", jackknifeKeepRate,
      s"""WITH $gopherCtes,
         |u AS (
         |  SELECT d.source, CAST(COUNT(*) AS BIGINT) AS ns,
         |    CAST(SUM(gr.g_keep) AS BIGINT) AS ts
         |  FROM documents d JOIN gr ON d.doc_id = gr.doc_id
         |  GROUP BY 1),
         |tot AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS s, CAST(SUM(ns) AS BIGINT) AS n,
         |    CAST(SUM(ts) AS BIGINT) AS t
         |  FROM u),
         |q AS (
         |  SELECT CAST(round(CAST(t - ts AS DOUBLE) / CAST(n - ns AS DOUBLE)
         |    * 1000000000.0) AS BIGINT) AS q
         |  FROM u, tot),
         |a AS (
         |  SELECT SUM(CAST(q AS HUGEINT)) AS sq,
         |    SUM(CAST(q AS HUGEINT) * q) AS sqq
         |  FROM q)
         |SELECT tot.s AS n_units, tot.n AS n_docs,
         |  ROUND(CAST(tot.t AS DOUBLE) / CAST(tot.n AS DOUBLE), 6) AS rate,
         |  ROUND(sqrt(CAST((tot.s * a.sqq - a.sq * a.sq) * (tot.s - 1) AS DOUBLE))
         |    / CAST(tot.s AS DOUBLE) / 1000000000.0, 6) AS se_jack
         |FROM tot, a""".stripMargin),
    Query("q232_capture_recapture", dedupCaptureRecapture,
      s"""WITH $minhashCtes,
         |p1 AS MATERIALIZED (
         |  SELECT DISTINCT LEAST(a_id, b_id) AS a, GREATEST(a_id, b_id) AS b
         |  FROM cand WHERE a_id <> b_id),
         |${simhashCtesP("s_")},
         |s_banded AS (
         |  SELECT doc_id, simhash, b.b AS band,
         |    (simhash >> (b.b * 16)) & 65535 AS chunk
         |  FROM s_fps, generate_series(0, 3) b(b)),
         |p2 AS MATERIALIZED (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM s_banded x JOIN s_banded y
         |    ON x.band = y.band AND x.chunk = y.chunk AND x.doc_id < y.doc_id
         |  WHERE bit_count(xor(x.simhash, y.simhash)) <= 3),
         |m AS (
         |  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM p1) AS n_tier1,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM p2) AS n_tier2,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM p1 JOIN p2 USING (a, b)) AS n_both),
         |m2 AS (
         |  SELECT n_tier1, n_tier2, n_both,
         |    (CAST(n_tier1 AS DOUBLE) + 1.0) * (CAST(n_tier2 AS DOUBLE) + 1.0) /
         |      (CAST(n_both AS DOUBLE) + 1.0) - 1.0 AS est
         |  FROM m)
         |SELECT n_tier1, n_tier2, n_both,
         |  ROUND(est, 6) AS est_total_pairs,
         |  CASE WHEN est <= 0 THEN CAST(0.0 AS DOUBLE)
         |    ELSE ROUND(CAST(n_tier1 AS DOUBLE) / est, 6) END AS recall_tier1,
         |  CASE WHEN est <= 0 THEN CAST(0.0 AS DOUBLE)
         |    ELSE ROUND(CAST(n_tier2 AS DOUBLE) / est, 6) END AS recall_tier2
         |FROM m2""".stripMargin))

  /** Shared by q167 (live) and q168 (persisted-model serving): the
    * oracle replays the LIVE computation, so a q168 hash match proves
    * persisted ≡ live ≡ DuckDB. */
  /** The q127 Gopher-rules replay alone, ending in `gr(doc_id, g_keep)`
    * — shared by the gate composites (q192/q229/q230 via
    * [[funnelGateCtes]]) and the q231 jackknife. */
  private def gopherCtes: String =
    s"""gt AS (
       |  SELECT doc_id, list_filter(string_split($norm, ' '), x -> length(x) > 0) AS w
       |  FROM documents),
       |gs AS (
       |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
       |    CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS sum_len,
       |    CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS alpha_words,
       |    CAST(len(list_filter(w, x -> list_contains(['the','be','to','of','and','that','have','with'], x))) AS BIGINT) AS n_stop_hits
       |  FROM gt WHERE len(w) > 0),
       |gr AS (
       |  SELECT doc_id,
       |    CAST(CASE WHEN n_words BETWEEN 20 AND 100000 THEN 1 ELSE 0 END AS BIGINT)
       |    * CAST(CASE WHEN sum_len >= 3 * n_words AND sum_len <= 10 * n_words THEN 1 ELSE 0 END AS BIGINT)
       |    * CAST(CASE WHEN alpha_words * 5 >= n_words * 4 THEN 1 ELSE 0 END AS BIGINT)
       |    * CAST(CASE WHEN n_stop_hits >= 1 THEN 1 ELSE 0 END AS BIGINT) AS g_keep
       |  FROM gs)""".stripMargin

  /** The q192/q229 three-gate replay (Gopher rules, blocklist, lang-id),
    * ending in `sig(doc_id, g_keep, b_keep, predicted)`. */
  private def funnelGateCtes: String =
    s"""$langIdPredCtes,
       |$gopherCtes,
       |bl AS (
       |  SELECT doc_id,
       |    CASE WHEN len(list_filter(string_split($norm, ' '),
       |        t -> list_contains(['big', 'broken', 'slow'], t))) = 0
       |      THEN 1 ELSE 0 END AS b_keep
       |  FROM documents),
       |sig AS (
       |  SELECT p.doc_id, gr.g_keep, bl.b_keep, p.predicted
       |  FROM p JOIN gr USING (doc_id) JOIN bl USING (doc_id))""".stripMargin

  /** The q42 marker-word lang-id replay, ending in `p(lang, predicted)`
    * — shared by the confusion matrix (q42), Cohen's κ (q187) and the
    * per-class report (q189). */
  private def langIdPredCtes: String =
    s"""s AS (
       |  SELECT doc_id, lang,
       |    len(list_filter(string_split($norm, ' '), t -> t IN ('the','a','of','and','to','in','is'))) AS c_en,
       |    len(list_filter(string_split($norm, ' '), t -> t IN ('der','die','das','und','ist','ein'))) AS c_de,
       |    len(list_filter(string_split($norm, ' '), t -> t IN ('le','la','les','et','est','une'))) AS c_fr,
       |    len(list_filter(string_split($norm, ' '), t -> t IN ('el','los','las','y','es','una'))) AS c_es,
       |    length(text) - length(regexp_replace(text, '[\\x{4e00}-\\x{9fff}]', '', 'g')) AS c_zh
       |  FROM documents),
       |p AS (
       |  SELECT doc_id, lang, CASE
       |    WHEN c_en = 0 AND c_de = 0 AND c_fr = 0 AND c_es = 0 AND c_zh = 0 THEN 'und'
       |    WHEN c_zh > 0 THEN 'zh'
       |    WHEN c_en >= c_de AND c_en >= c_fr AND c_en >= c_es THEN 'en'
       |    WHEN c_de >= c_fr AND c_de >= c_es THEN 'de'
       |    WHEN c_fr >= c_es THEN 'fr'
       |    ELSE 'es' END AS predicted
       |  FROM s)""".stripMargin

  private def backoffTrigramOracle: String = backoffTrigramOracle("doc_id % 10 <> 0")

  /** The live stupid-backoff replay, parameterized by the TRAINING-slice
    * predicate so the time-travel entry (q186) can replay the historic
    * snapshot's training data while q167/q168/q170/q180 replay the full
    * train slice. */
  private def backoffTrigramOracle(trainPred: String): String =
    s"""WITH tr AS (SELECT text FROM documents WHERE $trainPred),
         |te AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
         |trw AS (SELECT string_split($norm, ' ') AS ws FROM tr
         |  WHERE len(string_split($norm, ' ')) >= 3),
         |trt AS (
         |  SELECT t['w1'] AS w1, t['w2'] AS w2, t['w3'] AS w3 FROM (
         |    SELECT unnest(list_transform(generate_series(1, len(ws) - 2),
         |      i -> struct_pack(w1 := ws[i], w2 := ws[i + 1], w3 := ws[i + 2]))) AS t
         |    FROM trw)),
         |c3g AS (SELECT w1, w2, w3, COUNT(*) AS c123 FROM trt GROUP BY 1, 2, 3),
         |biw AS (SELECT string_split($norm, ' ') AS ws FROM tr
         |  WHERE len(string_split($norm, ' ')) >= 2),
         |c2g AS (
         |  SELECT b['wa'] AS wa, b['wb'] AS wb, COUNT(*) AS cab FROM (
         |    SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
         |      i -> struct_pack(wa := ws[i], wb := ws[i + 1]))) AS b
         |    FROM biw)
         |  GROUP BY 1, 2),
         |c1g AS (
         |  SELECT tk AS w, COUNT(*) AS c FROM (
         |    SELECT unnest(string_split($norm, ' ')) AS tk FROM tr)
         |  WHERE length(tk) > 0 GROUP BY 1),
         |nv AS (SELECT CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS v FROM c1g),
         |tew AS (SELECT doc_id, string_split($norm, ' ') AS ws FROM te
         |  WHERE len(string_split($norm, ' ')) >= 3),
         |tet AS (
         |  SELECT doc_id, t['w1'] AS w1, t['w2'] AS w2, t['w3'] AS w3 FROM (
         |    SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 2),
         |      i -> struct_pack(w1 := ws[i], w2 := ws[i + 1], w3 := ws[i + 2]))) AS t
         |    FROM tew)),
         |tt AS (SELECT doc_id, w1, w2, w3, COUNT(*) AS tn FROM tet GROUP BY 1, 2, 3, 4),
         |j AS (
         |  SELECT tt.doc_id, tt.tn, c3g.c123, b12.cab AS c12, b23.cab AS c23,
         |    u2.c AS c2, u3.c AS c3, nv.n, nv.v
         |  FROM tt
         |  LEFT JOIN c3g USING (w1, w2, w3)
         |  LEFT JOIN c2g b12 ON b12.wa = tt.w1 AND b12.wb = tt.w2
         |  LEFT JOIN c2g b23 ON b23.wa = tt.w2 AND b23.wb = tt.w3
         |  LEFT JOIN c1g u2 ON u2.w = tt.w2
         |  LEFT JOIN c1g u3 ON u3.w = tt.w3, nv),
         |m AS (
         |  SELECT doc_id, tn,
         |    CAST(round(ln(CASE
         |      WHEN c123 IS NOT NULL THEN CAST(c123 AS DOUBLE) / CAST(c12 AS DOUBLE)
         |      WHEN c23 IS NOT NULL THEN 0.4 * (CAST(c23 AS DOUBLE) / CAST(c2 AS DOUBLE))
         |      ELSE 0.4 * 0.4 * (CAST(COALESCE(c3, 0) + 1 AS DOUBLE) / CAST(n + v AS DOUBLE))
         |    END) * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS micro
         |  FROM j)
         |SELECT doc_id, CAST(SUM(tn) AS BIGINT) AS n_trigrams,
         |  CAST(SUM(tn * micro) AS BIGINT) AS sum_micro_nats,
         |  ROUND(CAST(SUM(tn * micro) AS DOUBLE) /
         |    (CAST(SUM(tn) AS DOUBLE) * CAST(1000000.0 AS DOUBLE)), 6) AS avg_logprob
         |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin

}
