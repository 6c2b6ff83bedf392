package graft.examples

import graft.{GraftSession, Tables}
import graft.core.Pin
import graft.core.Pin._
import graft.ops._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end training-corpus curation over the `documents` table — the
  * composed form of the pipeline every per-stage query entry (q30-q74)
  * exercises in isolation:
  *
  *   1. PII scrub (redact emails/IPs/phones, keep audit counts)
  *   2. quality filters: confident language-ID disagreement, token floor,
  *      duplicate-bigram (boilerplate) ceiling
  *   3. near-dup dedup: MinHash LSH candidates → connected components →
  *      keep the LONGEST doc per cluster
  *   4. weighted per-language mixture + deterministic train/val/test split
  *   5. benchmark decontamination: train docs sharing any word 8-gram
  *      with the held-out test split are dropped from train
  *   6. contiguous sequence packing to a fixed token budget, plus the
  *      epoch-1 training order (deterministic epoch shuffle)
  *
  * Every stage is deterministic (portable hashes, exact integer window
  * math), so two runs — or two CLUSTERS — produce byte-identical output.
  * Run: sbt "runMain graft.examples.CurationPipeline [sfDir]"
  */
object CurationPipeline {

  /** The pipeline as a function DataFrame → DataFrame (spec-testable). */
  def curate(spark: SparkSession, docs: DataFrame): DataFrame = {
    // 1. scrub: redacted text + per-category audit counts
    val scrubbed = PiiScrub.scrub(docs, "doc_id", "text")
      .join(docs.select("doc_id", "text", "lang"), "doc_id")

    // 2. quality: drop a doc only when the language heuristic DISAGREES
    //    with its declared lang AND is confident (>= 3 marker hits) —
    //    weak evidence shouldn't discard data; plus >= 10 tokens and
    //    < 60% duplicate bigrams
    val scored = TextAnalysis.langIdScores(scrubbed, "text")
    val confidence = greatest(col("c_en"), col("c_de"), col("c_fr"),
      col("c_es"), col("c_zh"))
    val langOk = scored.filter(
      col("predicted") === col("lang") || col("predicted") === "und"
        || confidence < 3L)
    val rep = TextAnalysis.repetitionStats(langOk, "doc_id", "text")
      .select(col("doc_id"), col("dup_frac"))
    val quality = langOk.join(rep, Seq("doc_id"), "left")
      .filter(TextAnalysis.tokenCount(col("text")) >= 10)
      .filter(coalesce(col("dup_frac"), lit(0.0)) < 0.6)
      .select("doc_id", "text", "lang", "redacted", "n_emails", "n_ips", "n_phones")

    // 2b. content gates (round-13 ops): C4-style blocklist pass plus an
    //     information-density floor — both pure map-side, so they cost
    //     one scan and compose freely with everything downstream
    val blockHits = TextAnalysis.blocklistFilter(quality, "doc_id", "text",
        Seq("slow")) // demo wordlist over the synthetic vocabulary
      .filter(col("keep") === 1L).select("doc_id")
    val entropyOk = TextAnalysis.charEntropy(quality, "doc_id", "text")
      .filter(col("entropy_nats") >= 1.5).select("doc_id")
    val gated = quality.join(blockHits, Seq("doc_id"))
      .join(entropyOk, Seq("doc_id"))
      .pin // read three times: candidates, survivors, dedup

    // 3. near-dup dedup, longest-doc survivor
    // read twice (survivors, losers); cut, not pinned, so the plans below
    // the losers carry no MinHash lineage
    val pairs = Pin.cut(Dedup.minHashCandidates(gated, "doc_id", "text",
      threshold = 0.5).select(col("a_id"), col("b_id")), eager = true)
    val keep = Components.bestPerCluster(
        gated.withColumn("n_chars", length(col("text"))),
        "doc_id", pairs, "n_chars")
      .select(col("keep_id").as("doc_id"))
    // every id in a pair lies in exactly one component, so the losers are
    // the paired ids minus the survivors — no second components solve
    val losers = pairs.select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
      .distinct()
      .join(keep, Seq("doc_id"), "left_anti")
    val deduped = gated.join(losers, Seq("doc_id"), "left_anti")

    // 4. mixture + split (both on the same stable md5 bucket family)
    val mixed = Sampling.weightedSample(deduped, "doc_id", "lang",
      Map("en" -> 80, "zh" -> 100, "de" -> 100, "fr" -> 100, "es" -> 100))
    val split = Sampling.hashSplit(mixed, "doc_id", trainPct = 90, valPct = 5)

    // 5. decontaminate: any train doc sharing a word 8-gram with the
    //    held-out test split leaks eval content — drop it from train
    //    (val/test rows pass through untouched)
    val contaminated = Decontaminate.contamination(
        split.filter(col("split") === "train"),
        split.filter(col("split") === "test"),
        "doc_id", "text", n = 8)
      .filter(col("n_hits") > 0)
      .select(col("doc_id"), lit(true).as("_dirty"))
    val clean = split.join(contaminated, Seq("doc_id"), "left")
      .filter(col("split") =!= "train" || col("_dirty").isNull)
      .drop("_dirty")

    // 6. pack into 256-token sequences per (split, lang) shard, and emit
    //    the epoch-1 training order (pos within the shard)
    val withTokens = clean.withColumn("n_tokens",
      TextAnalysis.tokenCount(col("text")).cast("long"))
      .withColumn("shard", concat_ws("/", col("split"), col("lang")))
    val packed = Sampling.packSequences(
      withTokens, "doc_id", "n_tokens", "shard", 256)
    Sampling.epochShuffle(packed, "doc_id", "shard", epoch = 1)
      .select("doc_id", "lang", "split", "redacted", "n_tokens",
        "seq_id", "tok_offset", "pos")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = GraftSession.local()
    val out = curate(spark, Tables.documents(spark, sfDir)).pin
    val n = out.count()
    println(s"=== curated corpus: $n documents ===")
    out.groupBy("split", "lang")
      .agg(count(lit(1)).as("docs"), max(col("seq_id")).as("max_seq"))
      .orderBy(col("split"), col("lang"))
      .show(30, truncate = false)
    Pin.release(spark)
    spark.stop()
  }
}
