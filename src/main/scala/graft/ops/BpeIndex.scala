package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted BPE tokenizer artifact — the trained merge table as a
  * first-class model directory under the shared [[Manifest]] commit
  * protocol, the same build/serve/time-travel lifecycle the LM counts
  * ([[LmIndex]]), BM25 postings ([[TextIndex]]) and IVF cells ([[Ivf]])
  * already share. The reference ships its tokenizer as a file artifact
  * loaded next to the model at inference time
  * (/root/reference/src/onnx.rs:61-68, `Tokenizer::from_file`); this is
  * that artifact for the Spark-trained BPE: train once, commit
  * atomically, encode any batch from the persisted table, replay any
  * historical version.
  *
  * A tokenizer is REBUILD-only by design: merge ranks are a total order
  * minted by training, so there is no additive append (unlike LM
  * counts — adding merges re-ranks everything). Retraining commits a
  * new sole delta atomically and the manifest version history is the
  * audit trail — changing a tokenizer silently invalidates every
  * downstream id sequence, so "which tokenizer encoded this shard" must
  * stay answerable ([[mergesAt]]).
  */
object BpeIndex {

  /** Train `merges` BPE merges on the corpus and commit the ranked merge
    * table as the sole delta — full REBUILD semantics: one atomic
    * manifest swap, a crash anywhere leaves the previous tokenizer
    * serving. */
  def build(train: DataFrame, textCol: String, dir: String,
      merges: Int, batchR: Int = 2): Unit =
    Manifest.rebuild(train.sparkSession, dir) { staging =>
      TextAnalysis.bpeMergesBatched(train, textCol, merges, batchR)
        .select(col("iter"), col("pair"), col("merged"))
        .coalesce(1) // rank-ordered and vocab-bounded (<= 65536 rows)
        .write.mode("overwrite").parquet(s"$staging/merges")
    }

  /** The live persisted merge list in training-rank order — the
    * driver-side artifact [[encode]] folds (bounded by the 65536-merge
    * training ceiling, the same footprint the in-memory callers carry).
    * Typed failure on a directory nothing was ever built into. */
  def merges(s: SparkSession, dir: String): Seq[(String, String)] =
    mergesFrom(s, dir, None)

  /** The merge list as of manifest `version` — the snapshot contract
    * (q186/q190/q191) for tokenizers: re-encode exactly what an old
    * shard was encoded with. */
  def mergesAt(s: SparkSession, dir: String, version: Long): Seq[(String, String)] =
    mergesFrom(s, dir, Some(version))

  private def mergesFrom(s: SparkSession, dir: String,
      version: Option[Long]): Seq[(String, String)] = {
    import s.implicits._
    s.read.parquet(Manifest.snapshot(s, dir, version, "BPE tokenizer")
        .deltas.map(d => s"$dir/$d/merges"): _*)
      .orderBy(col("iter"))
      .select(col("pair"), col("merged"))
      .as[(String, String)].collect().toSeq
  }

  /** Encode a batch from the persisted tokenizer — value-identical to
    * [[TextAnalysis.bpeEncode]] with the live merge list (the q234
    * oracle replays the LIVE training + encode, so a hash match proves
    * persisted ≡ live ≡ DuckDB). */
  def encode(s: SparkSession, dir: String, df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    TextAnalysis.bpeEncode(df, idCol, textCol, merges(s, dir))

  /** Encode against the `version` snapshot. */
  def encodeAt(s: SparkSession, dir: String, version: Long, df: DataFrame,
      idCol: String, textCol: String): DataFrame =
    TextAnalysis.bpeEncode(df, idCol, textCol, mergesAt(s, dir, version))
}
