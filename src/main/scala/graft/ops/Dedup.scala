package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Pin._

/** Deduplication operators for large-scale corpus curation — the north-star
  * extension surface (BASELINE.json; absent from the reference, SURVEY.md
  * §2.3 "Dedup"). All variants are pure DataFrame transformations: shuffles
  * only on the grouping keys, no driver-side materialization, deterministic
  * hashing. The sketch hashes (MinHash / SimHash) are portable polynomial
  * code-point hashes ([[graft.expr.DedupKernel]]) — stable across JVMs and
  * partitions AND reproducible by any engine with per-character built-ins,
  * which is what lets the DuckDB oracle recompute them (q32/q33/q36/q37).
  *
  * Scale ladder (100 TB design):
  *  1. [[exactGroups]]/[[dropExactDuplicates]] — one shuffle on a 128-bit
  *     content fingerprint; combiner-friendly (map-side partial agg).
  *  2. [[minHashSignatures]]/[[minHashCandidates]] — MinHash + LSH banding:
  *     near-dup candidates with one shuffle per explode + a self-equi-join
  *     on (band, bucket) — never an O(N²) cross join.
  *  3. [[simHash]] — 62-bit SimHash fingerprints; near-dups are fingerprint
  *     pairs within small Hamming distance, found by banding the bits.
  *  4. n-gram Jaccard verification of candidates (exact, but only over the
  *     candidate pairs, not all pairs) — see [[jaccardPairs]].
  */
object Dedup {

  /** Canonical text normalization shared by all text dedup ops. */
  def normText(text: Column): Column =
    regexp_replace(trim(lower(text)), "\\s+", " ")

  /** 128-bit content fingerprint (md5 hex of normalized text). */
  def fingerprint(text: Column): Column = md5(normText(text))

  /** Exact dedup groups: fingerprint → (group size, representative id). */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keep_id"))

  /** Keep one row per distinct normalized text (the representative = min id).
    * Implemented as an aggregate + semi-join (not dropDuplicates, whose
    * survivor is partition-order-dependent — nondeterministic at scale). */
  def dropExactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = exactGroups(df, idCol, textCol).select(col("keep_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Word w-shingles of the normalized text, one row per (id, shingle),
    * deduplicated — the set representation used by MinHash and Jaccard. */
  def shingles(df: DataFrame, idCol: String, textCol: String, w: Int = 3): DataFrame = {
    val words = split(normText(col(textCol)), " ")
    df.select(col(idCol), words.as("w"))
      .filter(size(col("w")) >= w)
      .select(col(idCol), explode(expr(
        s"transform(sequence(0, size(w) - $w), i -> concat_ws(' ', slice(w, i + 1, $w)))"))
        .as("shingle"))
      .distinct()
  }

  // MinHash universe: affine permutations over a Mersenne prime keep all
  // arithmetic inside non-overflowing Long range (shingle hash < 2^31).
  // P, the polynomial bases and the splitmix64 permutation live in
  // DedupKernel (shared with the codegen kernel so pipeline and kernel can
  // never drift).
  private val P = graft.expr.DedupKernel.P
  private def perm(i: Int): (Long, Long) = graft.expr.DedupKernel.perm(i)

  /** Portable polynomial code-point hash of a string column (Spark
    * built-ins only): acc ← (acc·base + codepoint) mod P — the exact
    * arithmetic of [[graft.expr.DedupKernel]]'s one-pass kernels, and of
    * the DuckDB oracle SQL. Differential-test / oracle template; the
    * kernels are the production path. */
  def polyHashCol(s: String, base: Long): Column = expr(
    s"aggregate(sequence(1, length($s)), CAST(0 AS BIGINT), " +
      s"(acc, i) -> (acc * $base + ascii(substring($s, i, 1))) % $P)")

  /** MinHash signatures: one row per id, `sig` = array of `numHashes`
    * min-hash values over the document's shingle multiset, via the
    * one-pass codegen kernel ([[graft.expr.DedupKernel.minHashSig]]) —
    * map-only, zero shuffle (a signature is a function of one document).
    * Bit-identical to [[minHashSignaturesPortable]]: min over the shingle
    * multiset equals min over the distinct set. */
  def minHashSignatures(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, w: Int = 3): DataFrame =
    df.select(col(idCol),
        graft.expr.DedupKernel.minHashSigCol(normText(col(textCol)), numHashes, w)
          .as("sig"))
      .filter(size(col("sig")) > 0)

  /** Portable expression-only MinHash signatures (built-ins: shingle
    * explode + distinct + groupBy mins — two shuffles). Kept as the
    * differential-test target for the kernel; prefer
    * [[minHashSignatures]]. */
  def minHashSignaturesPortable(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, w: Int = 3): DataFrame = {
    val sh = shingles(df, idCol, textCol, w)
      .withColumn("h", polyHashCol("shingle", graft.expr.DedupKernel.B1))
    val minCols = (0 until numHashes).map { i =>
      val (a, b) = perm(i)
      min(pmod(col("h") * lit(a) + lit(b), lit(P))).as(s"mh_$i")
    }
    sh.groupBy(col(idCol))
      .agg(minCols.head, minCols.tail: _*)
      .select(col(idCol),
        array((0 until numHashes).map(i => col(s"mh_$i")): _*).as("sig"))
  }

  /** LSH banding: explode each signature into `bands` band-hashes and
    * self-join on (band, bucket) — candidate pairs whose estimated Jaccard
    * (fraction of agreeing minhashes) ≥ `threshold`. The join key is
    * (band index, band hash): only genuinely colliding documents meet,
    * never a cross join. */
  def minHashCandidates(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, bands: Int = 8, w: Int = 3,
      threshold: Double = 0.5): DataFrame =
    minHashCandidatesFromSigs(
      minHashSignatures(df, idCol, textCol, numHashes, w),
      idCol, numHashes, bands, threshold)

  /** LSH banding over a signature table (use a persisted signature table —
    * the batch-built index — when calling repeatedly).
    *
    * Pairs are generated *within* each (band, bucket) group via
    * collect_list + pair expansion rather than a bucket self-join: the
    * signature pipeline is consumed exactly once (a self-join would
    * recompute it per side or force a cache), and the quadratic work is
    * confined to individual buckets, whose size LSH keeps small by
    * construction (a pathological mega-bucket means the banding parameters
    * are wrong for the corpus, not that the join should globally explode).
    */
  def minHashCandidatesFromSigs(
      sigs: DataFrame, idCol: String,
      numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5): DataFrame = {
    require(bands > 0 && numHashes % bands == 0,
      s"numHashes ($numHashes) must be a positive multiple of bands ($bands) — " +
        "bands > numHashes would hash empty slices into one global mega-bucket")
    val rowsPerBand = numHashes / bands
    val banded = sigs.select(
      col(idCol), col("sig"),
      posexplode(expr(
        s"transform(sequence(0, ${bands - 1}), b -> xxhash64(concat_ws('_', slice(sig, b * $rowsPerBand + 1, $rowsPerBand))))"))
        .as(Seq("band", "bucket")))
    val buckets = banded
      .groupBy(col("band"), col("bucket"))
      .agg(sort_array(collect_list(struct(col(idCol).as("id"), col("sig").as("sig"))))
        .as("ms"))
      .filter(size(col("ms")) >= 2)
    buckets
      .select(explode(expr(
        """flatten(transform(ms, (x, i) ->
          |  transform(slice(ms, i + 2, size(ms)), y ->
          |    named_struct('a_id', x.id, 'b_id', y.id,
          |      'est_jaccard', cast(size(filter(zip_with(x.sig, y.sig, (u, v) -> u = v), b -> b)) as double)))))"""
          .stripMargin)).as("p"))
      .select(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"),
        (col("p.est_jaccard") / lit(numHashes)).as("est_jaccard"))
      // filter BEFORE the de-dup shuffle: est_jaccard is a pure function of
      // the pair, so threshold rejection commutes with distinct — the
      // distinct exchange then carries only passing pairs, not every
      // sub-threshold band collision (the overwhelming majority at scale)
      .filter(col("est_jaccard") >= threshold)
      .distinct()
  }

  /** Dedup-aggressiveness sweep: LSH candidate pairs bucketed by
    * estimated-Jaccard band (0.0, 0.1, … 0.9) plus the cumulative
    * "pairs that would merge if the threshold were set here" curve —
    * the knob-choosing readout run BEFORE committing a corpus to a
    * threshold (a 0.5 threshold that merges 40% of a web crawl and a
    * 0.8 that merges 2% are different products; this shows the curve in
    * one pass). Pairs come from the same banded equi-join as
    * [[minHashCandidatesFromSigs]] with the threshold fully open, so
    * every band collision is counted once; run
    * [[bandingPlanEstimate]] (q148) first at corpus scale — an open
    * threshold inherits the banding's full collision mass by design.
    *
    * Output: (band_lo, n_pairs, cum_pairs), cum_pairs = candidate pairs
    * with est_jaccard ≥ band_lo. The window runs over ≤ 10 band rows —
    * never data. */
  def thresholdSweep(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, bands: Int = 8, w: Int = 3): DataFrame = {
    val cand = minHashCandidates(df, idCol, textCol, numHashes, bands, w,
      threshold = 0.0)
    cand
      .select((least(floor(col("est_jaccard") * 10), lit(9L)) / lit(10.0d))
        .as("band_lo"))
      .groupBy(col("band_lo")).agg(count(lit(1)).as("n_pairs"))
      .withColumn("cum_pairs",
        sum(col("n_pairs")).over(org.apache.spark.sql.expressions.Window
          .orderBy(col("band_lo").desc)))
      .orderBy(col("band_lo"))
  }

  /** Banded MinHash signature index rows: (id, sig, band, bucket), one row
    * per (document, band) — the persistable corpus-side index for
    * incremental dedup. Build once over the corpus, write bucketed by
    * (band, bucket); every incoming batch then computes only its OWN
    * signatures and equi-joins this index — no corpus recompute. */
  def bandedSignatures(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, bands: Int = 8, w: Int = 3): DataFrame = {
    require(bands > 0 && numHashes % bands == 0,
      s"numHashes ($numHashes) must be a positive multiple of bands ($bands)")
    val rowsPerBand = numHashes / bands
    minHashSignatures(df, idCol, textCol, numHashes, w)
      .select(col(idCol), col("sig"),
        posexplode(expr(
          s"transform(sequence(0, ${bands - 1}), b -> xxhash64(concat_ws('_', slice(sig, b * $rowsPerBand + 1, $rowsPerBand))))"))
          .as(Seq("band", "bucket")))
  }

  /** Incremental near-dup candidates: a NEW batch's banded signatures
    * joined against an EXISTING corpus index (both from
    * [[bandedSignatures]], id column named `idCol` on each side) — the
    * operational 100 TB mode: arriving data is checked against the corpus
    * without recomputing corpus signatures and without batch×batch or
    * corpus×corpus pairs. Equi-join on (band, bucket); est_jaccard =
    * fraction of agreeing minhashes (integer/numHashes — engine-exact).
    * Candidate distinct runs on narrow (ids, est) rows. */
  def incrementalCandidates(
      batchBanded: DataFrame, corpusBanded: DataFrame, idCol: String,
      numHashes: Int = 32, threshold: Double = 0.5): DataFrame = {
    val b = batchBanded.select(col("band"), col("bucket"),
      col(idCol).as("batch_id"), col("sig").as("bsig"))
    val c = corpusBanded.select(col("band"), col("bucket"),
      col(idCol).as("corpus_id"), col("sig").as("csig"))
    b.join(c, Seq("band", "bucket"))
      .withColumn("est_jaccard",
        expr(s"cast(size(filter(zip_with(bsig, csig, (u, v) -> u = v), m -> m)) as double) / $numHashes"))
      .filter(col("est_jaccard") >= threshold)
      .select(col("batch_id"), col("corpus_id"), col("est_jaccard"))
      .distinct()
  }

  /** The deduped batch: rows with no near-duplicate in the corpus index
    * (band-bucket anti-join — never a recompute of the corpus side). */
  def dedupBatchAgainstCorpus(
      batch: DataFrame, idCol: String, textCol: String,
      corpusBanded: DataFrame, numHashes: Int = 32, bands: Int = 8,
      w: Int = 3, threshold: Double = 0.5): DataFrame = {
    val bb = bandedSignatures(batch, idCol, textCol, numHashes, bands, w)
    val dup = incrementalCandidates(bb, corpusBanded, idCol, numHashes, threshold)
      .select(col("batch_id").as(idCol)).distinct()
    batch.join(dup, Seq(idCol), "left_anti")
  }

  /** Exact w-shingle Jaccard over all pairs sharing ≥1 shingle (equi-join
    * on the shingle — bounded by real overlap, not N²). For verification
    * of candidate pairs or small corpora; at scale run it only on
    * [[minHashCandidates]] output. */
  def jaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      w: Int = 3, threshold: Double = 0.0): DataFrame = {
    val sh = shingles(df, idCol, textCol, w)
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val a = sh.select(col(idCol).as("a_id"), col("shingle"))
    val b = sh.select(col(idCol).as("b_id"), col("shingle"))
    val inter = a.join(b, Seq("shingle"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col(idCol).as("a_id"), col("n").as("n_a")), Seq("a_id"))
      .join(sizes.select(col(idCol).as("b_id"), col("n").as("n_b")), Seq("b_id"))
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** Chunk-level (paragraph) exact dedup — RefinedWeb-style: documents
    * split into non-overlapping token windows ([[Chunking.chunkByTokens]],
    * overlap 0 so a chunk can't collide with its own neighbor), each
    * chunk fingerprinted, groups with ≥ 2 copies reported with a
    * deterministic survivor (lexicographic min (doc, idx) via struct
    * min — never partition order). Finer-grained than document dedup:
    * catches boilerplate paragraphs embedded in otherwise-unique pages.
    * Map-only chunking + one combiner-friendly groupBy on the
    * fingerprint; the shuffle carries (fp, partial counts), not text. */
  def chunkDedupGroups(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 32): DataFrame =
    Chunking.chunkByTokens(df, idCol, textCol, chunkTokens, 0)
      .select(col(idCol), col("chunk_idx"), md5(col("chunk")).as("chunk_fp"))
      .groupBy(col("chunk_fp"))
      .agg(count(lit(1)).as("n_copies"),
        countDistinct(col(idCol)).as("n_docs"),
        min(struct(col(idCol).as("d"), col("chunk_idx").as("i"))).as("_k"))
      .filter(col("n_copies") >= 2)
      .select(col("chunk_fp"), col("n_copies"), col("n_docs"),
        col("_k.d").as("keep_doc"), col("_k.i").as("keep_idx"))

  /** Cross-document repeated n-gram report — the exact-substring dedup
    * signal (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better"): for each document, how many of its distinct word
    * n-grams also occur in at least one OTHER document, and the shared
    * fraction. High shared_frac marks templated/boilerplate spans that
    * survive document-level dedup.
    *
    * Plan: map-only per-doc n-gram codes ([[TextAnalysis.ngramCodes]],
    * portable polynomial hashes), one groupBy(ngram) for cross-doc
    * occurrence counts (map-side combined; n-grams are distinct per doc so
    * count(*) = count of docs), an equi-join back, one groupBy(doc). All
    * shuffles carry (long, long) rows — never text. */
  def crossDocNgramStats(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    val grams = df.select(col(idCol),
      explode(Decontaminate.ngramSet(col(textCol), n)).as("ngram"))
    val shared = grams.groupBy(col("ngram"))
      .agg(count(lit(1)).as("n_docs_with"))
      .filter(col("n_docs_with") >= 2)
      .select(col("ngram"))
    val base = df.select(col(idCol),
        size(Decontaminate.ngramSet(col(textCol), n)).cast("long").as("n_ngrams"))
      .filter(col("n_ngrams") > 0)
    val hits = grams.join(shared, Seq("ngram"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared"))
    base.join(hits, Seq(idCol), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .withColumn("shared_frac", col("n_shared").cast("double") / col("n_ngrams"))
  }

  /** Repeated-span REMOVAL — the rewrite form of the Lee et al. 2022
    * exact-substring signal that [[crossDocNgramStats]] only reports:
    * every word n-gram occurring in ≥ 2 distinct documents marks its
    * n-token span as boilerplate, and the document is rewritten with all
    * marked spans deleted (overlapping spans union). Output per doc:
    * token counts before/after, the number of duplicated span starts,
    * and the cleaned text itself.
    *
    * Plan: map-only per-doc n-gram codes with positions (posexplode of
    * [[TextAnalysis.ngramCodes]] — (long, long) rows), one groupBy(code)
    * over per-doc-distinct grams for the cross-doc occurrence count, an
    * equi-join back to the positioned grams, one groupBy(doc) that
    * collects the duplicated starts (bounded by the doc's own length,
    * the same per-doc-array regime as every kernel here), and a map-only
    * rewrite: position p survives iff no duplicated start lies in
    * [p−n+1, p]. The rewrite's coverage test is O(L·|starts|) per doc in
    * the worst (fully-duplicated) case — still per-doc work; nothing
    * data-sized crosses an exchange except (long, long) gram rows. */
  def repeatedSpanRemoval(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    val grams = df
      .select(col(idCol),
        posexplode(TextAnalysis.ngramCodes(col(textCol), n)))
      .select(col(idCol), (col("pos") + 1).as("s"), col("col").as("code"))
    val dup = grams.select(col(idCol), col("code")).distinct()
      .groupBy(col("code")).agg(count(lit(1)).as("_nd"))
      .filter(col("_nd") >= 2).select(col("code"))
    val starts = grams.join(dup, "code")
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("s"))).as("_ss"))
    df.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("_w"))
      .join(starts, Seq(idCol), "left")
      .withColumn("_ss", coalesce(col("_ss"), array().cast("array<int>")))
      .withColumn("_kept", filter(sequence(lit(1), size(col("_w"))),
        p => !exists(col("_ss"), x => x <= p && p <= x + lit(n - 1))))
      .select(col(idCol),
        size(col("_w")).cast("long").as("n_tokens"),
        size(col("_ss")).cast("long").as("n_dup_spans"),
        (size(col("_w")) - size(col("_kept"))).cast("long").as("n_removed"),
        concat_ws(" ", transform(col("_kept"),
          p => element_at(col("_w"), p))).as("clean_text"))
  }

  /** MAXIMAL-span exact-substring removal at VARIABLE span length —
    * the full Lee et al. 2022 rewrite that [[repeatedSpanRemoval]]
    * approximates at fixed n: runs of overlapping-or-adjacent
    * duplicated n-gram starts (gap ≤ n) coalesce into MAXIMAL spans
    * (a run from start s₁ to last start s_k is ONE duplicated region
    * [s₁, s_k + n − 1], length s_k − s₁ + n), and only spans of length
    * ≥ `minLen` are removed — so a 200-token boilerplate block is
    * treated as one span (and a lone duplicated 8-gram survives when
    * minLen > n, exactly the "don't shred documents over short common
    * phrases" knob the paper's 50-token threshold encodes). Pure
    * positional arithmetic on the existing (doc, start) set — no
    * suffix array needed.
    *
    * Output per doc: token counts, the kept maximal spans
    * (`spans_str` = "start:len" CSV — engine-exact), the longest span,
    * and the cleaned text with those spans deleted.
    *
    * Plan: identical shuffle shape to [[repeatedSpanRemoval]] (the ONE
    * cross-doc aggregate is on (code) with (long, long) rows); the
    * coalescing is map-only per-doc array arithmetic over the sorted
    * start list (heads = starts opening a new run, span ends = the
    * start before the next head), bounded by the doc's own length. */
  def maximalSpanRemoval(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minLen: Int = 8): DataFrame = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    require(minLen >= n,
      s"minLen ($minLen) below n ($n) is unreachable — spans are >= n tokens")
    val grams = df
      .select(col(idCol),
        posexplode(TextAnalysis.ngramCodes(col(textCol), n)))
      .select(col(idCol), (col("pos") + 1).as("s"), col("col").as("code"))
    val dup = grams.select(col(idCol), col("code")).distinct()
      .groupBy(col("code")).agg(count(lit(1)).as("_nd"))
      .filter(col("_nd") >= 2).select(col("code"))
    val starts = grams.join(dup, "code")
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("s"))).as("_ss"))
    df.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("_w"))
      .join(starts, Seq(idCol), "left")
      .withColumn("_ss", coalesce(col("_ss"), array().cast("array<int>")))
      // run heads: 1-based indices into _ss where a new run begins (gap
      // to the previous start > n). sequence(1, 0) runs DESCENDING in
      // Spark, so the empty case is guarded explicitly.
      .withColumn("_hd", expr(
        s"""CASE WHEN size(_ss) = 0 THEN array()
           |ELSE filter(sequence(1, size(_ss)),
           |  i -> i = 1 OR element_at(_ss, i) - element_at(_ss, i - 1) > $n)
           |END""".stripMargin))
      // span j: from its head's start to (the start before the next
      // head) + n - 1; the last run ends at the last start
      .withColumn("_sp", expr(
        s"""CASE WHEN size(_hd) = 0 THEN array()
           |ELSE filter(transform(sequence(1, size(_hd)), j -> named_struct(
           |  'st', element_at(_ss, element_at(_hd, j)),
           |  'fin', element_at(_ss, CASE WHEN j = size(_hd) THEN size(_ss)
           |    ELSE element_at(_hd, j + 1) - 1 END) + ${n - 1})),
           |  sp -> sp.fin - sp.st + 1 >= $minLen)
           |END""".stripMargin))
      .withColumn("_kept", expr(
        "filter(sequence(1, size(_w)), " +
          "p -> NOT exists(_sp, sp -> sp.st <= p AND p <= sp.fin))"))
      .select(col(idCol),
        size(col("_w")).cast("long").as("n_tokens"),
        size(col("_sp")).cast("long").as("n_spans"),
        expr("coalesce(array_max(transform(_sp, sp -> sp.fin - sp.st + 1)), 0)")
          .cast("long").as("max_span_len"),
        (size(col("_w")) - size(col("_kept"))).cast("long").as("n_removed"),
        concat_ws(",", expr(
          "transform(_sp, sp -> concat(sp.st, ':', sp.fin - sp.st + 1))"))
          .as("spans_str"),
        concat_ws(" ", transform(col("_kept"),
          p => element_at(col("_w"), p))).as("clean_text"))
  }

  /** SimHash near-dup candidate pairs: band the fingerprints' 64 stored
    * bits (62 populated — the top band is 2 bits lighter) into
    * `bands` chunks; pairs sharing any chunk are candidates (pigeonhole:
    * any pair within Hamming distance < bands must share a chunk), then
    * filtered to true Hamming distance ≤ maxHamming via bit_count(xor).
    * Same LSH shape as MinHash banding — equi-join on (band, chunk),
    * never a cross join. */
  def simHashCandidates(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, bands: Int = 4): DataFrame = {
    require(bands > 0 && 64 % bands == 0, s"bands ($bands) must divide 64")
    require(maxHamming < bands,
      s"pigeonhole needs maxHamming ($maxHamming) < bands ($bands) for full recall")
    val width = 64 / bands
    val fps = simHash(df, idCol, textCol)
    // pair expansion inside each (band, chunk) group — single pass over
    // the fingerprint pipeline (a bucket self-join would recompute it per
    // side), quadratic work confined to buckets (same shape as MinHash)
    val banded = fps.select(
      col(idCol), col("simhash"),
      posexplode(expr(
        s"transform(sequence(0, ${bands - 1}), b -> (simhash >> (b * $width)) & ${(1L << width) - 1}L)"))
        .as(Seq("band", "chunk")))
    banded
      .groupBy(col("band"), col("chunk"))
      .agg(sort_array(collect_list(struct(col(idCol).as("id"), col("simhash").as("fp"))))
        .as("ms"))
      .filter(size(col("ms")) >= 2)
      .select(explode(expr(
        """flatten(transform(ms, (x, i) ->
          |  transform(slice(ms, i + 2, size(ms)), y ->
          |    named_struct('a_id', x.id, 'b_id', y.id,
          |      'hamming', bit_count(x.fp ^ y.fp)))))""".stripMargin)).as("p"))
      .select(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"),
        col("p.hamming").cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** 62-bit SimHash fingerprint per document: token-frequency-weighted
    * ±1 vote per bit of the two-lane polynomial hash
    * (h₁ << 31) | h₂; fingerprint bit j = sign of the vote sum. One-pass
    * codegen kernel ([[graft.expr.DedupKernel.simHash62]]) — map-only,
    * zero shuffle. Bit-identical to [[simHashPortable]]: per-occurrence
    * ±1 votes sum to the tf-weighted votes. */
  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        graft.expr.DedupKernel.simHash62Col(normText(col(textCol))).as("simhash"))
      .filter(col("simhash").isNotNull)

  /** Portable expression-only SimHash (built-ins: token explode + tf
    * groupBy + 62 vote sums — two shuffles). Kept as the differential-test
    * target for the kernel; prefer [[simHash]]. */
  def simHashPortable(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import graft.expr.DedupKernel.{B1, B2, SimHashBits}
    val toks = df
      .select(col(idCol), explode(split(normText(col(textCol)), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col(idCol), col("tok"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("th",
        shiftleft(polyHashCol("tok", B1), 31).bitwiseOR(polyHashCol("tok", B2)))
    val voteCols = (0 until SimHashBits).map { j =>
      sum(when(shiftright(col("th"), j).bitwiseAND(lit(1L)) === 1L, col("tf"))
        .otherwise(-col("tf"))).as(s"v_$j")
    }
    val votes = toks.groupBy(col(idCol)).agg(voteCols.head, voteCols.tail: _*)
    val fpExpr = (0 until SimHashBits).map { j =>
      when(col(s"v_$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }.reduce[Column](_.bitwiseOR(_))
    votes.select(col(idCol), fpExpr.as("simhash"))
  }

  /** Distinct w-shingle CODES per doc — one pass of the
    * [[graft.expr.DedupKernel.distinctNgramCodes]] codegen kernel (the
    * q79 machinery): shuffling 8-byte codes instead of ~w·10-byte
    * strings cuts the dominant shuffle of the set-similarity joins ~5×,
    * and the kernel computes them without per-character lambda
    * interpretation. Code collisions (mod-P polynomial, ~2⁻³¹ per
    * distinct pair) are rare AND engine-consistent — the oracle replays
    * the identical codes, so results stay bit-equal. */
  private def shingleCodes(df: DataFrame, idCol: String, textCol: String,
      w: Int): DataFrame =
    df.select(col(idCol),
      explode(graft.expr.DedupKernel.distinctNgramCodesCol(
        normText(col(textCol)), w)).as("shingle"))

  /** Prefix-filtered set-similarity join (PPJoin-style prefix filter,
    * Chaudhuri et al. "A Primitive Operator for Similarity Joins" /
    * Xiao et al. PPJoin): exact token-set Jaccard join at threshold τ
    * WITHOUT the all-pairs cross product. Per document, order its
    * distinct w-shingles by ascending global document frequency (rarest
    * first, ties by shingle text); any pair with Jaccard ≥ τ must share
    * a shingle in each side's first L − ⌈τ·L⌉ + 1 (the prefix), so the
    * candidate set is the equi-join of PREFIX shingles only — frequent
    * shingles never generate pairs. Candidates are then verified with
    * exact intersection counts. Complete (no false negatives) by the
    * prefix-filter guarantee; the prefix rank uses integer arithmetic
    * (⌈τL⌉ via div) so an engine replaying it lands on identical
    * candidates. Scale: one shuffle for the DF count, one window by doc,
    * the candidate equi-join on shingle, and a verify join linear in
    * |candidates|·shingles-per-doc — survives corpora where the q31
    * all-pairs verifier is quadratic. τ must be a rational p/q supplied
    * as integers to keep ⌈τL⌉ exact. */
  def prefixJaccardJoin(df: DataFrame, idCol: String, textCol: String,
      tauNum: Int, tauDen: Int, w: Int = 3): DataFrame = {
    require(tauNum > 0 && tauNum <= tauDen, s"need 0 < τ ≤ 1, got $tauNum/$tauDen")
    val st = shingleCodes(df, idCol, textCol, w) // (id, code) distinct
    val dfreq = st.groupBy(col("shingle")).agg(count(lit(1)).as("_df"))
    val wOrd = Window.partitionBy(col(idCol)).orderBy(col("_df"), col("shingle"))
    val ord = st.join(dfreq, "shingle")
      .withColumn("_rn", row_number().over(wOrd))
      .withColumn("_L", count(lit(1)).over(Window.partitionBy(col(idCol))))
    // prefix length = L − ⌈τL⌉ + 1, all-integer: ⌈τL⌉ = (τnum·L + τden − 1) div τden
    val pref = ord
      .filter(col("_rn") <=
        col("_L") - expr(s"(_L * $tauNum + ${tauDen - 1}) div $tauDen") + 1)
      .select(col(idCol), col("shingle"))
    val cand = pref.as("a").join(pref.as("b"), Seq("shingle"))
      .filter(col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("a_id"), col(s"b.$idCol").as("b_id"))
      .distinct()
    val sizes = st.groupBy(col(idCol)).agg(count(lit(1)).as("_n"))
    val inter = cand
      .join(st.as("sa"), col("a_id") === col(s"sa.$idCol"))
      .join(st.as("sb"),
        col("b_id") === col(s"sb.$idCol")
          && col("sa.shingle") === col("sb.shingle"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("_ni"))
    inter
      .join(sizes.as("za"), col("a_id") === col(s"za.$idCol"))
      .join(sizes.as("zb"), col("b_id") === col(s"zb.$idCol"))
      .select(col("a_id"), col("b_id"),
        (col("_ni").cast("double") /
          (col(s"za._n") + col(s"zb._n") - col("_ni"))).as("jaccard"))
      .filter(col("jaccard") >= lit(tauNum.toDouble / tauDen))
  }

  /** WEIGHTED-COSINE similarity self-join with AllPairs prefix
    * filtering (Bayardo, Ma & Srikant, WWW 2007 "Scaling Up All Pairs
    * Similarity Search") — the TF-vector companion of
    * [[prefixJaccardJoin]]'s set filter: exact cosine ≥ τ pairs over
    * L2-normalized token-count vectors WITHOUT the all-pairs cross
    * product. Captures graded near-duplication (same words, shifted
    * emphasis) that set Jaccard flattens to membership.
    *
    * Per document, tokens sort by ascending global document frequency
    * (rarest first, token tie-break); a position stays in the PREFIX
    * while the integer Cauchy–Schwarz bound says its tail could still
    * reach τ against ANY document: tail₂(i)·max‖u‖² ≥ (τ·10¹²)², all
    * exact DECIMAL — so frequent tokens never generate candidates and
    * the filter is provably complete ON THE QUANTIZED VECTORS (the
    * same grid the verify and the oracle use — no float gap for a
    * pair to slip through). Candidates = prefix-token equi-join;
    * verification = exact integer dot product. Output:
    * (a_id, b_id, cos) for every pair with Σu_au_b ≥ τ·10¹² — the
    * oracle computes the BRUTE-FORCE all-pairs join, so an oracle
    * match proves filter completeness end to end.
    *
    * Determinism: unit components micro-quantize to longs; document
    * frequency / tail sums / the dot product are exact integers;
    * cos rounds once at 6 dp (quantization can overshoot 1 by ~1e-6
    * on identical docs, reported honestly). Empty documents carry no
    * features and emit no pairs.
    *
    * Scale: one shuffle for DF counts, one per-doc window, the
    * candidate equi-join on RARE tokens only, a verify join linear in
    * |candidates|·tokens-per-doc — the q31 all-pairs shape never
    * appears. */
  def cosineTfJoin(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8d, w: Int = 1): DataFrame = {
    require(threshold > 0.0d && threshold < 1.0d,
      s"need 0 < threshold < 1, got $threshold")
    require(w >= 1 && w <= 10, s"need 1 <= w <= 10, got $w")
    val dec = "decimal(38,0)"
    val tm = math.round(threshold * 1e12d)
    // features = w-shingles WITH multiplicity (w = 1: plain tokens).
    // On template-heavy corpora the unigram vocabulary is tiny and
    // nearly every pair shares rare tokens, so real pipelines shingle
    // first — the feature space explodes and only genuine near-dups
    // collide.
    val tok = df.select(col(idCol).as("_id"),
        filter(split(normText(col(textCol)), " "),
          t => length(t) > 0).as("_ws"))
      .select(col("_id"), explode(expr(
        s"CASE WHEN size(_ws) >= $w THEN " +
          s"transform(sequence(1, size(_ws) - ${w - 1}), " +
          s"i -> concat_ws(' ', slice(_ws, i, $w))) " +
          "ELSE array() END")).as("_w"))
      .groupBy(col("_id"), col("_w")).agg(count(lit(1)).as("_c"))
    val feats = tok
      .withColumn("_nrm", sqrt(sum(col("_c").cast("double") *
        col("_c").cast("double")).over(Window.partitionBy(col("_id")))))
      .withColumn("_u", round(col("_c").cast("double") * 1e6d / col("_nrm"))
        .cast("long"))
      .select(col("_id"), col("_w"), col("_u"))
      .pin // reused: df counts, prefix, verify
    val norm2 = feats.groupBy(col("_id"))
      .agg(sum(col("_u") * col("_u")).as("_n2"))
    val mx = norm2.agg(max(col("_n2")).as("_mx"))
    val dfreq = feats.groupBy(col("_w")).agg(count(lit(1)).as("_df"))
    val wTail = Window.partitionBy(col("_id"))
      .orderBy(col("_df").desc, col("_w").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val pref = feats.join(dfreq, Seq("_w"))
      .withColumn("_tail2", sum(col("_u") * col("_u")).over(wTail))
      .crossJoin(broadcast(mx))
      .filter(col("_tail2").cast(dec) * col("_mx") >=
        lit(tm).cast(dec) * lit(tm))
      .select(col("_id"), col("_w"), col("_tail2"))
    // pairwise tail bound (the PPJoin positional filter in norm form):
    // a qualifying pair's EARLIEST shared token u has
    // sim ≤ √(tail2_a(u))·√(tail2_b(u)), so a join row failing
    // tail2_a·tail2_b ≥ τ² can never be that witness — pairs sharing
    // only mutually-late tokens are pruned BEFORE the distinct,
    // which is where a hot-token corpus explodes
    val cand = pref.as("a").join(pref.as("b"), Seq("_w"))
      .filter(col("a._id") < col("b._id"))
      .filter(col("a._tail2").cast(dec) * col("b._tail2") >=
        lit(tm).cast(dec) * lit(tm))
      .select(col("a._id").as("a_id"), col("b._id").as("b_id"))
      .distinct()
    // r17 verify audit (VERDICT item #7): instrumented at sf0.1 by a
    // probe (tools/ProbeQ266, deleted; last present at 18416b5) that
    // re-ran this op's stages — 268 K prefix-join rows → 142 K distinct
    // candidates → 256 verified pairs (~555 candidates per emitted
    // pair). The prefix/tail bounds are already the sharp Cauchy–
    // Schwarz bounds on the quantized grid (all norms² = 10¹², so no
    // norm-based filter discriminates), leaving the verify join below
    // as the honest cost: |cand| × features/doc NARROW rows (~14 M ×
    // ~25 B here). A per-candidate map-lookup restructure (features
    // collapsed to per-doc maps, one fold per candidate) was measured
    // 3.7× SLOWER (9.8 s vs 2.6 s): it shuffles a multi-KB map payload
    // per candidate side — guide §2.3's "shuffle keys, not payloads"
    // cuts the other way when the payload IS the working set. Kept the
    // r16 shape; conclusion recorded: the verify itself is the floor.
    cand
      .join(feats.as("fa"), col("a_id") === col("fa._id"))
      .join(feats.as("fb"),
        col("b_id") === col("fb._id") && col("fa._w") === col("fb._w"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(sum(col("fa._u").cast(dec) * col("fb._u")).as("_sim"))
      .filter(col("_sim") >= lit(tm).cast(dec))
      .select(col("a_id"), col("b_id"),
        round(col("_sim").cast("double") / 1e12d, 6).as("cos"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** ASYMMETRIC containment pairs: containment(a→b) = |Sₐ∩S_b| / |Sₐ|
    * over w-shingle sets — the "document a is mostly a copy/quote of b"
    * signal that Jaccard misses when b is much longer (a 100-word quote
    * inside a 10k-word page has tiny Jaccard but containment ≈ 1).
    * Directed: (a,b) and (b,a) both emitted when both clear τ.
    *
    * Candidates come from the inverted index restricted to shingles with
    * document frequency ≤ `maxDf` (skip-hot-postings): frequent shingles
    * never generate pairs, bounding the join at df²-per-shingle. This is
    * the standard recall trade-off of production dedup pipelines — a pair
    * sharing ONLY hot shingles is missed; with τ ≥ 0.5 such a pair needs
    * half its shingles hot, which text near-dups don't exhibit. Exact
    * containment is verified per candidate, so there are no false
    * positives. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.7, maxDf: Int = 20, w: Int = 3): DataFrame = {
    val st = shingleCodes(df, idCol, textCol, w)
    val dfreq = st.groupBy(col("shingle")).agg(count(lit(1)).as("_df"))
    val rare = st.join(dfreq.filter(col("_df") <= maxDf), "shingle")
      .select(col(idCol), col("shingle"))
    val cand = rare.as("a").join(rare.as("b"), Seq("shingle"))
      .filter(col(s"a.$idCol") =!= col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("a_id"), col(s"b.$idCol").as("b_id"))
      .distinct()
    val sizes = st.groupBy(col(idCol)).agg(count(lit(1)).as("_n"))
    val inter = cand
      .join(st.as("sa"), col("a_id") === col(s"sa.$idCol"))
      .join(st.as("sb"),
        col("b_id") === col(s"sb.$idCol")
          && col("sa.shingle") === col("sb.shingle"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.as("za"), col("a_id") === col(s"za.$idCol"))
      .select(col("a_id"), col("b_id"),
        col(s"za._n").as("n_a"), col("n_inter"),
        (col("n_inter").cast("double") / col(s"za._n")).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** LSH banding PLAN estimate: the exact per-band bucket-size profile
    * and the candidate-pair count the (band, bucket) join WOULD emit —
    * Σ_buckets c·(c−1)∕2, the self-join size formula. Run this BEFORE a
    * 100 TB dedup to validate banding parameters: a `max_bucket` in the
    * millions or a `candidate_pairs` rivaling N² means the bands/rows
    * setting is wrong for the corpus (too few rows per band → everything
    * collides), caught for the cost of one grouped count instead of a
    * blown-up join. Pure integer arithmetic over the replayable
    * slice-key representation. */
  def bandingPlanEstimate(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, bands: Int = 8, w: Int = 3): DataFrame = {
    require(bands > 0 && numHashes % bands == 0,
      s"numHashes ($numHashes) must be a positive multiple of bands ($bands)")
    val rpb = numHashes / bands
    minHashSignatures(df, idCol, textCol, numHashes, w)
      .select(col(idCol), posexplode(expr(
        s"transform(sequence(0, ${bands - 1}), b -> slice(sig, b * $rpb + 1, $rpb))"))
        .as(Seq("band", "key")))
      .groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("band").cast("long").as("band"))
      .agg(count(lit(1)).as("n_buckets"),
        max(col("c")).as("max_bucket"),
        sum(expr("c * (c - 1) div 2")).as("candidate_pairs"),
        sum(col("c")).as("n_rows"))
  }

  /** CAPTURE–RECAPTURE audit of dedup recall WITHOUT ground truth
    * (Chapman's bias-corrected Lincoln–Petersen estimator): treat two
    * independent near-dup tiers (e.g. [[minHashCandidates]] and
    * [[simHashCandidates]]) as two "captures" of the same unknown
    * universe of true duplicate pairs; from how often they catch the
    * SAME pair, estimate how many pairs BOTH miss —
    *   N̂ = (n₁+1)(n₂+1)∕(m+1) − 1,  recallᵢ = nᵢ∕N̂
    * — the ecology trick that complements the exact-Jaccard audit
    * (q176): that one needs a bounded ground-truth slice; this scales
    * to the full corpus but leans on the independence assumption.
    * MinHash (token shingles) and SimHash (global bit profile) are
    * CORRELATED samplers — both key on text overlap — so N̂ is biased
    * LOW and the recalls read OPTIMISTIC: treat them as a cheap upper
    * bound and a trend line across corpus versions, not ground truth
    * (documented, the standard capture–recapture caveat).
    *
    * One row: (n_tier1, n_tier2, n_both, est_total_pairs, recall_tier1,
    * recall_tier2). Empty tiers degrade to zeros, never NaN.
    *
    * Determinism: pair sets are normalized (ordered ends, distinct) so
    * all three counts are exact; N̂ and the recalls are fixed-order
    * IEEE expressions over exact longs, 6 dp.
    *
    * Plan: two pair-frame normalizations + one equi-join on (a, b) for
    * the overlap — everything is pairs-sized (≪ corpus); the corpus
    * itself is only touched by whatever produced the input pairs. */
  def captureRecapture(pairs1: DataFrame, pairs2: DataFrame): DataFrame = {
    def norm(df: DataFrame) = df
      .select(least(col("a_id"), col("b_id")).as("a"),
        greatest(col("a_id"), col("b_id")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .pin // counted AND joined
    val e1 = norm(pairs1)
    val e2 = norm(pairs2)
    val est = (col("n_tier1").cast("double") + 1.0d) *
      (col("n_tier2").cast("double") + 1.0d) /
      (col("n_both").cast("double") + 1.0d) - 1.0d
    e1.agg(count(lit(1)).as("n_tier1"))
      .crossJoin(e2.agg(count(lit(1)).as("n_tier2")))
      .crossJoin(e1.join(e2, Seq("a", "b")).agg(count(lit(1)).as("n_both")))
      .select(col("n_tier1"), col("n_tier2"), col("n_both"),
        round(est, 6).as("est_total_pairs"),
        when(est <= 0.0d, lit(0.0d))
          .otherwise(round(col("n_tier1").cast("double") / est, 6))
          .as("recall_tier1"),
        when(est <= 0.0d, lit(0.0d))
          .otherwise(round(col("n_tier2").cast("double") / est, 6))
          .as("recall_tier2"))
  }

  /** EDIT-DISTANCE SIMILARITY JOIN at threshold 1 via DELETION
    * NEIGHBORHOODS (the FastSS/PassJoin blocking idea, Bocek et al.
    * 2007): two strings with Levenshtein distance ≤ 1 MUST share a
    * member of each other's deletion neighborhood {s} ∪ {s minus one
    * character} — substitution at i collides on both sides' delete-i,
    * insertion/deletion collides the shorter string with a deletion of
    * the longer, equality collides on s itself. So candidates are an
    * EQUI-join on the exploded signatures (O(N·L) rows, never all
    * pairs) and only candidates pay the exact `levenshtein` verify —
    * the typo/near-spelling join a vocabulary normalizer or
    * entity-resolution pass needs (q92's pairwise edit distance is the
    * per-pair metric; this is the scalable JOIN that finds the pairs).
    *
    * Output: one row per distinct unordered pair (a, b) with
    * lev(a, b) ≤ 1 and a < b (lexicographic orientation), plus the
    * exact distance. Input rows are deduplicated on `strCol` first —
    * the join is over the distinct string UNIVERSE (attach ids by
    * joining back, exactly like the fingerprint dedup pattern).
    *
    * At 100 TB: signatures are (L+1) short strings per distinct value;
    * the equi-join shuffles signature-sized keys and AQE handles the
    * skew of a hot signature (very short strings → cap via minLength).
    * Verification is candidate-bounded. Never quadratic. */
  def editNeighborJoin(df: DataFrame, strCol: String,
      minLength: Int = 2): DataFrame = {
    require(minLength >= 1, s"minLength must be >= 1, got $minLength")
    val strs = df.select(col(strCol).as("s"))
      .filter(col("s").isNotNull && length(col("s")) >= minLength)
      .distinct()
    // {s} ∪ one-character deletions, as (signature, s) rows
    val sigs = strs.select(col("s"), explode(array_union(
      array(col("s")),
      expr("transform(sequence(1, length(s)), i -> " +
        "concat(substring(s, 1, i - 1), substring(s, i + 1, length(s))))")))
      .as("sig"))
    val cands = sigs.as("x").join(sigs.as("y"),
        col("x.sig") === col("y.sig") && col("x.s") < col("y.s"))
      .select(col("x.s").as("a"), col("y.s").as("b"))
      .distinct()
    cands
      .withColumn("dist", levenshtein(col("a"), col("b")).cast("long"))
      .filter(col("dist") <= 1L)
  }
}
