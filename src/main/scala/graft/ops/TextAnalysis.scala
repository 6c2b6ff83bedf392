package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Pin
import graft.core.Pin._

/** Text-analysis operators for corpus curation (north-star extension,
  * SURVEY.md §2.3 "Text analysis"): token counting, quality scoring,
  * language identification, document fingerprinting. All are pure
  * `org.apache.spark.sql.functions` expressions — fully codegen'd, no UDFs,
  * so they fuse into the scan's WholeStageCodegen at any scale.
  */
object TextAnalysis {

  /** Whitespace token list of the normalized text. */
  def tokens(text: Column): Column = split(Dedup.normText(text), " ")

  /** Token count (whitespace tokenization). */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** Rough BPE-ish subword count: word-ish runs + digit runs + isolated
    * punctuation, each ≈ one token (regex heuristic, no external
    * tokenizer). */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]{1,8}|[0-9]{1,3}|[^A-Za-z0-9\\s]"), lit(0)))

  /** Count of characters matching a regex character class. */
  def charClassCount(text: Column, classRe: String): Column =
    length(text) - length(regexp_replace(text, classRe, ""))

  /** Per-document quality metrics: length, tokens, vowel/digit/punct
    * ratios. Ratios are exact int/int IEEE divisions (oracle-stable). */
  def qualityMetrics(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(
      col(idCol),
      length(t).cast("long").as("len"),
      tokenCount(t).cast("long").as("n_tokens"),
      charClassCount(t, "[aeiou]").cast("long").as("n_vowels"),
      charClassCount(t, "[0-9]").cast("long").as("n_digits"),
      charClassCount(t, "[.,;:!?]").cast("long").as("n_punct"))
      .withColumn("vowel_ratio", col("n_vowels").cast("double") / col("len"))
      .withColumn("quality",
        when(col("n_tokens") >= 50 && col("vowel_ratio") > 0.2, "good")
          .when(col("n_tokens") >= 20, "fair")
          .otherwise("short"))
  }

  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une"),
    "es" -> Seq("el", "los", "las", "y", "es", "una"))

  /** Marker-word language-ID heuristic: count stopword hits per language
    * over the token list; predict the argmax with a fixed priority order
    * (en, de, fr, es), 'und' when nothing matches. CJK text is classed 'zh'
    * by codepoint-range count. Purely expression-based — the same logic is
    * expressible in the DuckDB oracle (PipelineQueries.q42). */
  def langIdScores(df: DataFrame, textCol: String): DataFrame = {
    // tokenize once (materialized column) — four per-language filters then
    // scan the same array instead of re-splitting the text per language
    val withToks = df.withColumn("_w", tokens(col(textCol)))
    val scored = markers.foldLeft(withToks) { case (acc, (lang, words)) =>
      acc.withColumn(s"c_$lang",
        size(filter(col("_w"), t => t.isin(words.map(x => x: Any): _*))).cast("long"))
    }.withColumn("c_zh", charClassCount(col(textCol), "[一-鿿]").cast("long"))
      .drop("_w")
    scored.withColumn("predicted",
      when(col("c_en") === 0 && col("c_de") === 0 && col("c_fr") === 0
        && col("c_es") === 0 && col("c_zh") === 0, "und")
        .when(col("c_zh") > 0, "zh")
        .when(col("c_en") >= col("c_de") && col("c_en") >= col("c_fr")
          && col("c_en") >= col("c_es"), "en")
        .when(col("c_de") >= col("c_fr") && col("c_de") >= col("c_es"), "de")
        .when(col("c_fr") >= col("c_es"), "fr")
        .otherwise("es"))
  }

  /** Portable per-token hash codes of the normalized text: each token →
    * polynomial code-point fold (DedupKernel arithmetic, base B1 mod P).
    * The long-array form all n-gram/repetition math runs on — comparing
    * longs instead of building n-gram STRINGS (which costs an O(n) array
    * slice + join allocation per position and string hashing in every
    * distinct; measured 12× slower at sf0.1). */
  def tokenCodes(text: Column): Column = {
    val P = graft.expr.DedupKernel.P
    val B = graft.expr.DedupKernel.B1
    transform(tokens(text), t =>
      aggregate(sequence(lit(1), length(t)), lit(0L),
        (acc, i) => (acc * B + ascii(t.substr(i, lit(1))).cast("long")) % P))
  }

  /** n-gram codes: position i's code folds the n token hashes starting at
    * i ((…(h_i·B + h_{i+1}) mod P…) — zip_with over n shifted slices, so
    * cost is O(n·L) per doc with no per-position slicing. Empty array when
    * the document has fewer than n tokens (sequence() would otherwise
    * count DOWN to a negative stop). Within-document collisions are
    * ~L²·(n−1)/2³¹ — negligible, deterministic, and replayed identically
    * by external engines (the repo's standard sketch-portability trade).
    *
    * Expression-only PORTABLE TEMPLATE (the shape the DuckDB oracle
    * mirrors) and differential cross-check; [[repetitionStats]] runs the
    * one-pass codegen kernel ([[graft.expr.DedupKernel.ngramDupCounts]])
    * instead — HOFs interpret their lambdas per element. */
  def ngramCodes(text: Column, n: Int): Column = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    val P = graft.expr.DedupKernel.P
    val B = graft.expr.DedupKernel.B1
    val codes = tokenCodes(text)
    val m = size(codes) - lit(n - 1)
    val combined = (2 to n).foldLeft(slice(codes, lit(1), m))((acc, j) =>
      zip_with(acc, slice(codes, lit(j), m), (a, b) => (a * B + b) % P))
    when(size(codes) >= n, combined).otherwise(array().cast("array<bigint>"))
  }

  /** Within-document repetition (Gopher-style quality rule): the fraction
    * of word n-grams that are duplicates of an earlier n-gram in the SAME
    * document. High dup_frac flags boilerplate/spam for corpus filtering.
    * Map-only (per-document arrays, never exploded), exact int/int double
    * division — oracle-stable. */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String,
      n: Int = 2): DataFrame =
    df.select(col(idCol),
        graft.expr.DedupKernel.ngramDupCountsCol(
          Dedup.normText(col(textCol)), n).as("_c"))
      .filter(col("_c").isNotNull)
      .select(col(idCol),
        element_at(col("_c"), 1).as("n_ngrams"),
        element_at(col("_c"), 2).as("n_distinct"))
      .withColumn("dup_frac",
        (col("n_ngrams") - col("n_distinct")).cast("double") / col("n_ngrams"))

  /** TF-IDF per (document, term): tf · ln((N+1)/(df+1)) with N = docs
    * containing ≥ 1 token, smoothed so unseen/ubiquitous terms stay
    * finite. One explode + two aggregates (tf by (doc, term), df by
    * term) + a broadcast scalar N — the standard two-shuffle corpus
    * weighting; at 100 TB both aggregates combine map-side and df/N are
    * tiny (vocabulary-sized / scalar). The float step is one ln + one
    * multiply from exact integers, rounded to 6 dp — oracle-stable. */
  def tfIdf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df
      .select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
    val tf = toks.groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val idf = toks.groupBy(col("token"))
      .agg(countDistinct(col(idCol)).as("df"))
    val n = toks.agg(countDistinct(col(idCol)).as("n"))
    tf.join(idf, "token")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log((col("n") + lit(1.0d)) / (col("df") + lit(1.0d))), 6))
      .select(col(idCol), col("token"), col("tf"), col("df"), col("tfidf"))
  }

  /** Token-distribution drift between two corpus snapshots as per-token
    * PSI (population stability index) contributions — the standard "did
    * the data shift between crawls/shards" gate a training pipeline runs
    * before mixing a new snapshot in. For each union-vocabulary token:
    * `(p − q)·ln(p/q)` with add-one smoothing (`p = (n_a+1)/(N_a+V)`,
    * `q = (n_b+1)/(N_b+V)`, V = union vocab size), so absent-on-one-side
    * tokens contribute finitely instead of ±∞; Σ contributions = the
    * corpus PSI (> 0.2 conventionally = actionable shift).
    *
    * Determinism: every input to the formula is an exact integer (two
    * vocabulary-sized count tables, full-outer-joined, plus one 1-row
    * totals aggregate broadcast back); the double arithmetic runs once
    * per token in a fixed operation order and is quantized to integer
    * nano-units — bit-stable across partitionings and engines (the
    * q78 micro-nat device at 10⁻⁹ resolution).
    *
    * Plan: two token explodes (map-only), two vocab-sized counts
    * (map-side combined), one vocab-sized full-outer equi-join, a 1-row
    * totals cross join (q90's broadcast device). Nothing shuffles more
    * than vocabulary rows at any corpus size. */
  def tokenDrift(a: DataFrame, b: DataFrame, textCol: String): DataFrame = {
    def toks(df: DataFrame) = df
      .select(explode(tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
    val ca = toks(a).groupBy(col("token")).agg(count(lit(1)).as("n_a"))
    val cb = toks(b).groupBy(col("token")).agg(count(lit(1)).as("n_b"))
    val j = ca.join(cb, Seq("token"), "full_outer")
      .select(col("token"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
    val tot = j.agg(
      sum(col("n_a")).as("na"), sum(col("n_b")).as("nb"),
      count(lit(1)).as("v"))
    j.crossJoin(broadcast(tot))
      .withColumn("_p",
        (col("n_a") + 1).cast("double") / (col("na") + col("v")).cast("double"))
      .withColumn("_q",
        (col("n_b") + 1).cast("double") / (col("nb") + col("v")).cast("double"))
      .withColumn("psi_nano",
        round((col("_p") - col("_q")) * log(col("_p") / col("_q")) * 1e9d)
          .cast("long"))
      .select(col("token"), col("n_a"), col("n_b"), col("psi_nano"),
        (col("psi_nano").cast("double") / 1e9d).as("psi_contrib"))
  }

  /** Pairwise JENSEN–SHANNON divergence matrix between the unigram
    * token distributions of every group pair — the symmetric, bounded
    * (≤ ln 2) cousin of [[tokenDrift]]'s PSI, and the standard corpus
    * SIMILARITY readout a mixture planner reads before merging or
    * re-weighting sources: JSD(p‖q) = ½·KL(p‖m) + ½·KL(q‖m) with
    * m = ½(p + q). One row per unordered group pair (a < b):
    * (group_a, group_b, n_types, jsd).
    *
    * All pairs share ONE add-one-smoothed model family over the GLOBAL
    * observed vocabulary (p_t = (n_at + 1) ∕ (N_a + V)) — global-V
    * smoothing keeps every pair's divergence on the same scale (a
    * per-pair union vocabulary would silently re-normalize each pair
    * differently) and makes the matrix one fixed readout.
    *
    * Determinism: counts are exact integers; each token's pointwise
    * term ½p·ln(p∕m) + ½q·ln(q∕m) (non-negative by convexity of
    * t·ln t) is ONE fixed-order double expression quantized to integer
    * nano-nats; per-pair sums are exact long sums with one final
    * readout divide — bit-replayable in DuckDB.
    *
    * Plan: one token explode to the (group, token, n) aggregate
    * (map-side combined), densified over vocab × groups (so
    * absent-from-one-side tokens still contribute — smoothing makes
    * their terms nonzero), then ONE self-equi-join on token producing
    * |vocab| · |pairs| intermediate rows that map-side-combine straight
    * down to the |pairs|-row matrix. Cost is bounded by vocabulary ×
    * groups², INDEPENDENT of corpus size; the groups-sized totals frame
    * broadcasts. Group count is guarded (≤ 64) — this is a
    * source-matrix readout, not a per-key operator. */
  def sourceJsd(df: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val counts = df
      .select(col(groupCol).as("_g"), explode(tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("_g"), col("token")).agg(count(lit(1)).as("_n"))
      .pin // vocab×groups-sized, read 3× (vocab/groups/dense)
    val groups = counts.select(col("_g")).distinct()
    val nGroups = groups.count()
    require(nGroups >= 2 && nGroups <= 64,
      s"sourceJsd is a pairwise matrix over a BOUNDED group column — " +
        s"need 2..64 non-empty groups, got $nGroups")
    val totals = counts.groupBy(col("_g")).agg(sum(col("_n")).as("_t"))
    val vocabTot = counts.agg(countDistinct(col("token")).as("_v"))
    val dense = counts.select(col("token")).distinct()
      .crossJoin(broadcast(groups))
      .join(counts, Seq("_g", "token"), "left")
      .select(col("_g"), col("token"), coalesce(col("_n"), lit(0L)).as("_n"))
      .join(broadcast(totals), Seq("_g"))
    val a = dense.select(col("token"), col("_g").as("group_a"),
      col("_n").as("_na"), col("_t").as("_ta"))
    val b = dense.select(col("token"), col("_g").as("group_b"),
      col("_n").as("_nb"), col("_t").as("_tb"))
    a.join(b, Seq("token")).filter(col("group_a") < col("group_b"))
      .crossJoin(broadcast(vocabTot))
      .withColumn("_p",
        (col("_na") + 1).cast("double") / (col("_ta") + col("_v")).cast("double"))
      .withColumn("_q",
        (col("_nb") + 1).cast("double") / (col("_tb") + col("_v")).cast("double"))
      .withColumn("_jsd_nano",
        round((lit(0.5d) * col("_p") * log(lit(2.0d) * col("_p") / (col("_p") + col("_q"))) +
          lit(0.5d) * col("_q") * log(lit(2.0d) * col("_q") / (col("_p") + col("_q")))) * 1e9d)
          .cast("long"))
      .groupBy(col("group_a"), col("group_b"))
      .agg(count(lit(1)).as("n_types"),
        round(sum(col("_jsd_nano")).cast("double") / 1e9d, 6).as("jsd"))
  }

  /** Per-group GINI concentration of token mass across documents — the
    * imbalance readout a curation pipeline reads next to the q145
    * padding histogram: gini ≈ 0 means every document carries similar
    * token mass; gini → 1 means a few giant documents dominate the
    * group's training tokens (so per-DOCUMENT sampling caps silently
    * re-weight the corpus, and shard packing skews). One row per
    * group: (group, n_docs, total_tokens, gini).
    *
    * Exact grouped-data identity: with documents sorted by length
    * ascending, G = (2·Σᵢ i·xᵢ − (n+1)·Σx) ∕ (n·Σx); for a run of c
    * equal lengths v after C docs, 2·Σ i·v over the run =
    * v·c·(2C + c + 1) — so the whole statistic is integer arithmetic
    * on the per-(group, length) count frame. Terms route through
    * DECIMAL(38,0) (n²·len-scale products overflow long at 100 TB);
    * the single final divide is fixed-order double — bit-replayable.
    *
    * Plan: one map-only length projection, one (group, length) groupBy
    * (map-side combined), one window over the per-group LENGTH GRID
    * (bounded by distinct document lengths, never documents; and
    * partitioned by group — no global sort), one group-sized
    * aggregate. Zero-token documents are excluded (documented). */
  def tokenGini(df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val lens = df
      .select(col(groupCol).as("group"),
        tokenCount(col(textCol)).cast("long").as("_len"))
      .filter(col("_len") > 0)
      .groupBy(col("group"), col("_len")).agg(count(lit(1)).as("_c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("group")).orderBy(col("_len"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    lens.withColumn("_cb", coalesce(sum(col("_c")).over(w), lit(0L)))
      .withColumn("_term", col("_len").cast(dec) * col("_c").cast(dec) *
        (lit(2L) * col("_cb") + col("_c") + lit(1L)).cast(dec))
      .withColumn("_mass", col("_len").cast(dec) * col("_c").cast(dec))
      .groupBy(col("group"))
      .agg(sum(col("_c")).as("n_docs"),
        sum(col("_mass")).as("_tot"),
        sum(col("_term")).as("_num"))
      .select(col("group"), col("n_docs"),
        col("_tot").cast("long").as("total_tokens"),
        round((col("_num") - (col("n_docs") + 1).cast(dec) * col("_tot"))
            .cast("double") /
          (col("n_docs").cast(dec) * col("_tot")).cast("double"), 6)
          .as("gini"))
  }

  /** THEIL T inequality of per-document token mass, DECOMPOSED by group
    * (Theil 1967) — what [[tokenGini]]'s single number cannot say: is
    * the corpus's token concentration driven by giant documents INSIDE
    * sources (within) or by giant SOURCES (between)? Theil's T is the
    * unique inequality index that decomposes additively:
    * T_total = T_between + Σ_g s_g·T_g with s_g the group's token
    * share — so the per-source rows and the two global readouts are
    * one consistent accounting (identity spec-checked to quantization
    * tolerance).
    *
    * One row per group: (group, n_docs, total_tokens, share,
    * theil_within, theil_between, theil_total) — the last two repeat
    * (frame-level readouts riding the group rows, the q208 points
    * convention).
    *
    * Determinism: per-(group, length) cells carry exact integer
    * (c, len); each cell's c·len·ln(·) term nano-quantizes to a long
    * before the exact sum (ceiling: cell token mass ·|ln| ·10⁹ must
    * fit a long — cells of ≲10⁸ tokens; shard larger groups by length
    * first). Readouts are fixed-order doubles, 6 dp; T values are
    * relative entropies (≥ 0), but quantization can land an
    * all-equal corpus at −ε∕10⁹ — the oracle carries the signed-zero
    * canonicalization. Zero-token documents are excluded (documented,
    * matching [[tokenGini]]). */
  def theilDecomposition(df: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val lens = df
      .select(col(groupCol).as("group"),
        tokenCount(col(textCol)).cast("long").as("_len"))
      .filter(col("_len") > 0)
      .groupBy(col("group"), col("_len")).agg(count(lit(1)).as("_c"))
      .pin // (group × length)-sized, read 3×
    val grp = lens.groupBy(col("group"))
      .agg(sum(col("_c")).as("n_docs"),
        sum(col("_c") * col("_len")).as("_xg"))
      .pin
    val tot = grp.agg(sum(col("n_docs")).as("_n"), sum(col("_xg")).as("_x"))
    val withG = lens.join(grp, Seq("group")).crossJoin(broadcast(tot))
    val winTerm = withG.select(col("group"),
      round(col("_c").cast("double") * col("_len").cast("double") *
        log(col("n_docs").cast("double") * col("_len").cast("double") /
          col("_xg").cast("double")) * 1e9d).cast("long").as("_w9"))
      .groupBy(col("group"))
      .agg(coalesce(sum(col("_w9")), lit(0L)).as("_wsum"))
    val totTerm = withG.select(
      round(col("_c").cast("double") * col("_len").cast("double") *
        log(col("_n").cast("double") * col("_len").cast("double") /
          col("_x").cast("double")) * 1e9d).cast("long").as("_t9"))
      .agg(coalesce(sum(col("_t9")), lit(0L)).as("_tsum"))
    val btwTerm = grp.crossJoin(broadcast(tot)).select(
      round((col("_xg").cast("double") / col("_x").cast("double")) *
        log(col("_xg").cast("double") * col("_n").cast("double") /
          (col("_x").cast("double") * col("n_docs").cast("double"))) * 1e9d)
        .cast("long").as("_b9"))
      .agg(coalesce(sum(col("_b9")), lit(0L)).as("_bsum"))
    grp.join(winTerm, Seq("group"))
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(totTerm))
      .crossJoin(broadcast(btwTerm))
      .select(col("group"), col("n_docs"),
        col("_xg").as("total_tokens"),
        round(col("_xg").cast("double") / col("_x").cast("double"), 6)
          .as("share"),
        round(col("_wsum").cast("double") /
          (lit(1e9d) * col("_xg").cast("double")), 6).as("theil_within"),
        round(col("_bsum").cast("double") / 1e9d, 6).as("theil_between"),
        round(col("_tsum").cast("double") /
          (lit(1e9d) * col("_x").cast("double")), 6).as("theil_total"))
      .orderBy(col("group"))
  }

  /** DSIR-style importance log-ratio per document (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling"):
    * score each document by the average per-token
    * `ln P_target(t) − ln P_raw(t)`, where both unigram distributions
    * are add-one-smoothed MLEs — the target model from the subset
    * matching `targetPred`, the raw model from the whole corpus. High
    * scores mark documents that look like the target domain; selection
    * is then a bounded top-k (the deterministic analogue of the paper's
    * Gumbel resampling — same integer-keyed device as the q116 A-ES
    * sampler would give, minus the randomness the oracle can't replay).
    *
    * Determinism: the q78 micro-nat device — each token's log-ratio is
    * quantized to integer micro-nats from exact integer counts, per-doc
    * sums are exact long sums, one float division at the end.
    *
    * Plan (skew-safe, the [[unigramLogProb]] shape): ONE token explode,
    * pre-aggregated to distinct (doc, token, n) rows (unskewed doc-keyed
    * exchange; the target flag rides along — it is constant per doc), a
    * single vocabulary-sized aggregate computing BOTH models' counts
    * (the target count is a conditional sum, so the target pass costs no
    * second scan), a 1-row totals broadcast, then [[Skew.hotColdJoin]]
    * back — hot tokens by raw-corpus frequency broadcast, only the
    * near-uniform tail shuffle-joined — and one groupBy(doc) of
    * (long, long) rows. The corpus never hash-partitions on the
    * Zipf-skewed token key at any scale. */
  def importanceLogRatio(df: DataFrame, idCol: String, textCol: String,
      targetPred: Column, hotK: Int = 4096): DataFrame = {
    val docTok = df
      .select(col(idCol), targetPred.as("_tgt"),
        explode(tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col(idCol), col("_tgt"), col("token"))
      .agg(count(lit(1)).as("_n"))
    val counts = docTok.groupBy(col("token"))
      .agg(sum(col("_n")).as("c_raw"),
        sum(when(col("_tgt"), col("_n")).otherwise(0L)).as("c_tgt"))
    val tot = counts.agg(
      sum(col("c_raw")).as("t_raw"), sum(col("c_tgt")).as("t_tgt"),
      count(lit(1)).as("v"))
    val lr = counts.crossJoin(broadcast(tot))
      .withColumn("lr_micro",
        round((log((col("c_tgt") + 1).cast("double") /
            (col("t_tgt") + col("v")).cast("double")) -
          log((col("c_raw") + 1).cast("double") /
            (col("t_raw") + col("v")).cast("double"))) * 1e6d)
          .cast("long"))
      .select(col("token"), col("c_raw"), col("lr_micro"))
    Skew.hotColdJoin(docTok, lr, Seq("token"), col("c_raw"), hotK)
      .groupBy(col(idCol))
      .agg(sum(col("_n")).as("n_tokens"),
        sum(col("_n") * col("lr_micro")).as("_sum"))
      .withColumn("avg_log_ratio",
        round(col("_sum").cast("double") /
          (col("n_tokens").cast("double") * 1e6d), 6))
      .select(col(idCol), col("n_tokens"), col("avg_log_ratio"))
  }

  /** Unigram language-model quality score per document: the average
    * natural-log probability of the document's tokens under the corpus's
    * own unigram MLE (P(t) = corpus count / corpus total — no smoothing
    * needed: every scored token is in the corpus by construction). Low
    * scores mark gibberish / rare-token soup; the standard cheap stand-in
    * for model-based perplexity filtering.
    *
    * Determinism: a per-doc SUM of doubles is partition-order-dependent,
    * so each token's log-prob is first quantized to integer micro-nats
    * (round(ln·10⁶) as BIGINT) and summed EXACTLY — order-independent in
    * any engine — then floated once at the end. One ln per token from
    * exact integer ratios (the q72 tf-idf precedent).
    *
    * Plan (skew-safe — the token key is Zipf-distributed, so a naive
    * corpus⋈vocab shuffle join sends every "the" occurrence to ONE
    * task): the exploded stream is first pre-aggregated to distinct
    * (doc, token, n) rows — an unskewed, combiner-friendly exchange
    * keyed by the doc id — the per-token micro-nat value is computed on
    * the VOCABULARY-sized count table (total derived from it, no second
    * corpus pass), and the join back is [[Skew.hotColdJoin]]: the top
    * `hotK` tokens by corpus frequency (which by construction contains
    * every skewed key) broadcast and map-side joined, only the
    * near-uniform tail shuffle-joined. One final groupBy(doc) of
    * (long, long) rows. Nothing hash-partitions the corpus on a skewed
    * key at any scale. */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String,
      hotK: Int = 4096): DataFrame = {
    val docTok = df
      .select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("_n"))
      .pin // probe table: read by the counts and the hot/cold join
    val counts = docTok.groupBy(col("token")).agg(sum(col("_n")).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("total"))
    val tokMicro = counts.crossJoin(broadcast(total))
      .withColumn("_micro",
        round(log(col("cnt").cast("double") / col("total").cast("double")) * 1e6d)
          .cast("long"))
      .select(col("token"), col("cnt"), col("_micro"))
    Skew.hotColdJoin(docTok, tokMicro, Seq("token"), col("cnt"), hotK)
      .groupBy(col(idCol))
      .agg(sum(col("_n")).as("n_tokens"),
        sum(col("_n") * col("_micro")).as("sum_micro_nats"))
      .withColumn("avg_logprob",
        round(col("sum_micro_nats").cast("double") /
          (col("n_tokens").cast("double") * 1e6d), 6))
  }

  /** Add-one-smoothed BIGRAM LM scoring — the next rung above
    * [[unigramLogProb]] on the perplexity-proxy ladder: per document,
    * the mean ln P(w|prev) under P(w|prev) = (c(prev,w)+1) / (c(prev·)+V),
    * with counts and vocabulary V taken from the scored corpus itself.
    * The same integer micro-nat device makes the double sums exact and
    * engine-replayable.
    *
    * Plan (skew-safe, the [[unigramLogProb]] shape lifted to pairs): the
    * bigram explode pre-aggregates to distinct (doc, p, c, n) rows (an
    * unskewed doc-keyed exchange); the pair and context count tables are
    * derived FROM that reduced table (map-side combined — the skewed
    * keys collapse to one row per map task before the exchange); the
    * per-pair micro value is assembled on the bigram-vocabulary-sized
    * pair⋈context join (bounded by vocabulary, never corpus); and the
    * join back to the corpus is [[Skew.hotColdJoin]] on (p, c) weighted
    * by corpus pair frequency — hot pairs like "of the" broadcast, only
    * the near-uniform tail shuffles. Docs with fewer than two tokens
    * carry no bigrams and are absent from the result. */
  def bigramLogProb(df: DataFrame, idCol: String, textCol: String,
      hotK: Int = 4096): DataFrame = {
    // ONE tokenize pass shared by the bigram table and the vocabulary
    // count; the (doc, p, c, n) probe table is pinned too
    val toks = df.select(col(idCol), tokens(col(textCol)).as("_w")).pin
    val docBi = toks
      .filter(size(col("_w")) >= 2)
      .select(col(idCol), explode(expr(
        "transform(sequence(1, size(_w) - 1), " +
          "i -> named_struct('p', element_at(_w, i), 'c', element_at(_w, i + 1)))"))
        .as("_b"))
      .select(col(idCol), col("_b.p").as("p"), col("_b.c").as("c"))
      .groupBy(col(idCol), col("p"), col("c")).agg(count(lit(1)).as("_n"))
      .pin
    val pairCnt = docBi.groupBy(col("p"), col("c")).agg(sum(col("_n")).as("cpc"))
    val ctxCnt = pairCnt.groupBy(col("p")).agg(sum(col("cpc")).as("cp"))
    // V over the FULL corpus (single-token docs still contribute
    // vocabulary even though they carry no bigrams)
    val vocab = toks
      .select(explode(col("_w")).as("t"))
      .filter(length(col("t")) > 0)
      .agg(countDistinct(col("t")).as("v"))
    val pairMicro = pairCnt.join(ctxCnt, Seq("p"))
      .crossJoin(broadcast(vocab))
      .withColumn("_micro",
        round(log((col("cpc") + 1).cast("double") /
          (col("cp") + col("v")).cast("double")) * 1e6d).cast("long"))
      .select(col("p"), col("c"), col("cpc"), col("_micro"))
    Skew.hotColdJoin(docBi, pairMicro, Seq("p", "c"), col("cpc"), hotK)
      .groupBy(col(idCol))
      .agg(sum(col("_n")).as("n_bigrams"),
        sum(col("_n") * col("_micro")).as("sum_micro_nats"))
      .withColumn("avg_logprob",
        round(col("sum_micro_nats").cast("double") /
          (col("n_bigrams").cast("double") * 1e6d), 6))
  }

  /** Per-document character-level Shannon entropy over the normalized
    * text (spaces included): H = −Σ_ch p·ln p in nats. The cheap
    * information-density quality signal orthogonal to token-level
    * repetition (q67) — templated/repetitive text scores LOW, while
    * random-string gibberish scores HIGH (natural language sits in a
    * narrow band, so both tails are curation flags).
    *
    * Determinism: each character's −p·ln p term is nano-quantized from
    * the exact integer (n, N) pair before the exact per-doc long sum —
    * the q78 micro-nat device at character granularity. The sum runs
    * over the doc's distinct characters in whatever order the engine
    * enumerates them; quantized longs make it order-independent.
    *
    * Plan: PURE MAP-ONLY — the per-doc histogram is a nested HOF over
    * the doc's own characters (O(alphabet × length) per row, alphabet
    * ≈ 30–40 for natural text), so NOTHING shuffles at any corpus
    * size: no explode, no count exchange, no join. The cheapest plan
    * shape in the suite after the fingerprint kernels. */
  def charEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("_nt", Dedup.normText(col(textCol)))
      .filter(length(col("_nt")) > 0)
      .withColumn("_cs", expr(
        "transform(sequence(1, length(_nt)), i -> substring(_nt, i, 1))"))
      .withColumn("_nano", expr(
        "aggregate(transform(array_distinct(_cs), c -> " +
          "cast(round(-(cast(size(filter(_cs, x -> x = c)) as double) / " +
          "cast(length(_nt) as double)) * " +
          "ln(cast(size(filter(_cs, x -> x = c)) as double) / " +
          "cast(length(_nt) as double)) * " +
          "cast(1000000000.0 as double)) as bigint)), " +
          "cast(0 as bigint), (acc, x) -> acc + x)"))
      .select(col(idCol), length(col("_nt")).cast("long").as("n_chars"),
        round(col("_nano").cast("double") / 1e9d, 6).as("entropy_nats"))

  /** Blocklist content filter — the wordlist pass every public web
    * pipeline runs (C4's "bad words" filter is the canonical instance):
    * per document, the token hit count against the list and the
    * keep verdict (zero hits). The list is compiled INTO the plan as a
    * literal array (fine to ~10⁴ terms — it ships once inside the task
    * binary, the map side stays a pure codegen filter and nothing
    * shuffles); for dictionary-scale lists switch to a broadcast join
    * on the token, the q77 regime. */
  def blocklistFilter(df: DataFrame, idCol: String, textCol: String,
      blocklist: Seq[String]): DataFrame = {
    require(blocklist.nonEmpty, "empty blocklist")
    require(blocklist.size <= 10000,
      s"literal blocklists cap at 10k terms (got ${blocklist.size}) — " +
        "use a broadcast token join for dictionary-scale lists")
    val bl = array(blocklist.distinct.sorted.map(lit): _*)
    df.select(col(idCol),
        tokens(col(textCol)).as("_w"))
      .select(col(idCol),
        size(filter(col("_w"), t => length(t) > 0)).cast("long").as("n_tokens"),
        size(filter(col("_w"), t => array_contains(bl, t))).cast("long").as("n_hits"))
      .withColumn("keep", when(col("n_hits") === 0L, 1L).otherwise(0L))
  }

  /** Distinct (doc, predecessor, current, n) bigram rows — the shared
    * pre-aggregate (unskewed doc-keyed exchange) that both bigram LMs
    * join their count tables back onto. */
  private def docBigrams(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), tokens(col(textCol)).as("_w"))
      .filter(size(col("_w")) >= 2)
      .select(col(idCol), explode(expr(
        "transform(sequence(1, size(_w) - 1), " +
          "i -> named_struct('p', element_at(_w, i), 'c', element_at(_w, i + 1)))"))
        .as("_b"))
      .select(col(idCol), col("_b.p").as("p"), col("_b.c").as("c"))
      .groupBy(col(idCol), col("p"), col("c")).agg(count(lit(1)).as("_n"))

  /** JELINEK–MERCER interpolation sweep (Jelinek & Mercer 1980) — the
    * tuning loop the LM family's fixed α/discount constants skip: score
    * a HELD-OUT corpus under the interpolated bigram model
    * P(w|p) = λ·P_ML(w|p) + (1−λ)·P_ML(w) for every λ in the grid, in
    * ONE pass, and read off which mixing weight the data actually
    * prefers (argmax held-out log-likelihood) — the hyperparameter
    * readout behind choosing [[stupidBackoffTrigram]]'s α or
    * [[knBigramLogProb]]'s discount empirically instead of by folklore.
    *
    * One row per λ: (lambda, n_scored, n_oov, avg_logprob, perplexity,
    * is_best) — n_oov counts held-out bigram tokens whose WORD is
    * outside the training vocabulary (P = 0 under every λ; dropped
    * from scoring, reported, never silently imputed); is_best flags
    * the best λ (ties → smaller λ, deterministic).
    *
    * Determinism: P_ML ratios are doubles of exact integer counts; the
    * interpolated log micro-quantizes per (pair, λ) BEFORE the exact
    * integer sum (order-free); λ values are literals, bit-identical in
    * both engines; avg/perplexity are fixed-order readouts, 6 dp.
    *
    * Plan: train count tables are vocabulary-sized and derived map-side;
    * the held-out corpus pools to its own bigram-vocabulary-sized
    * (p, c, n) table BEFORE any join; the λ grid explodes that bounded
    * table ×|grid| — never the corpus. */
  def jmSweep(train: DataFrame, heldOut: DataFrame, idCol: String,
      textCol: String,
      lambdas: Seq[Double] = (1 to 9).map(_ / 10.0d)): DataFrame = {
    require(lambdas.nonEmpty && lambdas.forall(l => l > 0.0 && l < 1.0),
      s"lambdas must lie in (0, 1), got ${lambdas.mkString(",")}")
    val trBi = docBigrams(train, idCol, textCol)
      .groupBy(col("p"), col("c")).agg(sum(col("_n")).as("cpc"))
    val trCtx = trBi.groupBy(col("p")).agg(sum(col("cpc")).as("cp"))
    val trUni = train
      .select(explode(tokens(col(textCol))).as("t"))
      .filter(length(col("t")) > 0)
      .groupBy(col("t")).agg(count(lit(1)).as("cw"))
    val trTot = trUni.agg(sum(col("cw")).as("nw"))
    val hoBi = docBigrams(heldOut, idCol, textCol)
      .groupBy(col("p"), col("c")).agg(sum(col("_n")).as("n"))
    val scored = hoBi
      .join(trBi, Seq("p", "c"), "left")
      .join(trCtx, Seq("p"), "left")
      .join(trUni.select(col("t").as("c"), col("cw")), Seq("c"), "left")
      .crossJoin(broadcast(trTot))
      .withColumn("_pbi",
        when(col("cp").isNotNull && col("cpc").isNotNull,
          col("cpc").cast("double") / col("cp").cast("double"))
          .otherwise(lit(0.0d)))
      .withColumn("_puni",
        when(col("cw").isNotNull,
          col("cw").cast("double") / col("nw").cast("double"))
          .otherwise(lit(0.0d)))
      .pin // held-out-bigram-vocab-sized, read per λ
    val oov = scored.filter(col("_puni") <= 0.0d)
      .agg(coalesce(sum(col("n")), lit(0L)).as("n_oov"))
    val sess = train.sparkSession
    import sess.implicits._
    val lamDf = lambdas.toDF("lambda")
    val perL = scored.filter(col("_puni") > 0.0d)
      .crossJoin(broadcast(lamDf))
      .withColumn("_micro",
        round(log(col("lambda") * col("_pbi") +
          (lit(1.0d) - col("lambda")) * col("_puni")) * 1e6d).cast("long"))
      .groupBy(col("lambda"))
      .agg(sum(col("n")).as("n_scored"),
        sum(col("n") * col("_micro")).as("_sum"))
      .withColumn("avg_logprob",
        round(col("_sum").cast("double") /
          (col("n_scored").cast("double") * 1e6d), 6))
      .withColumn("perplexity", round(exp(negate(col("avg_logprob"))), 6))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("avg_logprob").desc, col("lambda").asc)
    perL.crossJoin(broadcast(oov))
      .withColumn("is_best",
        (row_number().over(w) === 1).cast("long"))
      .select(col("lambda"), col("n_scored"), col("n_oov"),
        col("avg_logprob"), col("perplexity"), col("is_best"))
      .orderBy(col("lambda"))
  }

  /** Interpolated Kneser-Ney bigram LM scoring (Kneser & Ney 1995; the
    * interpolated fixed-discount form of Chen & Goodman 1999) — the
    * smoothing real n-gram LMs ship with, one rung above add-one
    * ([[bigramLogProb]]): continuation probability replaces raw unigram
    * frequency, so "Francisco" (frequent but only ever after "San")
    * stops inflating unseen-context estimates.
    *
    *   P(w|p) = (max(c(p,w) − D, 0) + D · N1+(p·) · Pcont(w)) / c(p·)
    *   Pcont(w) = N1+(·w) / B
    *
    * with D = `discount`, N1+(p·) = distinct continuations of context p,
    * N1+(·w) = distinct contexts preceding w, B = distinct bigram types.
    * Every scored bigram exists in the corpus (c(p,w) ≥ 1), so the
    * discounted term is positive and the log is defined.
    *
    * Determinism: all counts are exact integers from ONE pre-aggregated
    * (doc, p, c, n) table; the probability is a fixed-shape double
    * expression over those integers (identical operation order in the
    * DuckDB oracle), micro-nat-quantized before the exact per-doc long
    * sum — the q78 device.
    *
    * Plan: the q102 skew-safe shape — pair/context/continuation count
    * tables all derive from the bigram-vocabulary-sized `pairCnt`
    * (map-side combined), the per-pair micro value is assembled on
    * vocab-sized joins plus a 1-row broadcast, and the corpus joins back
    * through [[Skew.hotColdJoin]] on (p, c). */
  def knBigramLogProb(df: DataFrame, idCol: String, textCol: String,
      discount: Double = 0.75, hotK: Int = 4096): DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      s"absolute discount must lie in (0, 1), got $discount")
    val docBi = docBigrams(df, idCol, textCol).pin // ranked head + join
    val pairCnt = docBi.groupBy(col("p"), col("c")).agg(sum(col("_n")).as("cpc"))
    val ctx = pairCnt.groupBy(col("p"))
      .agg(sum(col("cpc")).as("cp"), count(lit(1)).as("n1p"))
    val cont = pairCnt.groupBy(col("c")).agg(count(lit(1)).as("n1m"))
    val btot = pairCnt.agg(count(lit(1)).as("b"))
    val pairMicro = pairCnt.join(ctx, Seq("p")).join(cont, Seq("c"))
      .crossJoin(broadcast(btot))
      .withColumn("_micro",
        round(log(
          (greatest(col("cpc").cast("double") - lit(discount), lit(0.0d)) +
            lit(discount) * col("n1p").cast("double") *
              (col("n1m").cast("double") / col("b").cast("double"))) /
          col("cp").cast("double")) * 1e6d).cast("long"))
      .select(col("p"), col("c"), col("cpc"), col("_micro"))
    Skew.hotColdJoin(docBi, pairMicro, Seq("p", "c"), col("cpc"), hotK)
      .groupBy(col(idCol))
      .agg(sum(col("_n")).as("n_bigrams"),
        sum(col("_n") * col("_micro")).as("sum_micro_nats"))
      .withColumn("avg_logprob",
        round(col("sum_micro_nats").cast("double") /
          (col("n_bigrams").cast("double") * 1e6d), 6))
  }

  /** Stupid-backoff TRIGRAM scoring of a HELD-OUT slice against the
    * rest of the corpus (Brants et al. 2007, "Large Language Models in
    * Machine Translation" — the smoothing web-scale n-gram LMs actually
    * ship: no discount mass bookkeeping, just relative frequencies with
    * a fixed backoff penalty α per level):
    *
    *   s(w₃|w₁w₂) = c(w₁w₂w₃)/c(w₁w₂)           if the trigram is seen
    *              = α · c(w₂w₃)/c(w₂)             else if the bigram is
    *              = α² · (c(w₃)+1)/(N+V)          else (add-one unigram
    *                                              floor — never zero,
    *                                              so the log is total)
    *
    * Unlike the self-scoring q78/q102/q157 ladder, the scored documents
    * (`testPred`) are EXCLUDED from the counts, so backoff genuinely
    * fires — this is the train/held-out perplexity-proxy shape real
    * quality filtering uses.
    *
    * Determinism: all counts are exact integers; the score is one
    * fixed-order CASE of double expressions; micro-nat quantization
    * before the exact per-doc long sum (the q78 device).
    *
    * Plan: the q102 skew-safe shape × THREE lookups — the held-out side
    * pre-aggregates to distinct (doc, w₁, w₂, w₃, n) rows, the
    * per-branch micro-scores are precomputed on the vocabulary-sized
    * model tables (see [[scoreBackoffTrigrams]]), and the three joins
    * back — one per n-gram order — are [[Skew.hotColdJoin]] with LEFT
    * semantics (hot keys broadcast; unseen n-grams survive with NULLs
    * into the backoff coalesce). Nothing hash-partitions the corpus on
    * a skewed bare-token key.
    *
    * Materialization: `bi`/`uni` feed two-or-more model-side
    * enrichments each and are pinned here; `tri` feeds exactly
    * one (itself pinned inside [[scoreBackoffTrigrams]]), so the
    * train corpus is scanned once per n-gram order. */
  def stupidBackoffTrigram(df: DataFrame, idCol: String, textCol: String,
      testPred: Column, alpha: Double = 0.4, hotK: Int = 4096): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0,
      s"backoff alpha must lie in (0, 1], got $alpha")
    import scala.collection.parallel.CollectionConverters._
    val train = df.filter(!testPred)
    val (tri, bi, uni) = trigramModel(train, textCol)
    // the three pins are independent jobs over the one pinned token pass
    // — overlap them (guide §2.6) instead of three serial barriers; each
    // is filled by its own count before the scoring plan reads it
    val pins = Seq(docTrigrams(df.filter(testPred), idCol, textCol), bi, uni)
      .par.map { d => val p = d.pin; p.count(); p }.toIndexedSeq
    scoreBackoffTrigrams(pins(0), idCol, tri, pins(1), pins(2), alpha, hotK)
  }

  private def w3Stream(src: DataFrame, textCol: String,
      idCols: Seq[Column]): DataFrame =
    src.select(idCols :+ tokens(col(textCol)).as("_w"): _*)
      .filter(size(col("_w")) >= 3)
      .select(idCols :+ explode(expr(
        "transform(sequence(1, size(_w) - 2), i -> named_struct(" +
          "'w1', element_at(_w, i), 'w2', element_at(_w, i + 1), " +
          "'w3', element_at(_w, i + 2)))")).as("_t"): _*)
      .select(idCols ++ Seq(col("_t.w1").as("w1"), col("_t.w2").as("w2"),
        col("_t.w3").as("w3")): _*)

  /** A batch's distinct (id, w₁, w₂, w₃, n) trigram rows — the probe
    * side of [[scoreBackoffTrigrams]]. */
  def docTrigrams(df: DataFrame, idCol: String, textCol: String): DataFrame =
    w3Stream(df, textCol, Seq(col(idCol)))
      .groupBy(col(idCol), col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("_n"))

  /** The train-side count tables (tri, bi, uni) — the persistable
    * stupid-backoff LM model ([[graft.ops.LmIndex]] writes them as
    * parquet; [[stupidBackoffTrigram]] builds them live). All three are
    * vocabulary-sized, map-side-combined aggregates over one scan of
    * the training text per n-gram order. */
  def trigramModel(train: DataFrame, textCol: String)
      : (DataFrame, DataFrame, DataFrame) = {
    // ONE tokenize pass shared by all three orders (r16): the regex
    // normalization inside [[tokens]] is the CPU cost of model building
    // at any scale, and the previous per-order derivations re-tokenized
    // the train corpus three times. The pinned token arrays are read by
    // three map-side-combined aggregates whose expression trees are
    // UNCHANGED from the per-order forms (same explode/transform, same
    // filters), so every count — and the oracle hash — is identical.
    val toks = train.select(tokens(col(textCol)).as("_w"))
      .pin
    toks.count() // filled before callers' concurrent reads (LmIndex)
    val tri = toks
      .filter(size(col("_w")) >= 3)
      .select(explode(expr(
        "transform(sequence(1, size(_w) - 2), i -> named_struct(" +
          "'w1', element_at(_w, i), 'w2', element_at(_w, i + 1), " +
          "'w3', element_at(_w, i + 2)))")).as("_t"))
      .select(col("_t.w1").as("w1"), col("_t.w2").as("w2"),
        col("_t.w3").as("w3"))
      .groupBy(col("w1"), col("w2"), col("w3")).agg(count(lit(1)).as("c123"))
    val bi = toks
      .filter(size(col("_w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(_w) - 1), i -> named_struct(" +
          "'wa', element_at(_w, i), 'wb', element_at(_w, i + 1)))")).as("_b"))
      .groupBy(col("_b.wa").as("wa"), col("_b.wb").as("wb"))
      .agg(count(lit(1)).as("cab"))
    val uni = toks.select(explode(col("_w")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    (tri, bi, uni)
  }

  /** The scoring half of [[stupidBackoffTrigram]] over PREBUILT count
    * tables — the serving path: train once, persist tri/bi/uni (the LM
    * model), score any number of incoming batches without touching the
    * training corpus again (the q122/q123 build-once/probe-many
    * contract applied to the LM family). `docTri` is the batch's
    * (id, w1, w2, w3, n) pre-aggregate; the count frames must carry the
    * [[stupidBackoffTrigram]] column names. */
  def scoreBackoffTrigrams(docTri: DataFrame, idCol: String,
      tri: DataFrame, bi: DataFrame, uni: DataFrame,
      alpha: Double = 0.4, hotK: Int = 4096): DataFrame = {
    import scala.collection.parallel.CollectionConverters._
    val (m1, m2, m3, nv) = backoffMicroPlans(tri, bi, uni, alpha)
    // pin each micro table AND derive its hot-key routing set in one
    // parallel task per order — the three (pin, ranked-head) pairs are
    // independent, so overlapping them collapses six serial job
    // barriers into two waves (guide §2.6)
    val prepped = Seq(
      ("m1", m1, Seq("w1", "w2", "w3"), "c123"),
      ("m2", m2, Seq("w2", "w3"), "c23"),
      ("m3", m3, Seq("w3"), "c3")).par.map { case (_, m, keys, w) =>
      val pinned = m.pin
      (pinned, Skew.hotSet(pinned, keys, col(w), hotK))
    }.toIndexedSeq
    scoreBackoffTrigramsOn(docTri, idCol,
      prepped(0)._1, prepped(1)._1, prepped(2)._1, nv, alpha, hotK,
      Some((prepped(0)._2, prepped(1)._2, prepped(2)._2)))
  }

  /** The LAZY per-branch micro-score tables of the backoff model —
    * pure functions of (tri, bi, uni, alpha), split out (r16) so the
    * persisted-serving path ([[graft.ops.LmIndex]]) can pin them ONCE
    * per committed snapshot in [[graft.ops.SnapshotCache]] instead of
    * re-running the three vocab × vocab enrichment joins on every probe;
    * the live path pins them per run with [[graft.core.Pin]] exactly as
    * before. Expression trees unchanged — every micro value (and the
    * oracle hash) is identical.
    *
    * Per-BRANCH micro-scores precomputed on the MODEL side (all three
    * enrichment joins are vocab × vocab): each backoff branch needs
    * counts from at most two adjacent n-gram orders, and those live on
    * the model row the probe key selects — so the corpus makes one
    * hot/cold pass per ORDER (three), not one per count column (the
    * previous five).
    *  branch 1 (trigram seen):  c123/c12          keyed (w1, w2, w3)
    *  branch 2 (bigram seen):   α · c23/c2        keyed (w2, w3)
    *  branch 3 (unigram floor): α² · (c3+1)/(N+V) keyed (w3)
    *  fallback (w3 unseen):     α² · 1/(N+V)      constant per job */
  private[graft] def backoffMicroPlans(tri: DataFrame, bi: DataFrame,
      uni: DataFrame, alpha: Double)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    require(alpha > 0.0 && alpha <= 1.0,
      s"backoff alpha must lie in (0, 1], got $alpha")
    val nv = uni.agg(sum(col("c")).as("n"), count(lit(1)).as("v"))
    val m1tab = tri
      .join(bi.select(col("wa").as("w1"), col("wb").as("w2"), col("cab").as("c12")),
        Seq("w1", "w2"))
      .select(col("w1"), col("w2"), col("w3"), col("c123"),
        round(log(col("c123").cast("double") / col("c12").cast("double")) * 1e6d)
          .cast("long").as("_m1"))
    val m2tab = bi
      .select(col("wa").as("w2"), col("wb").as("w3"), col("cab").as("c23"))
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
      .select(col("w2"), col("w3"), col("c23"),
        round(log(lit(alpha) * (col("c23").cast("double") / col("c2").cast("double"))) * 1e6d)
          .cast("long").as("_m2"))
    val m3tab = uni
      .crossJoin(broadcast(nv))
      .select(col("w").as("w3"), col("c").as("c3"),
        round(log(lit(alpha) * lit(alpha) *
          ((col("c") + 1).cast("double") / (col("n") + col("v")).cast("double"))) * 1e6d)
          .cast("long").as("_m3"))
    (m1tab, m2tab, m3tab, nv)
  }

  /** The probe half of [[scoreBackoffTrigrams]] over ALREADY-PINNED
    * micro tables (see [[backoffMicroPlans]]): three hot/cold LEFT
    * joins — one per n-gram order — then the per-document exact
    * micro-nat aggregate. */
  private[graft] def scoreBackoffTrigramsOn(docTri: DataFrame, idCol: String,
      m1tab: DataFrame, m2tab: DataFrame, m3tab: DataFrame, nv: DataFrame,
      alpha: Double, hotK: Int,
      hots: Option[(Skew.HotSet, Skew.HotSet, Skew.HotSet)] = None)
      : DataFrame = {
    // hot-key routing sets: derived per call for the live path, passed
    // in PRECOMPUTED by the persisted-serving path (r16 — they are pure
    // snapshot functions, so re-ranking the vocab per probe was waste)
    val (h1, h2, h3) = hots.getOrElse((
      Skew.hotSet(m1tab, Seq("w1", "w2", "w3"), col("c123"), hotK),
      Skew.hotSet(m2tab, Seq("w2", "w3"), col("c23"), hotK),
      Skew.hotSet(m3tab, Seq("w3"), col("c3"), hotK)))
    // pin every OTHER stage: the hot/cold union doubles the left
    // lineage per level, so an un-materialized k-stage chain recomputes
    // 2^k times; one pin mid-chain caps the three-stage factor
    val joined = Skew.hotColdJoinWith(docTri, m1tab, Seq("w1", "w2", "w3"),
        h1, "left")
      .transform(d => Skew.hotColdJoinWith(d, m2tab,
        Seq("w2", "w3"), h2, "left").pin)
      .transform(d => Skew.hotColdJoinWith(d, m3tab,
        Seq("w3"), h3, "left"))
      .crossJoin(broadcast(nv))
    joined
      .withColumn("_micro",
        coalesce(col("_m1"), col("_m2"), col("_m3"),
          round(log(lit(alpha) * lit(alpha) *
            (lit(1.0d) / (col("n") + col("v")).cast("double"))) * 1e6d)
            .cast("long")))
      .groupBy(col(idCol))
      .agg(sum(col("_n")).as("n_trigrams"),
        sum(col("_n") * col("_micro")).as("sum_micro_nats"))
      .withColumn("avg_logprob",
        round(col("sum_micro_nats").cast("double") /
          (col("n_trigrams").cast("double") * 1e6d), 6))
  }

  /** Okapi BM25 document scores for a set of (q_id, token) query terms:
    * score(q, d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    * idf(t) = ln(1 + (N−df+0.5)/(df+0.5)) — the lexical-retrieval
    * complement of the embedding RAG pipeline (q64). Per-term scores are
    * quantized to integer micro-units and summed exactly (same
    * determinism device as [[unigramLogProb]]), so ranking is
    * engine-reproducible.
    *
    * Plan: tf is computed ONLY for query terms (the isin prune runs
    * before the aggregate), df/N/avgdl are corpus scalars or
    * vocabulary-slice rows (broadcast); the only corpus-sized shuffle is
    * the tf groupBy of matching (doc, token) rows. */
  /** The micro-quantized per-(doc, term) BM25 contribution over columns
    * (tf, df, dl, n_docs, total_len) — shared by the from-scratch path
    * ([[bm25]]) and the persisted-index path
    * ([[graft.ops.TextIndex.probeIndex]]) so both build the IDENTICAL
    * expression tree and the index serving result is bit-equal to the
    * recompute (the q122-vs-q82 oracle contract). */
  private[graft] def bm25MicroExpr(k1: Double, b: Double): Column = {
    val idf = log(lit(1.0d) +
      (col("n_docs") - col("df") + lit(0.5d)) / (col("df") + lit(0.5d)))
    val avgdl = col("total_len").cast("double") / col("n_docs").cast("double")
    val term = idf * (col("tf") * lit(k1 + 1.0d)) /
      (col("tf") + lit(k1) * (lit(1.0d - b) + lit(b) * col("dl").cast("double") / avgdl))
    round(term * lit(1e6d)).cast("long")
  }

  /** Map-only document lengths: array size in the scan — equivalent to
    * counting the exploded non-empty tokens, without that shuffle. */
  private[graft] def docLengths(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol),
        size(filter(tokens(col(textCol)), t => length(t) > 0))
          .cast("long").as("dl"))
      .filter(col("dl") > 0)

  def bm25(df: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val toks = df
      .select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
    val qTerms = queries.select(col("q_id"), col("token")).distinct()
    val qTokens = qTerms.select(col("token")).distinct()
    val dl = docLengths(df, idCol, textCol)
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_len"))
    val tf = toks.join(broadcast(qTokens), Seq("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val docFreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(docFreq), Seq("token"))
      .join(dl, Seq(idCol))
      .crossJoin(broadcast(stats))
      .withColumn("_micro", bm25MicroExpr(k1, b))
      .join(broadcast(qTerms), Seq("token"))
      .groupBy(col("q_id"), col(idCol))
      .agg(sum(col("_micro")).as("sum_micro"))
      .withColumn("bm25", round(col("sum_micro").cast("double") / lit(1e6d), 6))
  }

  /** Content fingerprint (md5 of normalized text) per document —
    * the exact-dedup key and a stable doc identity for lineage. */
  def fingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), Dedup.fingerprint(col(textCol)).as("fp"))

  /** Winnowing fingerprints (MOSS-style rolling-hash document
    * fingerprinting): polynomial hash of every k-char window of the
    * normalized text, then the minimum of each run of t consecutive
    * hashes, deduplicated — a compact, position-robust fingerprint set
    * whose overlap measures local content reuse. All integer arithmetic
    * (64-bit safe: 8 × 126 × (P-1) < 2^63), expression-only, so the
    * DuckDB oracle reproduces it exactly. */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, t: Int = 4): DataFrame =
    df.select(col(idCol), winnowFps(col(textCol), k, t).as("_fps"))
      .filter(size(col("_fps")) > 0)
      .select(col(idCol), explode(col("_fps")).as("winnow_fp"))

  /** Distinct winnow fingerprints of a document as one `array<long>` —
    * normalize, then the single-pass codegen kernel
    * ([[graft.expr.WinnowKernel]]). Per-document summaries should
    * aggregate this array directly (size/array_min/array_max/aggregate):
    * winnowing is embarrassingly per-document, so exploding and
    * re-grouping would shuffle L·(docs) rows for no reason. */
  def winnowFps(text: Column, k: Int = 8, t: Int = 4): Column =
    graft.expr.WinnowKernel.fps(Dedup.normText(text), k, t)

  /** Portable expression-only variant of [[winnowFingerprints]] (no
    * custom Expression — `split`/`transform`/`slice` built-ins only):
    * identical output, used to cross-check the kernel in tests and as the
    * template for the DuckDB oracle (q38). O(k·L) via element_at on a
    * code-point array (substring(s, i, 1) would be O(i) on UTF-8 →
    * O(L²) per document). */
  def winnowFingerprintsPortable(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, t: Int = 4): DataFrame = {
    require(k > 0 && t > 0 && k <= 16, s"need 0 < k <= 16 and t > 0, got $k/$t")
    val P = 1000000007L; val B = 131L
    val coef = (0 until k).map(j => (0 until j).foldLeft(1L)((a, _) => a * B % P))
    val hashTerm = (0 until k)
      .map(j => s"element_at(_a, i + $j) * ${coef(j)}L")
      .mkString(" + ")
    df.select(col(idCol), Dedup.normText(col(textCol)).as("_nt"))
      .filter(length(col("_nt")) >= k + t - 1)
      .withColumn("_a", expr("transform(split(_nt, ''), c -> cast(ascii(c) as bigint))"))
      .withColumn("_h", expr(
        s"transform(sequence(1, size(_a) - ${k - 1}), i -> ($hashTerm) % ${P}L)"))
      .select(col(idCol), explode(expr(
        s"array_distinct(transform(sequence(1, size(_h) - ${t - 1}), w -> array_min(slice(_h, w, $t))))"))
        .as("winnow_fp"))
  }

  /** Rule-based quality filtering, Gopher/MassiveText-shaped (Rae et al.
    * 2021 §A1.1): the heuristic gate every curation pipeline runs BEFORE
    * (or alongside) the model-based filter ([[graft.ops.QualityModel]]).
    * Four of the canonical rules, each reported per document so a
    * pipeline can attribute WHICH rule fired:
    *  - word count within [minWords, maxWords];
    *  - mean word length within [minMeanLen, maxMeanLen];
    *  - fraction of words containing an alphabetic character ≥ 4/5;
    *  - at least `minStopHits` hits on the 8-word stop set
    *    (the/be/to/of/and/that/have/with).
    *
    * Every DECISION is integer arithmetic — mean-length and alpha-ratio
    * bounds are cross-multiplied (sum_len ≥ minMeanLen·n as exact longs),
    * never float-compared — so the keep bit replays exactly in any
    * engine; the reported mean/fraction doubles are one divide + round(6)
    * each, for human eyes.
    *
    * Plan: map-only — ALL measures are array-function folds over the
    * token array inside whole-stage codegen; no explode, no shuffle, no
    * token row ever leaves the scan. At 100 TB this is the cheapest
    * operator in the pipeline: one projection. */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
      minWords: Int = 20, maxWords: Int = 100000,
      minMeanLen: Int = 3, maxMeanLen: Int = 10,
      minStopHits: Int = 1): DataFrame = {
    require(minWords >= 1 && maxWords >= minWords,
      s"invalid word-count bounds [$minWords, $maxWords]")
    require(minMeanLen >= 1 && maxMeanLen >= minMeanLen,
      s"invalid mean-length bounds [$minMeanLen, $maxMeanLen]")
    require(minStopHits >= 0, s"invalid stopword bound $minStopHits")
    val stopSet = "'the','be','to','of','and','that','have','with'"
    df.select(col(idCol), tokens(col(textCol)).as("_w0"))
      .withColumn("_w", expr("filter(_w0, x -> length(x) > 0)"))
      .withColumn("n_words", expr("CAST(size(_w) AS BIGINT)"))
      .filter(col("n_words") > 0)
      .withColumn("_sum_len", expr(
        "aggregate(_w, CAST(0 AS BIGINT), (acc, x) -> acc + length(x))"))
      .withColumn("_alpha_words", expr(
        "CAST(size(filter(_w, x -> x rlike '[a-z]')) AS BIGINT)"))
      .withColumn("n_stop_hits", expr(
        s"CAST(size(filter(_w, x -> x IN ($stopSet))) AS BIGINT)"))
      .withColumn("mean_word_len",
        round(col("_sum_len").cast("double") / col("n_words").cast("double"), 6))
      .withColumn("alpha_frac",
        round(col("_alpha_words").cast("double") / col("n_words").cast("double"), 6))
      .withColumn("r_words",
        when(col("n_words").between(minWords.toLong, maxWords.toLong), 1L).otherwise(0L))
      .withColumn("r_meanlen",
        when(col("_sum_len") >= lit(minMeanLen.toLong) * col("n_words") &&
          col("_sum_len") <= lit(maxMeanLen.toLong) * col("n_words"), 1L).otherwise(0L))
      .withColumn("r_alpha",
        when(col("_alpha_words") * 5L >= col("n_words") * 4L, 1L).otherwise(0L))
      .withColumn("r_stop",
        when(col("n_stop_hits") >= minStopHits.toLong, 1L).otherwise(0L))
      .withColumn("keep",
        col("r_words") * col("r_meanlen") * col("r_alpha") * col("r_stop"))
      .select(col(idCol), col("n_words"), col("mean_word_len"),
        col("alpha_frac"), col("n_stop_hits"),
        col("r_words"), col("r_meanlen"), col("r_alpha"), col("r_stop"),
        col("keep"))
  }

  /** Zipf-law fit per group: the log-log slope of token frequency vs
    * frequency rank — the canonical one-number "does this corpus look
    * like natural language" diagnostic (natural text ≈ −1; templated or
    * machine-generated text departs). Least-squares slope
    * (n·Σxy − Σx·Σy) / (n·Σxx − Σx²) over x = ln(rank), y = ln(freq).
    *
    * Determinism: the only float step (ln) is 6-dp-rounded per VALUE and
    * cast to DECIMAL before any aggregation, so the four sums are exact
    * and order-independent; the final slope is one IEEE expression over
    * exact components. Rank ties break lexicographically by token.
    *
    * Scale: the explode shuffles (group, token) for the frequency count —
    * map-side partial — then everything downstream is VOCABULARY-sized
    * (types per group), not corpus-sized; the rank window partitions by
    * group over that bounded frame. */
  def zipfSlope(df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freq = df
      .select(col(groupCol), explode(tokens(col(textCol))).as("tk"))
      .filter(length(col("tk")) > 0)
      .groupBy(col(groupCol), col("tk"))
      .agg(count(lit(1)).as("freq"))
    val xy = freq
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col(groupCol)).orderBy(col("freq").desc, col("tk"))))
      .select(col(groupCol),
        round(log(col("rnk").cast("double")), 6).cast("decimal(18,6)").as("x"),
        round(log(col("freq").cast("double")), 6).cast("decimal(18,6)").as("y"))
    xy.groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_types"),
        sum(col("x")).as("_sx"), sum(col("y")).as("_sy"),
        sum((col("x") * col("y")).cast("decimal(38,12)")).as("_sxy"),
        sum((col("x") * col("x")).cast("decimal(38,12)")).as("_sxx"))
      .select(col(groupCol), col("n_types"),
        // a one-type group has x ≡ 0, so the denominator degenerates to
        // 0 and the slope is undefined — emit NULL, not 0/0 = NaN
        when(
          col("n_types").cast("double") * col("_sxx").cast("double") -
            col("_sx").cast("double") * col("_sx").cast("double") === 0d,
          lit(null).cast("double"))
        .otherwise(round(
          (col("n_types").cast("double") * col("_sxy").cast("double") -
            col("_sx").cast("double") * col("_sy").cast("double")) /
          (col("n_types").cast("double") * col("_sxx").cast("double") -
            col("_sx").cast("double") * col("_sx").cast("double")), 6))
          .as("zipf_slope"))
  }

  /** Lexical-diversity profile per group: type-token ratio and the
    * distinct-bigram ratio ("distinct-2" of Li et al. 2016) — low values
    * flag templated/repetitive sources a curation run downweights.
    * Bigrams are built by zipping the token list with its own tail
    * (array ops fused in codegen — the explode only carries (group,
    * gram) pairs into a counting aggregate, map-side partial first). */
  def lexicalDiversity(df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val base = df.select(col(groupCol), tokens(col(textCol)).as("_w"))
      .withColumn("_w", filter(col("_w"), x => length(x) > 0))
    val uni = base.select(col(groupCol), explode(col("_w")).as("g"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("g")).as("n_types"))
    val bi = base
      .select(col(groupCol), explode(
        zip_with(
          slice(col("_w"), lit(1), greatest(size(col("_w")) - 1, lit(0))),
          slice(col("_w"), lit(2), greatest(size(col("_w")) - 1, lit(0))),
          (a, b) => concat(a, lit(" "), b))).as("g"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_bigrams"),
        countDistinct(col("g")).as("n_bigram_types"))
    // LEFT join: a group whose documents are all single-token has no
    // bigrams anywhere — it must still report (n_bigrams = 0, distinct2
    // = NULL), not silently vanish ("maximally repetitive" and "absent"
    // are different answers)
    uni.join(bi, Seq(groupCol), "left")
      .select(col(groupCol), col("n_tokens"), col("n_types"),
        round(col("n_types").cast("double") / col("n_tokens").cast("double"), 6)
          .as("ttr"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_bigram_types"), lit(0L)).as("n_bigram_types"),
        when(coalesce(col("n_bigrams"), lit(0L)) === 0L, lit(null).cast("double"))
          .otherwise(round(
            col("n_bigram_types").cast("double") / col("n_bigrams").cast("double"), 6))
          .as("distinct2"))
  }

  /** Pairwise vocabulary overlap between groups WITHOUT joining corpora,
    * via KMV (k-minimum-values) sketches: per group, the k smallest
    * distinct affine hashes of the token codes (the [[graft.expr.KmvDistinct]]
    * hash family, so the sketch is engine-replayable). Union cardinality
    * from the merged sketch's k-th minimum; intersection by the classic
    * ratio estimator ρ = |k-min(A∪B) present in both| / k, so
    * |A∩B| ≈ ρ·|A∪B| — all integer arithmetic (one exact ratio at the
    * end), deterministic on any partitioning.
    *
    * Scale: the corpus is touched once (explode → distinct → per-group
    * top-k, a WindowGroupLimit-bounded frame of ≤ k rows per group);
    * the pairwise stage is groups² SKETCH rows — at 100 TB you estimate
    * every pairwise domain overlap without any corpus-×-corpus join.
    * Returns one row per unordered group pair. */
  def vocabOverlap(df: DataFrame, groupCol: String, textCol: String,
      k: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 2, s"KMV needs k >= 2, got $k")
    val P = graft.expr.DedupKernel.P
    val (a, b) = graft.expr.DedupKernel.perm(0)
    val kp = (k - 1).toLong * P
    val hashes = df
      .select(col(groupCol), explode(tokens(col(textCol))).as("tk"))
      .filter(length(col("tk")) > 0)
      .select(col(groupCol),
        aggregate(sequence(lit(1), length(col("tk"))), lit(0L),
          (acc, i) => (acc * graft.expr.DedupKernel.B1 +
            ascii(col("tk").substr(i, lit(1))).cast("long")) % P).as("code"))
      .select(col(groupCol), ((pmod(col("code"), lit(P)) * a + b) % P).as("h"))
      .distinct()
    val sk = hashes
      .withColumn("rn", row_number().over(
        Window.partitionBy(col(groupCol)).orderBy(col("h"))))
      .filter(col("rn") <= k)
      .groupBy(col(groupCol))
      .agg(sort_array(collect_list(col("h"))).as("hs"))
      .withColumn("est", when(size(col("hs")) < k,
          size(col("hs")).cast("long"))
        .otherwise(expr(s"$kp div element_at(hs, $k)")))
    val x = sk.select(col(groupCol).as("ga"), col("hs").as("ha"), col("est").as("est_a"))
    val y = sk.select(col(groupCol).as("gb"), col("hs").as("hb"), col("est").as("est_b"))
    x.join(y, col("ga") < col("gb"))
      .withColumn("u", array_sort(array_union(col("ha"), col("hb"))))
      .withColumn("uk", slice(col("u"), lit(1), least(size(col("u")), lit(k))))
      .withColumn("est_union", when(size(col("u")) < k,
          size(col("u")).cast("long"))
        .otherwise(expr(s"$kp div element_at(u, $k)")))
      .withColumn("cnt", size(filter(col("uk"),
        h => array_contains(col("ha"), h) && array_contains(col("hb"), h))))
      .select(col("ga").as("group_a"), col("gb").as("group_b"),
        col("est_a"), col("est_b"), col("est_union"),
        expr("CAST(cnt AS BIGINT) * est_union div size(uk)").as("est_inter"),
        round(col("cnt").cast("double") / size(col("uk")).cast("double"), 6)
          .as("jacc_est"))
  }

  /** Distributed BPE merge training (Sennrich et al. 2016), the
    * word-table formulation production tokenizer trainers use: the
    * corpus is touched ONCE (word-frequency count, map-side combined);
    * every merge round then runs on the VOCABULARY-sized symbol table —
    * adjacent-pair counts weighted by word frequency, argmax pair
    * (count desc, pair asc), merge applied as a BOUNDARY-ANCHORED
    * left-to-right non-overlapping replace (see [[bpeApply]] — a bare
    * `replace(sym, "b c", "bc")` would also match across symbol
    * boundaries once multi-char symbols exist, e.g. inside "ab c",
    * silently minting the bogus symbol "abc"). Words are held as
    * space-separated symbol strings; symbols never contain spaces, so
    * the encoding is unambiguous.
    *
    * Returns one row per merge: (iter, pair, merged, cnt). The driver
    * collects ONE row per round — bounded by `iters`, never data.
    *
    * Regime: each round is one Spark job, so this entry point stays
    * capped at demonstration scale (tens of merges); real vocabulary
    * training goes through [[bpeMergesBatched]], which learns the top-R
    * NON-INTERACTING pairs per round and therefore needs merges∕R
    * driver rounds, not merges. With R = 1 the two are the same
    * algorithm (proven in spec) — this is a thin delegation. */
  def bpeMerges(df: DataFrame, textCol: String, iters: Int = 5): DataFrame = {
    require(iters >= 1, s"iters must be positive, got $iters")
    require(iters <= 256,
      s"iters = $iters: one driver round per merge is the demonstration " +
        "regime; use bpeMergesBatched (top-R non-interacting pairs per " +
        "round) to train real vocabularies")
    bpeMergesBatched(df, textCol, merges = iters, batchR = 1)
  }

  /** BATCHED distributed BPE training — the production-regime form of
    * [[bpeMerges]]: each driver round computes the round's pair counts
    * ONCE, collects the top-`lookahead` candidates (a bounded,
    * config-sized collect), and greedily accepts up to `batchR` pairs
    * in (cnt desc, pair asc) rank order such that no accepted pair
    * shares a symbol with an earlier accepted pair of the SAME round —
    * where an earlier pair's touched symbols are its two inputs AND its
    * merged OUTPUT (the output can equal an already-existing symbol
    * reachable via a different merge path, whose occurrence count the
    * merge just changed) — the standard batched-BPE device: merging
    * "a b" can only change the adjacency counts of pairs touching "a",
    * "b" or the minted "ab", so fully-disjoint pairs have provably
    * unchanged counts and their recorded cnt equals what sequential BPE
    * would have recounted.
    * Interacting runners-up are merely DEFERRED to the next round
    * (where the refreshed counts see any newly minted symbols), so a
    * 32k-merge vocabulary costs 32k∕R driver rounds instead of 32k.
    *
    * With `batchR = 1` the accept loop is exactly the argmax, giving
    * [[bpeMerges]]'s trajectory; for R > 1 the trajectory is the
    * batched algorithm itself, which the q171 oracle replays round by
    * round in DuckDB (rank window → greedy disjoint accept → anchored
    * replace), so results remain engine-exact, not approximate.
    *
    * A round accepts fewer than `batchR` pairs only when the lookahead
    * window runs out of symbol-disjoint candidates (or the merge
    * budget is nearly spent); training stops early when no adjacent
    * pairs remain. Returns (iter, pair, merged, cnt) with `iter` the
    * GLOBAL merge index in acceptance order. */
  def bpeMergesBatched(df: DataFrame, textCol: String, merges: Int,
      batchR: Int, lookahead: Int = 0): DataFrame = {
    require(merges >= 1 && merges <= 65536,
      s"merges must be in [1, 65536], got $merges")
    require(batchR >= 1 && batchR <= 4096,
      s"batchR must be in [1, 4096], got $batchR")
    require(lookahead >= 0,
      s"lookahead must be >= 0 (0 = default 4·batchR), got $lookahead")
    val window = if (lookahead > 0) lookahead else 4 * batchR
    require(window >= batchR,
      s"lookahead window $window cannot be smaller than batchR = $batchR")
    val rounds = (merges + batchR - 1) / batchR
    require(rounds <= 1024,
      s"$merges merges at $batchR per round is $rounds driver rounds — " +
        "raise batchR; driver rounds are the scale bound, not merges")
    val spark = df.sparkSession
    import spark.implicits._
    var words = Pin.cut(df.select(explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(trim(regexp_replace(col("w"), "(.)", "$1 ")).as("sym"),
        col("freq")), eager = true)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var exhausted = false
    var round = 0
    while (out.size < merges && !exhausted) {
      // the pre-check bounds rounds only in the best case (batchR
      // accepted each round); a heavily self-interacting vocabulary can
      // under-fill rounds, so the driver-round ceiling is ENFORCED —
      // a typed failure beats an unbounded driver loop
      round += 1
      if (round > 1024)
        throw new IllegalStateException(
          s"bpeMergesBatched exceeded 1024 driver rounds after ${out.size} " +
            s"of $merges merges — the vocabulary's top pairs interact too " +
            "heavily for this batchR; raise batchR or lookahead")
      val a = split(col("sym"), " ")
      val top = words
        .select(explode(zip_with(
            slice(a, lit(1), greatest(size(a) - 1, lit(0))),
            slice(a, lit(2), greatest(size(a) - 1, lit(0))),
            (x, y) => concat(x, lit(" "), y))).as("pr"), col("freq"))
        .groupBy(col("pr")).agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("pr"))
        .limit(window)
        .as[(String, Long)].collect()
      if (top.isEmpty) exhausted = true
      else {
        val quota = math.min(batchR, merges - out.size)
        val used = scala.collection.mutable.Set.empty[String]
        val accepted = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
        for ((pair, cnt) <- top if accepted.size < quota) {
          val sep = pair.indexOf(' ')
          val s1 = pair.substring(0, sep)
          val s2 = pair.substring(sep + 1)
          if (!used(s1) && !used(s2)) {
            accepted += ((pair, cnt))
            used += s1
            used += s2
            // the MERGED output is a touched symbol too: an accepted
            // merge can mint a string equal to an already-existing
            // symbol (reachable via a different merge path, e.g. "abc"
            // minted earlier from a+bc, this round ab+c), creating new
            // occurrences of it — so a later same-round pair touching
            // that symbol has a stale cnt and must be deferred to the
            // next round's refreshed counts (r14 advice)
            used += pair.replace(" ", "")
          }
        }
        accepted.foreach { case (pair, cnt) =>
          out += ((out.size + 1L, pair, pair.replace(" ", ""), cnt))
        }
        val symN = accepted.foldLeft(col("sym")) { case (c, (pair, _)) =>
          bpeApply(c, pair, pair.replace(" ", ""))
        }
        words = Pin.cut(words.select(symN.as("sym"), col("freq")), eager = true)
      }
    }
    out.toSeq.toDF("iter", "pair", "merged", "cnt")
  }

  /** Boundary-anchored BPE merge application: replace the adjacent
    * symbol pair `pair` ("a b") with `merged` ("ab") in the
    * space-separated symbol string WITHOUT matching across symbol
    * boundaries. RE2-style engines (the DuckDB oracle) lack lookaround,
    * so anchoring uses the classic doubled-separator trick instead of
    * `(?<= )…(?= )`: render boundaries as two spaces, match the pair
    * with ONE flanking space on each side (consuming half of each
    * doubled boundary, so consecutive occurrences like "a b a b" all
    * merge), then collapse the ≤ 2-space runs back. Every step is a
    * literal left-to-right non-overlapping `replace` — bit-identical in
    * Spark and DuckDB. */
  private[ops] def bpeApply(sym: Column, pair: String, merged: String): Column =
    trim(call_function("replace",
      call_function("replace",
        concat(lit(" "),
          call_function("replace", sym, lit(" "), lit("  ")), lit(" ")),
        lit(" " + pair.replace(" ", "  ") + " "),
        lit(" " + merged + " ")),
      lit("  "), lit(" ")))

  /** BPE ENCODING with a trained merge list ([[bpeMerges]]'s output):
    * applies the merges in training order to every distinct word (the
    * vocab-sized table again, never the corpus) and reports per-group
    * tokenizer-quality stats — fertility (subwords per word, the
    * metric multilingual tokenizer papers optimize) and chars per
    * subword. Merge application is the same left-to-right `replace`
    * fold as training, so encode ∘ train replays exactly. */
  def bpeFertility(df: DataFrame, groupCol: String, textCol: String,
      iters: Int = 5): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val merges = bpeMerges(df, textCol, iters)
      .orderBy(col("iter"))
      .select(col("pair"), col("merged"))
      .as[(String, String)].collect()
    val byGroup = df
      .select(col(groupCol), explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col(groupCol), col("w")).agg(count(lit(1)).as("freq"))
    val sym0 = trim(regexp_replace(col("w"), "(.)", "$1 "))
    val symN = merges.foldLeft(sym0) { case (c, (p, m)) => bpeApply(c, p, m) }
    byGroup
      .select(col(groupCol), col("freq"),
        size(split(symN, " ")).cast("long").as("n_syms"),
        length(col("w")).cast("long").as("n_chars"))
      .groupBy(col(groupCol))
      .agg(
        sum(col("freq")).as("n_words"),
        sum(col("freq") * col("n_syms")).as("n_subwords"),
        sum(col("freq") * col("n_chars")).as("n_chars"))
      .select(col(groupCol), col("n_words"), col("n_subwords"),
        round(col("n_subwords").cast("double") / col("n_words").cast("double"), 6)
          .as("fertility"),
        round(col("n_chars").cast("double") / col("n_subwords").cast("double"), 6)
          .as("chars_per_subword"))
  }

  /** Corpus BPE ENCODE to integer token ids — closes the tokenizer
    * loop ([[bpeMerges]]/[[bpeMergesBatched]] train; this encodes):
    * every document becomes its `array<bigint>` of subword token ids
    * under a trained merge list, the representation a training-data
    * pipeline actually ships to the model (and what
    * [[Sampling.packSequences]] should pack by, instead of whitespace
    * counts — q182).
    *
    * Token-id scheme (deterministic, engine-replayable): the corpus
    * alphabet's distinct characters sorted get ids 0..A−1; merge i
    * (1-based training order) mints id A+i−1 for its output string —
    * duplicate outputs (the same string minted via two paths) keep the
    * FIRST id, leaving a gap, so ids are stable under q171's batched
    * trajectory. A merge whose pair never occurs in this corpus simply
    * never fires; the invariant "every folded symbol is a base char or
    * a minted merge output" is PROBED typed (one vocab-sized anti-join)
    * rather than assumed, so a violation can never silently drop
    * subwords.
    *
    * Plan shape (the scale path): the merge fold runs on the
    * VOCAB-sized distinct-word table, never per token (the
    * [[bpeFertility]] device); subword→id is a broadcast join against
    * the (alphabet + merges)-sized vocab; the one corpus-scale join —
    * word → its id list — is Zipf-keyed on the word, so it routes
    * through [[Skew.hotColdJoin]] (auto-K) with the word frequency as
    * weight; per-doc assembly is one collect_list + array_sort (order
    * by position, partition-order-independent). */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val docToks = df
      .select(col(idCol), posexplode(tokens(col(textCol))).as(Seq("pos", "w")))
      .filter(length(col("w")) > 0)
    val words = docToks.groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .pin // alphabet scan + fold + typed probe
    val vocabDf = vocabFromWords(words, merges)
    // fold the merges over the vocab-sized word table
    val sym0 = trim(regexp_replace(col("w"), "(.)", "$1 "))
    val symN = merges.foldLeft(sym0) { case (c, (p, m)) => bpeApply(c, p, m) }
    val wordSubs = words
      .select(col("w"), col("freq"),
        posexplode(split(symN, " ")).as(Seq("subpos", "sub")))
    // r17: the typed vocab probe is fused into the id-assembly join
    // (guide §1.2) — one LEFT join instead of an anti-join probe PLUS
    // an inner join, so the vocab-sized merge fold over `wordSubs`
    // runs once, and the check reads the pinned per-word result
    val wordIds0 = wordSubs.join(broadcast(vocabDf), Seq("sub"), "left")
      .groupBy(col("w"), col("freq"))
      .agg(collect_list(struct(col("subpos"), col("tok_id"))).as("_sl"),
        sum(when(col("tok_id").isNull, lit(1L)).otherwise(lit(0L)))
          .as("_bad"))
      .pin // vocab-sized; guard + the hot-cold join read the cache
    val unseen = wordIds0.filter(col("_bad") > 0L).count()
    require(unseen == 0L,
      "bpeEncode: a folded subword is neither a base character nor a " +
        "minted merge output — the merge list is internally inconsistent " +
        "(merged strings must equal their pair without the space)")
    val wordIds = wordIds0
      .select(col("w"), col("freq"),
        transform(array_sort(col("_sl")), s => s.getField("tok_id")).as("ids"))
    Skew.hotColdJoin(docToks, wordIds, Seq("w"), col("freq"), Skew.Auto)
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("pos"), col("ids"))).as("_pl"))
      .select(col(idCol),
        flatten(transform(array_sort(col("_pl")), s => s.getField("ids")))
          .as("token_ids"))
      .withColumn("n_tokens", size(col("token_ids")).cast("long"))
  }

  /** The (sub, tok_id) vocabulary a corpus + merge list induces under
    * [[bpeEncode]]'s id scheme — exposed so [[bpeDecode]] (and any
    * external consumer of the shipped id sequences) can resolve ids
    * without re-running encode. One corpus scan (the distinct-word
    * table), one bounded driver collect (the alphabet). */
  def bpeVocab(df: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame =
    vocabFromWords(
      df.select(explode(tokens(col(textCol))).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("w")).agg(count(lit(1)).as("freq")),
      merges)

  /** [[bpeEncode]]'s id scheme over an already-computed distinct-word
    * table: alphabet chars sorted → ids 0..A−1, merge i mints A+i−1
    * (first mint wins on duplicate outputs). */
  private def vocabFromWords(words: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    // alphabet: distinct chars, sorted — a bounded driver collect
    val alphabet = words
      .select(explode(split(trim(regexp_replace(col("w"), "(.)", "$1 ")), " "))
        .as("ch"))
      .filter(length(col("ch")) > 0)
      .distinct().orderBy(col("ch"))
      .as[String].collect()
    val base = alphabet.zipWithIndex.map { case (c, i) => (c, i.toLong) }
    // merge outputs in training order; first mint wins on duplicates
    val mergeIds = merges.map(_._2).zipWithIndex
      .groupBy(_._1).view.mapValues(_.map(_._2).min).toSeq
      .map { case (m, i) => (m, alphabet.length + i.toLong) }
    (base ++ mergeIds).toSeq.toDF("sub", "tok_id")
  }

  /** BPE DECODE — the inverse of [[bpeEncode]] given the same vocab:
    * each token id resolves to its subword string (a broadcast join
    * against the vocab-sized table) and every document reassembles by
    * position. Word boundaries are NOT recoverable (the id scheme
    * carries no end-of-word marker), so the decoded string is the
    * space-free normalized text — the q188 roundtrip audit compares
    * against exactly that, proving the id sequences are lossless up to
    * the documented boundary erasure. Unknown ids fail typed (one
    * bounded anti-join probe): an id outside the vocab would silently
    * drop a subword from the reassembled text. */
  def bpeDecode(encoded: DataFrame, idCol: String, idsCol: String,
      vocab: DataFrame): DataFrame = {
    val ids = encoded
      .select(col(idCol), posexplode(col(idsCol)).as(Seq("pos", "tok_id")))
    // r17: the typed unknown-id probe is fused into the reassembly join
    // (guide §1.2) — one LEFT join + counted miss flag instead of an
    // anti-join probe pass PLUS the inner join pass over the ids
    val dec0 = ids.join(broadcast(vocab), Seq("tok_id"), "left")
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("pos"), col("sub"))).as("_sl"),
        sum(when(col("sub").isNull, lit(1L)).otherwise(lit(0L))).as("_bad"))
      .pin // docs-sized (the op's output frame); 2 cached reads
    val unknown = dec0.filter(col("_bad") > 0L).count()
    require(unknown == 0L,
      "bpeDecode: a token id does not resolve in the vocab — the id " +
        "sequences were encoded under a different corpus/merge list")
    dec0.select(col(idCol),
      concat_ws("",
        transform(array_sort(col("_sl")), s => s.getField("sub")))
        .as("decoded"))
  }

  /** VOCABULARY COVERAGE curve — the tokenizer/vocab SIZING readout:
    * for each coverage threshold t, the minimal number of
    * most-frequent token types that covers ≥ t of all token
    * occurrences, and the out-of-vocabulary rate that vocab size
    * leaves (the Zipf-head question "how big must the vocab be for
    * 99% coverage" answered exactly). One row per threshold:
    * (threshold, vocab_size, covered_tokens, total_tokens, oov_rate).
    *
    * Determinism: thresholds are micro-quantized integers
    * (t_micro ∕ 10⁶), the crossing test is pure integer arithmetic
    * routed through DECIMAL(38) so cum·10⁶ cannot overflow at
    * 100 TB-scale token counts, and the tie order (count desc, token
    * asc) is total.
    *
    * Plan: one corpus-scale token count (map-side combined) →
    * VOCAB-sized rank/cumsum window (bounded by distinct types, never
    * occurrences) → thresholds × vocab filter-and-min (thresholds is a
    * ≤ 64-row broadcast literal). */
  def vocabCoverage(df: DataFrame, textCol: String,
      thresholdsMicro: Seq[Long] = Seq(900000L, 950000L, 990000L)): DataFrame = {
    require(thresholdsMicro.nonEmpty && thresholdsMicro.size <= 64,
      s"need 1..64 thresholds, got ${thresholdsMicro.size}")
    require(thresholdsMicro.forall(t => t > 0L && t <= 1000000L),
      s"thresholds are micro-fractions in (0, 10^6], got $thresholdsMicro")
    val spark = df.sparkSession
    import spark.implicits._
    val counts = df.select(explode(tokens(col(textCol))).as("tk"))
      .filter(length(col("tk")) > 0)
      .groupBy(col("tk")).agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("tk").asc)
    val ranked = counts
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum", sum(col("cnt")).over(w))
    val tot = counts.agg(sum(col("cnt")).as("total"))
    val th = thresholdsMicro.toDF("t_micro")
    ranked.crossJoin(broadcast(th)).crossJoin(broadcast(tot))
      .filter(col("cum").cast("decimal(38,0)") * lit(1000000L) >=
        col("t_micro").cast("decimal(38,0)") * col("total").cast("decimal(38,0)"))
      .groupBy(col("t_micro"))
      .agg(min(struct(col("rank"), col("cum"))).as("_m"),
        first(col("total")).as("total_tokens"))
      .select(
        round(col("t_micro").cast("double") / 1e6d, 6).as("threshold"),
        col("_m.rank").as("vocab_size"),
        col("_m.cum").as("covered_tokens"),
        col("total_tokens"),
        round(lit(1.0d) - col("_m.cum").cast("double") /
          col("total_tokens").cast("double"), 6).as("oov_rate"))
  }

  /** Top-k collocations by pointwise mutual information:
    * PMI(a,b) = ln( p(ab) / (p(a)·p(b)) ) with p(ab) = n_ab/N₂,
    * p(w) = n_w/N₁ — the classic "which word pairs co-occur far more
    * than chance" statistic (Church & Hanks 1990), a curation signal for
    * boilerplate phrases. Computed as ONE ln over an exact integer
    * ratio (n_ab·N₁² vs N₂·n_a·n_b, both exact in double for corpora
    * up to ~2⁵³ products — beyond that, subtract lns of exact ints),
    * 6-dp-rounded BEFORE ranking so the cut is engine-stable.
    *
    * Scale: unigram and bigram count frames are vocabulary-sized after
    * map-side combine; the two count joins are vocab×vocab equi-joins;
    * the final top-k is TakeOrderedAndProject. minCount prunes the
    * bigram tail before the joins. */
  def pmiCollocations(df: DataFrame, textCol: String,
      topK: Int = 20, minCount: Int = 5): DataFrame = {
    val toks = df.select(tokens(col(textCol)).as("_w"))
      .withColumn("_w", filter(col("_w"), x => length(x) > 0))
    val uni = toks.select(explode(col("_w")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n_w"))
    val bi = toks.select(explode(
        zip_with(
          slice(col("_w"), lit(1), greatest(size(col("_w")) - 1, lit(0))),
          slice(col("_w"), lit(2), greatest(size(col("_w")) - 1, lit(0))),
          (p, q) => struct(p.as("wa"), q.as("wb")))).as("g"))
      .select(col("g.wa"), col("g.wb"))
      .groupBy(col("wa"), col("wb")).agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount)
    val n1 = uni.agg(sum(col("n_w")).as("n1"))
    val n2 = toks.select((greatest(size(col("_w")) - 1, lit(0))).as("nb"))
      .agg(sum(col("nb")).as("n2"))
    bi.join(uni.select(col("w").as("wa"), col("n_w").as("n_a")), "wa")
      .join(uni.select(col("w").as("wb"), col("n_w").as("n_b")), "wb")
      .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
      .select(concat(col("wa"), lit(" "), col("wb")).as("bigram"), col("n_ab"),
        round(log(
          (col("n_ab").cast("double") * col("n1").cast("double") * col("n1").cast("double")) /
          (col("n2").cast("double") * col("n_a").cast("double") * col("n_b").cast("double"))), 6)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("bigram"))
      .limit(topK)
  }

  /** VOCABULARY-GROWTH curve in deterministic group (ingestion) order —
    * the word-level twin of the q165 novelty curve: groups are
    * processed alphabetically, every distinct word is credited to the
    * FIRST group containing it, and per group the curve reports its
    * token mass plus the running totals (cum_tokens, cum_vocab) — the
    * (N, V) points Heaps' law V = K·N^β is fitted on ([[heapsFit]]).
    *
    * Plan: one token explode; token counts per group and first-group
    * word attribution are each ONE map-side-combined aggregate
    * (vocab-sized); the cumulative window runs on the GROUPS-sized
    * frame only. Nothing after the vocab groupBy is corpus-sized. */
  def vocabGrowth(df: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val tok = df
      .select(col(groupCol).as("group"),
        explode(tokens(col(textCol))).as("_t"))
      .filter(length(col("_t")) > 0)
    val perGroup = tok.groupBy(col("group"))
      .agg(count(lit(1)).as("n_tokens"))
    val firstGroup = tok.groupBy(col("_t")).agg(min(col("group")).as("group"))
      .groupBy(col("group")).agg(count(lit(1)).as("n_new_words"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("group"))
    perGroup.join(firstGroup, Seq("group"), "left")
      .withColumn("n_new_words", coalesce(col("n_new_words"), lit(0L)))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("cum_vocab", sum(col("n_new_words")).over(w))
      .select(col("group"), col("n_tokens"), col("n_new_words"),
        col("cum_tokens"), col("cum_vocab"))
  }

  /** HEAPS'-LAW fit over a vocabulary-growth curve (Heaps 1978,
    * V(N) = K·N^β, β ≈ 0.4–0.6 for natural language) — the
    * tokenizer-budget extrapolation next to [[vocabCoverage]]: fit the
    * log-log OLS line through the curve's (cum_tokens, cum_vocab)
    * points and read off how fast NEW vocabulary keeps arriving. A β
    * near the natural-language band says the corpus is still growing
    * vocabulary as expected; β collapsing toward 0 says new data is
    * rehashing old words (saturation); β near 1 flags synthetic or
    * ID-riddled text whose "vocabulary" never converges. One row:
    * (points, beta, ln_k, k, r2).
    *
    * Determinism: each point's ln(N), ln(V) is nano-quantized to an
    * integer once; each OLS term (x², y², x·y of the re-floated
    * quantized values) is ONE fixed-order double expression
    * nano-quantized to an integer; sums are exact longs (|ln| ≤ 60 ⇒
    * a term ≤ 3.6·10¹², exact past 10⁵ points); the slope/intercept/r²
    * combination is fixed-order double arithmetic on those exact
    * sums — bit-replayable. Requires ≥ 2 points with distinct N and
    * nonzero V (typed failure otherwise — a log-log fit through one
    * point or a zero vocabulary is undefined, never silently 0).
    *
    * Plan: the curve is groups-sized, so everything here is arithmetic
    * on a bounded frame: two guard probes, one projection, ONE final
    * aggregate. */
  def heapsFit(curve: DataFrame, tokensCol: String,
      vocabCol: String): DataFrame = {
    // r17: both typed guards ride the SAME single-row aggregate as the
    // OLS moment sums (guide §1.2) — the curve's (possibly corpus-sized)
    // lineage is evaluated ONCE instead of three times (guard pass +
    // distinct probe + sums); the moment sums come back as exact longs
    // and feed the identical fixed-order readout expressions below
    val x9 = round(log(col(tokensCol).cast("double")) * 1e9d).cast("long")
    val y9 = round(log(col(vocabCol).cast("double")) * 1e9d).cast("long")
    val badRow = col(tokensCol).isNull || col(vocabCol).isNull ||
      col(tokensCol) <= 0L || col(vocabCol) <= 0L
    val pts = curve.select(
      (x9.cast("double") / 1e9d).as("_x"),
      (y9.cast("double") / 1e9d).as("_y"),
      badRow.as("_badrow"), col(tokensCol).as("_t"))
    val row = pts.agg(count(lit(1)).as("points"),
      sum(round(col("_x") * 1e9d).cast("long")).as("_sx"),
      sum(round(col("_y") * 1e9d).cast("long")).as("_sy"),
      sum(round(col("_x") * col("_x") * 1e9d).cast("long")).as("_sxx"),
      sum(round(col("_y") * col("_y") * 1e9d).cast("long")).as("_syy"),
      sum(round(col("_x") * col("_y") * 1e9d).cast("long")).as("_sxy"),
      sum(when(col("_badrow"), lit(1L)).otherwise(lit(0L))).as("_nb"),
      countDistinct(col("_t")).as("_dx")).head()
    require(row.isNullAt(row.fieldIndex("_nb")) ||
        row.getLong(row.fieldIndex("_nb")) == 0L,
      s"heapsFit needs positive non-NULL '$tokensCol' " +
        s"and '$vocabCol' on every curve point")
    require(row.getLong(row.fieldIndex("_dx")) >= 2L,
      "heapsFit needs >= 2 curve points with distinct token totals")
    val sums = curve.sparkSession.range(1).select(
      lit(row.getLong(row.fieldIndex("points"))).as("points"),
      lit(row.getLong(row.fieldIndex("_sx"))).as("_sx"),
      lit(row.getLong(row.fieldIndex("_sy"))).as("_sy"),
      lit(row.getLong(row.fieldIndex("_sxx"))).as("_sxx"),
      lit(row.getLong(row.fieldIndex("_syy"))).as("_syy"),
      lit(row.getLong(row.fieldIndex("_sxy"))).as("_sxy"))
    val nD = col("points").cast("double")
    def s(c: String) = col(c).cast("double") / 1e9d
    val varX = nD * s("_sxx") - s("_sx") * s("_sx")
    val varY = nD * s("_syy") - s("_sy") * s("_sy")
    val cov = nD * s("_sxy") - s("_sx") * s("_sy")
    val beta = cov / varX
    val lnK = (s("_sy") - beta * s("_sx")) / nD
    // `+ 0.0` after the final round canonicalizes IEEE −0.0 to +0.0
    // (a flat curve gives cov an infinitesimal NEGATIVE zero whose sign
    // bit survives rounding and breaks byte-hash replay against engines
    // that keep it — SURVEY §7.4's signed-zero convention)
    sums.select(col("points"),
      (round(beta, 6) + lit(0.0d)).as("beta"),
      (round(lnK, 6) + lit(0.0d)).as("ln_k"),
      round(exp(lnK), 6).as("k"),
      when(varY > 0.0d, round(cov * cov / (varX * varY), 6))
        .otherwise(lit(1.0d)).as("r2"))
  }

  /** GOOD–TURING frequency readout over the corpus vocabulary (Good
    * 1953) — the unseen-mass estimate next to [[heapsFit]]'s
    * vocabulary-growth extrapolation and the principled companion to
    * the LM family's fixed-α backoff: from the count-of-counts table
    * N_r (how many distinct words occur exactly r times), the mass a
    * FRESH sample would spend on never-seen words is P₀ = N₁∕N, and
    * each count-r word's smoothed count is r* = (r+1)·N_{r+1}∕N_r —
    * the estimator Kneser–Ney's absolute discount approximates.
    *
    * One row per frequency class, for the maxR LOWEST classes present
    * in the corpus (not a fixed r = 1..maxR window — a synthetic or
    * heavily-deduplicated corpus can have no singletons at all, and a
    * fixed window would then read out nothing): (r, n_words, r_star,
    * p_word, missing_mass, total_tokens) — p_word = r*∕N is the
    * smoothed per-word probability; missing_mass and total_tokens ride
    * on every row (the ev_share convention). r_star = 0.0 where
    * N_{r+1} = 0 (no donor class — simple GT leaves it undefined;
    * reported as 0, documented, rather than NaN or a silent unsmoothed
    * fallback). missing_mass stays P₀ = N₁∕N: zero when the corpus has
    * no singletons, which is itself the diagnostic (nothing rare ⇒
    * nothing unseen, by this estimator).
    *
    * Determinism: word counts and count-of-counts are exact integers;
    * r* and p_word are single fixed-order double ratios of exact longs,
    * 6 dp.
    *
    * Plan: one corpus explode + word groupBy (map-side combined), one
    * vocab-sized groupBy to the count-of-counts frame (≤ distinct
    * frequencies — O(√tokens) rows), one self-join on r+1, one 1-row
    * broadcast. Output bounded by maxR. */
  def goodTuring(df: DataFrame, textCol: String, maxR: Int = 10): DataFrame = {
    require(maxR >= 1 && maxR <= 1000, s"maxR must be in [1, 1000], got $maxR")
    val words = df.select(explode(tokens(col(textCol))).as("_w"))
      .filter(length(col("_w")) > 0)
    val wc = words.groupBy(col("_w")).agg(count(lit(1)).as("_r"))
    val coc = wc.groupBy(col("_r")).agg(count(lit(1)).as("n_words"))
      .pin // frequency-of-frequency-sized; read 3×
    val tot = coc.agg(
      sum(col("_r") * col("n_words")).as("_n"),
      coalesce(sum(when(col("_r") === 1L, col("n_words"))), lit(0L))
        .as("_n1"))
    val nxt = coc.select((col("_r") - 1L).as("_r"),
      col("n_words").as("_n_next"))
    // bottom-maxR classes by r: orderBy+limit on the frequency-of-
    // frequency frame (O(sqrt tokens) rows — model-sized, never corpus)
    coc.orderBy(col("_r")).limit(maxR)
      .join(nxt, Seq("_r"), "left")
      .crossJoin(broadcast(tot))
      .select(col("_r").as("r"), col("n_words"),
        when(col("_n_next").isNull, lit(0.0d))
          .otherwise(round((col("_r") + 1L).cast("double") *
            col("_n_next").cast("double") / col("n_words").cast("double"), 6))
          .as("r_star"),
        when(col("_n_next").isNull, lit(0.0d))
          .otherwise(round((col("_r") + 1L).cast("double") *
            col("_n_next").cast("double") /
            (col("n_words").cast("double") * col("_n").cast("double")), 6))
          .as("p_word"),
        round(col("_n1").cast("double") / col("_n").cast("double"), 6)
          .as("missing_mass"),
        col("_n").as("total_tokens"))
      .orderBy(col("r"))
  }

  /** MUTUAL-INFORMATION feature selection between token PRESENCE and a
    * binary document label (Manning, Raghavan & Schütze 2008 §13.5) —
    * the signal behind "which words make the classifier fire": for each
    * token t the 2×2 presence × label table (n₁₁ docs with t and
    * label 1, n₁₀ with t and 0, n₀₁/n₀₀ without t), scored
    *   MI(t) = Σ_cells (n∕N)·ln(N·n ∕ (rowTot·colTot))
    * with 0·ln 0 = 0. Unlike [[pmiCollocations]] (token↔token inside
    * documents) this is token↔LABEL across documents — the supervised
    * cut for building interpretable quality/lang gates and auditing
    * what a learned gate keys on.
    *
    * Top-`topK` rows by MI desc (ties → token asc):
    * (token, df, n11, mi) — df = docs containing the token.
    *
    * Determinism: all cell counts are exact integers from one distinct
    * (doc, token) frame; each of the four MI terms is a fixed-order
    * double nano-quantized to a long, so MI is an exact integer sum
    * floated once; the top-k orders on (mi_nano, token). NULL labels
    * fail typed; `minDf` (default 5) drops one-off tokens whose MI is
    * pure noise — documented, not silent (the cut is a parameter).
    *
    * Plan: one corpus explode + DISTINCT (doc, token) aggregate, one
    * token-sized groupBy, one 1-row broadcast of (N, N₁), one
    * TakeOrderedAndProject. The corpus is touched once. */
  def tokenLabelMI(df: DataFrame, idCol: String, textCol: String,
      labelCol: String, topK: Int = 25, minDf: Long = 5L): DataFrame = {
    require(topK >= 1 && topK <= 10000, s"topK must be in [1, 10000], got $topK")
    val docs = df.select(col(idCol), col(textCol), col(labelCol))
    // r17: the label-domain guard rides the same single-row aggregate
    // as the (N, N₁) totals (guide §1.2) — one docs pass instead of two
    val trow = docs.agg(count(lit(1)).as("_nd"),
      sum(col(labelCol).cast("long")).as("_n1"),
      sum(when(col(labelCol).isNull ||
        (col(labelCol) =!= 0L && col(labelCol) =!= 1L), lit(1L))
        .otherwise(lit(0L))).as("_nb")).head()
    require(trow.isNullAt(2) || trow.getLong(2) == 0L,
      s"tokenLabelMI needs non-NULL '$labelCol' labels in {0, 1}")
    val tot = df.sparkSession.range(1).select(
      lit(trow.getLong(0)).as("_nd"),
      (if (trow.isNullAt(1)) lit(null).cast("long")
       else lit(trow.getLong(1))).as("_n1"))
    val docTok = docs
      .select(col(idCol), col(labelCol).cast("long").as("_y"),
        explode(tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col(idCol), col("token"))
      .agg(max(col("_y")).as("_y"))
    val perTok = docTok.groupBy(col("token"))
      .agg(count(lit(1)).as("df"), sum(col("_y")).as("n11"))
      .filter(col("df") >= minDf)
      .crossJoin(broadcast(tot))
    // cells: n11 (t,1), n10 (t,0), n01 (¬t,1), n00 (¬t,0)
    def term(n: Column, rowTot: Column, colTot: Column, nTot: Column) =
      when(n === 0L, lit(0L)).otherwise(
        round((n.cast("double") / nTot.cast("double")) *
          log(nTot.cast("double") * n.cast("double") /
            (rowTot.cast("double") * colTot.cast("double"))) * 1e9d)
          .cast("long"))
    val n10 = col("df") - col("n11")
    val n01 = col("_n1") - col("n11")
    val n00 = col("_nd") - col("_n1") - n10
    val absent = col("_nd") - col("df")
    val miNano =
      term(col("n11"), col("df"), col("_n1"), col("_nd")) +
        term(n10, col("df"), col("_nd") - col("_n1"), col("_nd")) +
        term(n01, absent, col("_n1"), col("_nd")) +
        term(n00, absent, col("_nd") - col("_n1"), col("_nd"))
    perTok.withColumn("_mi_nano", miNano)
      .orderBy(col("_mi_nano").desc, col("token").asc)
      .limit(topK)
      .select(col("token"), col("df"), col("n11"),
        round(col("_mi_nano").cast("double") / 1e9d, 6).as("mi"))
  }

  /** Token BURSTINESS (index of dispersion / Fano factor; Church & Gale
    * 1995) — the topicality axis the frequency axes miss: a corpus-rare
    * token can be uniformly sprinkled (OCR noise, boilerplate tokens)
    * or BURSTY (all its mass in few documents — a topical content
    * word). Fano = var∕mean of the per-document count, zeros included:
    *   F(t) = (N·Σc² − T²) ∕ (N·T)
    * with N total documents, c the per-doc counts and T = Σc. F ≈ 1 is
    * Poisson scatter (function words approach it), F ≫ 1 is burst —
    * the signal behind stopword induction and topical-keyword cuts
    * that complements [[tfidf]] (corpus-global, not per-doc) and
    * [[textRankKeywords]] (adjacency, not dispersion).
    *
    * Top-`topK` rows by burstiness desc (ties → token asc):
    * (token, df, tf, fano). `minDf` drops one-off tokens whose
    * dispersion is noise (documented parameter, not a silent cut).
    *
    * Determinism: every moment is an exact integer from one
    * (doc, token) groupBy; fano is nano-quantized to a long BEFORE the
    * top-k order, then floated once — so the cut and the values replay
    * bit-for-bit on any engine.
    *
    * Plan: one corpus explode → (token, doc) groupBy (map-side
    * combined) → vocab-sized per-token aggregate × a broadcast 1-row
    * doc count → TakeOrderedAndProject topK. Nothing after the first
    * combine is corpus-sized. */
  def tokenBurstiness(df: DataFrame, idCol: String, textCol: String,
      topK: Int = 25, minDf: Long = 5L): DataFrame = {
    require(topK >= 1, s"need topK >= 1, got $topK")
    require(minDf >= 1L, s"need minDf >= 1, got $minDf")
    val dec = "decimal(38,0)"
    val tot = df.agg(count(lit(1)).as("_nd"))
    val perDoc = df
      .select(col(idCol).as("_id"), explode(tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token"), col("_id"))
      .agg(count(lit(1)).as("_c"))
    val perTok = perDoc.groupBy(col("token"))
      .agg(count(lit(1)).as("df"), sum(col("_c")).as("tf"),
        sum(col("_c").cast(dec) * col("_c")).as("_s2"))
      .filter(col("df") >= minDf)
      .crossJoin(broadcast(tot))
    val fanoNano = round(lit(1e9d) *
      (col("_nd").cast(dec) * col("_s2") - col("tf").cast(dec) * col("tf"))
        .cast("double") /
      (col("_nd").cast(dec) * col("tf")).cast("double")).cast("long")
    perTok.withColumn("_fn", fanoNano)
      .orderBy(col("_fn").desc, col("token").asc)
      .limit(topK)
      .select(col("token"), col("df"), col("tf"),
        (col("_fn").cast("double") / 1e9d).as("fano"))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004) — PageRank over
    * the ADJACENT-token co-occurrence graph: a token matters when it
    * sits next to other tokens that matter, the unsupervised complement
    * to [[tokenLabelMI]]'s label-conditioned cut and [[tfidf]]'s
    * frequency weighting (TextRank surfaces connective hub terms TF-IDF
    * actively suppresses). Classic window-2 formulation: an undirected
    * unweighted edge per DISTINCT adjacent token pair, self-loops
    * dropped, then [[Components.pageRankInt]]'s exact integer-micro
    * PageRank (d = 0.85, `iters` rounds — node ids are the token
    * STRINGS; the solver only ever joins/groups on ids, so no hash
    * indirection and no collision caveat).
    *
    * Returns the topK rows (token, pr_micro, deg), pr_micro desc then
    * token asc — exact longs end to end, no floats anywhere.
    *
    * Plan: one corpus-sized adjacent-pair explode (arrays_zip of two
    * slices — native expressions, NO interpreted lambdas) collapsed by
    * DISTINCT to the vocabulary-edge graph (edges ≤ observed bigrams ≪
    * corpus); the PageRank rounds then run on that bounded graph —
    * iters vocab-edge-sized shuffles, corpus text touched once. */
  def textRankKeywords(df: DataFrame, textCol: String, topK: Int = 25,
      iters: Int = 3): DataFrame = {
    require(topK >= 1, s"need topK >= 1, got $topK")
    val ts = tokens(col(textCol))
    val m = size(ts) - 1
    val pairs = df
      .select(explode(arrays_zip(
        slice(ts, lit(1), m), slice(ts, lit(2), m))).as("p"))
      .select(col("p").getField("0").as("a_id"),
        col("p").getField("1").as("b_id"))
      .filter((col("a_id") =!= col("b_id")) &&
        (length(col("a_id")) > 0) && (length(col("b_id")) > 0))
    Components.pageRankInt(pairs, iters)
      .orderBy(col("pr_micro").desc, col("id").asc)
      .limit(topK)
      .select(col("id").as("token"), col("pr_micro"), col("deg"))
  }

  /** Non-empty whitespace tokens — [[tokens]] with zero-length entries
    * dropped, so empty/whitespace-only documents contribute nothing
    * instead of a phantom "" token. */
  private def cleanTokens(text: Column): Column =
    filter(tokens(text), t => length(t) > 0)

  /** FLESCH READING-EASE profile per group — the classic readability
    * feature used by production quality filters (WebText-style
    * pipelines gate on it): 206.835 − 1.015·(words∕sentences) −
    * 84.6·(syllables∕words), with sentences = non-empty [.!?]+ splits
    * (min 1 per doc) and syllables ≈ vowel-group count per word
    * (min 1 — the standard heuristic, documented; no dictionary in a
    * 100 TB scan). Complements the Gopher gate (q127): Gopher rejects
    * structural junk, Flesch trends STYLE — a source whose ease
    * collapses went jargon/boilerplate. One row per group:
    * (group, n_docs, n_words, n_sentences, n_syllables,
    * words_per_sentence, syllables_per_word, flesch).
    *
    * Determinism: all four counts are exact integers from pure
    * codegen HOF expressions (no UDF); the three readouts are
    * fixed-order double ratios, 6 dp. Documents with no words
    * contribute nothing (documented). Plan: ONE map-only projection,
    * one groups-sized aggregate — zero joins, zero windows. */
  def readability(df: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    def d(c: String) = col(c).cast("double")
    df.select(col(groupCol).as("group"),
        cleanTokens(col(textCol)).as("_ws"),
        Dedup.normText(col(textCol)).as("_nt"))
      .filter(size(col("_ws")) > 0)
      .select(col("group"),
        size(col("_ws")).cast("long").as("_w"),
        greatest(lit(1L), size(filter(
          split(col("_nt"), "[.!?]+"), s => length(trim(s)) > 0))
          .cast("long")).as("_s"),
        expr("aggregate(_ws, 0L, (acc, t) -> acc + " +
          "greatest(1L, size(regexp_extract_all(t, '[aeiouy]+', 0))))")
          .as("_y"))
      .groupBy(col("group"))
      .agg(count(lit(1)).as("n_docs"), sum(col("_w")).as("n_words"),
        sum(col("_s")).as("n_sentences"), sum(col("_y")).as("n_syllables"))
      .select(col("group"), col("n_docs"), col("n_words"),
        col("n_sentences"), col("n_syllables"),
        round(d("n_words") / d("n_sentences"), 6).as("words_per_sentence"),
        round(d("n_syllables") / d("n_words"), 6).as("syllables_per_word"),
        round(lit(206.835d) - lit(1.015d) * (d("n_words") / d("n_sentences"))
          - lit(84.6d) * (d("n_syllables") / d("n_words")), 6).as("flesch"))
      .orderBy(col("group"))
  }

  /** CHAO1 vocabulary-richness estimator per group — "how many
    * distinct tokens does this source REALLY have, including the ones
    * the crawl hasn't surfaced yet?" The abundance-based lower bound
    * V + f₁(f₁−1)∕(2(f₂+1)) (bias-corrected form, defined even with
    * no doubletons) from the singleton/doubleton counts alone — the
    * closed-form cousin of the q208 Heaps extrapolation and the
    * q232 capture-recapture audit, per source in one pass. One row
    * per group: (group, v_obs, f1, f2, chao1).
    *
    * Determinism: all counts are exact integers from one
    * (group × token) groupBy; chao1 is a single fixed-order double
    * expression rounded to 6 dp — bit-replayable. Groups with an
    * empty token stream simply emit no row (nothing observed,
    * nothing to estimate), documented.
    *
    * Plan: one corpus-scale explode → (group, token) groupBy
    * (map-side combined), one vocabulary-sized groupBy — never a
    * sort, never a join. */
  def chao1Richness(df: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    def d(c: String) = col(c).cast("double")
    df.select(col(groupCol).as("group"),
        explode(cleanTokens(col(textCol))).as("_w"))
      .groupBy(col("group"), col("_w")).agg(count(lit(1)).as("_c"))
      .groupBy(col("group"))
      .agg(count(lit(1)).as("v_obs"),
        sum(when(col("_c") === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when(col("_c") === 2L, 1L).otherwise(0L)).as("f2"))
      .select(col("group"), col("v_obs"), col("f1"), col("f2"),
        round(d("v_obs") + d("f1") * (d("f1") - 1.0d) /
          ((d("f2") + 1.0d) * 2.0d), 6).as("chao1"))
      .orderBy(col("group"))
  }

  /** DUNNING log-likelihood-ratio (G²) KEYWORDS per group — the
    * statistically grounded "what words make this source ITSELF"
    * extractor: for each token, G² compares its rate inside the
    * group against the rest of the corpus under the binomial LLR
    * 2·(a·ln(a∕E_a) + b·ln(b∕E_b)), keeping only OVERREPRESENTED
    * tokens (a·n₂ > b·n₁, an exact integer cross-compare). Unlike
    * raw TF-IDF (q72) this does not reward mere rarity — a token
    * must be both frequent and skewed. Top-k per group:
    * (group, token, cnt, rest_cnt, g2).
    *
    * Determinism: all counts exact integers; each row's G² is ONE
    * fixed-order double expression (no cross-row float sum); ranking
    * uses the nano-quantized integer G² with token tie-break, so the
    * top-k cut is portable. A b = 0 token contributes ta only
    * (0·ln 0 = 0 by the standard convention, documented). Needs ≥ 2
    * groups — typed failure otherwise.
    *
    * Plan: one explode → (group, token) groupBy; vocabulary and
    * group marginals re-aggregate from it; one vocab-sized join,
    * one window partitioned BY GROUP over candidate tokens — never
    * a global sort. */
  def keywordsLlr(df: DataFrame, groupCol: String, textCol: String,
      topK: Int = 10): DataFrame = {
    require(topK >= 1 && topK <= 1000, s"need 1 <= topK <= 1000, got $topK")
    val dec = "decimal(38,0)"
    val gw = df.select(col(groupCol).as("group"),
        explode(cleanTokens(col(textCol))).as("_w"))
      .groupBy(col("group"), col("_w")).agg(count(lit(1)).as("_a"))
      .pin // re-aggregated three ways
    val k = gw.select(col("group")).distinct().count()
    require(k >= 2L, s"keywordsLlr needs >= 2 groups, got $k")
    val vocab = gw.groupBy(col("_w")).agg(sum(col("_a")).as("_cw"))
    val marg = gw.groupBy(col("group")).agg(sum(col("_a")).as("_ng"))
    val tot = marg.agg(sum(col("_ng")).as("_N"))
    def d(c: String) = col(c).cast("double")
    val cand = gw.join(vocab, Seq("_w")).join(marg, Seq("group"))
      .crossJoin(broadcast(tot))
      .withColumn("_b", col("_cw") - col("_a"))
      .withColumn("_n2", col("_N") - col("_ng"))
      // overrepresented only: a/n1 > b/n2 as exact integer cross-product
      .filter(col("_a").cast(dec) * col("_n2") >
        col("_b").cast(dec) * col("_ng"))
      .withColumn("_ta", d("_a") *
        log(d("_a") * d("_N") / (d("_cw") * d("_ng"))))
      .withColumn("_tb", when(col("_b") === 0L, lit(0.0d))
        .otherwise(d("_b") *
          log(d("_b") * d("_N") / (d("_cw") * d("_n2")))))
      .withColumn("_g2n",
        round((col("_ta") + col("_tb")) * 2e9d).cast("long"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("group"))
      .orderBy(col("_g2n").desc, col("_w").asc)
    cand.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= topK)
      .select(col("group"), col("_w").as("token"), col("_a").as("cnt"),
        col("_b").as("rest_cnt"),
        round(col("_g2n").cast("double") / 1e9d, 6).as("g2"))
      .orderBy(col("group"), col("token"))
  }

  /** BURROWS' DELTA stylometric distance between every group pair —
    * the classic authorship-attribution measure applied to sources:
    * z-score each of the top-M corpus words' relative frequencies
    * ACROSS groups, then Delta(s,t) = mean_w |z_ws − z_wt|. A group
    * whose documents carry no tokens has no style to compare and
    * appears in no pair (documented). Two
    * sources with the same topical words but different function-word
    * rhythm (the crawl-template fingerprint) show a large Delta while
    * topic measures (q202 JSD) stay flat. One row per unordered pair:
    * (src_a, src_b, n_words, delta).
    *
    * Determinism: relative frequencies quantize to the integer nano
    * grid; per-word moments over groups are exact integer sums; each
    * z is a fixed-order double; each pair's Σ|Δz| nano-quantizes
    * per word and sums as integers (order-free). Words with zero
    * cross-group variance carry no style signal and are DROPPED
    * (documented — n_words reports the kept count). Needs ≥ 2 groups
    * and ≥ 1 kept word, typed failures otherwise.
    *
    * Plan: one explode → (group, token) groupBy; the top-M cut is a
    * TakeOrderedAndProject; everything after lives on M×k rows. */
  def burrowsDelta(df: DataFrame, groupCol: String, textCol: String,
      topM: Int = 30): DataFrame = {
    require(topM >= 1 && topM <= 1000, s"need 1 <= topM <= 1000, got $topM")
    val dec = "decimal(38,0)"
    val gw = df.select(col(groupCol).as("group"),
        explode(cleanTokens(col(textCol))).as("_w"))
      .groupBy(col("group"), col("_w")).agg(count(lit(1)).as("_c"))
      .pin
    val k = gw.select(col("group")).distinct().count()
    require(k >= 2L, s"burrowsDelta needs >= 2 groups, got $k")
    val top = gw.groupBy(col("_w")).agg(sum(col("_c")).as("_cw"))
      .orderBy(col("_cw").desc, col("_w").asc).limit(topM)
      .select(col("_w"))
    val marg = gw.groupBy(col("group")).agg(sum(col("_c")).as("_ng"))
    def d(c: String) = col(c).cast("double")
    val f = broadcast(top).crossJoin(marg)
      .join(gw, Seq("_w", "group"), "left")
      .withColumn("_f", round(coalesce(col("_c"), lit(0L)).cast("double") *
        1e9d / d("_ng")).cast("long"))
      .pin // M×k rows
    val stats = f.groupBy(col("_w"))
      .agg(sum(col("_f").cast(dec)).as("_S"),
        sum(col("_f").cast(dec) * col("_f")).as("_Q"),
        count(lit(1)).as("_k"))
      .withColumn("_var", (d("_Q") - d("_S") * d("_S") / d("_k")) / d("_k"))
      .filter(col("_var") > 0.0d) // constant-rate words carry no signal
    val z = f.join(stats, Seq("_w"))
      .select(col("_w"), col("group"),
        ((d("_f") - d("_S") / d("_k")) / sqrt(col("_var"))).as("_z"))
      .pin
    val m = z.select(col("_w")).distinct().count()
    require(m >= 1L,
      "burrowsDelta: every top word has zero cross-group variance")
    val za = z.select(col("_w"), col("group").as("src_a"), col("_z").as("_za"))
    val zb = z.select(col("_w"), col("group").as("src_b"), col("_z").as("_zb"))
    za.join(zb, Seq("_w"))
      .filter(col("src_a") < col("src_b"))
      .withColumn("_dz", round(abs(col("_za") - col("_zb")) * 1e9d)
        .cast("long"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(sum(col("_dz")).as("_sdz"))
      .select(col("src_a"), col("src_b"), lit(m).as("n_words"),
        round(col("_sdz").cast("double") / 1e9d / lit(m.toDouble), 6)
          .as("delta"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** GRIES' DP dispersion of the top-k corpus tokens — is a frequent
    * token spread evenly across sources, or does one source supply
    * all of it? DP = ½ Σ_s |v_s∕f − n_s∕N| ∈ [0, 1): 0 = distributed
    * exactly like the source masses, →1 = concentrated in one tiny
    * source. The per-TOKEN complement of the per-source drift
    * family: a high-frequency high-DP token is a template artifact
    * (boilerplate, navigation chrome) masquerading as vocabulary.
    * One row per top token: (token, total_cnt, dp). Token-less
    * groups carry no mass and no deviation term (documented).
    *
    * Determinism: each |v_s·N − n_s·f| is an exact DECIMAL integer,
    * the Σ over sources is an exact integer sum, and ONE double
    * division by f·N ends the path — no per-source float adds at
    * all. Plan: one explode → (group, token) groupBy, a top-k
    * TakeOrderedAndProject, a k×topK-bounded join, one final
    * groupBy. */
  def dispersionDp(df: DataFrame, groupCol: String, textCol: String,
      topK: Int = 20): DataFrame = {
    require(topK >= 1 && topK <= 1000, s"need 1 <= topK <= 1000, got $topK")
    val dec = "decimal(38,0)"
    val gw = df.select(col(groupCol).as("group"),
        explode(cleanTokens(col(textCol))).as("_w"))
      .groupBy(col("group"), col("_w")).agg(count(lit(1)).as("_v"))
      .pin
    val top = gw.groupBy(col("_w")).agg(sum(col("_v")).as("_f"))
      .orderBy(col("_f").desc, col("_w").asc).limit(topK)
    val marg = gw.groupBy(col("group")).agg(sum(col("_v")).as("_ng"))
    val tot = marg.agg(sum(col("_ng")).as("_N"))
    broadcast(top).crossJoin(marg).crossJoin(broadcast(tot))
      .join(gw, Seq("_w", "group"), "left")
      .withColumn("_num", abs(coalesce(col("_v"), lit(0L)).cast(dec) *
        col("_N") - col("_ng").cast(dec) * col("_f")))
      .groupBy(col("_w"), col("_f"), col("_N"))
      .agg(sum(col("_num")).as("_sn"))
      .select(col("_w").as("token"), col("_f").as("total_cnt"),
        round(col("_sn").cast("double") * 0.5d /
          (col("_f").cast("double") * col("_N").cast("double")), 6)
          .as("dp"))
      .orderBy(col("total_cnt").desc, col("token").asc)
  }

  /** DISTINCT-n DIVERSITY per group — the li-et-al distinct-1/2/3
    * readout over sources: what fraction of a source's unigram /
    * bigram / trigram stream is unique? A source whose distinct-2
    * ratio collapses is template spam even when its vocabulary looks
    * healthy — the cheap early warning the n-gram dedup family
    * (q79/q83) then confirms. One row per group:
    * (group, n{1,2,3}_total, n{1,2,3}_distinct, d{1,2,3}).
    *
    * Determinism: totals and distincts are exact integers (n-grams
    * compared as strings, never hashed — no collision risk in the
    * denominator); ratios are single double divisions rounded to
    * 6 dp. A group with no n-grams at order n (every doc shorter
    * than n) reports NULL for that ratio (0∕0), documented.
    *
    * Plan: per order, one explode → (group, gram) groupBy
    * (map-side combined) re-aggregated to group rows; three
    * bounded-key joins assemble the group frame. N-grams never
    * cross document boundaries. */
  def ngramDiversity(df: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    def d(c: String) = col(c).cast("double")
    val toks = df.select(col(groupCol).as("group"),
      cleanTokens(col(textCol)).as("_ws"))
    // sequence(1, 0) would DESCEND in Spark, so short docs need the guard
    def order(n: Int): DataFrame = toks
      .select(col("group"), explode(expr(
        s"CASE WHEN size(_ws) >= $n THEN " +
          s"transform(sequence(1, size(_ws) - ${n - 1}), " +
          s"i -> concat_ws(' ', slice(_ws, i, $n))) " +
          "ELSE array() END")).as("_g"))
      .groupBy(col("group"), col("_g")).agg(count(lit(1)).as("_c"))
      .groupBy(col("group"))
      .agg(sum(col("_c")).as(s"n${n}_total"),
        count(lit(1)).as(s"n${n}_distinct"))
    val base = df.select(col(groupCol).as("group")).distinct()
    def ratio(n: Int) =
      when(col(s"n${n}_total") > 0L,
        round(d(s"n${n}_distinct") / d(s"n${n}_total"), 6))
        .otherwise(lit(null).cast("double")).as(s"d$n")
    Seq(1, 2, 3).foldLeft(base)((acc, n) =>
        acc.join(order(n), Seq("group"), "left"))
      .select(col("group") +:
        Seq(1, 2, 3).flatMap(n => Seq(
          coalesce(col(s"n${n}_total"), lit(0L)).as(s"n${n}_total"),
          coalesce(col(s"n${n}_distinct"), lit(0L)).as(s"n${n}_distinct"))):
        _*)
      .select(col("group"), col("n1_total"), col("n1_distinct"), ratio(1),
        col("n2_total"), col("n2_distinct"), ratio(2),
        col("n3_total"), col("n3_distinct"), ratio(3))
      .orderBy(col("group"))
  }
}
