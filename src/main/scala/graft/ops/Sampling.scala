package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Pin._

/** Deterministic dataset splitting and sampling for training pipelines.
  *
  * Assignment is a pure function of the row's id — stable across runs,
  * partitionings, cluster sizes, and engines (md5-based, so even the
  * DuckDB oracle reproduces it) — unlike randomSplit, whose assignment
  * depends on partition layout. At 100 TB the split is a map-only
  * projection; no shuffle, no sampling pass.
  */
object Sampling {

  /** Uniform [0, 100) bucket from the id's md5 (first 8 hex chars). */
  def hashBucket(id: Column): Column =
    pmod(conv(substring(md5(id.cast("string")), 1, 8), 16, 10).cast("long"), lit(100L))

  /** Adds a `split` column: train / val / test by hash bucket.
    * trainPct + valPct <= 100; test gets the remainder. */
  def hashSplit(df: DataFrame, idCol: String,
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"invalid split percentages $trainPct/$valPct")
    val b = hashBucket(col(idCol))
    df.withColumn("split",
      when(b < trainPct, "train")
        .when(b < trainPct + valPct, "val")
        .otherwise("test"))
  }

  /** Deterministic p-percent sample (same hash family, disjoint use of
    * buckets from hashSplit is up to the caller's seed column choice). */
  def hashSample(df: DataFrame, idCol: String, pct: Int): DataFrame =
    df.filter(hashBucket(col(idCol)) < pct)

  /** Weighted mixture sampling — the data-mixture knob of LLM training
    * sets: each group (source, language, …) keeps `weights(group)` percent
    * of its rows, chosen by the same deterministic md5 bucket as
    * [[hashSplit]] (so mixtures are reproducible and composable with
    * splits). Groups absent from the map keep `defaultPct`. Map-only. */
  def weightedSample(df: DataFrame, idCol: String, groupCol: String,
      weights: Map[String, Int], defaultPct: Int = 100): DataFrame = {
    require((weights.values ++ Seq(defaultPct)).forall(p => p >= 0 && p <= 100),
      s"percentages must be 0..100: $weights / $defaultPct")
    val pct = weights.foldLeft(lit(defaultPct)) { case (acc, (k, v)) =>
      when(col(groupCol) === k, lit(v)).otherwise(acc)
    }
    df.filter(hashBucket(col(idCol)) < pct)
  }

  /** Temperature-scaled (exponential-smoothing) group sampling — the
    * multilingual rebalancing rule of mBERT / XLM-R: group g is sampled
    * with probability ∝ p_g^α (α < 1 upsamples low-resource groups,
    * α = 1 is proportional), scaled so the expected total sample is
    * `targetFrac` of the corpus; per-group rates cap at 1. Membership is
    * the same deterministic md5 device as [[hashSplit]] (no RNG), so the
    * sample is reproducible and engine-replayable.
    *
    * Determinism: p_g^α is computed as exp(α·ln p_g) — the explicit
    * primitive chain both engines evaluate identically (the q78 ln
    * precedent) — then quantized to integer nano-units BEFORE the
    * normalizing sum, so Σ q_g is an exact long sum; the final rate is
    * one float expression from integers, rounded to 6 dp.
    *
    * Plan: one group-sized count aggregate, two 1-row broadcasts, a
    * broadcast rate join, and a map-only hash filter — nothing shuffles
    * more than group-cardinality rows at any corpus size. */
  def alphaSample(df: DataFrame, idCol: String, groupCol: String,
      alpha: Double = 0.3, targetFrac: Double = 0.2): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1]: $alpha")
    require(targetFrac > 0.0 && targetFrac <= 1.0,
      s"targetFrac must be in (0, 1]: $targetFrac")
    val stats = df.groupBy(col(groupCol)).agg(count(lit(1)).as("n_g"))
    val tot = stats.agg(sum(col("n_g")).as("n"))
    val qm = stats.crossJoin(broadcast(tot))
      .withColumn("qm",
        round(exp(lit(alpha) *
          log(col("n_g").cast("double") / col("n").cast("double"))) * 1e9d)
          .cast("long"))
    val z = qm.agg(sum(col("qm")).as("z"))
    val rates = qm.crossJoin(broadcast(z))
      .withColumn("rate", least(lit(1.0d),
        round(lit(targetFrac) * col("n").cast("double") *
          (col("qm").cast("double") / col("z").cast("double")) /
          col("n_g").cast("double"), 6)))
      .select(col(groupCol), col("rate"))
    val h32 = conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("long")
    df.join(broadcast(rates), groupCol)
      .filter(h32.cast("double") < col("rate") * 4294967296.0d)
  }

  /** Contiguous sequence packing — docs concatenated into fixed
    * token-budget training sequences, per shard: within each shard
    * (ordered by id), a document's sequence is floor(tokens-before /
    * budget) and its offset is tokens-before mod budget. Deterministic,
    * exact integer arithmetic over one windowed prefix sum; sharding
    * keeps the window partitioned (a GLOBAL orderBy would serialize the
    * corpus through one partition at 100 TB — the shard key is the scale
    * knob, and shard boundaries are sequence boundaries by design). */
  def packSequences(df: DataFrame, idCol: String, nTokensCol: String,
      shardCol: String, budgetTokens: Int): DataFrame = {
    require(budgetTokens >= 1, s"token budget must be >= 1, got $budgetTokens")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(shardCol)).orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.withColumn("_cum", coalesce(sum(col(nTokensCol)).over(w), lit(0L)))
      // `div` is exact integer floor-division on bigints (long/int would
      // promote to a double divide and drift past 2^53 cumulative tokens)
      .withColumn("seq_id", expr(s"_cum div ${budgetTokens.toLong}L"))
      .withColumn("tok_offset", pmod(col("_cum"), lit(budgetTokens.toLong)))
      .drop("_cum")
  }

  /** Deterministic fixed-size sample: the k rows with the smallest
    * md5(id) — the distributed-engine replacement for reservoir sampling
    * (which is sequential by construction). Plans as
    * TakeOrderedAndProject: per-partition k-heaps, k rows to the driver,
    * no global sort — O(k) memory at any corpus size. Unlike
    * [[hashSample]] (a fixed RATE), this pins the sample SIZE exactly;
    * membership is a pure function of the id set, reproducible across
    * runs and engines. */
  def fixedSample(df: DataFrame, idCol: String, k: Int): DataFrame = {
    require(k >= 1, s"sample size must be >= 1, got $k")
    df.orderBy(md5(col(idCol).cast("string")), col(idCol)).limit(k)
  }

  /** Deterministic WEIGHTED fixed-size sample without replacement
    * (Efraimidis–Spirakis A-ES): each row draws a pseudo-uniform
    * u ∈ (0, 1) from md5(id) and ranks by `ln(u) / w` descending — the
    * monotone-log form of the textbook `u^(1/w)` key, so inclusion
    * probability scales with the weight column, heavier rows win more
    * draws, and replaying any engine's sort reproduces the exact same
    * sample (no RNG anywhere: u is the first 13 md5 hex digits as a
    * 52-bit integer, offset by 0.5 so u is never 0, divided by 2^52 —
    * every arithmetic step exact in doubles except one `ln`, and the
    * key is micro-quantized with the row id as tiebreak so a last-ulp
    * `ln` wobble cannot reorder the sort).
    *
    * Plan: the key is a map-only projection; top-k =
    * `TakeOrderedAndProject` — O(k) per partition then O(k) on the
    * driver, never a global sort (the q85 fixedSample shape, weighted).
    * `weightCol` must be > 0 for every row (enforced). */
  def weightedFixedSample(df: DataFrame, idCol: String, weightCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"sample size must be >= 1, got $k")
    val m = conv(substring(md5(col(idCol).cast("string")), 1, 13), 16, 10)
      .cast("long")
    val u = (m.cast("double") + 0.5d) / lit(4503599627370496.0d) // 2^52
    val keyMicro = round(log(u) / col(weightCol).cast("double") * 1e6d)
      .cast("long")
    df.withColumn("_graft_wkey", keyMicro)
      .filter(col(weightCol).cast("double") > 0d)
      .orderBy(col("_graft_wkey").desc, col(idCol))
      .limit(k)
      .withColumnRenamed("_graft_wkey", "wkey_micro")
  }

  /** Deterministic epoch shuffle — the training-order op: each epoch
    * re-orders the corpus by md5(id ":" epoch), within shards. Adds
    * `pos` (0-based position within the shard for this epoch). Pure
    * function of (id, epoch): reproducible across runs/engines/cluster
    * sizes, different every epoch, and a crashed epoch resumes mid-order.
    * The shard is the scale knob (a GLOBAL shuffle order would serialize
    * the corpus through one sort partition at 100 TB); shard count ≫
    * reader count keeps readers busy, and readers interleave shards. */
  def epochShuffle(df: DataFrame, idCol: String, shardCol: String,
      epoch: Int): DataFrame = {
    val key = md5(concat(col(idCol).cast("string"), lit(":"), lit(epoch.toString)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(shardCol)).orderBy(key, col(idCol))
    df.withColumn("pos", (row_number().over(w) - 1).cast("long"))
  }

  /** Stratified sample: at most k rows per group, chosen deterministically
    * by an affine hash of the id (DedupKernel.perm(1) — a different
    * permutation than the dedup sketches, so strata don't correlate with
    * MinHash buckets). Adds `rn` (1..k within the group).
    *
    * The workhorse of corpus balancing (per-language / per-source quotas).
    * One shuffle on the group key; the window sorts within groups only.
    * If a single group dwarfs executor memory, swap the window for the
    * bounded-heap top-k aggregate ([[graft.expr.TopKByAggregate]], q51) —
    * same output, O(k) state per group. */
  def stratifiedSample(df: DataFrame, groupCol: String, idCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"per-group quota must be >= 1, got $k")
    val P = graft.expr.DedupKernel.P
    val (a, b) = graft.expr.DedupKernel.perm(1)
    val h = pmod(pmod(col(idCol), lit(P)) * a + b, lit(P))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(h, col(idCol))
    df.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
  }

  /** Domain mixture reweighting, DoReMi-shaped (Xie et al. 2023,
    * "DoReMi: Optimizing Data Mixtures Speeds Up Language Model
    * Pretraining"): domains whose text the corpus LM finds HARDER (higher
    * loss = lower mean token log-probability) get upweighted —
    * weight_g ∝ exp(excess-loss_g / temperature), normalized over
    * domains. The corpus's own unigram MLE stands in for DoReMi's proxy
    * model (the [[TextAnalysis.unigramLogProb]] device), and excess loss
    * is measured against the EASIEST domain (max mean log-prob), so
    * excess ≥ 0 and the easiest domain anchors weight ∝ 1.
    *
    * Determinism: per-token log-probs are micro-nat-quantized BIGINTs
    * summed exactly per domain; each domain's mean is one double divide;
    * the exp is quantized to nano-units before the normalizing sum (the
    * [[alphaSample]] device) — every step replayable by any engine.
    *
    * Plan (skew-safe): one token explode pre-aggregated to distinct
    * (domain, token, n) rows — at most domains × vocabulary rows, a
    * combiner-friendly unskewed exchange — the per-token micro value
    * computed on the vocabulary-sized count table (total derived from
    * it, no second corpus pass), [[graft.ops.Skew.hotColdJoin]] back
    * (hot tokens broadcast, near-uniform tail shuffled — the corpus
    * never hash-partitions on the Zipf-skewed token key), then ONE
    * groupBy(domain) of (long, long) rows — domain-count-sized from
    * there on (broadcast 1-row max and z). At 100 TB the per-domain
    * state is two longs; nothing scales past the vocabulary join. */
  def domainMixture(df: DataFrame, groupCol: String, textCol: String,
      temperature: Double = 1.0, hotK: Int = 4096): DataFrame = {
    require(temperature > 0.0, s"temperature must be positive: $temperature")
    val grpTok = df
      .select(col(groupCol), explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col(groupCol), col("token")).agg(count(lit(1)).as("_n"))
    val counts = grpTok.groupBy(col("token")).agg(sum(col("_n")).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("total"))
    val tokMicro = counts.crossJoin(broadcast(total))
      .withColumn("_micro",
        round(log(col("cnt").cast("double") / col("total").cast("double")) * 1e6d)
          .cast("long"))
      .select(col("token"), col("cnt"), col("_micro"))
    val perDomain = graft.ops.Skew
      .hotColdJoin(grpTok, tokMicro, Seq("token"), col("cnt"), hotK)
      .groupBy(col(groupCol))
      .agg(sum(col("_n")).as("n_tokens"),
        sum(col("_n") * col("_micro")).as("_sm"))
      .withColumn("avg_lp",
        col("_sm").cast("double") / (col("n_tokens").cast("double") * 1e6d))
    val maxLp = perDomain.agg(max(col("avg_lp")).as("_mx"))
    val qm = perDomain.crossJoin(broadcast(maxLp))
      .withColumn("_qm",
        round(exp((col("_mx") - col("avg_lp")) / temperature) * 1e9d).cast("long"))
    val z = qm.agg(sum(col("_qm")).as("_z"))
    qm.crossJoin(broadcast(z))
      .withColumn("mixture_weight",
        round(col("_qm").cast("double") / col("_z").cast("double"), 6))
      .select(col(groupCol), col("n_tokens"),
        round(col("avg_lp"), 6).as("avg_logprob"), col("mixture_weight"))
  }

  /** UniMax budget allocation (Chung et al. 2023, "UniMax: Fairer and
    * More Effective Language Sampling"): spread a token budget as
    * UNIFORMLY as possible across groups, capped at each group's own
    * supply — the waterfilling answer to temperature mixtures'
    * chronic head-language over-repetition ([[domainMixture]] weights
    * by size^T; this caps repetition at 1 epoch and gives every
    * remaining group the same water level). Closed form, no iteration:
    * sort groups by supply ascending — the saturated set is a prefix —
    * group i (1-based, prefix sums P_i) saturates iff
    * c_i·(L−i+1) + P_{i−1} ≤ B, and every unsaturated group gets the
    * water level T = (B − P_{k*}) ∕ (L − k*) for the largest saturating
    * k*. When total supply ≤ B every group saturates (the leftover
    * budget is the caller's to re-spread — documented, not hidden).
    *
    * Determinism: supplies are exact integer sums, the saturation test
    * is pure integer arithmetic, T is ONE divide of exact longs, and
    * every output is 6-dp-rounded — engine-replayable. Exact for
    * budgets/supplies below 2⁵³ᐟ² per the long-product regime.
    *
    * Plan: one corpus-scale groupBy (map-side combined) to the
    * groups-sized frame; the sorted prefix scan is a window over THAT
    * frame (single partition, bounded by the group count — the
    * temperatureSweep exemption: domains/languages, never documents).
    * Output (group, n_tokens, alloc, share), alloc in tokens. */
  def uniMax(df: DataFrame, groupCol: String, weightCol: String,
      budget: Long): DataFrame = {
    require(budget > 0L, s"budget must be positive, got $budget")
    val groups = df.groupBy(col(groupCol))
      .agg(sum(col(weightCol)).as("n_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_tokens").asc, col(groupCol).asc)
    val wAll = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_tokens").asc, col(groupCol).asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val scanned = groups
      .withColumn("_i", row_number().over(w).cast("long"))
      .withColumn("_prefix", sum(col("n_tokens")).over(w))
      .withColumn("_l", count(lit(1)).over(wAll))
      .withColumn("_sat",
        col("n_tokens") * (col("_l") - col("_i") + 1L) +
          (col("_prefix") - col("n_tokens")) <= budget)
    val cut = scanned.agg(
      coalesce(sum(when(col("_sat"), lit(1L))), lit(0L)).as("_k"),
      coalesce(sum(when(col("_sat"), col("n_tokens"))), lit(0L)).as("_psat"),
      count(lit(1)).as("_lt"))
    scanned.crossJoin(broadcast(cut))
      .withColumn("alloc",
        when(col("_sat"), col("n_tokens").cast("double"))
          .otherwise(round((lit(budget) - col("_psat")).cast("double") /
            (col("_lt") - col("_k")).cast("double"), 6)))
      .select(col(groupCol), col("n_tokens"),
        col("alloc"),
        round(col("alloc") / lit(budget.toDouble), 6).as("share"))
  }

  /** EFFECTIVE SAMPLE SIZE per group under importance weights (Kish
    * 1965, ESS = (Σw)² ∕ Σw²) — the readout that says what a
    * soft-dedup / mixture reweighting actually costs in statistical
    * power: n weighted documents train like `ess` unweighted ones, so
    * a source whose `ess_ratio` collapses toward 1∕n is one document
    * repeated, however many rows it ships. The natural audit over
    * [[graft.ops.Components.clusterWeights]] (every near-dup cluster
    * contributes ≈ one document's worth of ESS) or any per-row
    * sampling weight. One row per group:
    * (group, n_docs, sum_w, ess, ess_ratio = ess∕n ∈ (0, 1]).
    *
    * Determinism: weights micro-quantize to integers first; Σw is an
    * exact long and Σw² an exact DECIMAL(38,0) (each square ≤ 10¹²
    * stays integer-exact far past 10²⁵ rows); the final division is
    * one fixed-order double expression — bit-replayable. NULL,
    * negative, zero or > 10⁶ weights fail typed (a zero weight is a
    * REMOVED row and belongs in a hard-dedup filter, not an ESS
    * denominator).
    *
    * Plan: one limit-probe guard + ONE map-side-combined groupBy to
    * the groups-sized frame; no window, no join — corpus-sized input
    * touched exactly once. */
  def effectiveSampleSize(df: DataFrame, groupCol: String,
      weightCol: String): DataFrame = {
    // r17: guard fused into the one groupBy (guide §1.2) — off-domain
    // weights surface as a counted flag and NULL groups as the null
    // group key on the PINNED groups-sized frame, so the typed check
    // no longer makes its own full pass over the corpus
    val wq = round(col(weightCol).cast("double") * 1e6d).cast("long")
    val badW = col(weightCol).isNull ||
      col(weightCol) <= 0.0d || col(weightCol) > 1e6d
    val g = df.select(col(groupCol).as("group"), wq.as("_wq"),
        badW.as("_badw"))
      .groupBy(col("group"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_wq")).as("_sw"),
        sum(col("_wq").cast("decimal(19,0)") * col("_wq")).as("_sw2"),
        sum(when(col("_badw"), lit(1L)).otherwise(lit(0L))).as("_bad"))
      .pin // groups-sized; guard + readout read the cache
    val bad = g.filter(col("group").isNull || col("_bad") > 0L).count()
    require(bad == 0L, s"effectiveSampleSize needs non-NULL groups and " +
      s"'$weightCol' weights in (0, 1e6] — zero/negative weights are " +
      "removals, not weights")
    g.select(col("group"), col("n_docs"),
        round(col("_sw").cast("double") / 1e6d, 6).as("sum_w"),
        round(col("_sw").cast("double") * col("_sw").cast("double") /
          col("_sw2").cast("double"), 6).as("ess"),
        round(col("_sw").cast("double") * col("_sw").cast("double") /
          col("_sw2").cast("double") / col("n_docs").cast("double"), 6)
          .as("ess_ratio"))
  }

  /** NEYMAN optimal allocation for a stratified sample (Neyman 1934) —
    * the variance-minimizing answer to "given a labeling/eval budget of
    * B rows, how many should each stratum get?" that proportional
    * allocation ([[stratifiedSample]]'s implicit choice) only matches
    * when all strata are equally noisy: the optimum is
    * n_h ∝ N_h·σ_h, so a small-but-wild stratum (one noisy crawl
    * source) is oversampled exactly in proportion to the variance it
    * would otherwise inject into the estimate.
    *
    * One row per stratum: (stratum, n_rows, sigma, share_prop,
    * alloc_prop, alloc_neyman) — alloc_* are the proportional and
    * Neyman row budgets; alloc_neyman is capped at N_h (a stratum
    * cannot yield more rows than it has; the shortfall is reported by
    * the cap, not silently redistributed — document the rerun-with-
    * remainder loop if exhaustion matters).
    *
    * Determinism: per-stratum moment sums are exact DECIMAL over
    * micro-quantized values; σ_h is ONE fixed-order double
    * micro-quantized back to a long, so every weight N_h·σ_micro is an
    * exact integer, the weight total is exact, and each allocation is a
    * single rounded double ratio of exact integers. Zero-variance
    * strata get weight 0 (they need ONE row in practice — the readout
    * keeps the exact optimum and leaves flooring policy to the caller,
    * documented). NULL strata or values fail typed.
    *
    * Plan: one corpus groupBy (map-side combined) to the strata-sized
    * frame, one 1-row broadcast of the weight total. */
  def neymanAllocation(df: DataFrame, stratumCol: String,
      valueCol: String, budget: Long): DataFrame = {
    require(budget >= 1L, s"budget must be >= 1, got $budget")
    val dec = "decimal(38,0)"
    // r17: guard fused into the one strata groupBy (guide §1.2); the
    // typed check reads the pinned strata frame, not the corpus
    val strata0 = df
      .select(col(stratumCol).as("stratum"),
        round(col(valueCol).cast("double") * 1e6d).cast("long").as("_vm"),
        col(valueCol).isNull.as("_badv"))
      .groupBy(col("stratum"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("_vm").cast(dec)).as("_sv"),
        sum(col("_vm").cast(dec) * col("_vm")).as("_sv2"),
        sum(when(col("_badv"), lit(1L)).otherwise(lit(0L))).as("_bad"))
    val strata = strata0
      .withColumn("_var",
        (col("_sv2").cast("double") -
          col("_sv").cast("double") * col("_sv").cast("double") /
            col("n_rows").cast("double")) / col("n_rows").cast("double"))
      .withColumn("_sig_micro",
        round(sqrt(greatest(col("_var"), lit(0.0d)))).cast("long"))
      .withColumn("_w", col("n_rows").cast(dec) * col("_sig_micro"))
      .pin // strata-sized; guard + read twice
    val bad = strata.filter(col("stratum").isNull || col("_bad") > 0L)
      .limit(1).count()
    require(bad == 0L,
      s"neymanAllocation needs non-NULL '$stratumCol' strata and " +
        s"'$valueCol' values")
    val tot = strata.agg(sum(col("_w")).as("_wt"),
      sum(col("n_rows")).as("_nt"))
    strata.crossJoin(broadcast(tot))
      .select(col("stratum"), col("n_rows"),
        round(col("_sig_micro").cast("double") / 1e6d, 6).as("sigma"),
        round(col("n_rows").cast("double") / col("_nt").cast("double"), 6)
          .as("share_prop"),
        least(col("n_rows"),
          round(lit(budget.toDouble) * col("n_rows").cast("double") /
            col("_nt").cast("double")).cast("long")).as("alloc_prop"),
        when(col("_wt") === 0L, lit(0L)).otherwise(
          least(col("n_rows"),
            round(lit(budget.toDouble) * col("_w").cast("double") /
              col("_wt").cast("double")).cast("long"))).as("alloc_neyman"))
      .orderBy(col("stratum"))
  }

  /** DELETE-ONE-GROUP JACKKNIFE standard error of a corpus rate (Quenouille
    * 1956; the survey-statistics JK1 with clusters as deletion units) —
    * the honest error bar for "82% of docs pass the gate" when documents
    * within a SOURCE are correlated (one crawl, one template family):
    * deleting whole sources and watching the rate move captures the
    * cluster-level variance that a per-document binomial interval
    * understates, and unlike q153's subsample bootstrap it needs no
    * replica device — S leave-one-out replicas, S = distinct units.
    *
    *   θ̂₍₋ₛ₎ = (T−tₛ)∕(N−nₛ),  SE² = (S−1)∕S · Σₛ(θ̂₍₋ₛ₎ − θ̄)²
    *
    * One row: (n_units, n_docs, rate, se_jack).
    *
    * Determinism: per-unit counts are exact; each LOO rate is ONE
    * fixed-order double ratio nano-quantized to a long, so the variance
    * sum is exact DECIMAL on any partitioning; SE is a single sqrt of
    * exact integers, 6 dp. Flags must be 0/1 (NULL/off-domain fail
    * typed); fewer than 2 units fails typed — one unit has no
    * leave-one-out resample and SE would be a silent 0.
    *
    * Plan: one corpus groupBy(unit) (map-side combined) to the units
    * frame; everything after is units-sized (1-row totals broadcast,
    * units-sized quantization, one final aggregate). */
  def jackknifeRate(df: DataFrame, unitCol: String,
      flagCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    // r17: guard fused into the one unit groupBy (guide §1.2); the
    // typed checks AND the unit count come from ONE job over the
    // pinned units frame instead of two extra corpus/grid passes
    val units = df.groupBy(col(unitCol))
      .agg(count(lit(1)).as("_ns"), sum(col(flagCol).cast("long")).as("_ts"),
        sum(when(col(flagCol).isNull ||
          (col(flagCol) =!= 0L && col(flagCol) =!= 1L), lit(1L))
          .otherwise(lit(0L))).as("_bad"))
      .pin // bounded (distinct units); read 3x
    val chk = units.agg(
      sum(when(col(unitCol).isNull || col("_bad") > 0L, lit(1L))
        .otherwise(lit(0L))).as("_nb"),
      count(lit(1)).as("_s")).head()
    require(chk.isNullAt(0) || chk.getLong(0) == 0L,
      s"jackknifeRate needs non-NULL '$unitCol' and 0/1 '$flagCol' values")
    val s = if (chk.isNullAt(1)) 0L else chk.getLong(1)
    require(s >= 2L,
      s"jackknifeRate needs >= 2 deletion units, got $s — one unit has " +
        "no leave-one-out resample")
    val tot = units.agg(sum(col("_ns")).as("_n"), sum(col("_ts")).as("_t"))
    val q = units.crossJoin(broadcast(tot))
      .select(col("_n"), col("_t"),
        round((col("_t") - col("_ts")).cast("double") /
          (col("_n") - col("_ns")).cast("double") * lit(1e9d))
          .cast("long").as("_q"))
    val a = q.agg(max(col("_n")).as("_n"), max(col("_t")).as("_t"),
      sum(col("_q").cast(dec)).as("_sq"),
      sum(col("_q").cast(dec) * col("_q")).as("_sqq"))
    val va = (lit(s).cast(dec) * col("_sqq") - col("_sq") * col("_sq")) *
      lit(s - 1L).cast(dec)
    a.select(lit(s).as("n_units"), col("_n").as("n_docs"),
      round(col("_t").cast("double") / col("_n").cast("double"), 6)
        .as("rate"),
      round(sqrt(va.cast("double")) / lit(s.toDouble) / lit(1e9d), 6)
        .as("se_jack"))
  }

  /** HILL ESTIMATOR of the heavy-tail exponent of a positive metric
    * (doc length, cluster size, user activity) — the number that says
    * whether [[packSequences]]-style planning can trust averages: for a
    * Pareto-ish tail P(X > x) ~ x^(−α),
    * 1∕α̂ = (1∕k)·Σᵢ₌₁..k ln(X₍ᵢ₎∕X₍ₖ₊₁₎) over the top k+1 order
    * statistics. α ≤ 2 means infinite variance — max-doc outliers
    * dominate shard packing and mean-based budgets silently break;
    * α large means the tail is benign. One row:
    * (k, n, x_tail, inv_alpha, alpha) with x_tail = X₍ₖ₊₁₎.
    *
    * Determinism: the top-(k+1) selection is TakeOrderedAndProject on
    * (value desc) — ties beyond the cut are interchangeable BY VALUE,
    * which is all the estimator reads; each ln ratio of exact longs
    * nano-quantizes before the k-term integer sum; inv_alpha and alpha
    * are single fixed-order double expressions rounded to 6 dp —
    * bit-replayable. A degenerate flat tail (X₍₁₎ = X₍ₖ₊₁₎ → 1∕α̂ = 0)
    * reports NULL alpha — honest, not Infinity. NULL or non-positive
    * values fail typed, as does a corpus smaller than k+1.
    *
    * Plan: one map-side top-(k+1) heap per partition merged to k+1
    * rows (never a global sort), then (k+1)-row arithmetic with one
    * broadcast 1-row tail value. */
  def hillTail(df: DataFrame, valueCol: String, k: Int = 50): DataFrame = {
    require(k >= 2 && k <= 10000, s"need 2 <= k <= 10000, got $k")
    // r17: ONE corpus pass (guide §1.2) — the old shape paid THREE
    // (freestanding guard scan + TakeOrdered top-(k+1) + df.count());
    // now a single global aggregate carries the bounded (k+1)-heap
    // ([[graft.expr.TopKBy]] — selection by VALUE, identical multiset
    // to orderBy desc limit k+1), the row count and the bad-row flag.
    val xCast = col(valueCol).cast("long")
    val one = df.agg(
      graft.expr.TopKBy.top(xCast, xCast, k + 1).as("_top"),
      count(lit(1)).as("_n"),
      sum(when(col(valueCol).isNull || xCast <= 0L, lit(1L))
        .otherwise(lit(0L))).as("_nb")).head()
    val nBad = if (one.isNullAt(2)) 0L else one.getLong(2)
    require(nBad == 0L,
      s"hillTail needs positive non-NULL integer '$valueCol' magnitudes")
    val n = one.getLong(1)
    require(n >= (k + 1).toLong,
      s"hillTail needs >= ${k + 1} rows for k = $k, got $n")
    val xs = one.getSeq[Long](0)
    val xt = xs.min
    // k rows strictly above X₍ₖ₊₁₎ contribute a nano-quantized ln ratio;
    // top-k rows EQUAL to it contribute exactly 0 — the k-term integer
    // sum is intact (math.round == HALF_UP for the non-negative ratios)
    val sl = xs.iterator.filter(_ > xt)
      .map(x => math.round(math.log(x.toDouble / xt.toDouble) * 1e9d)).sum
    // same fixed-order readout expressions as before, on the exact
    // integers — only their inputs moved from a 1-row frame to literals
    df.sparkSession.range(1)
      .select(lit(k.toLong).as("k"), lit(n).as("n"),
        lit(xt).as("x_tail"),
        round(lit(sl).cast("double") / lit(k.toDouble) / 1e9d, 6)
          .as("inv_alpha"),
        when(lit(sl) === 0L, lit(null).cast("double"))
          .otherwise(round(lit(k.toDouble) * 1e9d /
            lit(sl).cast("double"), 6)).as("alpha"))
  }

  /** IMPORTANCE REWEIGHTING to the uniform group mixture with weight
    * clipping — the "reweight, don't resample" alternative to
    * [[alphaSample]]/[[domainMixture]]: per group, the raw weight
    * N∕(k·n_g) that makes every group contribute equal EFFECTIVE mass,
    * clipped at `wMax` so a tiny group cannot explode the variance,
    * and the resulting row-level ESS = (Σw)²∕Σw² — the [[q209 Kish]]
    * readout of what the clipped weights actually cost. A pipeline
    * reads `ess_frac` before committing: reweighting that leaves 30%
    * effective data is usually worse than [[domainMixture]] capping.
    * One row per group: (group, n_rows, share, raw_w, w, ess,
    * ess_frac) — ess/ess_frac are corpus-level, repeated per row for
    * a self-contained report.
    *
    * Determinism: weights quantize to the integer nano grid BEFORE
    * clipping (min of two exact longs); ESS moments are exact DECIMAL
    * sums of nano integers; every readout is a fixed-order double
    * ratio, 6 dp. NULL groups and wMax < 1 fail typed (a clip below
    * the uniform weight of the LARGEST group would invert the
    * ordering the caller asked for).
    *
    * Plan: ONE map-side-combined groupBy to group counts, 1-row
    * totals broadcast, groups-sized arithmetic. */
  def importanceWeights(df: DataFrame, groupCol: String,
      wMax: Double = 10.0d): DataFrame = {
    require(wMax >= 1.0d && wMax <= 1e6d,
      s"need 1 <= wMax <= 1e6, got $wMax")
    val dec = "decimal(38,0)"
    val counts = df.select(col(groupCol).as("group"))
      .groupBy(col("group")).agg(count(lit(1)).as("n_rows"))
      .pin // groups-sized, read twice
    // r17: a NULL group surfaces as the null group key on the pinned
    // groups frame — the typed check reads it, not the corpus
    val nulls = counts.filter(col("group").isNull).limit(1).count()
    require(nulls == 0L, s"importanceWeights needs non-NULL '$groupCol'")
    val tot = counts.agg(sum(col("n_rows")).as("_N"),
      count(lit(1)).as("_k"))
    def d(c: String) = col(c).cast("double")
    val g = counts.crossJoin(broadcast(tot))
      .withColumn("_wraw",
        round(d("_N") * 1e9d / (d("_k") * d("n_rows"))).cast("long"))
      .withColumn("_wq", least(col("_wraw"), lit(math.round(wMax * 1e9d))))
      .pin // groups-sized, read twice (ESS + output)
    // weights are wq/1e9, so (Σn·w)²/(Σn·w²) = _sw²/_sw2 in row units
    val essRow = g.agg(
        sum(col("n_rows").cast(dec) * col("_wq")).as("_sw"),
        sum(col("n_rows").cast(dec) * col("_wq") * col("_wq")).as("_sw2"))
      .select(round(d("_sw") * d("_sw") / d("_sw2"), 6).as("ess"))
    g.crossJoin(broadcast(essRow))
      .select(col("group"), col("n_rows"),
        round(d("n_rows") / d("_N"), 6).as("share"),
        round(d("_wraw") / 1e9d, 6).as("raw_w"),
        round(d("_wq") / 1e9d, 6).as("w"),
        col("ess"),
        round(col("ess") / d("_N"), 6).as("ess_frac"))
      .orderBy(col("group"))
  }
}
