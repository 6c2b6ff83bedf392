package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Pin._

/** Label-quality readouts over a (gold, predicted) pair column — the
  * ANNOTATION-AGREEMENT tier of the eval stack next to
  * [[Calibration]] (is the confidence honest?), [[Calibration.binaryAuc]]
  * (does it rank?) and [[RankMetrics]] (does retrieval find it?): before
  * a curation pipeline trusts auto-labels (lang-id, quality buckets,
  * topic tags), it needs the chance-corrected agreement against a gold
  * set ([[cohenKappa]]) and the per-class precision/recall/F1 breakdown
  * ([[classificationReport]]) — raw accuracy is inflated exactly when
  * the label distribution is skewed, which corpus labels always are.
  *
  * Determinism (the repo's oracle discipline): every statistic is
  * derived from EXACT integer confusion counts — kappa is one fixed
  * final divide of two exact longs ((N·agree − Σₖ nAₖ·nBₖ) ∕
  * (N² − Σₖ nAₖ·nBₖ)), per-class F1 is micro-quantized
  * (round(2·10⁶·tp ∕ (n_true + n_pred))) so the macro average is an
  * exact integer sum with a single final divide — bit-replayable in
  * DuckDB.
  *
  * Plan: ONE corpus-scale groupBy (map-side combined) to the
  * |classes|²-bounded confusion-cell frame; everything after —
  * marginals, the marginal-product sum, per-class rows — is arithmetic
  * on that bounded frame (broadcast-joined 1-row totals, never a second
  * corpus pass). NULL labels fail typed: a NULL would silently vanish
  * from GROUP BY marginals while still counting in N. */
object ClassifierEval {

  /** The |classes|²-bounded confusion-cell frame (a, b, n) with a typed
    * NULL probe — shared by both readouts. r17: the probe reads the
    * PINNED cell frame (NULL labels are null group keys), not the
    * corpus (guide §1.2 — the freestanding guard was a full extra
    * pass), and the frame comes back pinned so callers no longer
    * re-pin it. */
  private def cells(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val c = df.groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("n"))
      .pin // cells²-sized; guard + caller reads hit the cache
    val nulls = c.filter(col("a").isNull || col("b").isNull).count()
    require(nulls == 0L,
      s"agreement stats need non-NULL '$aCol'/'$bCol' labels — a NULL " +
        "would drop from the class marginals while counting in N; filter " +
        "or impute first")
    c
  }

  /** Cohen's κ between two label columns (annotator A vs annotator B,
    * or gold vs predicted): (p_o − p_e) ∕ (1 − p_e) with p_o the
    * observed agreement rate and p_e = Σₖ p_A(k)·p_B(k) the
    * agreement expected from the marginals alone — the statistic that
    * reports 0 for a labeler that matches only as often as chance.
    * One output row: (n, agree, po, pe, kappa).
    *
    * Degenerate input (both columns constant and equal — the only way
    * p_e = 1, by Cauchy–Schwarz it forces agree = N) reports κ = 1.0,
    * documented rather than NaN.
    *
    * The N², N·agree and Σ nₐ·n_b products run in DECIMAL(38,0) (the
    * [[gwetAc1]] discipline), so the statistic is exact at any row
    * count a long can hold — not just below the ~3·10⁹ ceiling where
    * a plain long N² wraps. */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val c = cells(df, aCol, bCol) // pinned inside cells(); read 3×
    val tot = c.agg(
      sum(col("n")).as("n_total"),
      coalesce(sum(when(col("a") === col("b"), col("n"))), lit(0L))
        .as("agree"))
    val s = c.groupBy(col("a")).agg(sum(col("n")).as("na"))
      .join(c.groupBy(col("b")).agg(sum(col("n")).as("nb")),
        col("a") === col("b"))
      .agg(coalesce(sum(col("na").cast(dec) * col("nb")),
        lit(0L).cast(dec)).as("s"))
    tot.crossJoin(broadcast(s))
      .select(
        col("n_total").as("n"),
        col("agree"),
        round(col("agree").cast("double") / col("n_total").cast("double"), 6)
          .as("po"),
        round(col("s").cast("double") /
          (col("n_total").cast("double") * col("n_total").cast("double")), 6)
          .as("pe"),
        when(col("n_total").cast(dec) * col("n_total") - col("s") ===
            lit(0L).cast(dec), lit(1.0d))
          .otherwise(round(
            (col("n_total").cast(dec) * col("agree") - col("s"))
              .cast("double") /
              (col("n_total").cast(dec) * col("n_total") - col("s"))
                .cast("double"), 6))
          .as("kappa"))
  }

  /** GWET's AC1 agreement — the prevalence-robust companion of
    * [[cohenKappa]]: on a skewed label distribution two raters can
    * agree 90% of the time while κ goes NEGATIVE (the kappa paradox —
    * chance correction explodes when one category dominates). AC1
    * replaces κ's marginal-product chance term with
    * pe = Σ_k π_k(1−π_k)∕(K−1), π_k the AVERAGE marginal, which stays
    * calibrated under skew (Gwet 2008). Quote both: κ punishes
    * marginal imbalance, AC1 does not — disagreement between them IS
    * the prevalence warning. One row: (n, k_classes, agree, po, pe,
    * ac1).
    *
    * Determinism: AC1 clears denominators to the exact integer ratio
    * (4N(K−1)·agree − S) ∕ (4N²(K−1) − S) with
    * S = Σ_k m_k(2N − m_k), m_k the summed marginals — ONE double
    * division, 6 dp. A single-category table (denominator 0) reports
    * ac1 = 1.0 (trivially perfect agreement), documented. NULL labels
    * fail typed (via the shared cells frame).
    *
    * Plan: one corpus groupBy to the K² cells, two K-sized marginal
    * aggregates full-outer-joined over the category union, 1-row
    * arithmetic. */
  def gwetAc1(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val c = cells(df, aCol, bCol) // pinned inside cells()
    val tot = c.agg(
      sum(col("n")).as("n_total"),
      coalesce(sum(when(col("a") === col("b"), col("n"))), lit(0L))
        .as("agree"))
    val m = c.groupBy(col("a")).agg(sum(col("n")).as("_na"))
      .join(c.groupBy(col("b")).agg(sum(col("n")).as("_nb")),
        col("a") === col("b"), "full")
      .select((coalesce(col("_na"), lit(0L)) +
        coalesce(col("_nb"), lit(0L))).as("_m"))
      .pin // K rows, read twice (K + S)
    val ks = m.agg(count(lit(1)).as("k_classes"))
    def d(c2: Column) = c2.cast("double")
    val s = tot.crossJoin(broadcast(ks))
      .crossJoin(broadcast(m.crossJoin(broadcast(tot
          .select(col("n_total").as("_N"))))
        .agg(coalesce(sum(col("_m").cast(dec) *
          (col("_N") * 2L - col("_m"))), lit(0L).cast(dec)).as("_S"))))
    s.select(col("n_total").as("n"), col("k_classes"), col("agree"),
      round(d(col("agree")) / d(col("n_total")), 6).as("po"),
      when(col("k_classes") > 1L,
        round(d(col("_S")) / (d(col("n_total")) * d(col("n_total")) *
          4.0d * (d(col("k_classes")) - 1.0d)), 6))
        .otherwise(lit(null).cast("double")).as("pe"),
      when(col("k_classes") > 1L &&
          col("n_total").cast(dec) * col("n_total") * 4L *
            (col("k_classes") - 1L) - col("_S") =!= lit(0L).cast(dec),
        round(d(col("agree").cast(dec) * col("n_total") * 4L *
            (col("k_classes") - 1L) - col("_S")) /
          d(col("n_total").cast(dec) * col("n_total") * 4L *
            (col("k_classes") - 1L) - col("_S")), 6))
        .otherwise(lit(1.0d)).as("ac1"))
  }

  /** McNEMAR's test on two boolean gates over the SAME rows — the
    * paired-comparison answer to "is gate B actually stricter than gate
    * A, or do they just disagree symmetrically?" that an accuracy
    * delta cannot give (the off-diagonal DISAGREEMENT cells carry all
    * the information; rows where both gates agree are evidence for
    * neither side). Reports the continuity-corrected statistic
    * χ² = (|b − c| − 1)² ∕ (b + c) over b = pass-A-only,
    * c = pass-B-only (McNemar 1947; ~χ²₁ under H₀: same marginal pass
    * rate, so χ² > 3.84 rejects at 5%).
    *
    * One row: (n, both_pass, only_a, only_b, neither, chi2).
    *
    * Determinism: the four cells are exact longs from ONE map-side
    * combined aggregate; χ² is a fixed-order double of exact integers,
    * 6 dp. b + c = 0 (the gates never disagree) reports χ² = 0.0,
    * documented rather than NaN; |b − c| ≤ 1 clamps the corrected
    * numerator at 0 (the standard convention — one disagreement is no
    * evidence). NULL gate values fail typed. */
  def mcnemar(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val a = col(aCol).cast("boolean")
    val b = col(bCol).cast("boolean")
    // r17: null guard fused into the one cell aggregate (guide §1.2) —
    // the check reads the pinned 1-row result, not the corpus
    val cellsRow = df.agg(
      count(lit(1)).as("n"),
      sum(when(a && b, 1L).otherwise(0L)).as("both_pass"),
      sum(when(a && !b, 1L).otherwise(0L)).as("only_a"),
      sum(when(!a && b, 1L).otherwise(0L)).as("only_b"),
      sum(when(!a && !b, 1L).otherwise(0L)).as("neither"),
      sum(when(col(aCol).isNull || col(bCol).isNull, lit(1L))
        .otherwise(lit(0L))).as("_badn"))
      .pin // 1 row; guard + readout read the cache
    val nulls = cellsRow.filter(col("_badn") > 0L).count()
    require(nulls == 0L,
      s"mcnemar needs non-NULL boolean '$aCol'/'$bCol' gate outcomes")
    val diff = abs(col("only_a") - col("only_b")) - 1L
    val disagree = col("only_a") + col("only_b")
    cellsRow.select(col("n"), col("both_pass"), col("only_a"),
      col("only_b"), col("neither"),
      when(disagree === 0L || diff <= 0L, lit(0.0d))
        .otherwise(round((diff * diff).cast("double") /
          disagree.cast("double"), 6)).as("chi2"))
  }

  /** Fleiss' κ — [[cohenKappa]] generalized to n ≥ 2 raters (Fleiss
    * 1971): each listed column is one rater's label for the row's item;
    * the statistic is the chance-corrected probability that two
    * randomly chosen raters agree on a randomly chosen item. The
    * multi-gate agreement readout: three curation gates that
    * "agree 85%" may still be κ ≈ 0 if they mostly all say keep.
    *
    * Exact arithmetic: with N items, n raters, n_ij the raters giving
    * item i label j, S₂ = Σᵢⱼ n_ij² and Cⱼ the per-label totals,
    *   κ = ((S₂ − Nn)·Nn − ΣCⱼ²·(n−1)) ∕ ((n−1)·((Nn)² − ΣCⱼ²))
    * — one divide of two exact integer products (exact in long/double
    * up to Nn ≈ 2⁵³ᐟ³; beyond that route the products through DECIMAL).
    * Degenerate unanimous-constant input ((Nn)² = ΣCⱼ², which forces
    * perfect agreement) reports κ = 1.0, documented rather than NaN.
    * One output row: (n_items, n_raters, p_bar, p_e, kappa).
    *
    * Plan: one map-only melt (×n raters), one (item, label) groupBy
    * (map-side combined), then label-count-sized aggregates. NULL rater
    * labels fail typed — a NULL would shrink an item's rating count and
    * silently corrupt P_i. */
  def fleissKappa(df: DataFrame, itemCol: String,
      raterCols: Seq[String]): DataFrame = {
    require(raterCols.size >= 2 && raterCols.size <= 64,
      s"need 2..64 rater columns, got ${raterCols.size}")
    require(raterCols.distinct.size == raterCols.size,
      "rater columns must be distinct")
    val n = raterCols.size.toLong
    val melted = raterCols.map(rc =>
        df.select(col(itemCol).as("_item"), col(rc).cast("string").as("_lab")))
      .reduce(_ unionAll _)
    val cells = melted.groupBy(col("_item"), col("_lab"))
      .agg(count(lit(1)).as("_nij"))
      .pin // items×labels-sized, read twice
    // r17: a NULL rater label is a null _lab group key on the pinned
    // cell frame — the typed check reads it, not the melted corpus
    // (the freestanding guard was one more full pass on top of the
    // n-rater melt)
    val nulls = cells.filter(col("_lab").isNull).limit(1).count()
    require(nulls == 0L,
      "fleissKappa needs non-NULL rater labels — a NULL would shrink an " +
        "item's rating count and silently corrupt the agreement")
    val tot = cells.agg(
      sum(col("_nij") * col("_nij")).as("_s2"),
      (sum(col("_nij")) / n).cast("long").as("_n_items"))
    val cat = cells.groupBy(col("_lab")).agg(sum(col("_nij")).as("_cj"))
      .agg(sum(col("_cj") * col("_cj")).as("_c2"))
    tot.crossJoin(broadcast(cat))
      .withColumn("_nn", col("_n_items") * n)
      .select(
        col("_n_items").as("n_items"),
        lit(n).as("n_raters"),
        round((col("_s2") - col("_nn")).cast("double") /
          (col("_nn") * (n - 1L)).cast("double"), 6).as("p_bar"),
        round(col("_c2").cast("double") /
          (col("_nn") * col("_nn")).cast("double"), 6).as("p_e"),
        when(col("_nn") * col("_nn") - col("_c2") === 0L, lit(1.0d))
          .otherwise(round(
            ((col("_s2") - col("_nn")) * col("_nn") -
              col("_c2") * (n - 1L)).cast("double") /
              ((col("_nn") * col("_nn") - col("_c2")) * (n - 1L))
                .cast("double"), 6))
          .as("kappa"))
  }

  /** SPLIT-CONFORMAL calibration (Vovk et al.; Angelopoulos & Bates
    * 2021 tutorial): from a CALIBRATION set of nonconformity scores
    * s = |label − confidence|, the (1−α) conformal threshold is the
    * k-th smallest calibration score with k = ⌈(n_cal+1)(1−α)⌉ — the
    * distribution-free guarantee that a fresh point's score lands ≤ q
    * with probability ≥ 1−α. The held-out split then AUDITS the
    * guarantee empirically: one row
    * (n_cal, n_eval, alpha, k, threshold, coverage).
    *
    * Determinism: scores are exact integer micro-units
    * (|label·10⁶ − round(conf·10⁶)|), the order statistic is selected
    * on the ≤ 10⁶+1-row distinct-micro-score GRID (the binaryAuc
    * device — the one window never touches data-sized frames), and
    * coverage is one exact count ratio. k > n_cal (tiny calibration
    * sets at small α) is a typed failure — a silent +∞ threshold would
    * report fake 100% coverage. */
  def conformal(pred: DataFrame, labels: DataFrame, idCol: String,
      confCol: String, labelCol: String, calPred: Column,
      alpha: Double = 0.1): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0, 1), got $alpha")
    val joined = pred.select(col(idCol), col(confCol))
      .join(labels.select(col(idCol), col(labelCol)), Seq(idCol))
    // r17: the domain guard rides the pinned scored frame as a flag
    // column, and guard + both split counts come from ONE job (was: a
    // full guard pass plus two separate count jobs)
    val scored = joined.withColumn("_sm",
        abs(col(labelCol).cast("long") * lit(1000000L) -
          round(col(confCol).cast("double") * 1e6d).cast("long")))
      .withColumn("_cal", calPred)
      .withColumn("_badrow",
        col(confCol).isNull || col(labelCol).isNull ||
          col(confCol) < 0.0d || col(confCol) > 1.0d ||
          (col(labelCol) =!= 0L && col(labelCol) =!= 1L))
      .pin // grid aggregate + eval count share one pass
    val chk = scored.agg(
      sum(when(col("_badrow"), lit(1L)).otherwise(lit(0L))).as("_nb"),
      sum(when(col("_cal"), lit(1L)).otherwise(lit(0L))).as("_ncal"),
      sum(when(!col("_cal"), lit(1L)).otherwise(lit(0L))).as("_neval"))
      .head()
    require(chk.isNullAt(0) || chk.getLong(0) == 0L,
      "conformal calibration needs non-NULL confidences in [0, 1] and " +
        "labels in {0, 1} — found NULL or out-of-range rows")
    val nCal = if (chk.isNullAt(1)) 0L else chk.getLong(1)
    val nEval = if (chk.isNullAt(2)) 0L else chk.getLong(2)
    require(nCal > 0L && nEval > 0L,
      s"both splits must be non-empty, got cal=$nCal eval=$nEval")
    // k = ⌈(n_cal+1)(1−α)⌉ in EXACT integer arithmetic (α micro-quantized):
    // double ceil((n+1)·0.9) rounds 18.000…004 up to 19 where the rational
    // says 18 — an off-by-one the oracle could never replay
    val am = math.round(alpha * 1e6d)
    val k = ((nCal + 1L) * (1000000L - am) + 999999L) / 1000000L
    require(k <= nCal,
      s"calibration set too small: k=$k > n_cal=$nCal at alpha=$alpha — " +
        "the conformal threshold would be vacuous (+inf); add calibration " +
        "data or raise alpha")
    // k-th smallest on the distinct-micro-score grid (≤ 10^6+1 rows)
    val grid = scored.filter(col("_cal"))
      .groupBy(col("_sm")).agg(count(lit(1)).as("_n"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("_sm"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val qMicro = grid.withColumn("_cum", sum(col("_n")).over(w))
      .filter(col("_cum") >= k)
      .agg(min(col("_sm")).as("_q"))
    scored.filter(!col("_cal")).crossJoin(broadcast(qMicro))
      .agg(
        lit(nCal).as("n_cal"),
        lit(nEval).as("n_eval"),
        lit(alpha).as("alpha"),
        lit(k).as("k"),
        round(first(col("_q")).cast("double") / 1e6d, 6).as("threshold"),
        round(sum(when(col("_sm") <= col("_q"), 1L).otherwise(0L))
          .cast("double") / lit(nEval.toDouble), 6).as("coverage"))
  }

  /** Score-distribution DRIFT between two prediction snapshots — the
    * population-stability-index readout ([[TextAnalysis]]'s q115 token
    * PSI applied to classifier confidences): per equal-width confidence
    * bin, add-one-smoothed shares of each snapshot and the PSI term
    * (p_a − p_b)·ln(p_a∕p_b); total PSI carried on every row (the
    * ev_share convention). The monitoring tripwire for "the quality
    * model is seeing a different corpus than it was calibrated on"
    * (PSI > 0.2 = investigate, by convention).
    *
    * Determinism: the q177 integer micro-binning; smoothed shares are
    * exact-integer-derived single divides; each PSI term is ONE
    * fixed-order double expression rounded at 6 dp. Empty bins exist in
    * the output (the bins frame is generated, not observed), so the
    * readout shape is fixed at `bins` rows. */
  def scoreDrift(predA: DataFrame, predB: DataFrame, confCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 1000, s"bins must be in [2, 1000], got $bins")
    psiFromCells(
      binCounts(predA, confCol, bins, "n_a")
        .join(binCounts(predB, confCol, bins, "n_b"), Seq("bin"), "full"),
      bins)
  }

  /** [[scoreDrift]] against a PRE-BINNED reference — the streaming
    * monitor's shape ([[graft.streaming.DriftMonitor]]): at 100 TB the
    * calibration cohort is frozen once as its `bins`-row histogram
    * (`(bin, n_a)`), and each incoming batch compares against that
    * table without ever re-reading the reference corpus. Identical
    * output contract to [[scoreDrift]] (reference = the `a` side).
    * Malformed reference rows (NULL / out-of-range / duplicate bins)
    * fail typed — a silently dropped bin would fake a drift. */
  def scoreDriftFromBins(refBins: DataFrame, pred: DataFrame,
      confCol: String, bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 1000, s"bins must be in [2, 1000], got $bins")
    val bad = refBins.filter(col("bin").isNull || col("n_a").isNull ||
        col("bin") < 0L || col("bin") >= bins.toLong || col("n_a") < 0L)
      .limit(1).count()
    require(bad == 0L,
      s"reference histogram needs bins in [0, $bins) with non-negative " +
        "non-NULL counts")
    val dups = refBins.groupBy(col("bin")).agg(count(lit(1)).as("_c"))
      .filter(col("_c") > 1L).limit(1).count()
    require(dups == 0L, "reference histogram has duplicate bin rows")
    psiFromCells(
      refBins.select(col("bin"), col("n_a"))
        .join(binCounts(pred, confCol, bins, "n_b"), Seq("bin"), "full"),
      bins)
  }

  /** The `bins`-row micro-quantized confidence histogram shared by the
    * drift readouts and the streaming monitor's frozen reference. */
  private[graft] def binCounts(df: DataFrame, confCol: String, bins: Int,
      out: String): DataFrame = {
    // r17: guard fused into the histogram aggregate as a counted flag
    // (guide §1.2) — the check reads the pinned bins-sized frame
    val g = df.withColumn("_cm",
        round(col(confCol).cast("double") * 1e6d).cast("long"))
      .withColumn("bin",
        least(expr(s"(_cm * $bins) div 1000000"), lit(bins - 1L))
          .cast("long"))
      .groupBy(col("bin")).agg(count(lit(1)).as(out),
        sum(when(col(confCol).isNull ||
            col(confCol) < 0.0d || col(confCol) > 1.0d, lit(1L))
          .otherwise(lit(0L))).as("_bad"))
      .pin // ≤ bins rows; guard + the PSI join read the cache
    val nulls = g.filter(col("_bad") > 0L).count()
    require(nulls == 0L,
      s"scoreDrift needs non-NULL confidences in [0, 1] ($out side)")
    g.drop("_bad")
  }

  /** Shares, per-bin PSI terms and the carried total over a sparse
    * `(bin, n_a, n_b)` frame — generated bins, so empty bins exist in
    * the fixed `bins`-row output. */
  private def psiFromCells(sparse: DataFrame, bins: Int): DataFrame = {
    val spark = sparse.sparkSession
    import spark.implicits._
    val allBins = (0L until bins.toLong).toDF("bin")
    val cells = allBins
      .join(sparse, Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
    val tot = cells.agg(sum(col("n_a")).as("_ta"), sum(col("n_b")).as("_tb"))
    val terms = cells.crossJoin(broadcast(tot))
      // add-one smoothing: shares are never 0, ln is total
      .withColumn("p_a", round((col("n_a") + 1L).cast("double") /
        (col("_ta") + bins.toLong).cast("double"), 6))
      .withColumn("p_b", round((col("n_b") + 1L).cast("double") /
        (col("_tb") + bins.toLong).cast("double"), 6))
      .withColumn("_psi_micro",
        round((col("p_a") - col("p_b")) * log(col("p_a") / col("p_b")) * 1e6d)
          .cast("long"))
    val total = terms.agg(sum(col("_psi_micro")).as("_pt"))
    terms.crossJoin(broadcast(total))
      .select(col("bin"), col("n_a"), col("n_b"), col("p_a"), col("p_b"),
        round(col("_psi_micro").cast("double") / 1e6d, 6).as("psi_bin"),
        round(col("_pt").cast("double") / 1e6d, 6).as("psi_total"))
  }

  /** NORMALIZED MUTUAL INFORMATION between two labelings — the
    * clustering-agreement readout next to [[cohenKappa]]: κ needs the
    * two columns to use the SAME label vocabulary (gold vs predicted);
    * NMI is permutation-invariant, so it also scores an unsupervised
    * partition (IVF cells, dedup clusters, topic buckets) against a
    * reference labeling where the label NAMES can never match.
    * NMI = I(A;B) ∕ √(H(A)·H(B)), 1 = identical partitions,
    * 0 = independent. One row: (n, h_a, h_b, mi, nmi).
    *
    * Determinism: all probabilities derive from exact integer
    * contingency counts; each cell's pointwise-MI term and each
    * marginal's entropy term is ONE fixed-order double expression
    * nano-quantized to an integer, the sums are exact longs, and the
    * final normalization is one fixed-order double — bit-replayable.
    * Either marginal entropy = 0 (a constant labeling carries no
    * information) reports nmi = 0.0, documented rather than NaN.
    *
    * Plan: ONE corpus groupBy to the |A|·|B|-bounded contingency frame
    * (map-side combined); marginals, entropies and the MI sum are
    * arithmetic on that bounded frame with 1-row broadcasts. */
  def nmi(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val c = cells(df, aCol, bCol) // pinned inside cells(); read 3×
    val tot = c.agg(sum(col("n")).as("_N"))
    def entropy(marg: DataFrame) = marg
      .crossJoin(broadcast(tot))
      .select(round(negate((col("_m").cast("double") / col("_N").cast("double")) *
        log(col("_m").cast("double") / col("_N").cast("double"))) * 1e9d)
        .cast("long").as("_h"))
      .agg(coalesce(sum(col("_h")), lit(0L)).as("_hsum"))
    val ha = entropy(c.groupBy(col("a")).agg(sum(col("n")).as("_m")))
    val hb = entropy(c.groupBy(col("b")).agg(sum(col("n")).as("_m")))
    val na = c.groupBy(col("a")).agg(sum(col("n")).as("_na"))
    val nb = c.groupBy(col("b")).agg(sum(col("n")).as("_nb"))
    val mi = c.join(na, Seq("a")).join(nb, Seq("b"))
      .crossJoin(broadcast(tot))
      .select(round((col("n").cast("double") / col("_N").cast("double")) *
        log(col("_N").cast("double") * col("n").cast("double") /
          (col("_na").cast("double") * col("_nb").cast("double"))) * 1e9d)
        .cast("long").as("_mi"))
      .agg(coalesce(sum(col("_mi")), lit(0L)).as("_misum"))
    tot.crossJoin(broadcast(ha.select(col("_hsum").as("_ha"))))
      .crossJoin(broadcast(hb.select(col("_hsum").as("_hb"))))
      .crossJoin(broadcast(mi))
      .select(col("_N").as("n"),
        round(col("_ha").cast("double") / 1e9d, 6).as("h_a"),
        round(col("_hb").cast("double") / 1e9d, 6).as("h_b"),
        round(col("_misum").cast("double") / 1e9d, 6).as("mi"),
        when(col("_ha") > 0L && col("_hb") > 0L,
          round(col("_misum").cast("double") /
            sqrt(col("_ha").cast("double") * col("_hb").cast("double")), 6))
          .otherwise(lit(0.0d)).as("nmi"))
  }

  /** ADJUSTED RAND INDEX between two partitions of the same rows —
    * the pair-counting twin of [[nmi]]: of all C(N,2) row pairs, how
    * many do the two clusterings agree on (together/apart), corrected
    * for the agreement the marginals alone would produce? ARI = 1 on
    * identical partitions, ≈ 0 for independent ones, and — unlike NMI —
    * can go NEGATIVE when the partitions agree less than chance, which
    * is exactly the signal that an "approximate" clustering is actively
    * anti-correlated with the exact one. One row:
    * (n, pairs_both, pairs_a, pairs_b, ari).
    *
    * Determinism: every pair count is an EXACT integer — Σ C(nᵢⱼ,2)
    * over the contingency cells and Σ C(aᵢ,2) / Σ C(bⱼ,2) over the
    * marginals, all computed as n·(n−1) div 2 on longs; the marginal
    * product routes through DECIMAL(38,0) (Σa·Σb overflows long around
    * N ≈ 3·10⁹ pairs), and the final
    * (SumIJ − Sa·Sb∕Sn) ∕ ((Sa+Sb)∕2 − Sa·Sb∕Sn) is one fixed-order
    * double expression — bit-replayable in DuckDB.
    *
    * Plan: the same ONE corpus-scale groupBy as [[nmi]] to the
    * |classes|²-bounded cell frame; marginals and the four pair sums
    * are arithmetic on that bounded frame (broadcast 1-row combines).
    * Degenerate inputs where the expected and maximum index coincide
    * (both partitions all-singletons or single-cluster) define ARI = 1
    * when the partitions agree perfectly and 0 otherwise — the sklearn
    * convention, made explicit instead of 0∕0. */
  def adjustedRand(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val c = cells(df, aCol, bCol) // pinned inside cells(); read 3×
    // n·(n−1) is even, so the right-shift IS the exact integer C(n,2)
    def pairs(x: Column): Column =
      shiftright((x * (x - lit(1L))).cast("long"), 1)
    val sij = c.agg(coalesce(sum(pairs(col("n"))), lit(0L)).as("_sij"),
      coalesce(sum(col("n")), lit(0L)).as("_n"))
    val sa = c.groupBy(col("a")).agg(sum(col("n")).as("_m"))
      .agg(coalesce(sum(pairs(col("_m"))), lit(0L)).as("_sa"))
    val sb = c.groupBy(col("b")).agg(sum(col("n")).as("_m"))
      .agg(coalesce(sum(pairs(col("_m"))), lit(0L)).as("_sb"))
    sij.crossJoin(broadcast(sa)).crossJoin(broadcast(sb))
      .select(col("_n").as("n"), col("_sij").as("pairs_both"),
        col("_sa").as("pairs_a"), col("_sb").as("pairs_b"),
        (pairs(col("_n"))).as("_sn"))
      .select(col("n"), col("pairs_both"), col("pairs_a"), col("pairs_b"),
        when(col("_sn") === 0L,
          lit(1.0d)) // 0 or 1 row: a single pairless point agrees with itself
        .otherwise({
          // exp = Sa·Sb/Sn in double from an exact DECIMAL product;
          // max = (Sa+Sb)/2. ARI = (Sij − exp)/(max − exp), with the
          // degenerate max == exp case (both all-singleton or both
          // one-cluster) defined as 1 on perfect agreement else 0.
          val expd = (col("pairs_a").cast("decimal(38,0)") *
            col("pairs_b").cast("decimal(38,0)")).cast("double") /
            col("_sn").cast("double")
          val maxd = (col("pairs_a").cast("double") +
            col("pairs_b").cast("double")) / lit(2.0d)
          when(abs(maxd - expd) < lit(1e-12d),
            when(col("pairs_both").cast("double") === maxd, lit(1.0d))
              .otherwise(lit(0.0d)))
            .otherwise(round((col("pairs_both").cast("double") - expd) /
              (maxd - expd), 6))
        }).as("ari"))
  }

  /** V-MEASURE (homogeneity / completeness) between a reference
    * partition `a` and a candidate partition `b` — the
    * conditional-entropy view that [[nmi]]'s single symmetric number
    * hides: homogeneity = 1 − H(A|B)∕H(A) penalizes clusters that MIX
    * reference classes, completeness = 1 − H(B|A)∕H(B) penalizes
    * classes SPLIT across clusters, and V is their harmonic mean. A
    * near-dup clustering can score high completeness (every template
    * family lands in one cluster) while terrible homogeneity (clusters
    * glue unrelated families) — this readout separates the two failure
    * modes. One row: (n, h_a, h_b, h_ab, homogeneity, completeness,
    * v_measure).
    *
    * Determinism: the three entropies (marginal A, marginal B, joint)
    * are nano-quantized integer sums exactly as in [[nmi]];
    * H(A|B) = H(A,B) − H(B) and H(B|A) = H(A,B) − H(A) are integer
    * differences; the two ratios and the harmonic mean are fixed-order
    * double arithmetic — bit-replayable in DuckDB. Degenerate zero
    * entropies follow the sklearn convention: H(A) = 0 ⟹
    * homogeneity = 1, H(B) = 0 ⟹ completeness = 1, and V = 0 when
    * h + c = 0.
    *
    * Plan: the same ONE corpus-scale groupBy to the bounded cell frame;
    * three bounded-frame entropy aggregates, one 1-row combine. */
  def vMeasure(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val c = cells(df, aCol, bCol) // pinned inside cells(); read 4×
    val tot = c.agg(sum(col("n")).as("_N"))
    def entropy(marg: DataFrame) = marg
      .crossJoin(broadcast(tot))
      .select(round(negate((col("_m").cast("double") / col("_N").cast("double")) *
        log(col("_m").cast("double") / col("_N").cast("double"))) * 1e9d)
        .cast("long").as("_h"))
      .agg(coalesce(sum(col("_h")), lit(0L)).as("_hsum"))
    val ha = entropy(c.groupBy(col("a")).agg(sum(col("n")).as("_m")))
    val hb = entropy(c.groupBy(col("b")).agg(sum(col("n")).as("_m")))
    val hab = entropy(c.select(col("n").as("_m")))
    val homC = when(col("_ha") === 0L, lit(1.0d))
      .otherwise((col("_ha") - (col("_hab") - col("_hb"))).cast("double") /
        col("_ha").cast("double"))
    val comC = when(col("_hb") === 0L, lit(1.0d))
      .otherwise((col("_hb") - (col("_hab") - col("_ha"))).cast("double") /
        col("_hb").cast("double"))
    tot.crossJoin(broadcast(ha.select(col("_hsum").as("_ha"))))
      .crossJoin(broadcast(hb.select(col("_hsum").as("_hb"))))
      .crossJoin(broadcast(hab.select(col("_hsum").as("_hab"))))
      .select(col("_N").as("n"),
        round(col("_ha").cast("double") / 1e9d, 6).as("h_a"),
        round(col("_hb").cast("double") / 1e9d, 6).as("h_b"),
        round(col("_hab").cast("double") / 1e9d, 6).as("h_ab"),
        round(homC, 6).as("homogeneity"),
        round(comC, 6).as("completeness"),
        when(homC + comC <= lit(0.0d), lit(0.0d))
          .otherwise(round(lit(2.0d) * homC * comC / (homC + comC), 6))
          .as("v_measure"))
  }

  /** Exact two-sample KOLMOGOROV–SMIRNOV distance between two score
    * snapshots — [[scoreDrift]]'s binned PSI made bin-free:
    * D = sup_x |F_A(x) − F_B(x)| over the empirical CDFs, the
    * distribution-shift readout that cannot be hidden by a lucky bin
    * boundary (a shift entirely inside one PSI bin is invisible to PSI;
    * KS sees it). Reports the sup, and the smallest score where it is
    * attained (`d_at` — WHERE the distributions diverge most, the
    * natural threshold to investigate). One row:
    * (n_a, n_b, d, d_at).
    *
    * Determinism: scores micro-quantize to the integer grid first; the
    * sup is selected on EXACT cross-multiplied integers
    * (|ca·n_b − cb·n_a|, no division until the final readout), ties on
    * the argmax resolve to the smallest score — bit-replayable.
    * (Exact to n_a·n_b < 2⁶³ ≈ (3·10⁹)²; beyond that route the products
    * through DECIMAL.)
    *
    * Plan: two map-side-combined grid aggregates, one full-outer grid
    * join (≤ 10⁶ + 1 rows-bounded), one bounded-grid cumulative window,
    * two 1-row aggregates. Scores may be any reals; NULLs fail typed. */
  def ksDistance(predA: DataFrame, predB: DataFrame,
      confCol: String): DataFrame = {
    val sup = ksSup("ksDistance", predA, predB, confCol,
      " — the sup over an empty CDF is undefined")
    def d(c: String) = col(c).cast("double")
    sup.select(col("n_a"), col("n_b"),
      round(d("_dm") / (d("n_a") * d("n_b")), 6).as("d"),
      round(d("_at") / 1e6d, 6).as("d_at"))
  }

  /** The two-sample grid (_sm, _na, _nb) of [[ksDistance]], [[mannWhitney]],
    * [[ksTest]] and [[cramerVonMises]]: per-side micro-score counts (the
    * `op`-named guards read the pinned side), full-outer joined. */
  private def twoSampleCells(op: String, predA: DataFrame, predB: DataFrame,
      confCol: String, emptyNote: String = ""): DataFrame = {
    def grid(df: DataFrame, out: String) = {
      val g = df.withColumn("_sm",
          round(col(confCol).cast("double") * 1e6d).cast("long"))
        .groupBy(col("_sm")).agg(count(lit(1)).as(out))
        .pin // grid-sized; guards agg materializes the cache
      val chk = g.agg(
        sum(when(col("_sm").isNull, lit(1L)).otherwise(lit(0L))).as("_nb"),
        count(lit(1)).as("_n")).head()
      require(chk.isNullAt(0) || chk.getLong(0) == 0L,
        s"$op needs non-NULL scores ($out side)")
      require(chk.getLong(1) >= 1L, s"$op needs a non-empty $out side$emptyNote")
      g
    }
    grid(predA, "_na").join(grid(predB, "_nb"), Seq("_sm"), "full")
      .select(col("_sm"),
        coalesce(col("_na"), lit(0L)).as("_na"),
        coalesce(col("_nb"), lit(0L)).as("_nb"))
  }

  /** [[twoSampleCells]] plus the inclusive cumulative counts (_ca, _cb)
    * in score order — one bounded-grid window, pinned. */
  private def twoSampleCdf(op: String, predA: DataFrame, predB: DataFrame,
      confCol: String, emptyNote: String = ""): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("_sm"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    twoSampleCells(op, predA, predB, confCol, emptyNote)
      .withColumn("_ca", sum(col("_na")).over(w))
      .withColumn("_cb", sum(col("_nb")).over(w))
      .pin // grid-sized, read twice
  }

  /** The KS sup of [[ksDistance]] and [[ksTest]], one row (n_a, n_b, _dm,
    * _at): the cross-multiplied sup numerator and its smallest score. */
  private def ksSup(op: String, predA: DataFrame, predB: DataFrame,
      confCol: String, emptyNote: String = ""): DataFrame = {
    val cum = twoSampleCdf(op, predA, predB, confCol, emptyNote)
    val tot = cum.agg(max(col("_ca")).as("_ta"), max(col("_cb")).as("_tb"))
    val diffs = cum.crossJoin(broadcast(tot))
      .withColumn("_dn", abs(col("_ca") * col("_tb") - col("_cb") * col("_ta")))
    val dMax = diffs.agg(max(col("_dn")).as("_dm"))
    diffs.crossJoin(broadcast(dMax))
      .filter(col("_dn") === col("_dm"))
      .agg(first(col("_ta")).as("n_a"), first(col("_tb")).as("n_b"),
        first(col("_dm")).as("_dm"), min(col("_sm")).as("_at"))
  }

  /** Per-GROUP two-sample KS — [[ksDistance]] partitioned by a group
    * column (source, shard, language): WHICH slice drifted, not just
    * whether the corpus did. The global sup can hide a fully-drifted
    * minority source under a stable majority; per-source sups name the
    * offender. Cohort membership is a boolean column (true = side A),
    * so one frame carries both samples.
    *
    * One row per group: (group, n_a, n_b, d, d_at) — same integer
    * cross-multiplied sup and smallest-score argmax tie-break as
    * [[ksDistance]], windows PARTITIONED by group (grid-sized per
    * group, never corpus-wide). A group with an EMPTY cohort reports
    * d = 0.0 ∕ d_at = 0.0 with the zero count exposing why — absence
    * of evidence is not drift, and a silently dropped group would
    * over-report stability exactly when ingest for it stopped (the
    * rankingMetrics lesson). NULLs fail typed. */
  def ksDistanceByGroup(df: DataFrame, groupCol: String, cohortCol: String,
      confCol: String): DataFrame = {
    // r17: guard fused into the per-group grid aggregate (guide §1.2) —
    // null group/score surface as null keys, a null cohort as a counted
    // flag, and the check reads the pinned cumulative grid
    val cells = df.select(col(groupCol).as("_g"),
        col(cohortCol).cast("boolean").as("_a"),
        round(col(confCol).cast("double") * 1e6d).cast("long").as("_sm"),
        col(cohortCol).isNull.as("_badc"))
      .groupBy(col("_g"), col("_sm"))
      .agg(sum(when(col("_a"), 1L).otherwise(0L)).as("_na"),
        sum(when(!col("_a"), 1L).otherwise(0L)).as("_nb"),
        sum(when(col("_badc"), lit(1L)).otherwise(lit(0L))).as("_bad"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_g")).orderBy(col("_sm"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = cells
      .withColumn("_ca", sum(col("_na")).over(w))
      .withColumn("_cb", sum(col("_nb")).over(w))
      .pin // grid-sized, read twice (totals + argmax)
    val bad = cum.filter(col("_g").isNull || col("_sm").isNull ||
      col("_bad") > 0L).limit(1).count()
    require(bad == 0L,
      s"ksDistanceByGroup needs non-NULL '$groupCol'/'$cohortCol'/'$confCol'")
    val tot = cum.groupBy(col("_g"))
      .agg(max(col("_ca")).as("_ta"), max(col("_cb")).as("_tb"))
    val diffs = cum.join(tot, Seq("_g"))
      .withColumn("_dn", abs(col("_ca") * col("_tb") - col("_cb") * col("_ta")))
    val dMax = diffs.groupBy(col("_g")).agg(max(col("_dn")).as("_dm"))
    val empty = col("n_a") === 0L || col("n_b") === 0L
    diffs.join(dMax, Seq("_g")).filter(col("_dn") === col("_dm"))
      .groupBy(col("_g"))
      .agg(min(col("_ta")).as("n_a"), min(col("_tb")).as("n_b"),
        min(col("_dn")).as("_d"), min(col("_sm")).as("_at"))
      .select(col("_g").as(groupCol), col("n_a"), col("n_b"),
        when(empty, lit(0.0d))
          .otherwise(round(col("_d").cast("double") /
            (col("n_a").cast("double") * col("n_b").cast("double")), 6))
          .as("d"),
        when(empty, lit(0.0d))
          .otherwise(round(col("_at").cast("double") / 1e6d, 6)).as("d_at"))
  }

  /** Two-sample MANN–WHITNEY U test between two score snapshots — the
    * nonparametric twin of the q154 Welch t: does cohort A stochastically
    * outrank cohort B, with a significance readout that needs no
    * normality assumption on the scores themselves? U_A counts
    * (a, b) pairs with a > b (ties half), the rank-biserial
    * r = 2U∕(n₁n₂) − 1 is the effect size in [−1, 1], and z is the
    * tie-corrected normal approximation
    * z = (U − n₁n₂∕2) ∕ √(n₁n₂∕12 · ((n+1) − Σ(t³−t)∕(n(n−1))))
    * (no continuity correction, documented — both engines must agree on
    * one formula). One row: (n_a, n_b, u_a, rank_biserial, z).
    *
    * Determinism: scores micro-quantize to the integer grid; 2U is an
    * exact DECIMAL(38,0) sum of per-distinct-score products (the
    * [[graft.ops.Calibration.binaryAuc]] identity applied across two
    * samples), the tie term Σ(t³−t) is exact DECIMAL (t³ cast BEFORE
    * cubing — a long overflows past t ≈ 2·10⁶); the z/r readouts are
    * fixed-order double expressions on those exact integers. All scores
    * identical (zero variance) reports z = 0.0, documented rather than
    * NaN. NULL scores and empty sides fail typed.
    *
    * Plan: two map-side-combined grid aggregates, one full-outer grid
    * join (≤ 10⁶ + 1 rows), one bounded-grid window, ONE final
    * aggregate — never a data-sized sort. */
  def mannWhitney(predA: DataFrame, predB: DataFrame,
      confCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = twoSampleCells("mannWhitney", predA, predB, confCol)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("_sm"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val sums = cells
      .withColumn("_cb", coalesce(sum(col("_nb")).over(w), lit(0L)))
      .agg(
        sum(col("_na")).as("n_a"),
        sum(col("_nb")).as("n_b"),
        sum(col("_na").cast(dec) * (lit(2L) * col("_cb") + col("_nb")))
          .as("_u2"),
        sum((col("_na") + col("_nb")).cast(dec) *
          (col("_na") + col("_nb")) * (col("_na") + col("_nb")) -
          (col("_na") + col("_nb")).cast(dec)).as("_tcorr"))
    def d(c: String) = col(c).cast("double")
    val n1 = d("n_a")
    val n2 = d("n_b")
    val n = n1 + n2
    val u = d("_u2") / 2.0d
    val varU = n1 * n2 / 12.0d *
      ((n + 1.0d) - d("_tcorr") / (n * (n - 1.0d)))
    sums.select(col("n_a"), col("n_b"),
      round(u, 6).as("u_a"),
      round(d("_u2") / (n1 * n2) - 1.0d, 6).as("rank_biserial"),
      when(varU > 0.0d,
        round((u - n1 * n2 / 2.0d) / sqrt(varU), 6))
        .otherwise(lit(0.0d)).as("z"))
  }

  /** MCC / YOUDEN THRESHOLD SWEEP (Matthews 1975; Youden 1950) — the
    * operating-point picker the threshold-free AUC (q185) cannot give:
    * for EVERY distinct score as the keep-threshold, the full confusion
    * matrix, the Matthews correlation (the balanced single number that
    * survives class skew where accuracy and even F1 mislead) and
    * Youden's J = TPR + TNR − 1; the MCC-argmax row is flagged — the
    * threshold to ship. One row per distinct score, ascending:
    * (threshold, tp, fp, fn, tn, mcc, youden_j, is_best).
    *
    * Determinism: thresholds are the micro-quantized distinct scores;
    * confusion counts are reverse-cumulative exact longs on that grid;
    * MCC's numerator tp·tn − fp·fn routes through DECIMAL(38,0) (exact
    * at any long count), the denominator √ of four marginal products is
    * fixed-order double (its magnitude ~N⁴ exceeds every integer type;
    * the ~2⁵³ double mantissa is the documented precision there); both
    * readouts 6 dp, signed (the oracle carries the signed-zero
    * canonicalization). A zero marginal reports mcc = 0.0 (the
    * standard convention). is_best ties break on the SMALLER
    * threshold. Labels outside {0,1} / NULLs fail typed. */
  def mccSweep(pred: DataFrame, labels: DataFrame, idCol: String,
      confCol: String, labelCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val joined = pred.select(col(idCol), col(confCol))
      .join(labels.select(col(idCol), col(labelCol)), Seq(idCol))
    // guard fused into the pinned score-grid aggregate (guide §1.2)
    val g = joined
      .withColumn("_sm", round(col(confCol).cast("double") * 1e6d).cast("long"))
      .groupBy(col("_sm"))
      .agg(sum(col(labelCol).cast("long")).as("_np"),
        sum(lit(1L) - col(labelCol).cast("long")).as("_nn"),
        sum(when(col(labelCol).isNull ||
            (col(labelCol) =!= 0L && col(labelCol) =!= 1L), lit(1L))
          .otherwise(lit(0L))).as("_bad"))
      .pin // grid-sized; guard + totals + sweep read the cache
    val offRange = g.filter(col("_sm").isNull || col("_bad") > 0L).count()
    require(offRange == 0L,
      "mccSweep needs non-NULL scores and labels in {0, 1}")
    // predict positive when score >= threshold: TP/FP are reverse
    // cumulative counts INCLUDING the threshold's own tie group
    val wDesc = org.apache.spark.sql.expressions.Window.orderBy(col("_sm").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val tot = g.agg(sum(col("_np")).as("_p"), sum(col("_nn")).as("_n"))
    val cum = g
      .withColumn("tp", sum(col("_np")).over(wDesc))
      .withColumn("fp", sum(col("_nn")).over(wDesc))
      .crossJoin(broadcast(tot))
      .withColumn("fn", col("_p") - col("tp"))
      .withColumn("tn", col("_n") - col("fp"))
    def d(c: String) = col(c).cast("double")
    val num = (col("tp").cast(dec) * col("tn") -
      col("fp").cast(dec) * col("fn")).cast("double")
    val den = sqrt((d("tp") + d("fp")) * (d("tp") + d("fn")) *
      (d("tn") + d("fp")) * (d("tn") + d("fn")))
    val mcc = when(den > 0.0d, round(num / den, 6)).otherwise(lit(0.0d))
    val youden = when(col("_p") > 0L && col("_n") > 0L,
      round(d("tp") / d("_p") + d("tn") / d("_n") - lit(1.0d), 6))
      .otherwise(lit(0.0d))
    val scored = cum.select(
      (col("_sm").cast("double") / 1e6d).as("threshold"),
      col("tp"), col("fp"), col("fn"), col("tn"),
      mcc.as("mcc"), youden.as("youden_j"))
    val wBest = org.apache.spark.sql.expressions.Window
      .orderBy(col("mcc").desc, col("threshold").asc)
    scored
      .withColumn("is_best", (row_number().over(wBest) === 1).cast("long"))
      .orderBy(col("threshold"))
  }

  /** PERMUTATION-NULL AUC diagnostic (Breiman 2001's permutation
    * importance, applied to ranking signals): for each score column,
    * the exact rank-sum AUC against the binary label AND the AUC after
    * a DETERMINISTIC within-bucket permutation of the scores — the
    * empirical null that answers "is this signal's discrimination
    * real, or would any column this shape score that much?" (a
    * near-0.5 null is also the sanity check that no id leakage rides
    * the signal). delta = auc − auc_null is the importance.
    *
    * One row per signal: (signal, n_pos, n_neg, auc, auc_null, delta).
    *
    * The permutation is portable and bounded: docs land in `buckets`
    * md5 buckets (the q154 hash device, byte-identical in DuckDB);
    * within a bucket the scores, ordered by id, are reassigned to the
    * ids ordered by md5 — a bijection whose windows are bucket-sized
    * (never a corpus-wide sort), asymptotically equivalent to a full
    * permutation for the null. AUC is [[Calibration.binaryAuc]]'s
    * exact integer U-statistic on micro grids. Labels outside {0, 1}
    * and NULLs fail typed (via binaryAuc). */
  def permutationAucNull(df: DataFrame, idCol: String, labelCol: String,
      scoreCols: Seq[String], buckets: Int = 256): DataFrame = {
    require(scoreCols.nonEmpty, "permutationAucNull needs >= 1 score column")
    require(buckets >= 2, s"need >= 2 permutation buckets, got $buckets")
    val base = df.select(
        (col(idCol) +: col(labelCol) +: scoreCols.map(col)).toIndexedSeq: _*)
      .withColumn("_md5", md5(col(idCol).cast("string")))
      .withColumn("_bkt", pmod(
        conv(substring(col("_md5"), 1, 8), 16, 10).cast("long"),
        lit(buckets.toLong)))
      .pin // read 2× per signal
    val labels = base.select(col(idCol), col(labelCol))
    val wIds = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_bkt")).orderBy(col("_md5"))
    val wVals = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_bkt")).orderBy(col(idCol))
    // ONE permutation join carries ALL score columns (r16): the slot and
    // value rank windows are signal-independent (both order by id/md5
    // within a bucket), so building the permuted frame per signal ran
    // the same two windows + join three times for identical bijections
    val slots = base.select(col(idCol), col("_bkt"),
      row_number().over(wIds).as("_pos"))
    val vals = base.select(
      (col("_bkt") +: row_number().over(wVals).as("_pos") +:
        scoreCols.map(col)).toIndexedSeq: _*)
    val permutedAll = slots.join(vals, Seq("_bkt", "_pos"))
      .pin // corpus-rows × few columns; read per signal
    permutedAll.count() // fills both pins before the concurrent reads
    // per-signal AUC pairs are independent — overlap their grid jobs
    // (guide §2.6); .par preserves result order, so the union below is
    // deterministic
    import scala.collection.parallel.CollectionConverters._
    val out = scoreCols.par.map { s =>
      val real = Calibration.binaryAuc(base.select(col(idCol), col(s)),
        labels, idCol, s, labelCol)
      val nullAuc = Calibration.binaryAuc(
        permutedAll.select(col(idCol), col(s)), labels, idCol, s,
        labelCol)
      real.select(col("n_pos"), col("n_neg"), col("auc"))
        .crossJoin(broadcast(nullAuc.select(col("auc").as("auc_null"))))
        .select(lit(s).as("signal"), col("n_pos"), col("n_neg"),
          col("auc"), col("auc_null"),
          // both terms are already 6-dp; the difference is exact and
          // (x − x) = +0.0 canonically in IEEE
          (col("auc") - col("auc_null")).as("delta"))
    }
    out.toList.reduce(_ unionByName _).orderBy(col("signal"))
  }

  // k groups expand to k(k-1)/2 pairs: past this the group list is not
  // source-count-sized and the driver-side pair grid is the wrong plan
  private val MannWhitneyMaxGroups = 1000

  /** PAIRWISE Mann–Whitney MATRIX across k groups — the drill-down
    * behind [[kruskal]]'s single "somewhere differs" verdict: for every
    * unordered group pair, the tie-corrected z and rank-biserial effect
    * size of [[mannWhitney]], so a mixture audit reads WHICH sources
    * pull apart and by how much (feed the |z| column to the q243 BH
    * machinery for the multiple-testing closure). One row per pair
    * (src_a < src_b lexicographically): (src_a, src_b, n_a, n_b, u_a,
    * rank_biserial, z).
    *
    * Determinism: identical integer machinery to [[mannWhitney]] —
    * per-group micro grids built ONCE, pair-expanded by equi-joins
    * (never a groups × corpus blow-up), doubled-rank sums in
    * DECIMAL(38,0), one fixed-order z per pair.
    *
    * Plan: one corpus groupBy to the (group, value) grid; pair
    * expansion is pairs × grid-rows (bounded by k²·|grid|); one
    * per-pair window + aggregate. k is source-count-sized. */
  def mannWhitneyMatrix(df: DataFrame, groupCol: String,
      scoreCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val g = df.select(col(groupCol).cast("string").as("_g"),
        round(col(scoreCol).cast("double") * 1e6d).cast("long").as("_sm"))
      .groupBy(col("_g"), col("_sm")).agg(count(lit(1)).as("_c"))
      .pin // grids, read by both pair sides
    // guard + group enumeration fused into ONE groups-sized collect; the
    // group list is source-count-sized by contract, so the pair grid
    // below is a broadcast local relation, not a shuffled self-join
    val perG = g.groupBy(col("_g")).agg(
        sum(when(col("_sm").isNull, lit(1L)).otherwise(lit(0L))).as("_bad"))
      .limit(MannWhitneyMaxGroups + 1).collect()
    require(perG.length <= MannWhitneyMaxGroups,
      s"mannWhitneyMatrix supports at most $MannWhitneyMaxGroups groups in '$groupCol'")
    require(!perG.exists(r => r.isNullAt(0) || r.getLong(1) > 0L),
      s"mannWhitneyMatrix needs non-NULL '$groupCol' and '$scoreCol'")
    val nG = perG.length.toLong
    require(nG >= 2L, s"mannWhitneyMatrix needs >= 2 groups, got $nG")
    val spark = df.sparkSession
    import spark.implicits._
    // pair orientation stays Spark's own string `<` (not a driver-side
    // sort) so the emitted pair set is bit-identical to the r16 self-join
    val srcs = spark.createDataset(perG.map(_.getString(0)).toSeq).toDF("_g")
    val pairs = srcs.select(col("_g").as("_a"))
      .join(srcs.select(col("_g").as("_b")), col("_a") < col("_b"))
    val ga = pairs.join(g.select(col("_g").as("_a"), col("_sm"),
      col("_c").as("_na")), Seq("_a"))
    val gb = pairs.join(g.select(col("_g").as("_b"), col("_sm"),
      col("_c").as("_nb")), Seq("_b"))
    val cells = ga.join(gb, Seq("_a", "_b", "_sm"), "full")
      .select(col("_a"), col("_b"), col("_sm"),
        coalesce(col("_na"), lit(0L)).as("_na"),
        coalesce(col("_nb"), lit(0L)).as("_nb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_a"), col("_b")).orderBy(col("_sm"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val sums = cells
      .withColumn("_cb", coalesce(sum(col("_nb")).over(w), lit(0L)))
      .groupBy(col("_a"), col("_b"))
      .agg(
        sum(col("_na")).as("n_a"),
        sum(col("_nb")).as("n_b"),
        sum(col("_na").cast(dec) * (lit(2L) * col("_cb") + col("_nb")))
          .as("_u2"),
        sum((col("_na") + col("_nb")).cast(dec) *
          (col("_na") + col("_nb")) * (col("_na") + col("_nb")) -
          (col("_na") + col("_nb")).cast(dec)).as("_tcorr"))
    def d(c: String) = col(c).cast("double")
    val n1 = d("n_a")
    val n2 = d("n_b")
    val n = n1 + n2
    val u = d("_u2") / 2.0d
    val varU = n1 * n2 / 12.0d *
      ((n + 1.0d) - d("_tcorr") / (n * (n - 1.0d)))
    sums.select(col("_a").as("src_a"), col("_b").as("src_b"),
      col("n_a"), col("n_b"),
      round(u, 6).as("u_a"),
      round(d("_u2") / (n1 * n2) - 1.0d, 6).as("rank_biserial"),
      when(varU > 0.0d,
        round((u - n1 * n2 / 2.0d) / sqrt(varU), 6))
        .otherwise(lit(0.0d)).as("z"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** PEARSON χ² test of independence between two labelings — the
    * mixture-audit significance readout next to [[nmi]] (which measures
    * HOW MUCH the partitions share, not whether the association could
    * be chance): is `aCol` distributed independently of `bCol`, e.g. is
    * language balanced across sources before a mixture planner treats
    * them as exchangeable? Cramér's V rides along as the [0, 1] effect
    * size (χ² alone grows with N; V does not). One row:
    * (n, n_rows, n_cols, dof, chi2, cramers_v).
    *
    * Determinism: all counts are exact integers from ONE corpus
    * groupBy; the |A|·|B| expected grid INCLUDES zero-observed cells
    * (a marginals cross join — dropping them understates χ² exactly
    * when association is strongest); each cell's (o−e)²∕e is one
    * fixed-order double expression nano-quantized to an integer, the
    * sum exact. A single-row or single-column table has dof = 0 and
    * reports chi2 = 0, cramers_v = 0, documented.
    *
    * Plan: one corpus groupBy to the contingency frame, two
    * marginal aggregates, one |A|·|B|-bounded broadcast cross join,
    * ONE final aggregate. */
  def chiSquare(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val c = cells(df, aCol, bCol) // pinned inside cells()
    val ma = c.groupBy(col("a")).agg(sum(col("n")).as("_na"))
    val mb = c.groupBy(col("b")).agg(sum(col("n")).as("_nb"))
    val tot = c.agg(sum(col("n")).as("_N"))
    val grid = ma.crossJoin(mb)
      .join(c, Seq("a", "b"), "left")
      .withColumn("_o", coalesce(col("n"), lit(0L)))
      .crossJoin(broadcast(tot))
    val terms = grid.select(
      round(
        (col("_o").cast("double") -
          col("_na").cast("double") * col("_nb").cast("double") /
            col("_N").cast("double")) *
        (col("_o").cast("double") -
          col("_na").cast("double") * col("_nb").cast("double") /
            col("_N").cast("double")) /
        (col("_na").cast("double") * col("_nb").cast("double") /
          col("_N").cast("double")) * 1e9d).cast("long").as("_t"))
      .agg(coalesce(sum(col("_t")), lit(0L)).as("_chi9"))
    val counts = c.agg(sum(col("n")).as("n"),
      countDistinct(col("a")).as("n_rows"),
      countDistinct(col("b")).as("n_cols"))
    counts.crossJoin(broadcast(terms))
      .select(col("n"), col("n_rows"), col("n_cols"),
        ((col("n_rows") - 1L) * (col("n_cols") - 1L)).as("dof"),
        when((col("n_rows") - 1L) * (col("n_cols") - 1L) > 0L,
          round(col("_chi9").cast("double") / 1e9d, 6))
          .otherwise(lit(0.0d)).as("chi2"),
        when((col("n_rows") - 1L) * (col("n_cols") - 1L) > 0L,
          round(sqrt(col("_chi9").cast("double") / 1e9d /
            (col("n").cast("double") *
              least(col("n_rows") - 1L, col("n_cols") - 1L)
                .cast("double"))), 6))
          .otherwise(lit(0.0d)).as("cramers_v"))
  }

  /** Per-class precision / recall / F1 against a gold column, macro-F1
    * carried on every row (the ev_share convention): one row per class
    * present on EITHER side — a class the model never predicts (or
    * hallucinates) must appear with its zeros, not silently vanish.
    *
    * precision = tp∕n_pred (0 when never predicted), recall = tp∕n_true
    * (0 when no gold rows), F1 = 2·tp∕(n_true + n_pred) — the harmonic
    * mean identity that needs no precision·recall product, so it stays
    * one exact integer divide. macro_f1 averages the micro-quantized
    * per-class F1s (exact integer sum, one final divide). */
  def classificationReport(df: DataFrame, labelCol: String,
      predCol: String): DataFrame = {
    val c = cells(df, labelCol, predCol) // pinned inside cells()
    val truth = c.groupBy(col("a").as("class")).agg(sum(col("n")).as("n_true"))
    val pred = c.groupBy(col("b").as("class")).agg(sum(col("n")).as("n_pred"))
    val tp = c.filter(col("a") === col("b"))
      .select(col("a").as("class"), col("n").as("tp"))
    val perClass = truth.join(pred, Seq("class"), "full")
      .join(tp, Seq("class"), "left")
      .select(col("class"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .withColumn("_f1_micro",
        round(lit(2e6d) * col("tp").cast("double") /
          (col("n_true") + col("n_pred")).cast("double")).cast("long"))
    val macroTot = perClass.agg(
      count(lit(1)).as("_k"), sum(col("_f1_micro")).as("_fsum"))
    perClass.crossJoin(broadcast(macroTot))
      .select(col("class"), col("n_true"), col("n_pred"), col("tp"),
        round(when(col("n_pred") > 0L,
            col("tp").cast("double") / col("n_pred").cast("double"))
          .otherwise(lit(0.0d)), 6).as("precision"),
        round(when(col("n_true") > 0L,
            col("tp").cast("double") / col("n_true").cast("double"))
          .otherwise(lit(0.0d)), 6).as("recall"),
        round(col("_f1_micro").cast("double") / 1e6d, 6).as("f1"),
        round(col("_fsum").cast("double") /
          (col("_k").cast("double") * 1e6d), 6).as("macro_f1"))
  }

  /** CUPED-adjusted experiment lift (Controlled-experiment Using
    * Pre-Experiment Data; Deng et al. 2013) — the variance-reduction
    * step that makes the q154 A/B readout sensitive enough for small
    * curation-change effects: each unit's metric Y is adjusted by its
    * own PRE-period covariate X, Y' = Y − θ·(X − X̄), with
    * θ = cov(X,Y)∕var(X) pooled across arms. Unit-level pre-period
    * behavior absorbs between-user variance the raw difference of
    * means pays for; the residual variance is (1 − ρ²) of the
    * original — reported so the reader knows what the adjustment
    * bought.
    *
    * Input: ONE ROW PER UNIT (user), with the arm label, the
    * experiment-period metric and the pre-period covariate. One output
    * row: (arm_a, arm_b, n_a, n_b, lift_raw, lift_cuped, theta,
    * var_reduction) — arms ordered lexicographically, lift = B − A.
    *
    * Zero covariate variance (or a degenerate metric) reports
    * θ = 0 ∕ var_reduction = 0 and lift_cuped = lift_raw — no signal
    * to exploit, documented rather than NaN. Exactly two arms and
    * non-NULL values are typed requirements.
    *
    * Determinism: values are micro-quantized; all moment sums are
    * exact DECIMAL on any partitioning; θ, ρ² and the two lifts are
    * fixed-order IEEE expressions over exact components, 6 dp.
    *
    * Plan: one map-only pass with conditional aggregates to a 1-row
    * frame (units never shuffle); the two arm labels are a bounded
    * 2-row distinct pulled once. */
  def cupedLift(df: DataFrame, armCol: String, yCol: String,
      xCol: String): DataFrame = {
    // r17: the y/x null guard is fused into the moment aggregate below
    // (one pass saved); a NULL arm surfaces in the bounded distinct —
    // ascending order puts it first, so the limit never drops it — and
    // fails here with the same typed message
    val armRows = df.select(col(armCol).cast("string").as("_arm"))
      .distinct().orderBy(col("_arm")).limit(3).collect()
    require(armRows.forall(!_.isNullAt(0)),
      s"cupedLift needs non-NULL '$armCol'/'$yCol'/'$xCol' values")
    val arms = armRows.map(_.getString(0)).sorted.toSeq
    require(arms.size == 2,
      s"cupedLift needs exactly 2 arms, got ${arms.mkString(", ")}")
    val Seq(armA, armB) = arms
    val dec = "decimal(38,0)"
    val ym = round(col(yCol).cast("double") * 1e6d).cast("long")
    val xm = round(col(xCol).cast("double") * 1e6d).cast("long")
    def armSum(a: String, v: org.apache.spark.sql.Column) =
      sum(when(col(armCol) === a, v).otherwise(lit(0L)).cast(dec))
    val m = df.agg(
      sum(when(col(armCol) === armA, 1L).otherwise(0L)).as("_na"),
      sum(when(col(armCol) === armB, 1L).otherwise(0L)).as("_nb"),
      armSum(armA, ym).as("_sya"), armSum(armB, ym).as("_syb"),
      armSum(armA, xm).as("_sxa"), armSum(armB, xm).as("_sxb"),
      count(lit(1)).as("_n"),
      sum(xm.cast(dec)).as("_sx"), sum(ym.cast(dec)).as("_sy"),
      sum(xm.cast(dec) * ym).as("_sxy"),
      sum(xm.cast(dec) * xm).as("_sxx"),
      sum(ym.cast(dec) * ym).as("_syy"),
      sum(when(col(yCol).isNull || col(xCol).isNull, lit(1L))
        .otherwise(lit(0L))).as("_badn"))
      .pin // 1 row; guard + readout read the cache
    val nulls = m.filter(col("_badn") > 0L).count()
    require(nulls == 0L,
      s"cupedLift needs non-NULL '$armCol'/'$yCol'/'$xCol' values")
    def d(c: String) = col(c).cast("double")
    val num = (col("_n").cast(dec) * col("_sxy") - col("_sx") * col("_sy"))
      .cast("double")
    val denX = (col("_n").cast(dec) * col("_sxx") - col("_sx") * col("_sx"))
      .cast("double")
    val denY = (col("_n").cast(dec) * col("_syy") - col("_sy") * col("_sy"))
      .cast("double")
    val k = when(denX <= 0.0d, lit(0.0d)).otherwise(num / denX)
    val xbar = d("_sx") / d("_n")
    val mya = d("_sya") / d("_na")
    val myb = d("_syb") / d("_nb")
    val mxa = d("_sxa") / d("_na")
    val mxb = d("_sxb") / d("_nb")
    m.select(lit(armA).as("arm_a"), lit(armB).as("arm_b"),
      col("_na").as("n_a"), col("_nb").as("n_b"),
      round((myb - mya) / 1e6d, 6).as("lift_raw"),
      round(((myb - k * (mxb - xbar)) - (mya - k * (mxa - xbar))) / 1e6d, 6)
        .as("lift_cuped"),
      round(k, 6).as("theta"),
      when(denX <= 0.0d || denY <= 0.0d, lit(0.0d))
        .otherwise(round(num * num / (denX * denY), 6))
        .as("var_reduction"))
  }

  /** COCHRAN'S Q — [[mcnemar]] generalized to k ≥ 2 correlated binary
    * gates over the SAME documents (Cochran 1950), the way
    * [[fleissKappa]] generalizes Cohen's κ: do the k gates differ in
    * pass RATE at all, given that each document is its own control?
    * κ answers "do they agree"; Q answers "is any gate systematically
    * stricter" — three gates can agree badly yet have identical rates
    * (κ low, Q ≈ 0) or agree often yet one gate be strictly harsher
    * (κ high, Q large).
    *
    *   Q = (k−1)·(k·ΣⱼCⱼ² − T²) ∕ (k·T − ΣᵢRᵢ²)
    * with Cⱼ the per-gate pass totals, Rᵢ the per-doc pass counts and
    * T = ΣCⱼ = ΣRᵢ; under H₀ Q ~ χ²(k−1). Documents passing all or no
    * gates contribute nothing (Rᵢ ∈ {0, k} cancels) — the paired-test
    * property that makes Q sharper than comparing raw rates.
    *
    * One output row: (n_docs, k_gates, dof, q_stat). A degenerate
    * denominator (every doc unanimous — no within-doc variation at
    * all) reports q_stat = 0.0, documented rather than NaN.
    *
    * Determinism: all moments are exact integers in one combiner-
    * friendly aggregate (DECIMAL past 2³¹ docs); the only double is one
    * final fixed-order ratio, 6 dp. Gate values must be 0/1 — anything
    * else (including NULL) fails typed, a NULL would silently shrink
    * row sums. Plan: ONE map-only corpus pass to a 1-row frame; the
    * k-term ΣCⱼ² fold is a column expression over that single row. */
  def cochranQ(df: DataFrame, gateCols: Seq[String]): DataFrame = {
    require(gateCols.size >= 2 && gateCols.size <= 64,
      s"need 2..64 gate columns, got ${gateCols.size}")
    require(gateCols.distinct.size == gateCols.size,
      "gate columns must be unique")
    val dec = "decimal(38,0)"
    val k = gateCols.size
    val r = gateCols.map(c => col(c).cast("long")).reduce(_ + _)
    // r17: the domain guard rides the SAME single-row aggregate as the
    // moments (guide §1.2) — one corpus pass instead of two
    val aggs = gateCols.zipWithIndex.map { case (c, i) =>
      sum(col(c).cast("long")).as(s"_c$i")
    } ++ Seq(count(lit(1)).as("n"),
      sum(r.cast(dec)).as("_t"),
      sum(r.cast(dec) * r).as("_sr2"),
      sum(when(gateCols.map(c =>
          col(c).isNull || (col(c) =!= 0L && col(c) =!= 1L)).reduce(_ || _),
        lit(1L)).otherwise(lit(0L))).as("_badn"))
    val row = df.agg(aggs.head, aggs.drop(1): _*)
      .pin // 1 row; guard + readout read the cache
    val offDomain = row.filter(col("_badn") > 0L).count()
    require(offDomain == 0L,
      s"cochranQ needs 0/1 gate values in ${gateCols.mkString(", ")} — " +
        "NULL or off-domain values would silently corrupt the row sums")
    val sumC2 = gateCols.indices.map(i =>
      col(s"_c$i").cast(dec) * col(s"_c$i")).reduce(_ + _)
    val num = (sumC2 * k - col("_t") * col("_t")) * (k - 1)
    val den = col("_t") * k - col("_sr2")
    row.select(col("n").as("n_docs"),
      lit(k.toLong).as("k_gates"), lit((k - 1).toLong).as("dof"),
      when(den <= 0, lit(0.0d))
        .otherwise(round(num.cast("double") / den.cast("double"), 6))
        .as("q_stat"))
  }

  /** MANTEL–HAENSZEL pooled odds ratio of a binary exposure → binary
    * outcome association ACROSS strata — the confounder-controlled
    * answer to "does the attribute actually move the gate, or is the
    * crude 2×2 a mixture artifact?": each stratum (source, language,
    * time bucket) contributes its own 2×2 table and
    * OR_MH = Σₖ(aₖdₖ∕nₖ) ∕ Σₖ(bₖcₖ∕nₖ) pools them — Simpson's-paradox
    * armor for per-source gate audits, where crude pooling can invert
    * the direction of the effect. One row per stratum
    * (stratum, n, expo_out, expo_noout, unexp_out, unexp_noout,
    * or_stratum) plus the pooled `or_mh` repeated.
    *
    * Determinism: all eight cell counts are exact integers from ONE
    * grouped aggregate; the two MH sums nano-quantize each stratum's
    * aₖdₖ∕nₖ and bₖcₖ∕nₖ to the 10⁻⁹ grid (counts are
    * stratum-bounded, the products fit long comfortably) and sum as
    * longs; per-stratum and pooled ORs are single fixed-order double
    * divisions — bit-replayable in DuckDB.
    *
    * Degenerate cases stay HONEST instead of silently finite:
    * or_stratum is NULL when bₖcₖ = 0 (division by zero — the stratum
    * still contributes its aₖdₖ∕nₖ to the pooled numerator, the
    * classical MH behavior), and or_mh is NULL when the pooled
    * denominator is zero. NULL stratum/exposure/outcome fail typed.
    *
    * Plan: one corpus-scale groupBy (map-side combined) to the
    * |strata|-bounded cell frame; everything after is bounded-frame
    * arithmetic + one broadcast 1-row pooled total. */
  def mantelHaenszel(df: DataFrame, stratumCol: String,
      exposureCol: String, outcomeCol: String): DataFrame = {
    val e = col(exposureCol).cast("boolean")
    val o = col(outcomeCol).cast("boolean")
    def cell(p: Column): Column =
      coalesce(sum(when(p, lit(1L)).otherwise(lit(0L))), lit(0L))
    // r17: guard fused into the stratum aggregate (guide §1.2) — a NULL
    // stratum is the null group key, NULL exposure/outcome a counted
    // flag; the check reads the pinned |strata|-bounded frame
    val cellsK = df.groupBy(col(stratumCol).as("stratum")).agg(
        cell(e && o).as("expo_out"), cell(e && !o).as("expo_noout"),
        cell(!e && o).as("unexp_out"), cell(!e && !o).as("unexp_noout"),
        count(lit(1)).as("n"),
        sum(when(col(exposureCol).isNull || col(outcomeCol).isNull,
          lit(1L)).otherwise(lit(0L))).as("_badn"))
      .pin // |strata|-bounded, read twice
    val nulls = cellsK.filter(col("stratum").isNull || col("_badn") > 0L)
      .limit(1).count()
    require(nulls == 0L, "mantelHaenszel needs non-NULL " +
      s"'$stratumCol'/'$exposureCol'/'$outcomeCol' — a NULL would " +
      "silently vanish from its 2×2 cell while counting nowhere")
    def d(c: String) = col(c).cast("double")
    val terms = cellsK.select(
      round(d("expo_out") * d("unexp_noout") / d("n") * 1e9d)
        .cast("long").as("_ad"),
      round(d("expo_noout") * d("unexp_out") / d("n") * 1e9d)
        .cast("long").as("_bc"))
      .agg(coalesce(sum(col("_ad")), lit(0L)).as("_sad"),
        coalesce(sum(col("_bc")), lit(0L)).as("_sbc"))
    cellsK.crossJoin(broadcast(terms))
      .select(col("stratum"), col("n"),
        col("expo_out"), col("expo_noout"),
        col("unexp_out"), col("unexp_noout"),
        when(col("expo_noout") * col("unexp_out") === 0L,
            lit(null).cast("double"))
          .otherwise(round(d("expo_out") * d("unexp_noout") /
            (d("expo_noout") * d("unexp_out")), 6)).as("or_stratum"),
        when(col("_sbc") === 0L, lit(null).cast("double"))
          .otherwise(round(col("_sad").cast("double") /
            col("_sbc").cast("double"), 6)).as("or_mh"))
      .orderBy(col("stratum"))
  }

  /** PERMUTATION-TEST drift p-values per group with
    * BENJAMINI–HOCHBERG FDR control across the group grid — the
    * multiple-testing layer the per-source drift readouts
    * ([[ksDistanceByGroup]], [[mannWhitney]]) stop short of: testing
    * every source re-tests the same hypothesis m times, so at α = 0.05
    * one in twenty stable sources WILL flag by chance; BH bounds the
    * expected false-discovery fraction at α across the whole grid.
    *
    * Per group: the observed statistic is |mean(score | cohort) −
    * mean(score | ¬cohort)|; the null is simulated by `b` deterministic
    * pseudo-relabelings (doc i, replicate r assigns to the first cohort
    * iff u(i,r)·n < n_A·2³², u = the first-8-hex-digit md5 integer —
    * the repo's seedless RNG device, so the "permutation" is an i.i.d.
    * relabeling at the observed rate: exchangeable under H₀, sizes
    * binomial rather than fixed, fully bit-replayable). The p-value is
    * the add-one estimate (1 + #{replicates ≥ observed}) ∕ (b + 1).
    *
    * Determinism: scores micro-quantize to the 10⁻⁶ grid; every
    * "replicate ≥ observed" comparison is EXACT on cross-multiplied
    * DECIMAL(38,0) integers (|sA·cB − sB·cA| · (coA·coB) vs the
    * observed mirror — no division ever happens); a replicate whose
    * pseudo-cohort is EMPTY counts as ≥ observed (the conservative
    * choice — an undefined mean must not shrink p). p-values compare
    * as integer numerators over the common denominator b+1, and the
    * BH cut is the integer inequality (1+geₖ)·m·αden ≤ k·αnum·(b+1)
    * evaluated on the p-sorted grid — no floats anywhere in the
    * decision path.
    *
    * One row per group: (group, n_a, n_b, d_obs, perm_ge, p_num,
    * p_den, p_rank, rejected), p-rank ascending. Plan: ONE
    * corpus×b-row explode (map-side combined straight down to the
    * (group, replicate)-bounded sum frame — the corpus is never
    * shuffled at the exploded width), then everything is bounded-frame
    * arithmetic; the BH scan is a |groups|-row window. NULLs fail
    * typed; a group with an empty observed cohort fails typed (its
    * observed mean is undefined — filter such groups first). */
  def permutationDriftBh(df: DataFrame, groupCol: String,
      cohortCol: String, scoreCol: String, idCol: String,
      b: Int = 200, alphaNum: Int = 1, alphaDen: Int = 20): DataFrame = {
    require(b >= 19 && b <= 10000, s"need 19 <= b <= 10000, got $b")
    require(alphaNum > 0 && alphaDen > 0 && alphaNum <= alphaDen,
      s"need a valid FDR level, got $alphaNum/$alphaDen")
    val dec = "decimal(38,0)"
    // r17: null guard fused into the observed aggregate (guide §1.2) —
    // a NULL group is the null key, NULL cohort/score/id a counted
    // flag; the check reads the pinned |groups|-bounded frame instead
    // of making its own pass over the corpus
    val base = df.select(col(groupCol).as("g"), col(idCol).as("_id"),
        col(cohortCol).cast("boolean").as("_in"),
        round(col(scoreCol).cast("double") * 1e6d).cast("long").as("_sm"),
        (col(cohortCol).isNull || col(scoreCol).isNull ||
          col(idCol).isNull).as("_badrow"))
      .pin // read 2×: observed + replicates
    val obs = base.groupBy(col("g")).agg(
      coalesce(sum(when(col("_in"), col("_sm"))), lit(0L)).as("_soa"),
      coalesce(sum(when(col("_in"), lit(1L)).otherwise(lit(0L))), lit(0L))
        .as("_coa"),
      coalesce(sum(when(!col("_in"), col("_sm"))), lit(0L)).as("_sob"),
      coalesce(sum(when(!col("_in"), lit(1L)).otherwise(lit(0L))), lit(0L))
        .as("_cob"),
      sum(when(col("_badrow"), lit(1L)).otherwise(lit(0L))).as("_badn"))
      .pin // |groups|-bounded, read 4×
    val nulls = obs.filter(col("g").isNull || col("_badn") > 0L)
      .limit(1).count()
    require(nulls == 0L, "permutationDriftBh needs non-NULL " +
      s"'$groupCol'/'$cohortCol'/'$scoreCol'/'$idCol'")
    val degenerate = obs.filter(col("_coa") === 0L || col("_cob") === 0L)
      .limit(1).count()
    require(degenerate == 0L, "permutationDriftBh: a group has an empty " +
      "observed cohort — its drift statistic is undefined; filter such " +
      "groups first")
    // replicates: md5-uniform relabeling at the group's observed rate
    val perm = base.join(obs.select(col("g"), col("_coa"),
        (col("_coa") + col("_cob")).as("_n")), Seq("g"))
      .select(col("g"), col("_id"), col("_sm"), col("_coa"), col("_n"),
        explode(sequence(lit(1), lit(b))).as("_r"))
      .withColumn("_u", conv(substring(
        md5(concat_ws(":", col("_id"), col("_r"))), 1, 8), 16, 10)
        .cast("long"))
      // DECIMAL cross-multiply: _u is a 32-bit uniform (≤ ~4.3e9), so
      // _u·n and _coa·2³² in plain long arithmetic would wrap past
      // ~2.1e9 rows per group — route both through decimal(38,0) like
      // every other cross-multiplied compare in this file
      .withColumn("_pa", col("_u").cast(dec) * col("_n") <
        col("_coa").cast(dec) * lit(4294967296L))
      .groupBy(col("g"), col("_r")).agg(
        coalesce(sum(when(col("_pa"), col("_sm"))), lit(0L)).as("_spa"),
        coalesce(sum(when(col("_pa"), lit(1L)).otherwise(lit(0L))), lit(0L))
          .as("_cpa"),
        coalesce(sum(when(!col("_pa"), col("_sm"))), lit(0L)).as("_spb"),
        coalesce(sum(when(!col("_pa"), lit(1L)).otherwise(lit(0L))), lit(0L))
          .as("_cpb"))
    // exact cross-multiplied compare: |spa/cpa − spb/cpb| ≥ |soa/coa − sob/cob|
    val ge = perm.join(obs, Seq("g"))
      .select(col("g"),
        when(col("_cpa") === 0L || col("_cpb") === 0L, lit(1L)) // conservative
          .otherwise(when(
            abs(col("_spa").cast(dec) * col("_cpb") -
              col("_spb").cast(dec) * col("_cpa")) *
              (col("_coa").cast(dec) * col("_cob")) >=
            abs(col("_soa").cast(dec) * col("_cob") -
              col("_sob").cast(dec) * col("_coa")) *
              (col("_cpa").cast(dec) * col("_cpb")), lit(1L))
            .otherwise(lit(0L))).as("_ge"))
      .groupBy(col("g")).agg(sum(col("_ge")).as("perm_ge"))
    val m = obs.count() // |groups|-bounded driver scalar
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("perm_ge"), col("g"))
    val wAll = org.apache.spark.sql.expressions.Window
      .orderBy(col("perm_ge"), col("g"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    def d(c: Column) = c.cast("double")
    obs.join(ge, Seq("g"))
      .withColumn("p_rank", row_number().over(w).cast("long"))
      // BH: reject ranks ≤ max{k : (1+ge₍ₖ₎)·m·αden ≤ k·αnum·(b+1)}
      .withColumn("_kmax", max(when(
        (lit(1L) + col("perm_ge")) * lit(m) * lit(alphaDen.toLong) <=
          col("p_rank") * lit(alphaNum.toLong) * lit((b + 1).toLong),
        col("p_rank"))).over(wAll))
      .select(col("g").as("group"),
        col("_coa").as("n_a"), col("_cob").as("n_b"),
        round(abs(d(col("_soa")) / d(col("_coa")) -
          d(col("_sob")) / d(col("_cob"))) / 1e6d, 6).as("d_obs"),
        col("perm_ge"),
        (lit(1L) + col("perm_ge")).as("p_num"),
        lit((b + 1).toLong).as("p_den"),
        col("p_rank"),
        (col("p_rank") <= coalesce(col("_kmax"), lit(0L))).as("rejected"))
      .orderBy(col("p_rank"))
  }

  /** CRONBACH'S ALPHA over a battery of 0/1 gate columns — the
    * internal-consistency number beside [[cochranQ]] (do the gates
    * DIFFER?) and [[fleissKappa]] (do they AGREE beyond chance?):
    * α = k∕(k−1) · (1 − Σᵢvar(gateᵢ)∕var(Σgates)) asks whether the
    * battery measures ONE underlying quality axis (α high — a combined
    * pass-count score is meaningful) or several unrelated ones (α low —
    * averaging the gates into one score destroys information).
    *
    * One row: (n_docs, k_gates, alpha). Determinism: with the n²
    * variance scaling (n·Σx² − (Σx)²) the common factor cancels in the
    * ratio, so both variance numerators are EXACT integers (DECIMAL
    * sums — row totals ≤ 64 keep Σt² well inside range) and α is one
    * fixed-order double expression rounded to 6 dp — bit-replayable.
    * A zero total variance (every doc has the same pass pattern sum)
    * reports 0.0, documented, never a division by zero. Off-domain or
    * NULL gate values fail typed (the [[cochranQ]] guard).
    *
    * Plan: ONE corpus-scale aggregate (map-side combined) carrying the
    * k per-gate (Σx, Σx²≡Σx for 0/1) sums and the row-total moments —
    * everything after is 1-row arithmetic. */
  def cronbachAlpha(df: DataFrame, gateCols: Seq[String]): DataFrame = {
    require(gateCols.size >= 2 && gateCols.size <= 64,
      s"need 2..64 gate columns, got ${gateCols.size}")
    require(gateCols.distinct.size == gateCols.size,
      "gate columns must be unique")
    val dec = "decimal(38,0)"
    val k = gateCols.size
    val t = gateCols.map(c => col(c).cast("long")).reduce(_ + _)
    // r17: the domain guard rides the SAME single-row aggregate as the
    // moments (guide §1.2) — one corpus pass instead of two
    val aggs = gateCols.zipWithIndex.map { case (c, i) =>
      sum(col(c).cast("long")).as(s"_c$i") // Σx = Σx² for 0/1 items
    } ++ Seq(count(lit(1)).as("n"),
      sum(t.cast(dec)).as("_t"),
      sum(t.cast(dec) * t).as("_st2"),
      sum(when(gateCols.map(c =>
          col(c).isNull || (col(c) =!= 0L && col(c) =!= 1L)).reduce(_ || _),
        lit(1L)).otherwise(lit(0L))).as("_badn"))
    val row = df.agg(aggs.head, aggs.drop(1): _*)
      .pin // 1 row; guard + readout read the cache
    val offDomain = row.filter(col("_badn") > 0L).count()
    require(offDomain == 0L,
      s"cronbachAlpha needs 0/1 gate values in ${gateCols.mkString(", ")} — " +
        "NULL or off-domain values would silently corrupt the variances")
    // n·Σx² − (Σx)² per item, summed; same scaling for the total — the
    // n² factor cancels in the ratio
    val itemVar = gateCols.indices.map(i =>
      col("n").cast(dec) * col(s"_c$i") -
        col(s"_c$i").cast(dec) * col(s"_c$i")).reduce(_ + _)
    val totVar = col("n").cast(dec) * col("_st2") - col("_t") * col("_t")
    row.select(col("n").as("n_docs"), lit(k.toLong).as("k_gates"),
      when(totVar <= 0, lit(0.0d))
        .otherwise(round(lit(k.toDouble / (k - 1).toDouble) *
          (lit(1.0d) - itemVar.cast("double") / totVar.cast("double")), 6))
        .as("alpha"))
  }

  /** STANDARDIZED MEAN DIFFERENCE covariate-balance audit between two
    * arms — the pre-flight check [[cupedLift]] assumes and experiment
    * reviews demand: for each covariate, SMD = (x̄_A − x̄_B) ∕
    * √((s²_A + s²_B)∕2) in pooled-SD units, the scale-free imbalance
    * number with the |SMD| < 0.1 rule of thumb. A covariate that fails
    * here confounds any raw lift readout on the same split.
    *
    * One row per covariate: (covariate, n_a, n_b, mean_a, mean_b, smd)
    * in the given column order. Determinism: values micro-quantize to
    * exact longs; per-arm moment sums run in DECIMAL; means and the
    * SMD are fixed-order double expressions rounded to 6 dp (micro
    * scales cancel between the gap and the pooled SD) — bit-replayable.
    * Sample (n−1) variances; a zero pooled variance reports NULL smd —
    * honest, not ±Infinity. Arms with < 2 rows fail typed (sample
    * variance undefined), as do NULL arms/values and a non-two-arm
    * column.
    *
    * Plan: ONE corpus-scale aggregate per covariate list (map-side
    * combined, k·arm cells) — everything after is bounded-frame
    * arithmetic; no joins, no windows. */
  def covariateBalance(df: DataFrame, armCol: String,
      covariates: Seq[String]): DataFrame = {
    require(covariates.nonEmpty && covariates.size <= 64,
      s"need 1..64 covariates, got ${covariates.size}")
    require(covariates.distinct.size == covariates.size,
      "covariates must be unique")
    // r17: the covariate null guard rides the moment aggregate below
    // (one pass saved); a NULL arm surfaces in the bounded distinct and
    // fails here with the same typed message
    val armRows = df.select(col(armCol)).distinct().orderBy(col(armCol))
      .limit(3).collect()
    require(armRows.forall(!_.isNullAt(0)),
      s"covariateBalance needs non-NULL '$armCol' and " +
        s"covariates ${covariates.mkString(", ")}")
    val arms = armRows.map(_.get(0))
    require(arms.length == 2,
      s"covariateBalance needs exactly 2 arms in '$armCol', got " +
        s"${arms.length}")
    val (armA, armB) = (arms(0), arms(1))
    val dec = "decimal(38,0)"
    def m(c: String) = round(col(c).cast("double") * 1e6d).cast("long")
    val aggs = covariates.zipWithIndex.flatMap { case (c, i) =>
      def side(tag: String, isArm: Column) = Seq(
        coalesce(sum(when(isArm, lit(1L)).otherwise(lit(0L))), lit(0L))
          .as(s"_n$tag$i"),
        coalesce(sum(when(isArm, m(c).cast(dec))), lit(0L).cast(dec))
          .as(s"_s$tag$i"),
        coalesce(sum(when(isArm, m(c).cast(dec) * m(c))), lit(0L).cast(dec))
          .as(s"_q$tag$i"))
      side("a", col(armCol) === lit(armA)) ++
        side("b", col(armCol) === lit(armB))
    } :+ sum(when(covariates.map(col(_).isNull).reduce(_ || _), lit(1L))
      .otherwise(lit(0L))).as("_badn")
    val row = df.agg(aggs.head, aggs.drop(1): _*).pin
    require(row.filter(col("_badn") > 0L).isEmpty,
      s"covariateBalance needs non-NULL '$armCol' and " +
        s"covariates ${covariates.mkString(", ")}")
    val small = covariates.indices
      .map(i => col(s"_na$i") < 2L || col(s"_nb$i") < 2L).reduce(_ || _)
    require(row.filter(small).isEmpty,
      "covariateBalance: an arm has < 2 rows — sample variance undefined")
    val perCov = covariates.zipWithIndex.map { case (c, i) =>
      def d(n: String) = col(n).cast("double")
      def varS(tag: String) =
        (d(s"_q$tag$i") - d(s"_s$tag$i") * d(s"_s$tag$i") / d(s"_n$tag$i")) /
          (d(s"_n$tag$i") - lit(1.0d))
      val gap = d(s"_sa$i") / d(s"_na$i") - d(s"_sb$i") / d(s"_nb$i")
      val pooled = (varS("a") + varS("b")) / lit(2.0d)
      row.select(lit(c).as("covariate"),
        col(s"_na$i").as("n_a"), col(s"_nb$i").as("n_b"),
        round(d(s"_sa$i") / d(s"_na$i") / 1e6d, 6).as("mean_a"),
        round(d(s"_sb$i") / d(s"_nb$i") / 1e6d, 6).as("mean_b"),
        when(pooled <= lit(0.0d), lit(null).cast("double"))
          .otherwise(round(gap / sqrt(pooled), 6)).as("smd"))
    }
    perCov.reduce(_ unionAll _)
  }

  /** TWO-SAMPLE POWER ANALYSIS at the observed effect — "how many
    * units per arm would the NEXT experiment need to detect the lift
    * this one showed, at α = 0.05 two-sided with 80% power?" The
    * normal-approximation sizing n = 2s²(z_{α∕2} + z_β)² ∕ δ² with s²
    * the pooled sample variance and δ the observed mean gap — the
    * honest planning follow-up to an underpowered [[cupedLift]]
    * readout (a "null" result with n_required ≫ n is an undersized
    * experiment, not evidence of no effect).
    *
    * One row: (n_a, n_b, mean_a, mean_b, delta, sd_pooled,
    * n_required). The z constants are fixed double LITERALS
    * (1.959964, 0.841621) — quantiles baked in, no transcendental
    * inverse-CDF whose last ulp could differ across engines.
    *
    * Determinism: micro-quantized values, exact DECIMAL moments,
    * fixed-order double arithmetic (micro scales cancel between s²
    * and δ²), one final `ceil` to a long — bit-replayable. δ = 0
    * reports NULL n_required (no finite experiment detects a zero
    * effect); zero pooled variance with δ > 0 reports n_required = 0…
    * strictly, the formula gives 0, kept as the honest limit. Typed
    * failures: NULL arm/value, ≠ 2 arms, an arm with < 2 rows.
    *
    * Plan: ONE corpus-scale aggregate (map-side combined), then 1-row
    * arithmetic — the [[covariateBalance]] shape for a single
    * covariate. */
  def powerAnalysis(df: DataFrame, armCol: String, yCol: String,
      zAlpha: Double = 1.959964d, zBeta: Double = 0.841621d): DataFrame = {
    require(zAlpha > 0.0d && zBeta >= 0.0d,
      s"need z_alpha > 0 and z_beta >= 0, got $zAlpha/$zBeta")
    // r17: the y null guard rides the moment aggregate below (one pass
    // saved); a NULL arm surfaces in the bounded distinct and fails
    // here with the same typed message
    val armRows = df.select(col(armCol)).distinct().orderBy(col(armCol))
      .limit(3).collect()
    require(armRows.forall(!_.isNullAt(0)),
      s"powerAnalysis needs non-NULL '$armCol'/'$yCol'")
    val arms = armRows.map(_.get(0))
    require(arms.length == 2,
      s"powerAnalysis needs exactly 2 arms in '$armCol', got ${arms.length}")
    val dec = "decimal(38,0)"
    def m = round(col(yCol).cast("double") * 1e6d).cast("long")
    def side(tag: String, isArm: Column) = Seq(
      coalesce(sum(when(isArm, lit(1L)).otherwise(lit(0L))), lit(0L))
        .as(s"_n$tag"),
      coalesce(sum(when(isArm, m.cast(dec))), lit(0L).cast(dec))
        .as(s"_s$tag"),
      coalesce(sum(when(isArm, m.cast(dec) * m)), lit(0L).cast(dec))
        .as(s"_q$tag"))
    val aggs = side("a", col(armCol) === lit(arms(0))) ++
      side("b", col(armCol) === lit(arms(1))) :+
      sum(when(col(yCol).isNull, lit(1L)).otherwise(lit(0L))).as("_badn")
    val row = df.agg(aggs.head, aggs.drop(1): _*).pin
    require(row.filter(col("_badn") > 0L).isEmpty,
      s"powerAnalysis needs non-NULL '$armCol'/'$yCol'")
    require(row.filter(col("_na") < 2L || col("_nb") < 2L).isEmpty,
      "powerAnalysis: an arm has < 2 rows — sample variance undefined")
    def d(c: String) = col(c).cast("double")
    def varS(tag: String) =
      (d(s"_q$tag") - d(s"_s$tag") * d(s"_s$tag") / d(s"_n$tag")) /
        (d(s"_n$tag") - lit(1.0d))
    // pooled s² = ((na−1)s²a + (nb−1)s²b) / (na+nb−2), in micro² units
    val pooled = ((d("_na") - lit(1.0d)) * varS("a") +
      (d("_nb") - lit(1.0d)) * varS("b")) /
      (d("_na") + d("_nb") - lit(2.0d))
    val delta = abs(d("_sa") / d("_na") - d("_sb") / d("_nb"))
    val z2 = lit((zAlpha + zBeta) * (zAlpha + zBeta))
    row.select(col("_na").as("n_a"), col("_nb").as("n_b"),
      round(d("_sa") / d("_na") / 1e6d, 6).as("mean_a"),
      round(d("_sb") / d("_nb") / 1e6d, 6).as("mean_b"),
      round(delta / 1e6d, 6).as("delta"),
      round(sqrt(greatest(pooled, lit(0.0d))) / 1e6d, 6).as("sd_pooled"),
      when(delta === lit(0.0d), lit(null).cast("long"))
        .otherwise(ceil(lit(2.0d) * greatest(pooled, lit(0.0d)) * z2 /
          (delta * delta)).cast("long")).as("n_required"))
  }

  /** Two-sample KS test WITH the asymptotic p-value — [[ksDistance]]
    * plus the number a gate can actually act on: the Kolmogorov
    * Q(λ) = 2 Σ_{j≥1} (−1)^{j−1} e^{−2j²λ²} survival probability at
    * λ = √(n_a·n_b∕(n_a+n_b))·D, truncated at j = 100 (terms decay as
    * e^{−2λ²j²}; at any λ > 0 the tail past 100 is below the pico
    * grid). One row: (n_a, n_b, d, d_at, lambda, p_value).
    *
    * Determinism: D's numerator is the exact integer cross-multiplied
    * sup (the [[ksDistance]] device); λ is one fixed-order double
    * expression on those integers; each series term pico-quantizes to
    * a long and the 100-term sum is integer (order-free); p clamps to
    * [0, 1] (the truncated alternating series can overshoot 1 by a
    * hair at small λ, documented). D = 0 reports p = 1 exactly — the
    * λ = 0 series does not converge and identical samples ARE the
    * null. NULL scores and empty sides fail typed.
    *
    * Plan: [[ksDistance]]'s two grid aggregates + bounded-grid
    * window, then a 1-row × 100 literal explode — never a join. */
  def ksTest(predA: DataFrame, predB: DataFrame,
      confCol: String): DataFrame = {
    val row = ksSup("ksTest", predA, predB, confCol)
      .pin // 1 row, read by the series explode
    def d(c: String) = col(c).cast("double")
    val lam = sqrt(d("n_a") * d("n_b") / (d("n_a") + d("n_b"))) *
      (d("_dm") / (d("n_a") * d("n_b")))
    row.withColumn("_lam", lam)
      .select(col("*"), explode(expr("sequence(1, 100)")).as("_j"))
      .withColumn("_t",
        (when(pmod(col("_j"), lit(2)) === 1, 1L).otherwise(-1L)) *
          round(exp(lit(-2.0d) * (col("_j") * col("_j")).cast("double") *
            col("_lam") * col("_lam")) * 1e12d).cast("long"))
      .groupBy(col("n_a"), col("n_b"), col("_dm"), col("_at"), col("_lam"))
      .agg(sum(col("_t")).as("_ps"))
      .select(col("n_a"), col("n_b"),
        round(d("_dm") / (d("n_a") * d("n_b")), 6).as("d"),
        round(d("_at") / 1e6d, 6).as("d_at"),
        round(col("_lam"), 6).as("lambda"),
        when(col("_dm") === 0L, lit(1.0d))
          .otherwise(greatest(least(
            round(d("_ps") * 2.0d / 1e12d, 6), lit(1.0d)), lit(0.0d)))
          .as("p_value"))
  }

  /** HELLINGER distance of each group's score histogram from the
    * corpus — the bounded-[0, 1] geometry-honest drift number beside
    * PSI (q200: unbounded, blows up on empty bins) and per-group KS
    * (q237: sup-only): BC = Σ√(p_b·q_b) and H = √(1−BC) over fixed
    * equal-width bins, zero-count bins contributing exactly 0 with
    * no smoothing to argue about. One row per group:
    * (group, n, bc, hellinger).
    *
    * Determinism: bin counts are exact integers ((cm·bins) div 10⁶,
    * capped — the calibration binning); each bin's √(p·q) is ONE
    * fixed-order double nano-quantized to a long, so the per-group
    * sum is an order-free integer; BC clamps at 1 (quantization can
    * overshoot by a hair, documented) and H = √(1−BC). NULL
    * groups/scores and off-range scores fail typed.
    *
    * Plan: one corpus groupBy to (group × bins) cells, one
    * bins-sized global re-aggregate broadcast back, one group-sized
    * aggregate. */
  def hellingerByGroup(df: DataFrame, groupCol: String, confCol: String,
      bins: Int = 20): DataFrame = {
    require(bins >= 2 && bins <= 1000, s"need 2 <= bins <= 1000, got $bins")
    // r17: guard fused into the (group × bin) aggregate (guide §1.2) —
    // the check reads the pinned cell frame, not the corpus
    val offCond = col(confCol).isNull ||
      col(confCol) < 0.0d || col(confCol) > 1.0d
    val cells = df
      .withColumn("_cm", round(col(confCol).cast("double") * 1e6d)
        .cast("long"))
      .withColumn("_bin",
        least(expr(s"(_cm * $bins) div 1000000"), lit(bins - 1L))
          .cast("long"))
      .groupBy(col(groupCol).as("group"), col("_bin"))
      .agg(count(lit(1)).as("_c"),
        sum(when(offCond, lit(1L)).otherwise(lit(0L))).as("_bad"))
      .pin // (groups x bins)-sized, read twice
    val bad = cells.filter(col("group").isNull || col("_bad") > 0L)
      .limit(1).count()
    require(bad == 0L, s"hellingerByGroup needs non-NULL '$groupCol' " +
      s"and '$confCol' scores in [0, 1]")
    val glob = cells.groupBy(col("_bin")).agg(sum(col("_c")).as("_g"))
    val tot = glob.agg(sum(col("_g")).as("_N"))
    val marg = cells.groupBy(col("group")).agg(sum(col("_c")).as("n"))
    def d(c: String) = col(c).cast("double")
    cells.join(glob, Seq("_bin")).join(marg, Seq("group"))
      .crossJoin(broadcast(tot))
      .withColumn("_t", round(sqrt(d("_c") * d("_g") /
        (d("n") * d("_N"))) * 1e9d).cast("long"))
      .groupBy(col("group"), col("n"))
      .agg(sum(col("_t")).as("_bc9"))
      .select(col("group"), col("n"),
        round(least(d("_bc9") / 1e9d, lit(1.0d)), 6).as("bc"),
        round(sqrt(greatest(lit(1.0d) - least(d("_bc9") / 1e9d, lit(1.0d)),
          lit(0.0d))), 6).as("hellinger"))
      .orderBy(col("group"))
  }

  /** Two-sample CRAMÉR–VON MISES statistic — the whole-CDF companion
    * of [[ksDistance]]: KS sees only the single worst gap, so a
    * distribution that drifts a LITTLE EVERYWHERE (the typical slow
    * quality rot) can hide under a modest sup while its integrated
    * squared gap T = nm∕N² Σ c_x·(F_A − F_B)² is already loud. One
    * row: (n_a, n_b, t, mean_h0, reject_05) — mean_h0 = (1+1∕N)∕6 is
    * the exact null expectation, and reject_05 compares T against
    * the ASYMPTOTIC 5% point 0.46136 (documented — the classical
    * criterion, not a finite-sample table).
    *
    * Determinism: the integer cross-multiplied CDF device — each
    * term c·(C_A·m − C_B·n)² is an exact DECIMAL integer, the sum is
    * exact, and ONE final division by nm·N² ends the path. NULL
    * scores and empty sides fail typed.
    *
    * Plan: two map-side-combined grid aggregates, one full-outer
    * grid join, one bounded-grid window, ONE final aggregate. */
  def cramerVonMises(predA: DataFrame, predB: DataFrame,
      confCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val cum = twoSampleCdf("cramerVonMises", predA, predB, confCol)
    val tot = cum.agg(max(col("_ca")).as("_ta"), max(col("_cb")).as("_tb"))
    def d(c: String) = col(c).cast("double")
    val agg = cum.crossJoin(broadcast(tot))
      .withColumn("_dn", col("_ca").cast(dec) * col("_tb") -
        col("_cb").cast(dec) * col("_ta"))
      .agg(first(col("_ta")).as("n_a"), first(col("_tb")).as("n_b"),
        sum((col("_na") + col("_nb")).cast(dec) * col("_dn") * col("_dn"))
          .as("_ssq"))
    val nm = d("n_a") * d("n_b")
    val nn = d("n_a") + d("n_b")
    val t = d("_ssq") / (nm * nn * nn)
    agg.select(col("n_a"), col("n_b"),
      round(t, 6).as("t"),
      round((lit(1.0d) + lit(1.0d) / nn) / 6.0d, 6).as("mean_h0"),
      when(t > 0.46136d, 1L).otherwise(0L).as("reject_05"))
  }

  /** KRUSKAL–WALLIS H test across ALL groups at once — the k-sample
    * extension of [[mannWhitney]]: does the score distribution differ
    * across ANY of the sources, before drilling into pairwise drift?
    * The one-shot omnibus gate that caps the q243 multiple-testing
    * funnel: run pairwise tests only when this rejects. One row:
    * (n, k_groups, dof, h, tie_c, h_adj) with
    * H = 12∕(N(N+1)) Σ R̄ terms − 3(N+1), the tie correction
    * C = 1 − Σ(t³−t)∕(N³−N) and h_adj = H∕C (χ²_{k−1} under the null).
    *
    * Determinism: scores micro-quantize to the integer grid; average
    * ranks ride as the INTEGER doubled rank 2R̄ = 2·cumBefore + t + 1,
    * so each group's rank sum R2_g is an exact DECIMAL; each
    * Σ R2_g²∕n_g splits into an exact integer quotient (DECIMAL
    * div/mod) plus a nano-quantized remainder ratio, so the
    * cross-group sum is order-free integer arithmetic; H is one
    * fixed-order double expression on those integers. All scores
    * identical → C = 0 → h_adj NULL, documented. NULL groups/scores
    * and k < 2 fail typed.
    *
    * Plan: one corpus groupBy to the (group × score)-grid, one
    * bounded-grid window for global ranks, one grid join, ONE final
    * aggregate — never a data-sized sort. */
  def kruskalWallis(df: DataFrame, groupCol: String,
      confCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    // r17: null guard + group count fused into ONE job over the pinned
    // grid (null group/score surface as null keys; was a corpus guard
    // pass plus a separate distinct-count job)
    val gg = df.select(col(groupCol).as("_g"),
        round(col(confCol).cast("double") * 1e6d).cast("long").as("_sm"))
      .groupBy(col("_g"), col("_sm")).agg(count(lit(1)).as("_c"))
      .pin // grid-bounded, read three times
    val chk = gg.agg(
      sum(when(col("_g").isNull || col("_sm").isNull, lit(1L))
        .otherwise(lit(0L))).as("_nb"),
      countDistinct(col("_g")).as("_k")).head()
    require(chk.isNullAt(0) || chk.getLong(0) == 0L,
      s"kruskalWallis needs non-NULL '$groupCol'/'$confCol'")
    val k = chk.getLong(1)
    require(k >= 2L, s"kruskalWallis needs >= 2 groups, got $k")
    val glob = gg.groupBy(col("_sm")).agg(sum(col("_c")).as("_t"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("_sm"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val ranked = glob
      .withColumn("_r2",
        lit(2L) * coalesce(sum(col("_t")).over(w), lit(0L)) +
          col("_t") + lit(1L))
    val per = gg.join(ranked.select(col("_sm"), col("_r2")), Seq("_sm"))
      .groupBy(col("_g"))
      .agg(sum(col("_c")).as("_n"),
        sum(col("_c").cast(dec) * col("_r2")).as("_R2"))
      .withColumn("_sq", col("_R2") * col("_R2"))
      .withColumn("_r", expr("cast(_sq % cast(_n as decimal(38,0)) as long)"))
      .withColumn("_q", expr(
        "cast((_sq - _r) / cast(_n as decimal(38,0)) as decimal(38,0))"))
      .withColumn("_f", round(col("_r").cast("double") /
        col("_n").cast("double") * 1e9d).cast("long"))
    val ties = glob.agg(
      sum(col("_t").cast(dec) * col("_t") * col("_t") -
        col("_t").cast(dec)).as("_tc")).pin
    def d(c: String) = col(c).cast("double")
    per.agg(sum(col("_n")).as("n"), count(lit(1)).as("k_groups"),
        sum(col("_q").cast(dec)).as("_Q"), sum(col("_f")).as("_F"))
      .crossJoin(broadcast(ties))
      .select(col("n"), col("k_groups"),
        (col("k_groups") - lit(1L)).as("dof"),
        round((d("_Q") + d("_F") / 1e9d) * 3.0d /
          (d("n") * (d("n") + 1.0d)) -
          (d("n") + 1.0d) * 3.0d, 6).as("h"),
        round(lit(1.0d) - d("_tc") /
          (d("n") * d("n") * d("n") - d("n")), 6).as("tie_c"),
        when(d("_tc") < d("n") * d("n") * d("n") - d("n"),
          round(((d("_Q") + d("_F") / 1e9d) * 3.0d /
            (d("n") * (d("n") + 1.0d)) -
            (d("n") + 1.0d) * 3.0d) /
            (lit(1.0d) - d("_tc") /
              (d("n") * d("n") * d("n") - d("n"))), 6))
          .otherwise(lit(null).cast("double")).as("h_adj"))
  }

  /** BROWN–FORSYTHE variance-homogeneity test across groups — the
    * robust (median-centred) Levene: do sources differ in score
    * SPREAD even when their centres agree? The dispersion complement
    * of [[kruskalWallis]] (which detects location shifts): a source
    * whose classifier scores fan out signals a mixed-quality crawl
    * even at the same mean. One-way ANOVA F on the absolute deviations
    * z = |x − med_g| from each group's EXACT LOWER MEDIAN (order
    * statistic at rank ⌈n∕2⌉ — the engine-portable median convention
    * used by the robust outlier stats, documented). One row:
    * (n, k_groups, dof1, dof2, ssb, ssw, f).
    *
    * Determinism: scores micro-quantize, so every z is an exact
    * integer; per-group (n, Σz, Σz²) are exact DECIMAL; both
    * Σ S_g²∕n_g terms split into exact DECIMAL quotients plus
    * nano-quantized remainder ratios (the [[kruskalWallis]] device),
    * making the cross-group sums order-free; SSB/SSW/F are fixed-order
    * double expressions, reported in original score² units (∕10¹²).
    * Zero within-group variation reports NULL f, documented. NULL
    * inputs, k < 2 and N ≤ k fail typed.
    *
    * Plan: one corpus groupBy to the (group × score)-grid, one
    * grid-bounded window PARTITIONED by group for the median, one
    * grid join, ONE final aggregate. */
  def brownForsythe(df: DataFrame, groupCol: String,
      confCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    // r17: null guard reads the pinned grid (null group/score surface
    // as null keys) instead of making its own corpus pass
    val gg = df.select(col(groupCol).as("_g"),
        round(col(confCol).cast("double") * 1e6d).cast("long").as("_sm"))
      .groupBy(col("_g"), col("_sm")).agg(count(lit(1)).as("_c"))
      .pin // grid-bounded, read three times
    val nulls = gg.filter(col("_g").isNull || col("_sm").isNull)
      .limit(1).count()
    require(nulls == 0L,
      s"brownForsythe needs non-NULL '$groupCol'/'$confCol'")
    val wg = org.apache.spark.sql.expressions.Window.partitionBy(col("_g"))
      .orderBy(col("_sm"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = gg.withColumn("_cum", sum(col("_c")).over(wg))
    val tot = gg.groupBy(col("_g")).agg(sum(col("_c")).as("_ng"))
    val med = cum.join(tot, Seq("_g"))
      .filter(col("_cum") * 2L >= col("_ng"))
      .groupBy(col("_g")).agg(min(col("_sm")).as("_med"))
    val k = med.count()
    require(k >= 2L, s"brownForsythe needs >= 2 groups, got $k")
    val per = gg.join(med, Seq("_g"))
      .withColumn("_z", abs(col("_sm") - col("_med")))
      .groupBy(col("_g"))
      .agg(sum(col("_c")).as("_n"),
        sum(col("_c").cast(dec) * col("_z")).as("_S"),
        sum(col("_c").cast(dec) * col("_z") * col("_z")).as("_Qz"))
      .withColumn("_sq", col("_S") * col("_S"))
      .withColumn("_r", expr("cast(_sq % cast(_n as decimal(38,0)) as long)"))
      .withColumn("_q", expr(
        "cast((_sq - _r) / cast(_n as decimal(38,0)) as decimal(38,0))"))
      .withColumn("_f", round(col("_r").cast("double") /
        col("_n").cast("double") * 1e9d).cast("long"))
    val agg = per.agg(sum(col("_n")).as("n"), count(lit(1)).as("k_groups"),
        sum(col("_S")).as("_St"), sum(col("_Qz")).as("_Qt"),
        sum(col("_q")).as("_Qn"), sum(col("_f")).as("_Fn"))
      .withColumn("_sqt", col("_St") * col("_St"))
      .withColumn("_rt", expr("cast(_sqt % cast(n as decimal(38,0)) as long)"))
      .withColumn("_qt2", expr(
        "cast((_sqt - _rt) / cast(n as decimal(38,0)) as decimal(38,0))"))
      .withColumn("_ft", round(col("_rt").cast("double") /
        col("n").cast("double") * 1e9d).cast("long"))
      .pin // 1 row, read twice (guard + output)
    require(agg.filter(col("n") > col("k_groups")).limit(1).count() == 1L,
      "brownForsythe needs N > k rows for a within-group dof")
    def d(c: String) = col(c).cast("double")
    val between = (d("_Qn") + d("_Fn") / 1e9d) -
      (d("_qt2") + d("_ft") / 1e9d)
    val within = d("_Qt") - (d("_Qn") + d("_Fn") / 1e9d)
    agg.select(col("n"), col("k_groups"),
      (col("k_groups") - lit(1L)).as("dof1"),
      (col("n") - col("k_groups")).as("dof2"),
      round(between / 1e12d, 6).as("ssb"),
      round(within / 1e12d, 6).as("ssw"),
      when(within > 0.0d,
        round((between / (d("k_groups") - 1.0d)) /
          (within / (d("n") - d("k_groups"))), 6))
        .otherwise(lit(null).cast("double")).as("f"))
  }

  /** COCHRAN–ARMITAGE trend test — does a binary gate's pass rate
    * TREND across ordered buckets (length deciles, date cohorts,
    * quality tiers), not merely differ somewhere ([[chiSquare]]
    * answers that weaker question with more degrees of freedom)?
    * Scores are the bucket values themselves (documented — equally
    * spaced buckets give the classical linear scores). The
    * no-continuity-correction z with Var(T) = p(1−p)(Σnw² − (Σnw)²∕N)
    * — ONE formula, documented, so both engines agree. One row:
    * (n, r, k_buckets, t_stat, var_t, z).
    *
    * Determinism: T and Var clear denominators to the exact DECIMAL
    * integers A = N·Σwr − R·Σwn and B = R(N−R)(N·Σnw² − (Σnw)²);
    * t_stat = A∕N, var_t = B∕N³ and z = (A∕N)∕√(B∕N³) are fixed-order
    * double ratios, 6 dp. B = 0 (one bucket, or p ∈ {0, 1}) → NULL z,
    * documented. NULL buckets/labels and off-domain labels fail
    * typed.
    *
    * Plan: ONE map-side-combined groupBy to the buckets-sized grid,
    * one grid aggregate, 1-row arithmetic. */
  def cochranArmitage(df: DataFrame, bucketCol: String,
      labelCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    // r17: guard fused into the bucket aggregate (guide §1.2) — a NULL
    // bucket is the null group key, bad labels a counted flag; the
    // check reads the pinned 1-row moment frame, not the corpus
    val badCond = col(bucketCol).isNull || col(labelCol).isNull ||
      (col(labelCol) =!= 0L && col(labelCol) =!= 1L)
    val g = df.select(col(bucketCol).cast("long").as("_w"),
        col(labelCol).cast("long").as("_y"), badCond.as("_badrow"))
      .groupBy(col("_w"))
      .agg(count(lit(1)).as("_n"), sum(col("_y")).as("_r"),
        sum(when(col("_badrow"), lit(1L)).otherwise(lit(0L))).as("_bad"))
    val agg = g.agg(
      sum(col("_n")).as("n"), sum(col("_r")).as("r"),
      count(lit(1)).as("k_buckets"),
      sum(col("_w").cast(dec) * col("_r")).as("_swr"),
      sum(col("_w").cast(dec) * col("_n")).as("_swn"),
      sum(col("_w").cast(dec) * col("_w") * col("_n")).as("_swwn"),
      sum(col("_bad")).as("_badn"))
      .pin // 1 row; guard + readout read the cache
    val bad = agg.filter(col("_badn") > 0L).count()
    require(bad == 0L, "cochranArmitage needs non-NULL buckets and " +
      s"0/1 labels in '$bucketCol'/'$labelCol'")
    def d(c: Column) = c.cast("double")
    val a = col("n").cast(dec) * col("_swr") - col("r").cast(dec) * col("_swn")
    val b = col("r").cast(dec) * (col("n") - col("r")) *
      (col("n").cast(dec) * col("_swwn") - col("_swn") * col("_swn"))
    val nd = d(col("n"))
    agg.withColumn("_a", a).withColumn("_b", b)
      .select(col("n"), col("r"), col("k_buckets"),
        round(d(col("_a")) / nd, 6).as("t_stat"),
        round(d(col("_b")) / (nd * nd * nd), 6).as("var_t"),
        when(col("_b") > 0L,
          round((d(col("_a")) / nd) /
            sqrt(d(col("_b")) / (nd * nd * nd)), 6))
          .otherwise(lit(null).cast("double")).as("z"))
  }

  /** WILSON score interval per group — the per-proportion error bar
    * the keep-rate tables need: unlike the Wald ±z√(p(1−p)∕n)
    * interval it never leaves [0, 1], stays honest at p near 0∕1 and
    * small n (exactly where curation gate rates live), and needs no
    * resampling ([[graft.ops.Sampling.jackknifeRate]] is the
    * cluster-robust cousin; Wilson is the iid per-group classic).
    * One row per group: (group, n, r, rate, lo95, hi95).
    *
    * Determinism: counts exact integers from ONE groupBy; the
    * centre/half-width are fixed-order double expressions with the
    * z quantile a baked literal, 6 dp. NULL groups/labels and
    * off-domain labels fail typed.
    *
    * Plan: one map-side-combined groupBy, groups-sized arithmetic. */
  def wilsonInterval(df: DataFrame, groupCol: String, labelCol: String,
      zCrit: Double = 1.959964d): DataFrame = {
    require(zCrit > 0.0d, s"need zCrit > 0, got $zCrit")
    // r17: guard fused into the group aggregate (guide §1.2) — the
    // check reads the pinned groups-sized frame, not the corpus
    val badCond = col(labelCol).isNull ||
      (col(labelCol) =!= 0L && col(labelCol) =!= 1L)
    val g = df.select(col(groupCol).as("group"),
        col(labelCol).cast("long").as("_y"), badCond.as("_badrow"))
      .groupBy(col("group"))
      .agg(count(lit(1)).as("n"), sum(col("_y")).as("r"),
        sum(when(col("_badrow"), lit(1L)).otherwise(lit(0L))).as("_bad"))
      .pin // groups-sized; guard + readout read the cache
    val bad = g.filter(col("group").isNull || col("_bad") > 0L).count()
    require(bad == 0L, s"wilsonInterval needs non-NULL '$groupCol' and " +
      s"0/1 labels in '$labelCol'")
    def d(c: String) = col(c).cast("double")
    val z2 = zCrit * zCrit
    val p = d("r") / d("n")
    val den = lit(1.0d) + lit(z2) / d("n")
    val center = (p + lit(z2) / (d("n") * 2.0d)) / den
    val half = (lit(zCrit) / den) *
      sqrt(p * (lit(1.0d) - p) / d("n") +
        lit(z2) / (d("n") * d("n") * 4.0d))
    g.select(col("group"), col("n"), col("r"),
        round(p, 6).as("rate"),
        round(center - half, 6).as("lo95"),
        round(center + half, 6).as("hi95"))
      .orderBy(col("group"))
  }

  /** PARTIAL CORRELATION r(x, y ∣ z) — the confounder-controlled
    * association the raw Pearson can't give: "is the classifier score
    * related to the gate label BEYOND what document length explains?"
    * Computed from the three pairwise Pearsons via
    * (r_xy − r_xz·r_yz) ∕ √((1−r_xz²)(1−r_yz²)) — the first-order
    * partial, the workhorse confound check before anyone claims a
    * quality model adds signal over a length heuristic. One row:
    * (n, r_xy, r_xz, r_yz, r_partial).
    *
    * Determinism: all three variables micro-quantize to integer
    * grids; every moment is an exact DECIMAL sum from ONE corpus
    * aggregate; each Pearson and the partial are fixed-order double
    * expressions on those integers, 6 dp. A zero-variance variable
    * fails typed (no correlation is defined); |r_xz| = 1 or
    * |r_yz| = 1 (z collinear with a margin) reports NULL r_partial,
    * documented.
    *
    * Plan: ONE map-side-combined corpus aggregate (9 DECIMAL sums),
    * 1-row arithmetic. */
  def partialCorrelation(df: DataFrame, xCol: String, yCol: String,
      zCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    // r17: null guard rides the SAME single-row moment aggregate
    // (guide §1.2) — one corpus pass instead of two
    def m(c: String) = round(col(c).cast("double") * 1e6d).cast("long")
    val agg = df.select(m(xCol).as("_x"), m(yCol).as("_y"), m(zCol).as("_z"),
        (col(xCol).isNull || col(yCol).isNull || col(zCol).isNull)
          .as("_badrow"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("_badrow"), lit(1L)).otherwise(lit(0L))).as("_badn"),
        sum(col("_x").cast(dec)).as("_sx"),
        sum(col("_y").cast(dec)).as("_sy"),
        sum(col("_z").cast(dec)).as("_sz"),
        sum(col("_x").cast(dec) * col("_x")).as("_sxx"),
        sum(col("_y").cast(dec) * col("_y")).as("_syy"),
        sum(col("_z").cast(dec) * col("_z")).as("_szz"),
        sum(col("_x").cast(dec) * col("_y")).as("_sxy"),
        sum(col("_x").cast(dec) * col("_z")).as("_sxz"),
        sum(col("_y").cast(dec) * col("_z")).as("_syz"))
      .pin // 1 row, read twice (guard + output)
    val bad = agg.filter(col("_badn") > 0L).limit(1).count()
    require(bad == 0L,
      s"partialCorrelation needs non-NULL '$xCol'/'$yCol'/'$zCol'")
    def d(c: String) = col(c).cast("double")
    def cov(sab: String, sa: String, sb: String) =
      d("n") * d(sab) - d(sa) * d(sb)
    def varOf(saa: String, sa: String) = d("n") * d(saa) - d(sa) * d(sa)
    require(agg.filter(col("n") >= 2L).limit(1).count() == 1L,
      "partialCorrelation needs >= 2 rows")
    val zeroVar = agg.filter(
      varOf("_sxx", "_sx") === 0.0d || varOf("_syy", "_sy") === 0.0d ||
        varOf("_szz", "_sz") === 0.0d).limit(1).count()
    require(zeroVar == 0L, "partialCorrelation: a zero-variance " +
      "variable has no defined correlation — drop or fix it first")
    val rxy = cov("_sxy", "_sx", "_sy") /
      sqrt(varOf("_sxx", "_sx") * varOf("_syy", "_sy"))
    val rxz = cov("_sxz", "_sx", "_sz") /
      sqrt(varOf("_sxx", "_sx") * varOf("_szz", "_sz"))
    val ryz = cov("_syz", "_sy", "_sz") /
      sqrt(varOf("_syy", "_sy") * varOf("_szz", "_sz"))
    val den = (lit(1.0d) - rxz * rxz) * (lit(1.0d) - ryz * ryz)
    agg.select(col("n"),
      round(rxy, 6).as("r_xy"),
      round(rxz, 6).as("r_xz"),
      round(ryz, 6).as("r_yz"),
      when(den > 0.0d,
        round((rxy - rxz * ryz) / sqrt(den), 6))
        .otherwise(lit(null).cast("double")).as("r_partial"))
  }

  /** JARQUE–BERA normality readout per group (Jarque & Bera 1980) —
    * the distribution-shape audit next to [[ksDistance]]'s two-sample
    * drift: the per-hour z gates (q106) and the t/CUPED family assume
    * roughly symmetric, light-tailed metric distributions; this reports
    * per group the moment-based skewness g1 = m3∕m2^{3∕2}, excess
    * kurtosis g2 = m4∕m2² − 3 and JB = n∕6·(g1² + g2²∕4) (~χ²₂ under
    * normality — JB ≳ 9.2 rejects at 1%). A heavy-tailed or skewed
    * metric says "use the rank tests ([[mannWhitney]], [[kruskal]]),
    * not the t family".
    *
    * Determinism: values milli-quantize to longs (the 4th-moment
    * ceiling: |v| ≤ 5.6·10⁵ milli ⇒ d⁴ ≤ 10²³, exact in DECIMAL(38,0)
    * past 10¹⁴ rows); the mean is the ROUNDED long m̂ = round(S1∕n)
    * (the repo's micro-mean convention), central sums Σd², Σd³, Σd⁴
    * run exact on d = v − m̂, and the readouts are fixed-order doubles
    * of those exact sums, 6 dp. A zero-variance group reports
    * g1 = g2 = jb = 0.0 (documented, not NaN). NULL groups/values fail
    * typed.
    *
    * Plan: one corpus groupBy for (n, S1), one broadcast join of the
    * groups-sized means back, one corpus groupBy for the central sums —
    * two passes, both map-side combined, groups-sized state. */
  def jarqueBera(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    // r17: null guard fused into the means aggregate (guide §1.2) — a
    // NULL group is the null key, a NULL value a counted flag; the
    // check reads the pinned groups-sized means, not the corpus (the
    // freestanding guard was a third full pass next to the two
    // documented ones)
    val v = df.select(col(groupCol).as("g"),
      round(col(valueCol).cast("double") * 1e3d).cast("long").as("_v"))
    val means = v.groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("_v").cast(dec)).as("_s1"),
        sum(when(col("_v").isNull, lit(1L)).otherwise(lit(0L))).as("_bad"))
      .select(col("g"), col("n"),
        round(col("_s1").cast("double") / col("n").cast("double"))
          .cast("long").as("_m"), col("_bad"))
      .pin // groups-sized; guard + broadcast join read the cache
    val nulls = means.filter(col("g").isNull || col("_bad") > 0L).count()
    require(nulls == 0L,
      s"jarqueBera needs non-NULL '$groupCol' and '$valueCol'")
    val cm = v.join(broadcast(means.drop("_bad")), Seq("g"))
      .withColumn("_d", col("_v") - col("_m"))
      .groupBy(col("g"), col("n"), col("_m"))
      .agg(
        sum((col("_d").cast(dec) * col("_d"))).as("_m2"),
        sum((col("_d").cast(dec) * col("_d") * col("_d"))).as("_m3"),
        sum((col("_d").cast(dec) * col("_d") * col("_d") * col("_d")))
          .as("_m4"))
    val nD = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    val m2 = d("_m2") / nD
    val g1 = (d("_m3") / nD) / sqrt(m2 * m2 * m2)
    val g2 = (d("_m4") / nD) / (m2 * m2) - lit(3.0d)
    cm.select(col("g").as("group"), col("n"),
      round(col("_m").cast("double") / 1e3d, 6).as("mean"),
      when(col("_m2") > 0L, round(g1, 6)).otherwise(lit(0.0d))
        .as("skewness"),
      when(col("_m2") > 0L, round(g2, 6)).otherwise(lit(0.0d))
        .as("ex_kurtosis"),
      when(col("_m2") > 0L,
        round(nD / lit(6.0d) * (g1 * g1 + g2 * g2 / lit(4.0d)), 6))
        .otherwise(lit(0.0d)).as("jb"))
      .orderBy(col("group"))
  }

  /** KENDALL's W concordance across m ≥ 2 score columns ranking the
    * SAME items (Kendall & Babington Smith 1939) + Friedman's χ² — the
    * many-ranker generalization of q207's pairwise Spearman: do the
    * quality signals (classifier, LM, length …) order the corpus the
    * same way AT ALL, before any pairwise drill-down? W = 1 is perfect
    * concordance, W = 0 is no agreement; χ² = m(n−1)W tests it
    * (~χ²_{n−1} under independence). Tie-corrected: each column's
    * fractional (average) ranks come from the same micro-quantized
    * doubled-rank grids as [[graft.ops.RankMetrics.spearman]], and the
    * tie term ΣT_j = ΣΣ(t³ − t) enters the denominator exactly.
    *
    * One row: (n_items, m_rankers, w, friedman_chi2).
    *
    * Determinism: doubled average ranks are exact integers
    * (2·below + t + 1); the rank-sum deviations square in
    * DECIMAL(38,0) against the exact integer centre m(n+1); with
    * doubled ranks S′ = 4S, so W = 3S′ ∕ (m²(n³−n) − m·ΣT) is ONE
    * double division of exact integers, 6 dp. NULL ids/scores fail
    * typed; n ≥ 2 items required. All-constant columns read W = 0.
    *
    * Plan: per column one corpus groupBy to its score grid + one
    * grid-sized rank window + one broadcast join back; then one
    * items-sized rank-sum aggregate. Grids are value-cardinality-
    * bounded (micro-quantized scores), never corpus-sized windows. */
  def kendallW(df: DataFrame, idCol: String,
      scoreCols: Seq[String]): DataFrame = {
    require(scoreCols.size >= 2,
      s"kendallW needs >= 2 score columns, got ${scoreCols.size}")
    // r16: pin the projected input ONCE — the guard, the m per-signal
    // grids and the two final aggregates all re-evaluated the caller's
    // join lineage (≈ 7 passes); one narrow pin feeds them all
    val base = df
      .select((col(idCol) +: scoreCols.map(col)).toIndexedSeq: _*)
      .pin
    val nulls = base.filter(scoreCols.map(c => col(c).isNull)
      .foldLeft(col(idCol).isNull)(_ || _)).limit(1).count()
    require(nulls == 0L, "kendallW needs non-NULL ids and scores")
    val dec = "decimal(38,0)"
    val m = scoreCols.size
    // doubled average rank per column via the shared grid device
    val w0 = org.apache.spark.sql.expressions.Window.orderBy(col("_sm").asc)
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    def ranked(scoreCol: String, out: String): (DataFrame, DataFrame) = {
      val sm = base.select(col(idCol),
        round(col(scoreCol).cast("double") * 1e6d).cast("long").as("_sm"))
      val grid = sm.groupBy(col("_sm")).agg(count(lit(1)).as("_t"))
      val ranks = grid.withColumn(out,
        lit(2L) * coalesce(sum(col("_t")).over(w0), lit(0L)) +
          col("_t") + 1L)
      val ties = grid.agg(coalesce(sum(
        col("_t").cast(dec) * col("_t") * col("_t") - col("_t")),
        lit(0L).cast(dec)).as(s"_T$out"))
      (sm.join(broadcast(ranks.select(col("_sm"), col(out))), Seq("_sm"))
        .select(col(idCol), col(out)), ties)
    }
    val parts = scoreCols.zipWithIndex.map { case (c, i) => ranked(c, s"_r$i") }
    val joined = parts.map(_._1).reduce((a, b) => a.join(b, Seq(idCol)))
    val rsum = scoreCols.indices.map(i => col(s"_r$i"))
      .reduce(_ + _).as("_R")
    val nRow = joined.agg(count(lit(1)).as("n")).head()
    val n = nRow.getLong(0)
    require(n >= 2L, s"kendallW needs >= 2 items, got $n")
    val centre = m.toLong * (n + 1L) // m(n+1) in doubled-rank units
    val s2 = joined.select(rsum)
      .agg(coalesce(sum((col("_R") - centre).cast(dec) *
        (col("_R") - centre)), lit(0L).cast(dec)).as("_S2"))
    val tieSum = parts.map(_._2).reduce(_ crossJoin _)
      .select(scoreCols.indices.map(i => col(s"_T_r$i"))
        .reduce(_ + _).as("_T"))
    val denomBase = // m²(n³−n) as exact decimal
      java.math.BigDecimal.valueOf(m.toLong * m.toLong)
        .multiply(java.math.BigDecimal.valueOf(n).pow(3)
          .subtract(java.math.BigDecimal.valueOf(n)))
    s2.crossJoin(broadcast(tieSum))
      .select(lit(n).as("n_items"), lit(m.toLong).as("m_rankers"),
        (lit(denomBase.toPlainString).cast(dec) -
          lit(m.toLong) * col("_T")).as("_den"),
        col("_S2"))
      .select(col("n_items"), col("m_rankers"),
        when(col("_den") > 0L,
          round(lit(3.0d) * col("_S2").cast("double") /
            col("_den").cast("double"), 6))
          .otherwise(lit(0.0d)).as("w"),
        when(col("_den") > 0L,
          round(lit(m.toDouble) * (lit(n.toDouble) - 1.0d) *
            (lit(3.0d) * col("_S2").cast("double") /
              col("_den").cast("double")), 6))
          .otherwise(lit(0.0d)).as("friedman_chi2"))
  }

  /** KRIPPENDORFF's α (nominal metric) over long-format
    * (item, rater, value) labels (Krippendorff 1970) — the agreement
    * coefficient that, unlike [[cohenKappa]] (2 raters) and Fleiss κ
    * (constant panel), handles ANY number of raters, VARIABLE raters
    * per item, and missing labels: exactly the shape of a labeling
    * pipeline where gates abstain. α = 1 − D_o∕D_e over the coincidence
    * matrix; items with fewer than 2 ratings are unpairable and drop
    * (the standard convention). α = 1 is perfect, 0 is chance, negative
    * is systematic disagreement.
    *
    * One row: (n_items, n_pairable, agree_pairs? → ) —
    * (n_items, n_values, d_o, d_e, alpha).
    *
    * Determinism: per-item disagreement Σ_{c<k} n_ic·n_ik is an exact
    * integer; its 2∕(m_i−1) scaling nano-quantizes per item BEFORE the
    * cross-item sum (order-free); D_e clears to exact integer products
    * Σ_{c<k} n_c·n_k in DECIMAL. α is a fixed-order double of those
    * exact components, 6 dp — and can be exactly −0.0-adjacent, so the
    * oracle carries the signed-zero canonicalization. NULLs fail typed.
    *
    * Plan: one groupBy to (item, value) counts, one items-sized
    * aggregate, one values-sized marginal aggregate — never a pairs
    * expansion. */
  def krippendorffAlpha(df: DataFrame, itemCol: String, raterCol: String,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    // null guard FUSED into the first aggregate (r16): the old
    // freestanding filter+count was a full extra pass over the input —
    // for this op's callers that lineage is three corpus-sized gate
    // computations, so the guard alone doubled the query. NULL item or
    // value surface as null group keys, a NULL rater as a counted flag;
    // the check then runs on the items×values-sized grid for free.
    val iv0 = df.groupBy(col(itemCol).as("_i"),
        col(valueCol).cast("string").as("_v"))
      .agg(count(lit(1)).as("_nic"),
        sum(when(col(raterCol).isNull, lit(1L)).otherwise(lit(0L)))
          .as("_badr"))
      .pin // items×values-sized; guard + 2 reads below
    val nulls = iv0.filter(col("_i").isNull || col("_v").isNull ||
      col("_badr") > 0L).limit(1).count()
    require(nulls == 0L,
      s"krippendorffAlpha needs non-NULL '$itemCol'/'$raterCol'/'$valueCol'")
    val iv = iv0.drop("_badr")
    val mi = iv.groupBy(col("_i")).agg(sum(col("_nic")).as("_mi"),
      // Σ_{c<k} n_ic·n_ik = (m_i² − Σ n_ic²) / 2, exact integers
      ((sum(col("_nic").cast(dec) * col("_nic")))).as("_sq"))
      .filter(col("_mi") >= 2L)
      .pin // items-sized, read 3×
    val pairable = iv.join(mi.select(col("_i")), Seq("_i"))
    val nTot = mi.agg(coalesce(sum(col("_mi")), lit(0L)).as("_n"),
      count(lit(1)).as("n_items"))
    val doTerm = mi.select(
      round((col("_mi").cast(dec) * col("_mi") - col("_sq")).cast("double") /
        (col("_mi").cast("double") - 1.0d) * 1e9d).cast("long").as("_t9"))
      .agg(coalesce(sum(col("_t9")), lit(0L)).as("_do9"))
    val marg = pairable.groupBy(col("_v"))
      .agg(sum(col("_nic")).as("_nc"))
    val de = marg.agg(coalesce(sum(col("_nc").cast(dec) * col("_nc")),
        lit(0L).cast(dec)).as("_sqc"),
      count(lit(1)).as("n_values"))
    val row = nTot.crossJoin(broadcast(doTerm)).crossJoin(broadcast(de))
    val nD = col("_n").cast("double")
    // D_o = (Σ_i [m_i² − Σc n_ic²]/(m_i−1)) / n   (the /1e9 undoes the
    // per-item quantization); D_e = (n² − Σc n_c²) / (n(n−1))
    val dObs = (col("_do9").cast("double") / 1e9d) / nD
    val dExp = (nD * nD - col("_sqc").cast("double")) / (nD * (nD - 1.0d))
    row.select(col("n_items"), col("n_values"), col("_n").as("n_pairable"),
      round(dObs, 6).as("d_o"),
      round(dExp, 6).as("d_e"),
      when(col("_n") >= 2L && dExp > 0.0d,
        round(lit(1.0d) - dObs / dExp, 6))
        .otherwise(lit(1.0d)).as("alpha"))
  }

  /** QUANTILE TREATMENT EFFECTS at the deciles (Doksum 1974) — the
    * distributional companion to [[effectSizes]]' single pooled-sd
    * number: a treatment that moves only the tail (latency p90, heavy
    * spenders) reads ~0 in Cohen's d while QTE(0.9) shows it plainly.
    * For q ∈ {0.1 … 0.9}: the per-arm type-1 (lower) sample quantile —
    * the value at exact rank ⌈q·n⌉ on the micro-quantized grid — and
    * their difference.
    *
    * One row per decile: (q, n_a, n_b, val_a, val_b, qte).
    *
    * Determinism: grids are micro-quantized longs; the rank threshold
    * ⌈q·n⌉ = (k·n + 9) div 10 is exact integer arithmetic (k = decile
    * index — no float rank); the quantile is the MIN grid value whose
    * cumulative count reaches it; qte = (vA − vB)∕10⁶ is quantum-
    * aligned (a nonzero integer difference can never round to a signed
    * zero). Both arms must be non-empty (typed failure).
    *
    * Plan: one grouped grid per arm (value-cardinality-bounded), one
    * grid-sized cumulative window each, a 9-row decile spine joined
    * with grid-sized min-aggregates — never a corpus sort. */
  def quantileTreatmentEffects(df: DataFrame, armCol: String,
      valueCol: String, armA: String, armB: String): DataFrame = {
    val spark = df.sparkSession
    def gridOf(arm: String): (DataFrame, Long) = {
      val g = df.filter(col(armCol) === arm)
        .select(round(col(valueCol).cast("double") * 1e6d).cast("long")
          .as("_sm"))
        .groupBy(col("_sm")).agg(count(lit(1)).as("_c"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("_sm").asc)
        .rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val cum = g.withColumn("_cum", sum(col("_c")).over(w))
        .pin // grid-sized, read 9×
      val nRow = cum.agg(coalesce(max(col("_cum")), lit(0L))).head()
      (cum, nRow.getLong(0))
    }
    val (ga, na) = gridOf(armA)
    val (gb, nb) = gridOf(armB)
    require(na > 0L && nb > 0L,
      s"quantileTreatmentEffects needs both arms '$armA' and '$armB' " +
        "non-empty")
    import spark.implicits._
    val deciles = (1 to 9).map(_.toLong).toDF("_k")
    def qv(grid: DataFrame, n: Long, out: String) =
      deciles.crossJoin(grid)
        // ⌈k·n/10⌉ in pure integer arithmetic (Column `/` would be a
        // double divide)
        .filter(col("_cum") >= expr(s"(_k * ${n}L + 9L) div 10L"))
        .groupBy(col("_k")).agg(min(col("_sm")).as(out))
    qv(ga, na, "_va").join(qv(gb, nb, "_vb"), Seq("_k"))
      .select(
        (col("_k").cast("double") / 10.0d).as("q"),
        lit(na).as("n_a"), lit(nb).as("n_b"),
        (col("_va").cast("double") / 1e6d).as("val_a"),
        (col("_vb").cast("double") / 1e6d).as("val_b"),
        ((col("_va") - col("_vb")).cast("double") / 1e6d).as("qte"))
      .orderBy(col("q"))
  }

  /** STANDARDIZED EFFECT SIZES between two arms (Cohen 1988; Hedges
    * 1981) — the magnitude readout the q154 Welch t and q250 power
    * math need but don't give: a significant t on 10⁸ rows can be a
    * practically-zero difference. Reports Cohen's d (pooled-sd
    * standardized mean difference), Hedges' g (the small-sample
    * unbiased correction d·(1 − 3∕(4(nₐ+n_b) − 9))) and Glass's Δ
    * (standardized by the CONTROL arm's sd alone — the right scale when
    * the treatment changes the variance too).
    *
    * Determinism: the same exact DECIMAL (Σv, Σv²) machinery as the
    * q154 t-test (values ≤ 2 decimal digits by fixture contract);
    * variances and the three ratios are fixed-order doubles of exact
    * components, 6 dp. Both arms must be present (typed failure);
    * a zero-variance denominator reports NULL for the affected effect
    * size (documented, not NaN — an effect size over a constant metric
    * is undefined). `armB` is the control (Glass's denominator).
    *
    * Plan: one grouped aggregate to two 1-row arm summaries, one cross
    * join, pure arithmetic. */
  def effectSizes(df: DataFrame, armCol: String, valueCol: String,
      armA: String, armB: String): DataFrame = {
    val d2 = col(valueCol).cast(org.apache.spark.sql.types.DecimalType(18, 2))
    val stats = df
      .filter(col(armCol) === armA || col(armCol) === armB)
      .groupBy(col(armCol))
      .agg(count(lit(1)).as("n"), sum(d2).as("_s"),
        sum(d2 * d2).as("_q"))
      .withColumn("_mean", col("_s").cast("double") / col("n").cast("double"))
      .withColumn("_var",
        (col("_q").cast("double") -
          col("_s").cast("double") * col("_s").cast("double") /
            col("n").cast("double")) / (col("n").cast("double") - 1.0d))
    val a = stats.filter(col(armCol) === armA)
      .select(col("n").as("n_a"), col("_mean").as("_ma"), col("_var").as("_va"))
    val b = stats.filter(col(armCol) === armB)
      .select(col("n").as("n_b"), col("_mean").as("_mb"), col("_var").as("_vb"))
    val j = a.crossJoin(b).pin // ≤ 1 row: the guard and readout re-read it
    val cnt = j.count()
    require(cnt == 1L, s"effectSizes needs both arms '$armA' and '$armB'")
    val nA = col("n_a").cast("double"); val nB = col("n_b").cast("double")
    val pooled = ((nA - 1.0d) * col("_va") + (nB - 1.0d) * col("_vb")) /
      (nA + nB - 2.0d)
    val dEff = (col("_ma") - col("_mb")) / sqrt(pooled)
    val corr = lit(1.0d) - lit(3.0d) / (lit(4.0d) * (nA + nB) - lit(9.0d))
    val out = j.select(col("n_a"), col("n_b"),
      round(col("_ma"), 6).as("mean_a"),
      round(col("_mb"), 6).as("mean_b"),
      when(pooled > 0.0d, round(dEff, 6))
        .otherwise(lit(null).cast("double")).as("cohen_d"),
      when(pooled > 0.0d, round(dEff * corr, 6))
        .otherwise(lit(null).cast("double")).as("hedges_g"),
      when(col("_vb") > 0.0d,
        round((col("_ma") - col("_mb")) / sqrt(col("_vb")), 6))
        .otherwise(lit(null).cast("double")).as("glass_delta"))
    out
  }
}
