package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Pin._

/** Classifier CALIBRATION audit — the reliability diagram + expected
  * calibration error (ECE) readout (Guo et al. 2017): before a curation
  * pipeline trusts "keep everything the quality model scores above
  * 0.8", it needs to know whether 0.8 MEANS 80% — i.e. whether the
  * model's confidence matches the empirical agreement rate against a
  * reference label, per confidence bin.
  *
  * Output: one row per non-empty equal-width confidence bin —
  * (bin, n_docs, mean_conf, frac_pos, gap) — plus the single ECE value
  * Σ n_b∕N · |mean_conf_b − frac_pos_b| carried on every row (the
  * ev_share convention).
  *
  * Determinism (the oracle discipline): confidences are micro-quantized
  * to exact integers (round(conf·10⁶)) BEFORE any aggregation, the bin
  * index is pure integer arithmetic ((cm·bins) div 10⁶, capped), each
  * bin's |conf − acc| gap is one fixed-order double over exact sums
  * micro-quantized back to an integer, and the ECE is an exact integer
  * Σ gap_micro·n with one final divide — bit-replayable in DuckDB.
  *
  * Plan: one equi-join of predictions and labels on id, one grouped
  * aggregate to ≤ `bins` rows, one 1-row total broadcast back. Nothing
  * after the join is more than bins-sized. The confidence-range
  * precondition is a typed limit-probe failure, not a silent wrong
  * binning. */
object Calibration {

  /** @param pred (idCol, confCol) — confidence in [0, 1] (enforced).
    * @param labels (idCol, labelCol) — reference label in {0, 1}.
    * @param bins equal-width confidence bins (conf = 1 lands in the
    *   last bin). */
  def reliability(pred: DataFrame, labels: DataFrame, idCol: String,
      confCol: String, labelCol: String, bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 1000, s"bins must be in [2, 1000], got $bins")
    val joined = pred.select(col(idCol), col(confCol))
      .join(labels.select(col(idCol), col(labelCol)), Seq(idCol))
    // NULLs must fail typed too: a bare range predicate evaluates to NULL
    // on NULL inputs and the row would slip past the probe, then bin into
    // the top bin (least() skips NULLs) while the sums skip it — silent
    // corruption of n_docs/mean_conf/frac_pos/ECE. r17: the check is a
    // counted flag on the pinned bins-sized frame (guide §1.2), no
    // longer its own full pass over the joined input.
    val offCond = col(confCol).isNull || col(labelCol).isNull ||
      col(confCol) < 0.0d || col(confCol) > 1.0d ||
      (col(labelCol) =!= 0L && col(labelCol) =!= 1L)
    val perBin0 = joined
      .withColumn("_cm", round(col(confCol).cast("double") * 1e6d).cast("long"))
      .withColumn("bin",
        least(expr(s"(_cm * $bins) div 1000000"), lit(bins - 1L)).cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_cm")).as("_sc"),
        sum(col(labelCol).cast("long")).as("_sp"),
        sum(when(offCond, lit(1L)).otherwise(lit(0L))).as("_bad"))
      .pin // ≤ bins rows; guard + total + readout read the cache
    val offRange = perBin0.filter(col("_bad") > 0L).count()
    require(offRange == 0L,
      "calibration audit needs non-NULL confidences in [0, 1] and labels in " +
        "{0, 1} — found NULL or out-of-range rows; fix the prediction/label " +
        "columns first")
    val perBin = perBin0
      .withColumn("mean_conf",
        round(col("_sc").cast("double") / (col("n_docs").cast("double") * 1e6d), 6))
      .withColumn("frac_pos",
        round(col("_sp").cast("double") / col("n_docs").cast("double"), 6))
      .withColumn("_gap_micro",
        round(abs(col("_sc").cast("double") / (col("n_docs").cast("double") * 1e6d) -
          col("_sp").cast("double") / col("n_docs").cast("double")) * 1e6d)
          .cast("long"))
    val tot = perBin.agg(
      sum(col("n_docs")).as("_n"),
      sum(col("_gap_micro") * col("n_docs")).as("_gsum"))
    perBin.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_docs"), col("mean_conf"), col("frac_pos"),
        round(col("_gap_micro").cast("double") / 1e6d, 6).as("gap"),
        round(col("_gsum").cast("double") / (col("_n").cast("double") * 1e6d), 6)
          .as("ece"))
  }

  /** Exact ROC-AUC of a binary classifier via the rank-sum
    * (Mann–Whitney U) identity — the DISCRIMINATION readout next to
    * [[reliability]]'s calibration one: AUC = P(score⁺ > score⁻) +
    * ½·P(score⁺ = score⁻), the probability a random kept document
    * outranks a random rejected one. Calibration can be fixed post hoc
    * ([[temperatureSweep]]); discrimination cannot — this is the number
    * that says whether the quality model ranks at all.
    *
    * Determinism: scores are micro-quantized to integers first, so ties
    * are exact and identical across engines; U is computed as one exact
    * integer sum over per-distinct-score (n⁺, n⁻) counts —
    * 2U = Σ_s n⁺_s · (2·N⁻_{<s} + n⁻_s) — with a single final divide.
    *
    * Plan: one equi-join, one groupBy to ≤ 2·10⁶ + 1 distinct
    * micro-scores (bounded by the quantization GRID, not the corpus —
    * the one single-partition window runs over that bounded frame), one
    * 1-row aggregate. Degenerate one-class inputs report the chance
    * value 0.5 (documented, deterministic on both engines); NULLs and
    * off-range labels fail typed. */
  def binaryAuc(pred: DataFrame, labels: DataFrame, idCol: String,
      confCol: String, labelCol: String): DataFrame = {
    val joined = pred.select(col(idCol), col(confCol))
      .join(labels.select(col(idCol), col(labelCol)), Seq(idCol))
    // guard FUSED into the grid aggregate (r16): the old freestanding
    // filter+count was a full extra pass over the joined input. A NULL
    // score lands in the null _sm group; NULL / off-range labels are
    // counted per group; the check then reads the ≤ 10⁶+1-row grid.
    val g0 = joined
      .withColumn("_sm", round(col(confCol).cast("double") * 1e6d).cast("long"))
      .groupBy(col("_sm"))
      .agg(sum(col(labelCol).cast("long")).as("_np"),
        sum(lit(1L) - col(labelCol).cast("long")).as("_nn"),
        sum(when(col(labelCol).isNull ||
            (col(labelCol) =!= 0L && col(labelCol) =!= 1L), lit(1L))
          .otherwise(lit(0L))).as("_bad"))
      .pin // grid-sized; guard + final window below
    val offRange = g0.filter(col("_sm").isNull || col("_bad") > 0L)
      .limit(1).count()
    require(offRange == 0L,
      "AUC needs non-NULL scores and labels in {0, 1} — found NULL or " +
        "out-of-range rows")
    val g = g0.drop("_bad")
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("_sm"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    g.withColumn("_below", coalesce(sum(col("_nn")).over(w), lit(0L)))
      .agg(sum(col("_np")).as("n_pos"), sum(col("_nn")).as("n_neg"),
        sum(col("_np") * (lit(2L) * col("_below") + col("_nn"))).as("_u2"))
      .select(col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0L && col("n_neg") > 0L,
          round(col("_u2").cast("double") /
            (lit(2.0d) * col("n_pos").cast("double") * col("n_neg").cast("double")), 6))
          .otherwise(lit(0.5d)).as("auc"))
  }

  /** Exact AVERAGE PRECISION (the area under the precision–recall
    * curve in its step form, sklearn's `average_precision_score`
    * definition) — the discrimination readout that, unlike
    * [[binaryAuc]], does NOT credit true negatives: on a heavily
    * imbalanced curation gate (most of a crawl is rejected) ROC-AUC can
    * look great while precision at any usable recall is terrible; AP is
    * the number that moves. AP = Σᵢ (Rᵢ − Rᵢ₋₁)·Pᵢ over distinct
    * thresholds descending, i.e. Σ_s n⁺_s · P(≥s) ∕ N⁺ with P(≥s) the
    * precision of the keep-everything-scoring-≥s policy.
    *
    * Determinism: scores are micro-quantized first (exact tie groups);
    * per distinct score the precision is ONE fixed-order double divide
    * of exact cumulative longs, micro-quantized back to an integer; the
    * numerator Σ n⁺_s·prec_micro_s is an exact long sum with a single
    * final divide — bit-replayable in DuckDB.
    *
    * Plan: identical to [[binaryAuc]] — one equi-join, one groupBy to
    * the ≤ 10⁶ + 1-row micro-score grid, one bounded-grid window, one
    * 1-row aggregate. `prevalence` (= N⁺∕N, the no-skill AP) rides
    * along so the readout is self-normalizing. A zero-positive input
    * reports ap = 0.0 (documented, not NaN); NULLs and off-range labels
    * fail typed. */
  def averagePrecision(pred: DataFrame, labels: DataFrame, idCol: String,
      confCol: String, labelCol: String): DataFrame = {
    val joined = pred.select(col(idCol), col(confCol))
      .join(labels.select(col(idCol), col(labelCol)), Seq(idCol))
    // r17: guard fused into the grid aggregate (the binaryAuc r16
    // pattern) — a NULL score is the null _sm group, bad labels a
    // counted flag; the check reads the pinned grid, not the input
    val g0 = joined
      .withColumn("_sm", round(col(confCol).cast("double") * 1e6d).cast("long"))
      .groupBy(col("_sm"))
      .agg(sum(col(labelCol).cast("long")).as("_np"),
        sum(lit(1L) - col(labelCol).cast("long")).as("_nn"),
        sum(when(col(labelCol).isNull ||
            (col(labelCol) =!= 0L && col(labelCol) =!= 1L), lit(1L))
          .otherwise(lit(0L))).as("_bad"))
      .pin // grid-sized; guard + final window read the cache
    val offRange = g0.filter(col("_sm").isNull || col("_bad") > 0L).count()
    require(offRange == 0L,
      "average precision needs non-NULL scores and labels in {0, 1} — " +
        "found NULL or out-of-range rows")
    val g = g0.drop("_bad")
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("_sm").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    g.withColumn("_ctp", sum(col("_np")).over(w))
      .withColumn("_cfp", sum(col("_nn")).over(w))
      .withColumn("_prec_micro",
        round(col("_ctp").cast("double") /
          (col("_ctp") + col("_cfp")).cast("double") * 1e6d).cast("long"))
      .agg(sum(col("_np")).as("n_pos"), sum(col("_nn")).as("n_neg"),
        count(lit(1)).as("n_thresholds"),
        sum(col("_np") * col("_prec_micro")).as("_tsum"))
      .select(col("n_pos"), col("n_neg"), col("n_thresholds"),
        round(col("n_pos").cast("double") /
          (col("n_pos") + col("n_neg")).cast("double"), 6).as("prevalence"),
        when(col("n_pos") > 0L,
          round(col("_tsum").cast("double") /
            (col("n_pos").cast("double") * 1e6d), 6))
          .otherwise(lit(0.0d)).as("ap"))
  }

  /** TEMPERATURE-SCALING sweep — the standard post-hoc calibration FIX
    * for the miscalibration [[reliability]] diagnoses (Guo et al.
    * 2017): for each temperature T in a fixed grid, confidences become
    * sigmoid(score∕T) and the ECE is recomputed; the row with the
    * minimum ECE (ties → smallest T) is flagged. A pipeline applies the
    * winning T to its keep-threshold and re-audits.
    *
    * Determinism: the grid is a config literal; per-T confidences are
    * the same fixed-order sigmoid + micro-quantize + integer binning as
    * [[reliability]]; per-T ECE is the same exact-integer sum; the
    * argmin is on (rounded ece, T) — fully oracle-replayable.
    *
    * Plan: ONE pass over predictions × |grid| (a bounded literal
    * multiplier — the grid explodes from an array literal, never a
    * join), one (T, bin) aggregate, one T-sized aggregate, one
    * |grid|-row window. Scores are raw reals (no [0,1] constraint);
    * labels are checked {0, 1} typed. */
  def temperatureSweep(pred: DataFrame, labels: DataFrame, idCol: String,
      scoreCol: String, labelCol: String, bins: Int = 10,
      tGrid: Seq[Double] = (1 to 16).map(_ * 0.25)): DataFrame = {
    require(bins >= 2 && bins <= 1000, s"bins must be in [2, 1000], got $bins")
    require(tGrid.nonEmpty && tGrid.size <= 256 && tGrid.forall(_ > 0.0),
      s"temperature grid must be 1..256 positive values, got $tGrid")
    require(tGrid.distinct.size == tGrid.size, "temperature grid has duplicates")
    val joined = pred.select(col(idCol), col(scoreCol))
      .join(labels.select(col(idCol), col(labelCol)), Seq(idCol))
    val grid = array(tGrid.map(t => lit(t)): _*)
    // r17: guard fused into the (T, bin) aggregate as a counted flag
    // (guide §1.2) — the check reads the pinned (T × bins)-sized frame,
    // not the corpus
    val offCond = col(scoreCol).isNull || col(labelCol).isNull ||
      (col(labelCol) =!= 0L && col(labelCol) =!= 1L)
    val perTBin0 = joined
      .withColumn("_t", explode(grid))
      .withColumn("_cm", round(
        round(lit(1.0d) / (lit(1.0d) +
          exp(negate(col(scoreCol).cast("double") / col("_t")))), 6) * 1e6d)
        .cast("long"))
      .withColumn("bin",
        least(expr(s"(_cm * $bins) div 1000000"), lit(bins - 1L)).cast("long"))
      .groupBy(col("_t"), col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("_cm")).as("_sc"),
        sum(col(labelCol).cast("long")).as("_sp"),
        sum(when(offCond, lit(1L)).otherwise(lit(0L))).as("_bad"))
      .pin // (T × bins)-sized; guard + sweep read the cache
    val offRange = perTBin0.filter(col("_bad") > 0L).count()
    require(offRange == 0L,
      "temperature sweep needs non-NULL scores and labels in {0, 1} — " +
        "found NULL or out-of-range rows")
    val perTBin = perTBin0
      .withColumn("_gap_micro",
        round(abs(col("_sc").cast("double") / (col("n").cast("double") * 1e6d) -
          col("_sp").cast("double") / col("n").cast("double")) * 1e6d)
          .cast("long"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("ece").asc, col("_t").asc)
    perTBin
      .groupBy(col("_t"))
      .agg(sum(col("n")).as("_n"),
        sum(col("_gap_micro") * col("n")).as("_gsum"))
      .withColumn("ece",
        round(col("_gsum").cast("double") / (col("_n").cast("double") * 1e6d), 6))
      .withColumn("is_best",
        when(row_number().over(w) === 1, 1L).otherwise(0L))
      .select(col("_t").as("t"), col("ece"), col("is_best"))
  }

  /** ISOTONIC-REGRESSION calibration over the reliability bins — the
    * NON-PARAMETRIC post-hoc fix next to [[temperatureSweep]]'s
    * single-parameter one (Zadrozny & Elkan 2002): fit the best
    * monotone non-decreasing curve (weighted L2) through the per-bin
    * empirical accuracies and use it as the corrected confidence. Where
    * temperature scaling can only stretch the sigmoid, isotonic bends —
    * it fixes the S-shaped miscalibration a single T cannot.
    *
    * Instead of the sequential pool-adjacent-violators loop this uses
    * PAV's closed MINIMAX identity (Ayer et al. 1955; Robertson et al.
    * 1988, Thm 1.4.4): with weighted bin means ȳ_j and the segment
    * mean m(j,k) = Σ_{j..k} y ∕ Σ_{j..k} w,
    *   fit_i = max_{j ≤ i} min_{k ≥ i} m(j, k)
    * — three bounded joins over the ≤ bins-row frame, no iteration, no
    * driver loop, embarrassingly parallel.
    *
    * One row per non-empty bin: (bin, n_docs, mean_conf, frac_pos,
    * iso_fit, ece_before, ece_after) — ece_after recomputed against the
    * isotonic fit (Σ n·|iso − frac_pos| ∕ N; 0 when the empirical curve
    * was already monotone, since then fit ≡ frac_pos).
    *
    * Determinism: binning and sums exactly as [[reliability]]; each
    * segment mean is one fixed-order double of exact longs
    * micro-quantized back to an integer, so the min/max lattice and
    * both ECEs are pure integer arithmetic with single final divides.
    * Guards mirror [[reliability]] (NULL / off-range fail typed).
    *
    * Plan: one equi-join + corpus groupBy to ≤ bins rows, then
    * bins²-sized segment frame (prefix sums via one bounded window),
    * bins³-bounded minimax joins, two 1-row broadcasts. Nothing after
    * the first aggregate is more than bins³ ≤ 10⁹·⁰⁰⁰… practically
    * thousands of rows for the default 10 bins. */
  def isotonicCalibration(pred: DataFrame, labels: DataFrame, idCol: String,
      confCol: String, labelCol: String, bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 1000, s"bins must be in [2, 1000], got $bins")
    val joined = pred.select(col(idCol), col(confCol))
      .join(labels.select(col(idCol), col(labelCol)), Seq(idCol))
    // r17: guard fused into the bin aggregate as a counted flag (guide
    // §1.2) — the check reads the pinned bins-sized frame, not the input
    val offCond = col(confCol).isNull || col(labelCol).isNull ||
      col(confCol) < 0.0d || col(confCol) > 1.0d ||
      (col(labelCol) =!= 0L && col(labelCol) =!= 1L)
    val perBin = joined
      .withColumn("_cm", round(col(confCol).cast("double") * 1e6d).cast("long"))
      .withColumn("bin",
        least(expr(s"(_cm * $bins) div 1000000"), lit(bins - 1L)).cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_cm")).as("_sc"),
        sum(col(labelCol).cast("long")).as("_sp"),
        sum(when(offCond, lit(1L)).otherwise(lit(0L))).as("_bad"))
      .pin // bins-sized; seeds four bounded passes
    val offRange = perBin.filter(col("_bad") > 0L).limit(1).count()
    require(offRange == 0L,
      "isotonic calibration needs non-NULL confidences in [0, 1] and labels " +
        "in {0, 1} — found NULL or out-of-range rows")
    val wOrd = org.apache.spark.sql.expressions.Window.orderBy(col("bin"))
    val wCum = wOrd.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val pfx = perBin
      .withColumn("_pn", sum(col("n_docs")).over(wCum))
      .withColumn("_psl", sum(col("_sp")).over(wCum))
    val jSide = pfx
      .withColumn("_pn0", coalesce(lag(col("_pn"), 1).over(wOrd), lit(0L)))
      .withColumn("_psl0", coalesce(lag(col("_psl"), 1).over(wOrd), lit(0L)))
      .select(col("bin").as("_bj"), col("_pn0"), col("_psl0"))
    val kSide = pfx.select(col("bin").as("_bk"), col("_pn"), col("_psl"))
    val seg = jSide.join(kSide, col("_bj") <= col("_bk"))
      .select(col("_bj"), col("_bk"),
        round((col("_psl") - col("_psl0")).cast("double") /
          (col("_pn") - col("_pn0")).cast("double") * 1e6d)
          .cast("long").as("_m"))
    val iFrame = perBin.select(col("bin").as("_bi"))
    val iso = seg
      .join(iFrame, col("_bj") <= col("_bi") && col("_bi") <= col("_bk"))
      .groupBy(col("_bi"), col("_bj")).agg(min(col("_m")).as("_mm"))
      .groupBy(col("_bi")).agg(max(col("_mm")).as("_iso_micro"))
      .withColumnRenamed("_bi", "bin")
    val binsOut = perBin.join(iso, Seq("bin"))
      .withColumn("_fp_micro",
        round(col("_sp").cast("double") / col("n_docs").cast("double") * 1e6d)
          .cast("long"))
      .withColumn("_gap0",
        abs(round(col("_sc").cast("double") / col("n_docs").cast("double"))
          .cast("long") - col("_fp_micro")))
      .withColumn("_gap1", abs(col("_iso_micro") - col("_fp_micro")))
    val tot = binsOut.agg(
      sum(col("n_docs")).as("_n"),
      sum(col("_gap0") * col("n_docs")).as("_g0"),
      sum(col("_gap1") * col("n_docs")).as("_g1"))
    binsOut.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_docs"),
        round(col("_sc").cast("double") / (col("n_docs").cast("double") * 1e6d), 6)
          .as("mean_conf"),
        round(col("_fp_micro").cast("double") / 1e6d, 6).as("frac_pos"),
        round(col("_iso_micro").cast("double") / 1e6d, 6).as("iso_fit"),
        round(col("_g0").cast("double") / (col("_n").cast("double") * 1e6d), 6)
          .as("ece_before"),
        round(col("_g1").cast("double") / (col("_n").cast("double") * 1e6d), 6)
          .as("ece_after"))
  }

  /** MURPHY DECOMPOSITION of the Brier score (Murphy 1973) — the
    * calibration audit that separates WHY a probabilistic gate is wrong:
    * brier = reliability − resolution + uncertainty (+ a within-bin
    * residual when forecasts vary inside a bin, reported honestly
    * instead of silently assumed zero). `reliability` is miscalibration
    * (what [[temperatureSweep]] can fix), `resolution` is discrimination
    * (what it cannot), `uncertainty` = ō(1−ō) is the data's own
    * difficulty floor. One row:
    * (n, n_bins_used, brier, reliability, resolution, uncertainty,
    * within_bin_resid = brier − (rel − res + unc) — the within-bin
    * variance/covariance remainder, either sign, exactly 0 when
    * forecasts are constant within every bin).
    *
    * Determinism: the exact Brier is a pure-integer identity — per row
    * (conf_micro − label·10⁶)² summed in DECIMAL(38,0), one final
    * divide by N·10¹² — no float until the readout; the binned
    * rel/res terms are per-bin fixed-order double expressions
    * nano-quantized to integers and summed exactly ([[reliability]]'s
    * binning: equal-width, conf = 1 in the last bin). Guards mirror
    * [[reliability]]: NULL or off-range confidences/labels fail typed.
    *
    * Plan: one equi-join, one guard probe, one corpus groupBy to the
    * ≤ bins-row frame carrying the exact Brier sum alongside, two 1-row
    * broadcasts — the corpus is touched once. */
  def brierDecomposition(pred: DataFrame, labels: DataFrame, idCol: String,
      confCol: String, labelCol: String, bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 1000, s"bins must be in [2, 1000], got $bins")
    val joined = pred.select(col(idCol), col(confCol))
      .join(labels.select(col(idCol), col(labelCol)), Seq(idCol))
    val dec = "decimal(38,0)"
    // r17: guard fused into the bin aggregate as a counted flag (guide
    // §1.2) — the check reads the pinned bins-sized frame, not the input
    val offCond = col(confCol).isNull || col(labelCol).isNull ||
      col(confCol) < 0.0d || col(confCol) > 1.0d ||
      (col(labelCol) =!= 0L && col(labelCol) =!= 1L)
    val perBin = joined
      .withColumn("_cm", round(col(confCol).cast("double") * 1e6d).cast("long"))
      .withColumn("_y", col(labelCol).cast("long"))
      .withColumn("bin",
        least(expr(s"(_cm * $bins) div 1000000"), lit(bins - 1L)).cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("_nk"),
        sum(col("_cm")).as("_sc"),
        sum(col("_y")).as("_sy"),
        sum((col("_cm") - col("_y") * lit(1000000L)).cast(dec) *
          (col("_cm") - col("_y") * lit(1000000L))).as("_sq"),
        sum(when(offCond, lit(1L)).otherwise(lit(0L))).as("_bad"))
      .pin // bins-sized, read twice (totals + terms)
    val offRange = perBin.filter(col("_bad") > 0L).limit(1).count()
    require(offRange == 0L,
      "brierDecomposition needs non-NULL confidences in [0, 1] and labels " +
        "in {0, 1} — found NULL or out-of-range rows")
    val tot = perBin.agg(
      sum(col("_nk")).as("_n"),
      sum(col("_sy")).as("_syt"),
      sum(col("_sq").cast(dec)).as("_sqt"),
      count(lit(1)).as("_bins_used"))
    def d(c: String) = col(c).cast("double")
    // per-bin: nk * (cbar_k - obar_k)^2 and nk * (obar_k - obar)^2,
    // each ONE fixed-order double expression nano-quantized
    val terms = perBin.crossJoin(broadcast(tot))
      .select(
        round(d("_nk") *
          (d("_sc") / (d("_nk") * 1e6d) - d("_sy") / d("_nk")) *
          (d("_sc") / (d("_nk") * 1e6d) - d("_sy") / d("_nk")) * 1e9d)
          .cast("long").as("_rel9"),
        round(d("_nk") *
          (d("_sy") / d("_nk") - d("_syt") / d("_n")) *
          (d("_sy") / d("_nk") - d("_syt") / d("_n")) * 1e9d)
          .cast("long").as("_res9"))
      .agg(coalesce(sum(col("_rel9")), lit(0L)).as("_rel"),
        coalesce(sum(col("_res9")), lit(0L)).as("_res"))
    tot.crossJoin(broadcast(terms))
      .select(col("_n").as("n"), col("_bins_used").as("n_bins_used"),
        round(d("_sqt") / (d("_n") * 1e12d), 6).as("brier"),
        round(d("_rel") / (d("_n") * 1e9d), 6).as("reliability"),
        round(d("_res") / (d("_n") * 1e9d), 6).as("resolution"),
        round((d("_syt") / d("_n")) * (lit(1.0d) - d("_syt") / d("_n")), 6)
          .as("uncertainty"),
        round(d("_sqt") / (d("_n") * 1e12d) -
          (d("_rel") / (d("_n") * 1e9d) - d("_res") / (d("_n") * 1e9d) +
            (d("_syt") / d("_n")) * (lit(1.0d) - d("_syt") / d("_n"))), 6)
          .as("within_bin_resid"))
  }

  /** CUMULATIVE GAINS curve of a binary targeting score — the
    * operational readout behind [[binaryAuc]]'s single number: "if the
    * pipeline can only afford to keep/review the top b∕10 of documents
    * by classifier score, what fraction of the actual positives does
    * it capture?" One row per bucket b = 1..buckets:
    * (bucket, cutoff_docs, docs_used, pos_captured, gain, lift) with
    * gain = captured∕total-positives and lift = gain ∕ (docs_used∕N)
    * (lift 1.0 = no better than random at that depth).
    *
    * Tie honesty: documents NEVER split inside a score — each bucket
    * reports the largest whole-score prefix with cum_docs ≤ the
    * ⌊b·N∕buckets⌋ cutoff, and `docs_used` states the prefix actually
    * taken (possibly < cutoff under heavy ties, 0 when even the top
    * score overshoots). Interpolating inside a tie would manufacture
    * resolution the score does not have.
    *
    * Determinism: scores micro-quantize to the integer grid; prefix
    * counts are exact integers on the ≤10⁶-bounded grid; gain/lift are
    * fixed-order double ratios rounded to 6 dp — bit-replayable. NULL
    * scores/labels and off-domain labels fail typed (the Calibration
    * NULL contract); zero positives fail typed (gain is 0∕0).
    *
    * Plan: one id-keyed equi-join, one corpus groupBy to the score
    * grid, one bounded-grid cumulative window, a buckets-sized spine
    * join with a max-struct per bucket — never a global row sort. */
  def gainCurve(pred: DataFrame, labels: DataFrame, idCol: String,
      confCol: String, labelCol: String, buckets: Int = 10): DataFrame = {
    require(buckets >= 2 && buckets <= 1000,
      s"need 2 <= buckets <= 1000, got $buckets")
    val j = pred.select(col(idCol), col(confCol))
      .join(labels.select(col(idCol), col(labelCol)), Seq(idCol))
    // r17: guard fused into the score-grid aggregate as a counted flag
    // (guide §1.2) — the check reads the pinned grid, not the input
    val offCond = col(confCol).isNull || col(labelCol).isNull ||
      (col(labelCol) =!= 0L && col(labelCol) =!= 1L)
    val grid = j
      .select(round(col(confCol).cast("double") * 1e6d).cast("long")
        .as("_sm"), col(labelCol).cast("long").as("_y"),
        offCond.as("_badrow"))
      .groupBy(col("_sm"))
      .agg(count(lit(1)).as("_cnt"), sum(col("_y")).as("_pos"),
        sum(when(col("_badrow"), lit(1L)).otherwise(lit(0L))).as("_bad"))
    val wDesc = org.apache.spark.sql.expressions.Window
      .orderBy(col("_sm").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = grid
      .withColumn("_cd", sum(col("_cnt")).over(wDesc))
      .withColumn("_cp", sum(col("_pos")).over(wDesc))
      .pin // grid-bounded, read twice
    val offDomain = cum.filter(col("_bad") > 0L).limit(1).count()
    require(offDomain == 0L, "gainCurve needs non-NULL scores and 0/1 " +
      s"labels in '$confCol'/'$labelCol' — NULLs would silently shift " +
      "every prefix")
    val tot = cum.agg(max(col("_cd")).as("_n"), max(col("_cp")).as("_p"))
    require(tot.filter(col("_p") >= 1L).limit(1).count() == 1L,
      "gainCurve needs at least one positive label — gain is 0/0")
    val spine = pred.sparkSession.range(1, buckets + 1L)
      .select(col("id").as("bucket"))
    def d(c: String) = col(c).cast("double")
    broadcast(spine).crossJoin(broadcast(tot))
      .withColumn("cutoff_docs", expr(s"(bucket * _n) div ${buckets}L"))
      .join(cum, col("_cd") <= col("cutoff_docs"), "left")
      .groupBy(col("bucket"), col("cutoff_docs"), col("_n"), col("_p"))
      .agg(max(struct(col("_cd"), col("_cp"))).as("_best"))
      .select(col("bucket"), col("cutoff_docs"),
        coalesce(col("_best._cd"), lit(0L)).as("docs_used"),
        coalesce(col("_best._cp"), lit(0L)).as("pos_captured"),
        round(coalesce(col("_best._cp"), lit(0L)).cast("double") /
          d("_p"), 6).as("gain"),
        when(coalesce(col("_best._cd"), lit(0L)) === 0L,
            lit(null).cast("double"))
          .otherwise(round((coalesce(col("_best._cp"), lit(0L)).cast("double") /
            d("_p")) / (coalesce(col("_best._cd"), lit(0L)).cast("double") /
            d("_n")), 6)).as("lift"))
      .orderBy(col("bucket"))
  }

  /** DeLONG CONFIDENCE INTERVAL for the ROC-AUC — the error bar
    * [[binaryAuc]]'s point estimate needs before two classifier
    * versions are compared: the nonparametric structural-component
    * variance S₁₀∕n₁ + S₀₁∕n₀ (DeLong, DeLong & Clarke-Pearson 1988),
    * where V₁₀(xᵢ) is each positive's placement among negatives and
    * V₀₁ the mirror, and a 95% normal interval at the baked z
    * literal. One row: (n_pos, n_neg, auc, se, lo95, hi95) — the
    * interval is NOT clamped to [0, 1] (a clamped bound would hide
    * how far the normal approximation was stretched), documented.
    *
    * Determinism: everything up to the final ratios is exact integer
    * arithmetic on the score grid — placements ride DOUBLED
    * (2·below + ties) so V components are integers; both component
    * sums of squared deviations use the common denominator
    * (2n₀n₁)² so each is ONE exact DECIMAL sum; se/CI are fixed-order
    * doubles, 6 dp. Perfect separation reports se = 0 and a
    * degenerate interval at the AUC, honestly. Needs ≥ 2 positives
    * AND ≥ 2 negatives (sample variances) — typed failure otherwise.
    *
    * Plan: one id-keyed equi-join, one corpus groupBy to the score
    * grid, two bounded-grid windows, a 1-row broadcast back for the
    * deviation pass, ONE final aggregate. */
  def delongAucCi(pred: DataFrame, labels: DataFrame, idCol: String,
      confCol: String, labelCol: String,
      zCrit: Double = 1.959964d): DataFrame = {
    require(zCrit > 0.0d, s"need zCrit > 0, got $zCrit")
    val dec = "decimal(38,0)"
    val joined = pred.select(col(idCol), col(confCol))
      .join(labels.select(col(idCol), col(labelCol)), Seq(idCol))
    // r17: guard fused into the score-grid aggregate (the binaryAuc
    // pattern) — the check reads the pinned placement frame, not the
    // joined input
    val g = joined
      .withColumn("_sm", round(col(confCol).cast("double") * 1e6d)
        .cast("long"))
      .groupBy(col("_sm"))
      .agg(sum(col(labelCol).cast("long")).as("_np"),
        sum(lit(1L) - col(labelCol).cast("long")).as("_nn"),
        sum(when(col(labelCol).isNull ||
            (col(labelCol) =!= 0L && col(labelCol) =!= 1L), lit(1L))
          .otherwise(lit(0L))).as("_bad"))
    val wUp = org.apache.spark.sql.expressions.Window.orderBy(col("_sm"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val wDn = org.apache.spark.sql.expressions.Window
      .orderBy(col("_sm").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val placed = g
      .withColumn("_nbelow", coalesce(sum(col("_nn")).over(wUp), lit(0L)))
      .withColumn("_pabove", coalesce(sum(col("_np")).over(wDn), lit(0L)))
      .withColumn("_v10", lit(2L) * col("_nbelow") + col("_nn"))
      .withColumn("_v01", lit(2L) * col("_pabove") + col("_np"))
      .pin // grid-sized, read twice (totals + devs)
    val offRange = placed.filter(col("_sm").isNull || col("_bad") > 0L)
      .limit(1).count()
    require(offRange == 0L,
      "delongAucCi needs non-NULL scores and labels in {0, 1}")
    val tot = placed.agg(sum(col("_np")).as("_n1"), sum(col("_nn")).as("_n0"),
      sum(col("_np").cast(dec) * col("_v10")).as("_a2"))
      .pin
    require(tot.filter(col("_n1") >= 2L && col("_n0") >= 2L)
        .limit(1).count() == 1L,
      "delongAucCi needs >= 2 positives and >= 2 negatives — sample " +
        "variances of the structural components are undefined")
    def d(c: String) = col(c).cast("double")
    val devs = placed.crossJoin(broadcast(tot))
      .agg(
        sum(col("_np").cast(dec) *
          (col("_v10").cast(dec) * col("_n1") - col("_a2")) *
          (col("_v10").cast(dec) * col("_n1") - col("_a2"))).as("_s10n"),
        sum(col("_nn").cast(dec) *
          (col("_v01").cast(dec) * col("_n0") - col("_a2")) *
          (col("_v01").cast(dec) * col("_n0") - col("_a2"))).as("_s01n"))
    val n1 = d("_n1")
    val n0 = d("_n0")
    val auc = d("_a2") / (n1 * n0 * 2.0d)
    val den = n1 * n0 * 2.0d
    val s10 = d("_s10n") / (den * den) / (n1 - 1.0d)
    val s01 = d("_s01n") / (den * den) / (n0 - 1.0d)
    val se = sqrt(s10 / n1 + s01 / n0)
    devs.crossJoin(broadcast(tot))
      .select(col("_n1").as("n_pos"), col("_n0").as("n_neg"),
        round(auc, 6).as("auc"),
        round(se, 6).as("se"),
        round(auc - lit(zCrit) * se, 6).as("lo95"),
        round(auc + lit(zCrit) * se, 6).as("hi95"))
  }
}
