package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Pin._

/** Sequential change detection over a time-bucketed metric — the
  * monitoring layer between q106's per-hour z-score (memoryless: each
  * hour judged alone) and q203's two-cohort KS (needs the drift
  * boundary known in advance): a CUSUM accumulates SMALL persistent
  * shifts across buckets until they cross an alarm threshold, catching
  * the slow quality rot a per-bucket outlier test never sees
  * (Page 1954).
  *
  * The textbook recursion S⁺_t = max(0, S⁺_{t−1} + (x̄_t − μ₀ − k))
  * looks inherently sequential, but it is exactly the running DRAWUP of
  * the prefix sums — S⁺_t = P_t − min(0, P₁, …, P_t) with
  * P_t = Σ_{i≤t} d_i — so the whole statistic is two windows over the
  * BUCKETS-sized grid: one prefix sum, one running min. Nothing here is
  * corpus-sized after the per-bucket aggregate, and nothing sorts data
  * rows (reference behavior context: valentinus has no monitoring
  * surface at all — lib.rs:1-40 exposes only collection CRUD + query —
  * so this extends the engine the way SURVEY §2.3's streaming/monitor
  * rows do). */
object ChangeDetect {

  /** Two-sided tabular CUSUM on per-bucket means. Per bucket:
    * (bucket, n, mean, cusum_hi, cusum_lo, alarm) where
    * cusum_hi accumulates upward drift (x̄ − target − slack)⁺,
    * cusum_lo downward drift (target − x̄ − slack)⁺, and
    * alarm = 1 when either side exceeds `threshold` at that bucket.
    *
    * Determinism: per-row values micro-quantize to exact integers; the
    * per-bucket mean is ONE fixed-order double divide of exact DECIMAL
    * sums, micro-quantized back; deviations, prefix sums and running
    * minima are pure long arithmetic — bit-replayable. NULL buckets or
    * values fail typed.
    *
    * Plan: one map-side-combined corpus groupBy to the buckets-sized
    * grid, two bounded-grid windows (prefix + running min per side),
    * one projection. The single-partition windows run over BUCKETS
    * (hours/days), never rows.
    *
    * @param target    in-control mean μ₀ of the metric
    * @param slack     allowance k ≥ 0 — drift smaller than k per bucket
    *                  is absorbed, not accumulated
    * @param threshold alarm level h > 0 on the accumulated drift */
  def cusum(df: DataFrame, bucketCol: String, valueCol: String,
      target: Double, slack: Double, threshold: Double): DataFrame =
    cusumFromPartials(guardedPartials(df, bucketCol, valueCol,
        s"cusum needs non-NULL '$bucketCol' buckets and '$valueCol' values"),
      target, slack, threshold)

  /** Per-bucket PARTIAL aggregate `(bucket, n, _sm)` — the mergeable
    * state [[cusumFromPartials]] folds: partials from any number of
    * micro-batches (or one full batch) re-aggregate per key to the
    * identical grid, which is what makes the streaming monitor
    * ([[graft.streaming.CusumMonitor]]) ≡ this batch op by
    * construction. */
  private[graft] def partialGrid(df: DataFrame, bucketCol: String,
      valueCol: String): DataFrame =
    df.select(col(bucketCol).as("bucket"),
        round(col(valueCol).cast("double") * 1e6d).cast("decimal(38,0)")
          .as("_vm"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("_vm")).as("_sm"))

  /** [[partialGrid]] with the typed null guard FUSED into the same
    * aggregate (r17, guide §1.2 — the freestanding
    * `filter(nulls).limit(1).count()` was a full extra pass over the
    * corpus before the real one): bad values surface as a counted flag
    * on the buckets-sized grid and NULL buckets land in the null group
    * key, so the guard reads the PINNED grid, not the input. Returns
    * the pinned partial grid with the guard column dropped;
    * `badValue` lets [[sprt]] extend the check to off-domain outcomes.
    * Error type/message identical to the old freestanding guard. */
  private[graft] def guardedPartials(df: DataFrame, bucketCol: String,
      valueCol: String, msg: => String,
      badValue: Column => Column = _.isNull): DataFrame = {
    val g = df.select(col(bucketCol).as("bucket"),
        round(col(valueCol).cast("double") * 1e6d).cast("decimal(38,0)")
          .as("_vm"),
        badValue(col(valueCol)).as("_badv"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("_vm")).as("_sm"),
        sum(when(col("_badv"), lit(1L)).otherwise(lit(0L))).as("_bad"))
      .pin // buckets-sized; guard + every pass below
    val bad = g.filter(col("bucket").isNull || col("_bad") > 0L).count()
    require(bad == 0L, msg)
    g.drop("_bad")
  }

  /** The micro-mean grid of a pinned partial grid — a grid-sized
    * projection per read (callers read it a handful of times; the
    * heavy corpus aggregate is already materialized underneath). */
  private def meanGridOf(partials: DataFrame): DataFrame =
    partials
      .withColumn("_mean",
        round(col("_sm").cast("double") / col("n").cast("double"))
          .cast("long"))
      .select(col("bucket").cast("long").as("bucket"), col("_mean"))

  /** Merge stacked per-batch partials into the final micro-mean grid —
    * a no-op re-aggregation on an already-final grid, the cross-batch
    * combine on monitor state; every bucket-mean consumer
    * ([[changePoint]], [[seasonalDecompose]], the streaming probes)
    * shares this one definition so stream ≡ batch holds by
    * construction. */
  private[graft] def mergedMeanGrid(partials: DataFrame): DataFrame =
    partials
      .groupBy(col("bucket"))
      .agg(sum(col("n")).as("n"), sum(col("_sm")).as("_sm"))
      .withColumn("_mean",
        round(col("_sm").cast("double") / col("n").cast("double"))
          .cast("long"))
      .select(col("bucket").cast("long").as("bucket"), col("_mean"))

  /** The CUSUM statistic over a (possibly partial-per-bucket) grid:
    * re-aggregates per bucket first — a no-op on a final grid, the
    * cross-batch merge on stacked partials — then runs the drawup
    * windows. Output and determinism exactly as [[cusum]]. */
  private[graft] def cusumFromPartials(grid: DataFrame,
      target: Double, slack: Double, threshold: Double): DataFrame = {
    require(slack >= 0.0d, s"slack must be >= 0, got $slack")
    require(threshold > 0.0d, s"threshold must be > 0, got $threshold")
    val tq = math.round(target * 1e6d)
    val kq = math.round(slack * 1e6d)
    val hq = math.round(threshold * 1e6d)
    val perBucket = grid
      .groupBy(col("bucket"))
      .agg(sum(col("n")).as("n"),
        sum(col("_sm").cast("decimal(38,0)")).as("_sm"))
      .withColumn("_mean",
        round(col("_sm").cast("double") / col("n").cast("double"))
          .cast("long"))
      .withColumn("_dhi", col("_mean") - tq - kq)
      .withColumn("_dlo", lit(tq) - col("_mean") - kq)
    val wCum = org.apache.spark.sql.expressions.Window.orderBy(col("bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = perBucket
      .withColumn("_phi", sum(col("_dhi")).over(wCum))
      .withColumn("_plo", sum(col("_dlo")).over(wCum))
      .withColumn("_shi",
        col("_phi") - least(min(col("_phi")).over(wCum), lit(0L)))
      .withColumn("_slo",
        col("_plo") - least(min(col("_plo")).over(wCum), lit(0L)))
    cum.select(col("bucket"), col("n"),
      round(col("_mean").cast("double") / 1e6d, 6).as("mean"),
      round(col("_shi").cast("double") / 1e6d, 6).as("cusum_hi"),
      round(col("_slo").cast("double") / 1e6d, 6).as("cusum_lo"),
      when(col("_shi") > hq || col("_slo") > hq, 1L).otherwise(0L)
        .as("alarm"))
  }

  /** THEIL–SEN robust trend estimate over a time-bucketed metric — the
    * outlier-proof answer to "is this metric drifting, and how fast?"
    * next to [[cusum]] (which alarms on accumulated shift but does not
    * estimate a rate): the slope is the MEDIAN of all pairwise slopes
    * (y_j − y_i)/(t_j − t_i), i < j, so up to ~29% of buckets can be
    * arbitrarily corrupted (a logging outage, a backfill spike) without
    * moving the estimate — the breakdown point an OLS line has zero of
    * (Theil 1950, Sen 1968). The intercept is the median residual
    * median(y_i − slope·t_i), the companion estimator.
    *
    * One row: (n_points, n_pairs, slope, intercept) — slope in
    * value-units per bucket-unit of `bucketCol`.
    *
    * Determinism: per-bucket means micro-quantize to exact longs; each
    * pairwise slope is ONE IEEE division of exact integers (bit-equal
    * in any engine); the median picks the (⌈p/2⌉..⌊p/2⌋+1) ranked
    * values by a total ordering on the slope value (ties collapse to
    * the same value, so rank ambiguity cannot change the answer) and
    * averages them in one fixed-order expression. NULL buckets/values
    * fail typed; fewer than 2 buckets fails typed (no slope exists).
    *
    * Plan: one map-side-combined corpus groupBy to the BUCKETS-sized
    * grid, one bounded grid⋈grid pair join (H(H−1)/2 rows for H
    * buckets — hours/days, never data rows), one bounded-grid
    * rank window, one 1-row broadcast back for the intercept pass.
    * Corpus size only enters through the first aggregate. */
  def theilSen(df: DataFrame, bucketCol: String,
      valueCol: String): DataFrame = {
    val grid = meanGridOf(guardedPartials(df, bucketCol, valueCol,
      s"theilSen needs non-NULL '$bucketCol' buckets and '$valueCol' values"))
    val h = grid.count()
    require(h >= 2L, s"theilSen needs >= 2 buckets, got $h")
    val g1 = grid.select(col("bucket").as("_b1"), col("_mean").as("_m1"))
    val g2 = grid.select(col("bucket").as("_b2"), col("_mean").as("_m2"))
    val slopes = g1.join(g2, col("_b1") < col("_b2"))
      .select(((col("_m2") - col("_m1")).cast("double") /
        (col("_b2") - col("_b1")).cast("double")).as("_slope"))
    val slope = medianOf(slopes, "_slope").first().getDouble(0)
    val resid = grid.select(
      (col("_mean").cast("double") -
        lit(slope) * col("bucket").cast("double")).as("_resid"))
    val intercept = medianOf(resid, "_resid").first().getDouble(0)
    val np = h * (h - 1L) / 2L
    grid.sparkSession.range(1)
      .select(lit(h).as("n_points"), lit(np).as("n_pairs"),
        round(lit(slope) / 1e6d, 6).as("slope"),
        round(lit(intercept) / 1e6d, 6).as("intercept"))
  }

  /** Median of a single double column over a BOUNDED grid: ranks by
    * value and averages the middle one (odd count) or two (even) in a
    * fixed-order expression — rank ties share a value, so the pick is
    * deterministic. Single-partition window; callers guarantee the
    * input is grid-sized (pairs of hourly buckets), never data-sized. */
  private def medianOf(df: DataFrame, c: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col(c))
    val n = df.count()
    val lo = (n + 1L) / 2L
    val hi = (n + 2L) / 2L
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") >= lo && col("_rn") <= hi)
      .agg((sum(col(c)) / count(lit(1)).cast("double")).as("_median"))
  }

  /** Sample AUTOCORRELATION of a time-bucketed metric at lags 1..`maxLag`
    * — the seasonality/persistence fingerprint next to [[cusum]]'s
    * drift alarm and [[theilSen]]'s trend rate: r_k ≈ 1 at k = 24 says
    * "daily cycle", r_k ≈ 0 everywhere says the per-bucket monitor
    * sees independent noise (and z-gate false-alarm math holds). Uses
    * the standard biased estimator
    * r_k = Σ_t (x_t − x̄)(x_{t+k} − x̄) / Σ_t (x_t − x̄)²
    * with the FULL-series mean and variance in the denominator, pairs
    * joined on bucket + k so gaps in the grid simply contribute no
    * pair (documented, not imputed).
    *
    * Output: one row per lag (lag, n_pairs, acf), lags ascending.
    *
    * Determinism: per-bucket means are micro-quantized longs; all sums
    * (Σx, Σx², Σ x_t·x_{t+k}, Σ(x_t + x_{t+k})) are exact DECIMAL; the
    * numerator expands to S1 − x̄·S2 + p·x̄² so the only doubles are a
    * fixed-order polynomial of exact components, rounded to 6 dp.
    * NULL buckets/values fail typed; lag rows with zero pairs report
    * acf = 0.0 (documented, not NaN).
    *
    * Plan: one corpus groupBy to the grid, one grid×lags equi-join
    * (bucket + lag = bucket — bounded by H·maxLag), two grid-sized
    * aggregates, one broadcast of the 1-row global moments. */
  def acf(df: DataFrame, bucketCol: String, valueCol: String,
      maxLag: Int = 6): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    val dec = "decimal(38,0)"
    val grid = meanGridOf(guardedPartials(df, bucketCol, valueCol,
      s"acf needs non-NULL '$bucketCol' buckets and '$valueCol' values"))
    val glob = grid.agg(count(lit(1)).as("_n"),
      sum(col("_mean").cast(dec)).as("_sx"),
      sum(col("_mean").cast(dec) * col("_mean")).as("_sxx"))
    val lags = grid.sparkSession.range(1, maxLag + 1L)
      .select(col("id").as("lag"))
    val pairs = grid.crossJoin(broadcast(lags))
      .select(col("lag"), (col("bucket") + col("lag")).as("bucket"),
        col("_mean").as("_m1"))
      .join(grid.withColumnRenamed("_mean", "_m2"), Seq("bucket"))
    val perLag = pairs.groupBy(col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("_m1").cast(dec) * col("_m2")).as("_s1"),
        sum(col("_m1").cast(dec) + col("_m2")).as("_s2"))
    val out = broadcast(lags).join(perLag, Seq("lag"), "left")
      .crossJoin(broadcast(glob))
    val xbar = col("_sx").cast("double") / col("_n").cast("double")
    val denom = col("_sxx").cast("double") -
      col("_sx").cast("double") * col("_sx").cast("double") /
        col("_n").cast("double")
    val num = col("_s1").cast("double") - xbar * col("_s2").cast("double") +
      col("n_pairs").cast("double") * xbar * xbar
    out.select(col("lag"), coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        when(col("n_pairs").isNull || col("n_pairs") === 0L || denom <= 0.0d,
          lit(0.0d))
          .otherwise(round(num / denom, 6)).as("acf"))
      .orderBy(col("lag"))
  }

  /** CROSS-correlation function between two bucketed series at lags
    * −maxLag..+maxLag — the lead/lag coupling readout [[acf]] cannot
    * see: r(ℓ) = corr(x_t, y_{t+ℓ}), so a peak at POSITIVE ℓ means x
    * LEADS y by ℓ buckets (errors now → signups dip later), a peak at
    * negative ℓ means y leads x, and the ℓ = 0 column is plain Pearson.
    * The classical normalization: pair covariances over the lag
    * overlap, divided by the product of the FULL-series standard
    * deviations — so the lags are comparable to each other and to the
    * textbook CCF.
    *
    * One row per lag: (lag, n_pairs, ccf), lag ascending. Buckets
    * missing from either series contribute no pair at the lags that
    * would need them — documented, not imputed (the [[acf]] gap rule).
    *
    * Determinism: per-bucket micro-means are exact longs (the shared
    * [[partialGrid]] device); per-lag pair sums and the two global
    * moment sets run in DECIMAL; each r(ℓ) is one fixed-order double
    * expression (micro scales cancel between numerator and the
    * sqrt-product denominator) rounded to 6 dp — bit-replayable.
    * Degenerate zero variance on either side reports 0.0 for every
    * lag, never NaN. NULLs fail typed.
    *
    * Plan: two map-side-combined groupBys to the buckets-sized grids;
    * the lag spine (2·maxLag+1 rows) broadcasts; one grid-sized
    * equi-join per side; per-lag aggregates on the bounded pair frame;
    * two broadcast 1-row global-moment combines. */
  def ccf(dfA: DataFrame, dfB: DataFrame, bucketCol: String,
      valueCol: String, maxLag: Int = 6): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    val dec = "decimal(38,0)"
    def grid(side: String, df: DataFrame) =
      meanGridOf(guardedPartials(df, bucketCol, valueCol,
        s"ccf needs non-NULL '$bucketCol'/'$valueCol' on the $side side"))
    val gx = grid("x", dfA)
    val gy = grid("y", dfB)
    def glob(g: DataFrame, n: String, s: String, ss: String) =
      g.agg(count(lit(1)).as(n), sum(col("_mean").cast(dec)).as(s),
        sum(col("_mean").cast(dec) * col("_mean")).as(ss))
    val globX = glob(gx, "_nx", "_sx", "_sxx")
    val globY = glob(gy, "_ny", "_sy", "_syy")
    val lags = gx.sparkSession.range(-maxLag.toLong, maxLag + 1L)
      .select(col("id").as("lag"))
    val pairs = gx.crossJoin(broadcast(lags))
      .select(col("lag"), (col("bucket") + col("lag")).as("bucket"),
        col("_mean").as("_mx"))
      .join(gy.withColumnRenamed("_mean", "_my"), Seq("bucket"))
    val perLag = pairs.groupBy(col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("_mx").cast(dec) * col("_my")).as("_sxy"),
        sum(col("_mx").cast(dec)).as("_spx"),
        sum(col("_my").cast(dec)).as("_spy"))
    val out = broadcast(lags).join(perLag, Seq("lag"), "left")
      .crossJoin(broadcast(globX)).crossJoin(broadcast(globY))
    def d(c: String) = col(c).cast("double")
    val xbar = d("_sx") / d("_nx")
    val ybar = d("_sy") / d("_ny")
    val denX = d("_sxx") - d("_sx") * d("_sx") / d("_nx")
    val denY = d("_syy") - d("_sy") * d("_sy") / d("_ny")
    val num = d("_sxy") - ybar * d("_spx") - xbar * d("_spy") +
      d("n_pairs") * xbar * ybar
    out.select(col("lag"), coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        when(col("n_pairs").isNull || col("n_pairs") === 0L ||
            denX <= 0.0d || denY <= 0.0d, lit(0.0d))
          .otherwise(round(num / sqrt(denX * denY), 6)).as("ccf"))
      .orderBy(col("lag"))
  }

  /** LEAST-SQUARES change-point LOCALIZATION (binary-segmentation step;
    * Scott & Knott 1974) — [[cusum]] says a persistent shift EXISTS and
    * roughly when it crossed the alarm budget; this names the exact
    * bucket the level broke: the split τ minimizing the two-segment
    * SSE, found by maximizing f(τ) = S₁²∕n₁ + S₂²∕n₂ (equivalent since
    * Σx² is constant) over every candidate split of the bucket-mean
    * series.
    *
    * One row: (n_buckets, break_bucket, n_before, n_after, mean_before,
    * mean_after, shift) — break_bucket is the LAST bucket of the first
    * segment; shift = mean_after − mean_before in value units.
    *
    * Determinism: prefix sums over micro-quantized bucket means are
    * exact; f is one fixed-order IEEE expression per candidate
    * (identical on replay), arg-max tie-breaks on the earliest bucket;
    * means are floated once, 6 dp. A constant series reports the
    * earliest split with shift 0.0 — documented, not NaN.
    *
    * Plan: one grid aggregate, one bounded-grid prefix window (the
    * [[cusum]] convention), one orderBy+limit(1) on the hours-sized
    * candidate frame — candidates are O(buckets), each O(1) via the
    * prefix sums, never the O(buckets²) two-sided rescan. */
  def changePoint(df: DataFrame, bucketCol: String,
      valueCol: String): DataFrame =
    changePointFromPartials(guardedPartials(df, bucketCol, valueCol,
      s"changePoint needs non-NULL '$bucketCol' and '$valueCol'"))

  /** [[changePoint]] over a (possibly partial-per-bucket) grid — the
    * cross-batch merge first (a no-op on a final grid), then the same
    * split search. Serves the streaming monitor's persisted state. */
  private[graft] def changePointFromPartials(partials: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val grid = mergedMeanGrid(partials)
    val nb = grid.count()
    require(nb >= 2L,
      s"changePoint needs >= 2 buckets to split, got $nb")
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = grid.agg(sum(col("_mean").cast(dec)).as("_s"))
    val cand = grid.select(col("bucket"),
        row_number().over(Window.orderBy(col("bucket"))).as("_n1"),
        sum(col("_mean").cast(dec)).over(w).as("_s1"))
      .filter(col("_n1") < nb)
      .crossJoin(broadcast(tot))
      .withColumn("_n2", lit(nb) - col("_n1"))
      .withColumn("_s2", col("_s") - col("_s1"))
      .withColumn("_f",
        col("_s1").cast("double") * col("_s1").cast("double") /
          col("_n1").cast("double") +
        col("_s2").cast("double") * col("_s2").cast("double") /
          col("_n2").cast("double"))
    val m1 = col("_s1").cast("double") / col("_n1").cast("double") / 1e6d
    val m2 = col("_s2").cast("double") / col("_n2").cast("double") / 1e6d
    cand.orderBy(col("_f").desc, col("bucket").asc).limit(1)
      .select(lit(nb).as("n_buckets"), col("bucket").as("break_bucket"),
        col("_n1").cast("long").as("n_before"), col("_n2").as("n_after"),
        round(m1, 6).as("mean_before"), round(m2, 6).as("mean_after"),
        round(m2 - m1, 6).as("shift"))
  }

  /** CLASSICAL seasonal decomposition of a bucketed series (the moving-
    * average half of STL, kept exact): per-phase seasonal offsets after
    * removing a centered moving-average trend — the "is 3am ALWAYS
    * quiet" profile that turns [[cusum]]'s level shifts and [[acf]]'s
    * raw memory into an interpretable daily shape (an hour-of-day
    * seasonal pattern also shows up as an acf-24 spike; this names the
    * hours). Even `period` uses the textbook 2×period MA (the two
    * straddling period-windows averaged — a plain even window has no
    * center); odd uses the single centered window, folded through the
    * same unified arithmetic (the two windows coincide).
    *
    * One row per phase (bucket mod period) holding ≥ 1 INTERIOR bucket:
    * (hour_of_day, n_hours, seasonal) — seasonal = mean over interior
    * buckets of (bucket mean − centered trend), in value units.
    * Interior = both straddling windows complete (count == period);
    * edges carry no defined trend and are excluded, counted by n_hours.
    *
    * Buckets must be CONSECUTIVE integers at the base sampling rate
    * (e.g. epoch-hours), so range frames measure true lag distance and
    * mod `period` is the phase; gaps simply shrink window counts below
    * `period` and those buckets drop out as non-interior — documented,
    * never silently mis-centered.
    *
    * Determinism: bucket means are micro-quantized longs ([[cusum]]'s
    * grid); x = 2·period·m − (sumA + sumB) is exact DECIMAL; the only
    * double is one final fixed-order ratio, 6 dp.
    *
    * Plan: one combiner-friendly grid aggregate, two bounded-grid
    * window passes (hours-sized, the [[cusum]] convention), one
    * period-sized groupBy. Nothing row-scale past the first
    * aggregate. */
  def seasonalDecompose(df: DataFrame, bucketCol: String, valueCol: String,
      period: Int = 24): DataFrame = {
    require(period >= 2 && period <= 8784,
      s"period must be in [2, 8784], got $period")
    seasonalFromPartials(guardedPartials(df, bucketCol, valueCol,
      s"seasonalDecompose needs non-NULL '$bucketCol' and '$valueCol'"),
      period)
  }

  /** [[seasonalDecompose]] over a (possibly partial-per-bucket) grid —
    * cross-batch merge first, then the same window arithmetic. Serves
    * the streaming monitor's persisted state. */
  private[graft] def seasonalFromPartials(partials: DataFrame,
      period: Int): DataFrame = {
    require(period >= 2 && period <= 8784,
      s"period must be in [2, 8784], got $period")
    val dec = "decimal(38,0)"
    val grid = mergedMeanGrid(partials)
    val h = period / 2
    // even: the two straddling windows of the 2xMA; odd: twice the one
    // centered window (sa = sb) — the unified x/(2*period) ratio holds
    val (loA, hiA, loB, hiB) =
      if (period % 2 == 0) (-h.toLong, (h - 1).toLong, -(h - 1).toLong, h.toLong)
      else (-h.toLong, h.toLong, -h.toLong, h.toLong)
    val wA = Window.orderBy(col("bucket")).rangeBetween(loA, hiA)
    val wB = Window.orderBy(col("bucket")).rangeBetween(loB, hiB)
    grid.select(col("bucket"), col("_mean"),
        sum(col("_mean").cast(dec)).over(wA).as("_sa"),
        count(lit(1)).over(wA).as("_ca"),
        sum(col("_mean").cast(dec)).over(wB).as("_sb"),
        count(lit(1)).over(wB).as("_cb"))
      .filter(col("_ca") === period.toLong && col("_cb") === period.toLong)
      .withColumn("_hod", pmod(col("bucket"), lit(period.toLong)))
      .withColumn("_x",
        col("_mean").cast(dec) * lit(2L * period) - (col("_sa") + col("_sb")))
      .groupBy(col("_hod"))
      .agg(count(lit(1)).as("n_hours"), sum(col("_x")).as("_sx"))
      .select(col("_hod").as("hour_of_day"), col("n_hours"),
        round(col("_sx").cast("double") /
          (col("n_hours").cast("double") * lit((2L * period).toDouble) *
            lit(1e6d)), 6).as("seasonal"))
      .orderBy(col("hour_of_day"))
  }

  /** MANN–KENDALL trend test over the bucketed series — the
    * SIGNIFICANCE companion of [[theilSen]] (which reports the robust
    * slope but not whether it could be chance): S counts concordant
    * minus discordant bucket pairs, the tie-corrected variance
    * Var(S) = (n(n−1)(2n+5) − Σt(t−1)(2t+5))∕18, and z applies the
    * standard ±1 continuity correction. Monotone-trend detection with
    * NO distributional assumption on the values and no linearity
    * assumption — the honest gate before quoting q217's slope. One
    * row: (n_points, n_pairs, s, var_s, z).
    *
    * Determinism: the shared [[theilSen]] micro-mean grid makes every
    * bucket value an exact long, so S and the tie term are exact
    * integers (sign compares, never float subtraction); var_s/z are
    * fixed-order double expressions rounded to 6 dp. All buckets
    * tied → Var(S) = 0 → z = 0.0, documented.
    *
    * Plan: one map-side-combined bucket aggregate, one bounded
    * grid×grid pair join (hours², never rows²), one tiny tie
    * groupBy, 1-row arithmetic. */
  def mannKendall(df: DataFrame, bucketCol: String,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val grid = meanGridOf(guardedPartials(df, bucketCol, valueCol,
      s"mannKendall needs non-NULL '$bucketCol' buckets and " +
        s"'$valueCol' values"))
    val h = grid.count()
    require(h >= 2L, s"mannKendall needs >= 2 buckets, got $h")
    val g1 = grid.select(col("bucket").as("_b1"), col("_mean").as("_m1"))
    val g2 = grid.select(col("bucket").as("_b2"), col("_mean").as("_m2"))
    val sRow = g1.join(g2, col("_b1") < col("_b2"))
      .agg(coalesce(sum(when(col("_m2") > col("_m1"), 1L)
        .when(col("_m2") < col("_m1"), -1L).otherwise(0L)), lit(0L))
        .as("s"))
    val tieRow = grid.groupBy(col("_mean")).agg(count(lit(1)).as("_t"))
      .agg(coalesce(sum(col("_t").cast(dec) * (col("_t") - lit(1L)) *
        (col("_t") * lit(2L) + lit(5L))), lit(0L).cast(dec)).as("_tt"))
    def d(c: String) = col(c).cast("double")
    val hd = lit(h.toDouble)
    val varS = (hd * (hd - 1.0d) * (hd * 2.0d + 5.0d) - d("_tt")) / 18.0d
    sRow.crossJoin(broadcast(tieRow))
      .select(lit(h).as("n_points"), lit(h * (h - 1L) / 2L).as("n_pairs"),
        col("s"),
        round(varS, 6).as("var_s"),
        when(varS > 0.0d,
          when(col("s") > 0L,
            round((d("s") - 1.0d) / sqrt(varS), 6))
          .when(col("s") < 0L,
            round((d("s") + 1.0d) / sqrt(varS), 6))
          .otherwise(lit(0.0d)))
        .otherwise(lit(0.0d)).as("z"))
  }

  /** WALD'S SPRT trajectory over a bucketed binary stream — the
    * sequential test that lets a gate rollout STOP as soon as the
    * evidence is in, instead of waiting for a fixed-horizon q154/q250
    * readout: per bucket, the cumulative log-likelihood ratio
    * LLR_t = s_t·ln(p₁∕p₀) + f_t·ln((1−p₁)∕(1−p₀)) against the
    * boundaries ln((1−β)∕α) (accept H₁: rate is p₁) and ln(β∕(1−α))
    * (accept H₀). One row per bucket: (bucket, n_obs, n_success,
    * cum_n, cum_success, llr, decision, stop_bucket) — stop_bucket is
    * the FIRST boundary crossing (NULL while the test is still
    * running), and rows after it keep reporting the trajectory so a
    * monitor can show the overshoot.
    *
    * Determinism: per-success/failure log increments nano-quantize
    * ONCE (the engine-parity ln device of the LM family), so every
    * LLR is an exact integer sum and every boundary compare is an
    * integer compare — bit-replayable. NULL buckets/outcomes and
    * off-domain outcomes fail typed; p₀ ≥ p₁ or α, β outside (0, ½)
    * fail typed.
    *
    * Plan: one map-side-combined groupBy to the buckets-sized grid,
    * two bounded-grid windows (cumulatives + first crossing), one
    * projection. */
  def sprt(df: DataFrame, bucketCol: String, successCol: String,
      p0: Double, p1: Double, alpha: Double = 0.05d,
      beta: Double = 0.05d): DataFrame = {
    require(p0 > 0.0d && p1 > p0 && p1 < 1.0d,
      s"need 0 < p0 < p1 < 1, got $p0/$p1")
    require(alpha > 0.0d && alpha < 0.5d && beta > 0.0d && beta < 0.5d,
      s"need alpha, beta in (0, 0.5), got $alpha/$beta")
    sprtFromPartials(guardedPartials(df, bucketCol, successCol,
        s"sprt needs non-NULL '$bucketCol' buckets and " +
          s"0/1 outcomes in '$successCol'",
        c => c.isNull || (c =!= 0L && c =!= 1L)),
      p0, p1, alpha, beta)
  }

  /** [[sprt]] over a (possibly partial-per-bucket) grid — the shared
    * [[partialGrid]] state (a 0/1 stream's micro value sum is
    * 10⁶·successes, recovered exactly), so the streaming monitor's
    * ONE persisted grid also serves the sequential test. A grid whose
    * value sums are not multiples of 10⁶ was not a 0/1 stream — typed
    * failure, never a silent fractional success count. */
  private[graft] def sprtFromPartials(partials: DataFrame,
      p0: Double, p1: Double, alpha: Double, beta: Double): DataFrame = {
    require(p0 > 0.0d && p1 > p0 && p1 < 1.0d,
      s"need 0 < p0 < p1 < 1, got $p0/$p1")
    require(alpha > 0.0d && alpha < 0.5d && beta > 0.0d && beta < 0.5d,
      s"need alpha, beta in (0, 0.5), got $alpha/$beta")
    val g = partials
      .groupBy(col("bucket"))
      .agg(sum(col("n")).as("n_obs"),
        sum(col("_sm").cast("decimal(38,0)")).as("_sm"))
      .withColumn("bucket", col("bucket").cast("long"))
      .pin // grid-sized, read twice (guard + run)
    val frac = g.filter(expr("_sm % 1000000 != 0") ||
      col("_sm") < 0 || expr("_sm div 1000000") > col("n_obs"))
      .limit(1).count()
    require(frac == 0L,
      "sprt: the monitored values are not a 0/1 stream — per-bucket " +
        "success mass is fractional or out of range")
    val g2 = g.withColumn("n_success", expr("cast(_sm div 1000000 as long)"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val lls = round(log(lit(p1 / p0)) * 1e9d).cast("long")
    val llf = round(log(lit((1.0d - p1) / (1.0d - p0))) * 1e9d).cast("long")
    val lnA = round(log(lit((1.0d - beta) / alpha)) * 1e9d).cast("long")
    val lnB = round(log(lit(beta / (1.0d - alpha))) * 1e9d).cast("long")
    val cum = g2
      .withColumn("cum_n", sum(col("n_obs")).over(w))
      .withColumn("cum_success", sum(col("n_success")).over(w))
      .withColumn("_llr", col("cum_success") * lls +
        (col("cum_n") - col("cum_success")) * llf)
      .withColumn("decision",
        when(col("_llr") >= lnA, "accept_h1")
          .when(col("_llr") <= lnB, "accept_h0")
          .otherwise("continue"))
    cum
      .withColumn("stop_bucket",
        min(when(col("decision") =!= "continue", col("bucket"))).over(w))
      .select(col("bucket"), col("n_obs"), col("n_success"),
        col("cum_n"), col("cum_success"),
        round(col("_llr").cast("double") / 1e9d, 6).as("llr"),
        col("decision"), col("stop_bucket"))
      .orderBy(col("bucket"))
  }

  /** SEGMENTED (piecewise-linear) TREND around the change point — the
    * quantifying follow-up to [[changePoint]]'s WHERE: separate exact
    * OLS fits on the buckets before and after the detected break, so
    * "traffic shifted at hour τ" becomes "flat before, +3.2∕h after".
    * The break is the SAME argmax split [[changePoint]] reports (one
    * definition, spec-proven), so the two queries never disagree. One
    * row: (n_buckets, break_bucket, n_pre, slope_pre, icpt_pre,
    * n_post, slope_post, icpt_post, slope_change).
    *
    * Determinism: bucket means are micro-quantized longs; each side's
    * (n, Σx, Σy, Σxy, Σx²) are exact DECIMAL sums from ONE
    * conditional aggregate; slope = (nΣxy − ΣxΣy)∕(nΣx² − (Σx)²) and
    * intercept are fixed-order double ratios on those integers,
    * reported in value units (∕10⁶), 6 dp. A single-bucket side has
    * no slope → NULL for that side's fit and for slope_change,
    * documented — never a 0∕0.
    *
    * Plan: one map-side-combined grid aggregate, the bounded-grid
    * split search, ONE conditional aggregate over the grid. */
  def segmentedTrend(df: DataFrame, bucketCol: String,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val partials = guardedPartials(df, bucketCol, valueCol,
      s"segmentedTrend needs non-NULL '$bucketCol' and '$valueCol'")
    val grid = mergedMeanGrid(partials)
    val nb = grid.count()
    require(nb >= 2L, s"segmentedTrend needs >= 2 buckets, got $nb")
    val brk = changePointFromPartials(partials)
      .select(col("break_bucket")).first().getLong(0)
    def side(tag: String, cond: Column) = Seq(
      sum(when(cond, 1L).otherwise(0L)).as(s"_n$tag"),
      sum(when(cond, col("bucket").cast(dec))).as(s"_sx$tag"),
      sum(when(cond, col("_mean").cast(dec))).as(s"_sy$tag"),
      sum(when(cond, col("bucket").cast(dec) * col("_mean")))
        .as(s"_sxy$tag"),
      sum(when(cond, col("bucket").cast(dec) * col("bucket")))
        .as(s"_sxx$tag"))
    val aggs = side("p", col("bucket") <= lit(brk)) ++
      side("q", col("bucket") > lit(brk))
    val row = grid.agg(aggs.head, aggs.drop(1): _*)
    def d(c: Column) = c.cast("double")
    def num(t: String) = d(col(s"_n$t").cast(dec) * col(s"_sxy$t") -
      col(s"_sx$t") * col(s"_sy$t"))
    def den(t: String) = d(col(s"_n$t").cast(dec) * col(s"_sxx$t") -
      col(s"_sx$t") * col(s"_sx$t"))
    def slope(t: String) = num(t) / den(t)
    def icpt(t: String) = d(col(s"_sy$t")) / d(col(s"_n$t")) -
      slope(t) * (d(col(s"_sx$t")) / d(col(s"_n$t")))
    def fit(t: String, out: Column => Column) =
      when(den(t) =!= 0.0d, out(lit(0))).otherwise(lit(null).cast("double"))
    row.select(lit(nb).as("n_buckets"), lit(brk).as("break_bucket"),
      col("_np").as("n_pre"),
      fit("p", _ => round(slope("p") / 1e6d, 6)).as("slope_pre"),
      fit("p", _ => round(icpt("p") / 1e6d, 6)).as("icpt_pre"),
      col("_nq").as("n_post"),
      fit("q", _ => round(slope("q") / 1e6d, 6)).as("slope_post"),
      fit("q", _ => round(icpt("q") / 1e6d, 6)).as("icpt_post"),
      when(den("p") =!= 0.0d && den("q") =!= 0.0d,
        round((slope("q") - slope("p")) / 1e6d, 6))
        .otherwise(lit(null).cast("double")).as("slope_change"))
  }

  /** WALD–WOLFOWITZ RUNS TEST around the series median (Wald &
    * Wolfowitz 1940) — the randomness check in front of the whole
    * monitoring stack: too FEW runs of above/below-median hours means
    * the series is sticky (trend/regime — [[acf]] will show where),
    * too MANY means oscillation (load-balancer flapping, alternating
    * batch sources); either way the per-bucket z-gate's independence
    * assumption is dead. One row: (n_above, n_below, n_runs,
    * expected_runs, z) with z = (R − μ)∕σ, μ = 2n₁n₂∕n + 1,
    * σ² = 2n₁n₂(2n₁n₂ − n)∕(n²(n − 1)).
    *
    * Determinism: bucket means are micro longs; the median is the
    * [[medianOf]] rank pick; equal-to-median buckets are DROPPED (the
    * standard convention — they carry no sign); runs count by one lag
    * window over the bounded grid; z is one fixed-order double, 6 dp,
    * signed (the oracle carries the signed-zero canonicalization).
    * A single-sign series (n₁ = 0 or n₂ = 0) has no variability and
    * reports z = 0.0 with its counts, documented. ≥ 2 buckets
    * required (typed). */
  def runsTest(df: DataFrame, bucketCol: String,
      valueCol: String): DataFrame = {
    val grid = mergedMeanGrid(partialGrid(df, bucketCol, valueCol))
      .pin // bounded grid, read twice
    val h = grid.count()
    require(h >= 2L, s"runsTest needs >= 2 buckets, got $h")
    val med = medianOf(grid.select(col("_mean").cast("double").as("_v")),
      "_v").first().getDouble(0)
    val signed = grid
      .filter(col("_mean").cast("double") =!= med)
      .withColumn("_s",
        (col("_mean").cast("double") > med).cast("long"))
    val wAsc = org.apache.spark.sql.expressions.Window.orderBy(col("bucket"))
    val runs = signed
      .withColumn("_prev", lag(col("_s"), 1).over(wAsc))
      .agg(
        coalesce(sum(col("_s")), lit(0L)).as("n_above"),
        coalesce(sum(lit(1L) - col("_s")), lit(0L)).as("n_below"),
        (coalesce(sum(when(col("_prev").isNotNull &&
          col("_prev") =!= col("_s"), 1L).otherwise(0L)), lit(0L)) +
          when(count(lit(1)) > 0L, lit(1L)).otherwise(lit(0L)))
          .as("n_runs"))
    def d(c: String) = col(c).cast("double")
    val n1 = d("n_above"); val n2 = d("n_below")
    val n = n1 + n2
    val mu = lit(2.0d) * n1 * n2 / n + lit(1.0d)
    val v = lit(2.0d) * n1 * n2 * (lit(2.0d) * n1 * n2 - n) /
      (n * n * (n - lit(1.0d)))
    runs.select(col("n_above"), col("n_below"), col("n_runs"),
      when(col("n_above") > 0L && col("n_below") > 0L, round(mu, 6))
        .otherwise(lit(0.0d)).as("expected_runs"),
      when(col("n_above") > 0L && col("n_below") > 0L && v > 0.0d,
        round((col("n_runs").cast("double") - mu) / sqrt(v), 6))
        .otherwise(lit(0.0d)).as("z"))
  }

  /** PAGE–HINKLEY increase test (Page 1954; the sequential form drift
    * detectors like DDM/ADWIN cite) over the bucketed micro-mean series
    * — [[cusum]]'s cousin for the case with NO known target level: the
    * reference is the series' own RUNNING mean, so the monitor needs
    * zero calibration. m_t = Σ_{i≤t}(x_i − x̄_i − δ) with x̄_i the mean
    * of x_1..x_i; PH_t = m_t − min_{j≤t} m_j alarms past λ when the
    * level has risen ≳ δ-persistently above its own history.
    *
    * One row per bucket, time-ordered: (bucket, mean, ph, alarm) —
    * mean is the bucket's micro-mean, ph ≥ 0 by construction (drawup
    * from the running minimum), alarm = ph > λ.
    *
    * Determinism: bucket means are micro longs; x̄_i = S_i∕i is a
    * double ratio of exact integers; each term (x_i − S_i∕i − δ)
    * milli-quantizes (of micro units) to a long BEFORE the prefix sum
    * — order-free, replayed exactly. ph floats once, 6 dp.
    *
    * Plan: one corpus groupBy to the grid; two grid-sized prefix
    * windows (running sum, running min). Stateless per-corpus batch
    * twin of a streaming monitor: the grid is additive across batches
    * (the [[cusum]] partial-grid discipline applies verbatim). */
  def pageHinkley(df: DataFrame, bucketCol: String, valueCol: String,
      delta: Double = 0.0d, lambda: Double = 50.0d): DataFrame =
    pageHinkleyFromPartials(partialGrid(df, bucketCol, valueCol),
      delta, lambda)

  /** [[pageHinkley]] over stacked per-batch partials — the streaming
    * monitor's serving path ([[graft.streaming.CusumMonitor
    * .pageHinkleyState]]): re-merges the additive grid first, so
    * stream ≡ batch holds bit-for-bit under any batch boundaries or
    * arrival order. */
  private[graft] def pageHinkleyFromPartials(partials: DataFrame,
      delta: Double, lambda: Double): DataFrame = {
    require(delta >= 0.0d, s"delta must be >= 0, got $delta")
    require(lambda > 0.0d, s"lambda must be > 0, got $lambda")
    val grid = mergedMeanGrid(partials)
    val dq = math.round(delta * 1e6d) // δ in micro units, exact
    val wAsc = org.apache.spark.sql.expressions.Window.orderBy(col("bucket"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val withIdx = grid
      .withColumn("_i", count(lit(1)).over(wAsc))
      .withColumn("_s", sum(col("_mean")).over(wAsc))
    val term = withIdx.withColumn("_t3",
      round((col("_mean").cast("double") -
        col("_s").cast("double") / col("_i").cast("double") -
        lit(dq.toDouble)) * 1e3d).cast("long"))
    val cum = term
      .withColumn("_m", sum(col("_t3")).over(wAsc))
      .withColumn("_mn", min(col("_m")).over(wAsc))
    cum.select(col("bucket"),
      round(col("_mean").cast("double") / 1e6d, 6).as("mean"),
      round((col("_m") - col("_mn")).cast("double") / 1e9d, 6).as("ph"),
      ((col("_m") - col("_mn")).cast("double") / 1e9d >
        lit(lambda)).cast("long").as("alarm"))
      .orderBy(col("bucket"))
  }
}
