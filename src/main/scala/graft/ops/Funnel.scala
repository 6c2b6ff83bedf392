package graft.ops

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.functions._
import graft.core.Pin._

/** Ordered-funnel analysis over an event stream — the conversion query of
  * product analytics (view → click → purchase): for each user, the
  * earliest chain of stage completions where stage i counts only when it
  * happens strictly AFTER the user's stage-(i−1) completion time.
  *
  * Plan: stage 0 is one filtered groupBy(user) min; each later stage is a
  * conditional min over the (user-keyed) join of the per-user frontier
  * with that stage's filtered events. Every input to a join is already
  * aggregated to ≤ one row per user, so at 100 TB each step is an
  * equi-shuffle of user-cardinality rows — never event-cardinality — and
  * the event scan is filtered to one stage's type before it moves.
  * Stages are sequential by definition (t_i depends on t_{i-1}), so the
  * chain length — typically 3-5 — bounds the number of shuffles, not the
  * data volume.
  */
object Funnel {

  /** Per-user stage-completion times: columns t0..t{n-1} (null = stage
    * not reached). Row set = users who completed stage 0. */
  def stageTimes(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "need at least one funnel stage")
    require(stages.distinct == stages, s"stages must be distinct: $stages")
    val first = events.filter(col(typeCol) === stages.head)
      .groupBy(col(userCol)).agg(min(col(tsCol)).as("t0"))
    stages.zipWithIndex.drop(1).foldLeft(first) { case (acc, (st, i)) =>
      val e = events.filter(col(typeCol) === st)
        .select(col(userCol), col(tsCol).as("_ts"))
      val keep = col(userCol) +: (0 until i).map(j => col(s"t$j"))
      acc.join(e, Seq(userCol), "left")
        .groupBy(keep: _*)
        // null t{i-1} (stage not reached) nulls the comparison, so the
        // min is null too: unreachable stages stay unreachable
        .agg(min(when(col("_ts") > col(s"t${i - 1}"), col("_ts"))).as(s"t$i"))
    }
  }

  /** Cohort retention: users bucketed by their FIRST-activity period
    * (cohort), then counted per (cohort, periods-since-cohort) of later
    * activity — the product-analytics retention triangle.
    *
    * Plan: one groupBy(user) min for cohort assignment, one distinct on
    * (user, period), one user-keyed equi-join of those two user-
    * cardinality sides, one final groupBy — event rows collapse to
    * (user, period) pairs before anything shuffles twice. `periodSec`
    * buckets epoch seconds with exact integer division (engine-portable;
    * calendar weeks would drag in locale rules). */
  def retention(events: DataFrame, userCol: String, tsCol: String,
      periodSec: Long = 7L * 24 * 3600): DataFrame = {
    require(periodSec >= 1, s"period must be >= 1s, got $periodSec")
    val activity = events
      .select(col(userCol), periodOf(tsCol, periodSec).as("period")).distinct()
    val cohorts = activity.groupBy(col(userCol))
      .agg(min(col("period")).as("cohort"))
    activity.join(cohorts, Seq(userCol))
      // "period_offset", not "offset" — OFFSET is reserved in ANSI/DuckDB
      .groupBy(col("cohort"), (col("period") - col("cohort")).as("period_offset"))
      .agg(countDistinct(col(userCol)).as("n_users"))
  }

  /** Epoch-seconds FLOOR division into periods — exact integers, and
    * floor (not truncate-toward-zero, which is what both Spark's `div`
    * AND DuckDB's `//` do) so pre-1970 timestamps bucket
    * calendar-consistently: 1969-12-31 is day −1, not day 0. pmod's
    * non-negative remainder makes (x − pmod(x, p)) exactly divisible;
    * the oracles replay the same identity with ((s % p) + p) % p. */
  private def periodOf(tsCol: String, periodSec: Long) = expr(
    s"(unix_timestamp(`$tsCol`) - pmod(unix_timestamp(`$tsCol`), ${periodSec}L)) div ${periodSec}L")

  /** Rolling distinct actives (e.g. 7-day DAU→WAU): for each period, the
    * count of distinct users active in the trailing `windowPeriods`
    * periods. Sliding DISTINCT is inexpressible as a window function
    * (frames aggregate values, not sets); the scalable shape is
    * explode-into-affected-windows: dedup to (user, period) FIRST, then
    * each pair votes in the `windowPeriods` windows it belongs to, and a
    * groupBy counts distinct users per window. Shuffled rows =
    * actives × windowPeriods — independent of raw event volume. Windows
    * beyond the last activity are not emitted. */
  def rollingActives(events: DataFrame, userCol: String, tsCol: String,
      periodSec: Long = 24L * 3600, windowPeriods: Int = 7): DataFrame = {
    require(periodSec >= 1 && windowPeriods >= 1,
      s"need period >= 1s and window >= 1, got $periodSec/$windowPeriods")
    val activity = events
      .select(col(userCol), periodOf(tsCol, periodSec).as("period")).distinct()
    val lastP = activity.agg(max(col("period")).as("max_period"))
    activity.crossJoin(broadcast(lastP))
      .select(col(userCol), explode(sequence(col("period"),
        least(col("period") + lit(windowPeriods - 1), col("max_period"))))
        .as("window_period"))
      .groupBy(col("window_period"))
      .agg(countDistinct(col(userCol)).as("n_active"))
  }

  /** Funnel summary: one row per stage with the count of users whose
    * ordered chain reaches it. */
  def summary(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, stages: Seq[String]): DataFrame = {
    val times = stageTimes(events, userCol, tsCol, typeCol, stages)
    val counts = times.agg(
      count(col("t0")).as("c0"),
      (1 until stages.length).map(i => count(col(s"t$i")).as(s"c$i")): _*)
    counts.select(explode(array(stages.zipWithIndex.map { case (st, i) =>
      F.struct(lit(i.toLong).as("stage_idx"), lit(st).as("stage"),
        col(s"c$i").as("n_users"))
    }: _*)).as("s"))
      .select(col("s.stage_idx"), col("s.stage"), col("s.n_users"))
  }

  /** KAPLAN–MEIER user-lifetime survival with right-censoring — the
    * statistically honest upgrade of [[retention]]'s raw triangle: a
    * user whose last activity falls in the final observed period is
    * CENSORED (still alive as far as the data can say), not counted as
    * churned, so the survival curve is not biased down by the
    * observation window's edge. Convention: a user churns when their
    * last activity period precedes the global horizon (the max period
    * in the data); the event/censor time is the active lifespan
    * `last − first` in periods.
    *
    * One row per distinct churn time t (KM steps at event times only):
    * (t_period, n_risk, n_events, hazard, survival) with
    * n_risk = #{lifespan ≥ t}, hazard = d∕n and
    * S(t) = Π_{tᵢ ≤ t}(1 − dᵢ∕nᵢ).
    *
    * ALL-CENSORED contract (explicit, spec-pinned): when every user's
    * last activity falls in the horizon period — single-period data, or
    * a cohort with no churn — there are NO event times, so the curve
    * has no steps and the output is an EMPTY frame. That reads as "no
    * churn observed anywhere in the window" (S(t) = 1 throughout), not
    * "no data": downstream consumers that need an explicit S = 1 row
    * should treat zero rows as the flat unit curve. KM steps exist only
    * at event times by definition; minting a synthetic t = 0 row would
    * put a non-step into every NON-degenerate curve consumer's join
    * keys too.
    *
    * Determinism: all counts are exact integers; each survival factor's
    * ln((n−d)∕n) nano-quantizes to a long, the running product is a
    * bounded-grid prefix SUM of those longs, and S floats once through
    * exp — bit-replayable (the exp/ln parity every classifier oracle
    * already relies on). A step where d = n drives S to exactly 0.0
    * from that time on (ln 0 is handled by a flag, not −∞ arithmetic).
    *
    * Plan: events collapse to per-user (first, last) in one groupBy;
    * everything after lives on the ≤ #periods-sized duration grid (two
    * bounded-grid windows: reverse-cumulative at-risk counts, forward
    * log-survival prefix). The 1-row horizon broadcasts. */
  def kaplanMeier(events: DataFrame, userCol: String, tsCol: String,
      periodSec: Long = 24L * 3600): DataFrame = {
    require(periodSec >= 1, s"period must be >= 1s, got $periodSec")
    // ONE corpus pass (guide §1.2): null user → null group key, null ts
    // → counted flag, on the pinned users-sized result
    val per = events
      .select(col(userCol).as("_u"), periodOf(tsCol, periodSec).as("_p"),
        col(tsCol).isNull.as("_badts"))
      .groupBy(col("_u"))
      .agg(min(col("_p")).as("_first"), max(col("_p")).as("_last"),
        sum(when(col("_badts"), lit(1L)).otherwise(lit(0L))).as("_bad"))
      .pin // users-sized; guard + horizon + grid read the cache
    val bad = per.filter(col("_u").isNull || col("_bad") > 0L).count()
    require(bad == 0L,
      s"kaplanMeier needs non-NULL '$userCol' and '$tsCol'")
    val hor = per.agg(max(col("_last")).as("_h"))
    val byT = per.crossJoin(broadcast(hor))
      .select((col("_last") - col("_first")).as("t"),
        (col("_last") < col("_h")).cast("long").as("_death"))
      .groupBy(col("t"))
      .agg(count(lit(1)).as("_cnt"), sum(col("_death")).as("_d"))
    val wDesc = org.apache.spark.sql.expressions.Window.orderBy(col("t").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val risk = byT.withColumn("n_risk", sum(col("_cnt")).over(wDesc))
      .filter(col("_d") > 0L)
    val wAsc = org.apache.spark.sql.expressions.Window.orderBy(col("t"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    risk
      .withColumn("_ln", when(col("_d") === col("n_risk"), lit(null))
        .otherwise(round(log((col("n_risk") - col("_d")).cast("double") /
          col("n_risk").cast("double")) * 1e9d).cast("long")))
      .withColumn("_hitZero",
        max(when(col("_ln").isNull, lit(1L)).otherwise(lit(0L))).over(wAsc))
      .withColumn("_cl", sum(coalesce(col("_ln"), lit(0L))).over(wAsc))
      .select(col("t").as("t_period"), col("n_risk"),
        col("_d").as("n_events"),
        round(col("_d").cast("double") / col("n_risk").cast("double"), 6)
          .as("hazard"),
        when(col("_hitZero") === 1L, lit(0.0d))
          .otherwise(round(exp(col("_cl").cast("double") / 1e9d), 6))
          .as("survival"))
      .orderBy(col("t_period"))
  }

  /** LOG-RANK (Mantel–Cox) test between TWO user cohorts' survival
    * curves — the significance companion to [[kaplanMeier]]'s single
    * curve: did the B-arm users actually churn faster, or do the two
    * KM curves differ only by censoring noise? Same lifespan/censoring
    * convention as [[kaplanMeier]] (event = last activity before the
    * global horizon, time = last − first in periods); at each event
    * time t the observed cohort-A deaths d₁ₜ are compared to the
    * hypergeometric expectation e₁ₜ = dₜ·n₁ₜ∕nₜ under "no difference",
    * with variance dₜ·(n₁ₜ∕nₜ)(1 − n₁ₜ∕nₜ)(nₜ − dₜ)∕(nₜ − 1);
    * χ² = (Σ(d₁ₜ − e₁ₜ))² ∕ ΣVₜ (~χ²₁ under H₀).
    *
    * One row: (cohort_a, cohort_b, n_a, n_b, events_a, events_b,
    * o_minus_e, var_lr, chi2) — cohort_a is the lexicographically
    * smaller label (deterministic orientation).
    *
    * Determinism: the per-time O−E and variance terms are fixed-order
    * doubles of exact integer counts, nano-quantized to longs BEFORE
    * the cross-time sum (order-free on any partitioning); χ² is one
    * fixed-order double of the two exact sums, 6 dp. Exactly two
    * cohorts and a per-user-constant cohort label are required (typed
    * failure); an all-censored pair (no event times at all) reports
    * o_minus_e = var_lr = chi2 = 0.0 with the cohort sizes (documented
    * — "no churn anywhere" is a readout, not an error).
    *
    * Plan: one corpus groupBy to per-user (cohort, first, last), a
    * 1-row horizon broadcast, then everything lives on the ≤ #periods
    * event-time grid (two reverse-cumulative at-risk windows + one
    * grid aggregate). */
  def logRank(events: DataFrame, userCol: String, tsCol: String,
      cohortCol: String, periodSec: Long = 24L * 3600): DataFrame = {
    require(periodSec >= 1, s"period must be >= 1s, got $periodSec")
    // ONE corpus pass: null user → null group key, null ts/cohort →
    // counted flags, on the pinned users-sized result
    val per0 = events
      .select(col(userCol).as("_u"), col(cohortCol).cast("string").as("_c"),
        periodOf(tsCol, periodSec).as("_p"))
      .groupBy(col("_u"))
      .agg(countDistinct(col("_c")).as("_nc"), min(col("_c")).as("_c"),
        min(col("_p")).as("_first"), max(col("_p")).as("_last"),
        sum(when(col("_p").isNull, lit(1L)).otherwise(lit(0L))).as("_badp"),
        sum(when(col("_c").isNull, lit(1L)).otherwise(lit(0L))).as("_badc"))
      .pin // users-sized; read by every step below
    val bad = per0.filter(col("_u").isNull || col("_badp") > 0L ||
      col("_badc") > 0L).limit(1).count()
    require(bad == 0L,
      s"logRank needs non-NULL '$userCol', '$tsCol' and '$cohortCol'")
    val per = per0.drop("_badp", "_badc")
    val mixed = per.filter(col("_nc") > 1L).limit(1).count()
    require(mixed == 0L,
      "logRank: a user carries more than one cohort label — the cohort " +
        "must be a per-user property")
    val cohorts = per.select(col("_c")).distinct()
      .orderBy(col("_c")).collect().map(_.getString(0))
    require(cohorts.length == 2,
      s"logRank compares exactly 2 cohorts, got ${cohorts.length}: " +
        cohorts.mkString(", "))
    val (ca, cb) = (cohorts(0), cohorts(1))
    val hor = per.agg(max(col("_last")).as("_h"))
    val byU = per.crossJoin(broadcast(hor))
      .select(col("_c"), (col("_last") - col("_first")).as("t"),
        (col("_last") < col("_h")).cast("long").as("_death"))
    val sizes = byU.groupBy(col("_c"))
      .agg(count(lit(1)).as("_n"), sum(col("_death")).as("_d"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val grid = byU.groupBy(col("t")).agg(
      coalesce(sum(when(col("_c") === ca, lit(1L))), lit(0L)).as("_c1"),
      coalesce(sum(when(col("_c") === cb, lit(1L))), lit(0L)).as("_c2"),
      coalesce(sum(when(col("_c") === ca, col("_death"))), lit(0L))
        .as("_d1"),
      coalesce(sum(when(col("_c") === cb, col("_death"))), lit(0L))
        .as("_d2"))
    val wDesc = org.apache.spark.sql.expressions.Window.orderBy(col("t").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val atRisk = grid
      .withColumn("_n1", sum(col("_c1")).over(wDesc))
      .withColumn("_n2", sum(col("_c2")).over(wDesc))
      .filter(col("_d1") + col("_d2") > 0L)
    val n1 = col("_n1").cast("double"); val n2 = col("_n2").cast("double")
    val dt = (col("_d1") + col("_d2")).cast("double")
    val nt = n1 + n2
    val oeTerm = col("_d1").cast("double") - dt * n1 / nt
    val varTerm = when(col("_n1") + col("_n2") > 1L,
      dt * (n1 / nt) * (lit(1.0d) - n1 / nt) *
        (nt - dt) / (nt - lit(1.0d))).otherwise(lit(0.0d))
    val sums = atRisk.select(
      round(oeTerm * 1e9d).cast("long").as("_oe9"),
      round(varTerm * 1e9d).cast("long").as("_v9"))
      .agg(coalesce(sum(col("_oe9")), lit(0L)).as("_oe"),
        coalesce(sum(col("_v9")), lit(0L)).as("_v"))
    val (na, da) = sizes.getOrElse(ca, (0L, 0L))
    val (nb, db) = sizes.getOrElse(cb, (0L, 0L))
    sums.select(lit(ca).as("cohort_a"), lit(cb).as("cohort_b"),
      lit(na).as("n_a"), lit(nb).as("n_b"),
      lit(da).as("events_a"), lit(db).as("events_b"),
      round(col("_oe").cast("double") / 1e9d, 6).as("o_minus_e"),
      round(col("_v").cast("double") / 1e9d, 6).as("var_lr"),
      when(col("_v") > 0L,
        round((col("_oe").cast("double") / 1e9d) *
          (col("_oe").cast("double") / 1e9d) /
          (col("_v").cast("double") / 1e9d), 6))
        .otherwise(lit(0.0d)).as("chi2"))
  }
}
