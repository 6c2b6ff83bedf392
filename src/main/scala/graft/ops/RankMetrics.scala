package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Pin._

/** Retrieval-quality metrics — the EVALUATION tier of the BM25 / ANN /
  * RAG retrieval stack (SURVEY.md §2.3 "similarity search"): given
  * ranked result lists and binary relevance labels, report per query
  *
  *   mrr         — 1 ∕ rank of the first relevant hit (0 if none),
  *   p_at_k      — relevant hits in the top k ∕ k,
  *   recall_at_k — relevant hits in the top k ∕ all relevant,
  *   ndcg_at_k   — DCG ∕ ideal DCG with the standard 1∕log₂(rank+1)
  *                 gain curve,
  *
  * the IR readout a retrieval pipeline regression-gates on.
  *
  * Determinism (the repo's oracle discipline): each rank's discount
  * term is ONE fixed-order double expression micro-quantized to an
  * integer — round(10⁶ ∕ (ln(rank+1) ∕ ln 2)) — so per-query DCG and
  * ideal-DCG are exact integer sums (order-independent), and every
  * ratio is a final fixed-order double over exact values. The ideal
  * DCG is computed from the relevant-count alone via a bounded
  * `sequence` fold (ranks 1..min(n_rel, k)), no second pass.
  *
  * Plan: one equi-join of the (q, doc, rank) lists (bounded: queries ×
  * k rows) against the labels, one labels-side count, one per-query
  * aggregate — nothing corpus-sized; at 100 TB the ranked lists are
  * already top-k by construction and labels are an eval set. */
object RankMetrics {

  private val ln2 = math.log(2.0)

  /** round(10⁶ / log₂(rank+1)) as a codegen-able column — the shared
    * discount term (also interpolated into the q175 oracle SQL). */
  private def discountMicro(rank: Column): Column =
    round(lit(1e6d) / (log(rank.cast("double") + lit(1.0d)) / lit(ln2)))
      .cast("long")

  /** @param ranked (qCol, docCol, rankCol) rows, rank 1-based within
    *   each query; rows beyond `k` are ignored.
    * @param labels (qCol, docCol) rows — the relevant pairs (binary).
    *   Queries with no labeled relevant doc report recall/ndcg = 0;
    *   labeled queries with NO ranked rows at all report an all-zero
    *   metrics row (never silently vanish from the readout). */
  def rankingMetrics(ranked: DataFrame, labels: DataFrame,
      qCol: String, docCol: String, rankCol: String, k: Int): DataFrame = {
    require(k >= 1 && k <= 1000, s"k must be in [1, 1000], got $k")
    val lab = labels.select(col(qCol), col(docCol)).distinct()
    val nRel = lab.groupBy(col(qCol)).agg(count(lit(1)).as("n_rel"))
    val hits = ranked.filter(col(rankCol) <= k)
      .join(lab.withColumn("_rel", lit(1L)), Seq(qCol, docCol), "left")
      .withColumn("_rel", coalesce(col("_rel"), lit(0L)))
    val perQ = hits.groupBy(col(qCol)).agg(
      sum(col("_rel")).as("_hits"),
      min(when(col("_rel") === 1L, col(rankCol))).as("_first"),
      sum(when(col("_rel") === 1L, discountMicro(col(rankCol)))
        .otherwise(lit(0L))).as("_dcg_micro"))
    perQ
      // FULL join: a query that has relevance labels but ZERO ranked rows
      // (retrieval returned nothing) must still emit a row — all-zero
      // metrics — or a consumer averaging per-query rows over-reports
      // quality exactly when the system fails hardest (r14 advice).
      .join(nRel, Seq(qCol), "full")
      .withColumn("n_rel", coalesce(col("n_rel"), lit(0L)))
      .withColumn("_hits", coalesce(col("_hits"), lit(0L)))
      .withColumn("_dcg_micro", coalesce(col("_dcg_micro"), lit(0L)))
      // ideal DCG: the same micro terms at ranks 1..min(n_rel, k) —
      // derived from the count alone, identical fold in the oracle
      // sequence(1, 0) would run DESCENDING in Spark — guard n_rel = 0
      .withColumn("_idcg_micro", when(col("n_rel") > 0L, expr(
        s"aggregate(sequence(1, int(least(n_rel, ${k}L))), 0L, " +
          s"(a, i) -> a + cast(round(1e6d / (ln(cast(i as double) + 1.0d) / $ln2)) as long))"))
        .otherwise(lit(0L)))
      .select(
        col(qCol),
        col("n_rel"),
        round(when(col("_first").isNotNull,
            lit(1.0d) / col("_first").cast("double")).otherwise(lit(0.0d)), 6)
          .as("mrr"),
        round(col("_hits").cast("double") / lit(k.toDouble), 6).as("p_at_k"),
        round(when(col("n_rel") > 0L,
            col("_hits").cast("double") / col("n_rel").cast("double"))
          .otherwise(lit(0.0d)), 6).as("recall_at_k"),
        round(when(col("_idcg_micro") > 0L,
            col("_dcg_micro").cast("double") / col("_idcg_micro").cast("double"))
          .otherwise(lit(0.0d)), 6).as("ndcg_at_k"))
  }

  /** The discount constant used above, exposed for the oracle builder
    * so both engines interpolate the bit-identical ln 2. */
  private[graft] def ln2Const: Double = ln2

  /** Truncated rank-biased overlap at depth k (Webber et al. 2010),
    * normalized so two IDENTICAL depth-k rankings score 1: the
    * top-weighted agreement between two ranked lists per query — the
    * readout that says not just WHETHER an ANN tier found the exact
    * top-k (set recall, q151/q152) but whether it put them in the same
    * ORDER, weighting rank 1 most.
    *
    * RBO@k = Σ_{d≤k} p^{d−1}·X_d∕d · (1−p)∕(1−p^k), X_d = overlap of
    * the two depth-d prefixes. Identity used: each common item with
    * first-both-depth m = max(rank_A, rank_B) contributes
    * W(m) = (1−p)∕(1−p^k) · Σ_{d=m..k} p^{d−1}∕d — so the whole
    * statistic is ONE equi-join plus a lookup into a k-length literal
    * weight table, micro-quantized in Scala and interpolated VERBATIM
    * into the oracle (no engine re-derives a pow()).
    *
    * Queries present in either ranking always emit a row (rbo = 0 when
    * nothing overlaps). Precondition: each input is a proper per-query
    * ranking (distinct docs, ranks 1..k); rows beyond k are ignored. */
  def rankBiasedOverlap(a: DataFrame, b: DataFrame, qCol: String,
      docCol: String, rankCol: String, k: Int, p: Double = 0.9): DataFrame = {
    require(k >= 1 && k <= 100, s"k must be in [1, 100], got $k")
    require(p > 0.0 && p < 1.0, s"p must be in (0, 1), got $p")
    val wMicro = rboWeightsMicro(k, p)
    val aa = a.filter(col(rankCol) <= k)
      .select(col(qCol), col(docCol), col(rankCol).cast("long").as("_ra"))
    val bb = b.filter(col(rankCol) <= k)
      .select(col(qCol), col(docCol), col(rankCol).cast("long").as("_rb"))
    val perQ = aa.join(bb, Seq(qCol, docCol))
      .withColumn("_w", element_at(lit(wMicro.toArray),
        greatest(col("_ra"), col("_rb")).cast("int")))
      .groupBy(col(qCol))
      .agg(count(lit(1)).as("n_common"), sum(col("_w")).as("_wm"))
    aa.select(col(qCol)).union(bb.select(col(qCol))).distinct()
      .join(perQ, Seq(qCol), "left")
      .select(col(qCol),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        round(coalesce(col("_wm"), lit(0L)).cast("double") / 1e6d, 6)
          .as("rbo"))
  }

  /** RECIPROCAL-RANK FUSION of two score signals over the same id
    * space (Cormack, Clarke & Buettcher 2009) — the standard
    * zero-training ensemble for combining heterogeneous quality or
    * retrieval signals (BM25 + dense scores; here: any two per-doc
    * scores): each signal contributes 1∕(k₀ + rank), so a document
    * ranked highly by EITHER signal surfaces, and neither signal's
    * scale matters — only its ordering. Output: the top `topN`
    * (id, rank_a, rank_b, rrf_nano, rrf) rows by fused score (exact
    * nano sum; id tie-break).
    *
    * Ranks are COMPETITION ranks off the micro-score grid
    * (rank = docs strictly better + 1, ties share a rank) — exact,
    * partition-invariant, engine-replayable; each contribution is
    * round(10⁹∕(k₀+rank)), the fused score an exact long sum.
    *
    * Plan: per signal one map-side-combined grid aggregate + one
    * bounded-grid window (the [[graft.ops.Calibration.binaryAuc]]
    * device — never a data-sized sort), one BROADCAST join of the
    * ≤ 10⁶ + 1-row rank table back onto the docs, one id equi-join of
    * the two signals (inner — fusion is defined on ids both signals
    * scored; documented), one TakeOrderedAndProject for the cut. */
  def rrfFuse(a: DataFrame, b: DataFrame, idCol: String,
      scoreColA: String, scoreColB: String, k0: Int = 60,
      topN: Int = 100): DataFrame = {
    require(k0 >= 1 && k0 <= 1000, s"k0 must be in [1, 1000], got $k0")
    require(topN >= 1 && topN <= 100000,
      s"topN must be in [1, 100000], got $topN")
    def ranked(df: DataFrame, scoreCol: String, out: String) = {
      val sm = df.select(col(idCol),
        round(col(scoreCol).cast("double") * 1e6d).cast("long").as("_sm"))
      // guard FUSED into the grid aggregate (r16): a NULL score lands in
      // the null _sm group, NULL ids are counted per group, and the
      // check reads the bounded grid — no extra pass over the input
      val grid = sm.groupBy(col("_sm")).agg(count(lit(1)).as("_n"),
          sum(when(col(idCol).isNull, lit(1L)).otherwise(lit(0L)))
            .as("_badid"))
        .pin // grid-sized; guard + rank window below
      val nulls = grid.filter(col("_sm").isNull || col("_badid") > 0L)
        .limit(1).count()
      require(nulls == 0L,
        s"rrfFuse needs non-NULL ids and '$scoreCol' scores")
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("_sm").desc)
        .rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val ranks = grid
        .withColumn(out, coalesce(sum(col("_n")).over(w), lit(0L)) + 1L)
        .select(col("_sm"), col(out))
      sm.join(broadcast(ranks), Seq("_sm")).select(col(idCol), col(out))
    }
    ranked(a, scoreColA, "rank_a").join(ranked(b, scoreColB, "rank_b"),
        Seq(idCol))
      .withColumn("rrf_nano",
        round(lit(1e9d) / (col("rank_a") + k0.toLong).cast("double")).cast("long") +
          round(lit(1e9d) / (col("rank_b") + k0.toLong).cast("double")).cast("long"))
      .orderBy(col("rrf_nano").desc, col(idCol))
      .limit(topN)
      .select(col(idCol), col("rank_a"), col("rank_b"), col("rrf_nano"),
        round(col("rrf_nano").cast("double") / 1e9d, 6).as("rrf"))
  }

  /** TIE-EXACT SPEARMAN rank correlation between two score signals
    * over the same id space — the monotone-agreement number next to
    * [[rrfFuse]] (which blends the orderings) and [[rankBiasedOverlap]]
    * (which compares top-k prefixes): ρ = Pearson correlation of the
    * FRACTIONAL (average) ranks, the textbook tie-correct form, so two
    * quality gates that order the corpus the same way score 1 even
    * when their scales are incomparable. One row:
    * (n, n_distinct_a, n_distinct_b, rho).
    *
    * Determinism: scores micro-quantize to the integer grid; each
    * signal's DOUBLED average rank is the exact integer
    * 2·(docs strictly below) + ties + 1, so every rank — including
    * .5 tie midpoints — is an integer with no float in sight; the five
    * Pearson sums are exact DECIMAL(38,0) (Σxy ≤ 4n³ stays exact past
    * 10¹² rows); the final ratio is one fixed-order double expression.
    * A constant signal (zero rank variance) reports rho = 0.0,
    * documented rather than NaN. NULL ids or scores fail typed.
    *
    * Plan: per signal one map-side-combined grid aggregate + one
    * BOUNDED-grid window (≤ 10⁶ + 1 rows — never a data-sized sort) +
    * one broadcast join of the rank table back onto the docs; one id
    * equi-join of the two signals (inner — ρ is defined on ids both
    * signals scored); ONE final aggregate. */
  def spearman(a: DataFrame, b: DataFrame, idCol: String,
      scoreColA: String, scoreColB: String): DataFrame = {
    def ranked2(df: DataFrame, scoreCol: String, out: String) = {
      val sm = df.select(col(idCol),
        round(col(scoreCol).cast("double") * 1e6d).cast("long").as("_sm"))
      // guard fused into the grid aggregate (r16) — see rrfFuse
      val grid = sm.groupBy(col("_sm")).agg(count(lit(1)).as("_n"),
          sum(when(col(idCol).isNull, lit(1L)).otherwise(lit(0L)))
            .as("_badid"))
        .pin // grid-sized; guard + rank window below
      val nulls = grid.filter(col("_sm").isNull || col("_badid") > 0L)
        .limit(1).count()
      require(nulls == 0L,
        s"spearman needs non-NULL ids and '$scoreCol' scores")
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("_sm").asc)
        .rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      // doubled average rank of a tie group starting after `below`
      // docs with `cnt` members: ranks below+1 .. below+cnt average to
      // below + (cnt+1)/2, so twice that is the exact integer
      // 2·below + cnt + 1.
      val ranks = grid
        .withColumn(out,
          lit(2L) * coalesce(sum(col("_n")).over(w), lit(0L)) +
            col("_n") + 1L)
        .select(col("_sm"), col(out))
      sm.join(broadcast(ranks), Seq("_sm")).select(col(idCol), col(out))
    }
    val ga = ranked2(a, scoreColA, "_ra")
    val gb = ranked2(b, scoreColB, "_rb")
    val dec = "decimal(38,0)"
    val sums = ga.join(gb, Seq(idCol))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("_ra")).as("n_distinct_a"),
        countDistinct(col("_rb")).as("n_distinct_b"),
        sum(col("_ra").cast(dec)).as("_sx"),
        sum(col("_rb").cast(dec)).as("_sy"),
        sum(col("_ra").cast(dec) * col("_ra")).as("_sxx"),
        sum(col("_rb").cast(dec) * col("_rb")).as("_syy"),
        sum(col("_ra").cast(dec) * col("_rb")).as("_sxy"))
    val nD = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    val varX = nD * d("_sxx") - d("_sx") * d("_sx")
    val varY = nD * d("_syy") - d("_sy") * d("_sy")
    sums.select(col("n"), col("n_distinct_a"), col("n_distinct_b"),
      when(varX > 0.0d && varY > 0.0d,
        round((nD * d("_sxy") - d("_sx") * d("_sy")) /
          sqrt(varX * varY), 6))
        .otherwise(lit(0.0d)).as("rho"))
  }

  /** TIE-EXACT KENDALL τ-b between two metrics observed on the same
    * BOUNDED grid (hourly buckets, reliability bins — never raw data
    * rows: the pair join is quadratic in the grid by design) — the
    * ordinal-agreement companion to [[spearman]]: τ counts pairwise
    * ORDER agreements instead of correlating ranks, so a single wild
    * bucket moves it by at most O(1/n) where it can move ρ by O(1).
    * τ_b = (C − D) / √((n₀ − t_x)(n₀ − t_y)) with n₀ = n(n−1)/2,
    * t_x/t_y = pairs tied on x / on y (Kendall 1945's tie correction).
    *
    * One row: (n, n_pairs, concordant, discordant, ties_x, ties_y,
    * tau_b).
    *
    * Determinism: both metrics micro-quantize to exact longs, so
    * concordant/discordant/tie classification is pure integer sign
    * arithmetic; the only double is the final ratio (fixed-order,
    * 6 dp). Zero variance on either side reports τ = 0.0, documented
    * rather than NaN. NULL keys/values fail typed; duplicate keys fail
    * typed (each pair must be formed exactly once).
    *
    * Plan: one grid⋈grid pair join on strict key order (H(H−1)/2 rows
    * for H grid rows), ONE final aggregate. */
  def kendallTau(df: DataFrame, keyCol: String,
      xCol: String, yCol: String): DataFrame = {
    val g = df.select(col(keyCol).as("_k"),
        round(col(xCol).cast("double") * 1e6d).cast("long").as("_x"),
        round(col(yCol).cast("double") * 1e6d).cast("long").as("_y"),
        (col(keyCol).isNull || col(xCol).isNull || col(yCol).isNull)
          .as("_badrow"))
      .pin
    // null guard, row count and key-distinctness check: ONE job over
    // the pinned grid
    val chk = g.agg(
      sum(when(col("_badrow"), lit(1L)).otherwise(lit(0L))).as("_nb"),
      count(lit(1)).as("_n"),
      countDistinct(col("_k")).as("_nd")).head()
    require(chk.isNullAt(0) || chk.getLong(0) == 0L,
      s"kendallTau needs non-NULL '$keyCol', " +
        s"'$xCol', '$yCol'")
    val n = chk.getLong(1)
    require(chk.getLong(2) == n,
      s"kendallTau needs distinct '$keyCol' keys")
    val p1 = g.select(col("_k").as("_k1"), col("_x").as("_x1"),
      col("_y").as("_y1"))
    val p2 = g.select(col("_k").as("_k2"), col("_x").as("_x2"),
      col("_y").as("_y2"))
    val sums = p1.join(p2, col("_k1") < col("_k2"))
      .agg(
        sum(when((col("_x2") - col("_x1")) * (col("_y2") - col("_y1")) > 0L,
          1L).otherwise(0L)).as("concordant"),
        sum(when((col("_x2") - col("_x1")) * (col("_y2") - col("_y1")) < 0L,
          1L).otherwise(0L)).as("discordant"),
        sum(when(col("_x1") === col("_x2"), 1L).otherwise(0L)).as("ties_x"),
        sum(when(col("_y1") === col("_y2"), 1L).otherwise(0L)).as("ties_y"))
    val n0 = n * (n - 1L) / 2L
    val dx = (lit(n0) - col("ties_x")).cast("double")
    val dy = (lit(n0) - col("ties_y")).cast("double")
    sums.select(lit(n).as("n"), lit(n0).as("n_pairs"),
      coalesce(col("concordant"), lit(0L)).as("concordant"),
      coalesce(col("discordant"), lit(0L)).as("discordant"),
      coalesce(col("ties_x"), lit(0L)).as("ties_x"),
      coalesce(col("ties_y"), lit(0L)).as("ties_y"),
      when(dx > 0.0d && dy > 0.0d,
        round((col("concordant") - col("discordant")).cast("double") /
          sqrt(dx * dy), 6))
        .otherwise(lit(0.0d)).as("tau_b"))
  }

  /** W(m)·10⁶ for m = 1..k — shared with the q196 oracle so both
    * engines sum the bit-identical integer weights. */
  private[graft] def rboWeightsMicro(k: Int, p: Double): Seq[Long] =
    (1 to k).map { m =>
      val s = (m to k).map(d => math.pow(p, d - 1) / d).sum
      math.round((1.0 - p) / (1.0 - math.pow(p, k)) * s * 1e6d)
    }
}
