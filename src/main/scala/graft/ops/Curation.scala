package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Pin._

/** Corpus-curation operators a production training-data pipeline runs after
  * dedup and before sampling: leakage-safe splitting, per-domain caps, and
  * privacy audits. All decisions are pure functions of the input rows
  * (md5 buckets, integer counts, lexicographic tie-breaks) — no rand(), no
  * partition-order dependence — so every operator is oracle-replayable and
  * its output is identical across cluster sizes and reruns.
  *
  * Scale notes (100 TB): [[clusterSplit]] adds one equi-join against the
  * component labels (near-dup pairs are a tiny fraction of docs, so the
  * label frame is small relative to the corpus and the join is
  * broadcastable after the components step); [[capPerGroup]] is a single
  * window whose rank-filter Spark rewrites to WindowGroupLimit — a
  * partial per-partition top-k before the shuffle, so a skewed giant
  * domain never funnels all its rows through one task's sort buffer;
  * [[kAnonymityProfile]] is two grouped aggregates (cell, then group).
  */
object Curation {

  /** Leakage-safe train/val/test split: every near-duplicate CLUSTER lands
    * wholly in one split, so a model can never see a near-copy of a val
    * doc in train (the cross-split contamination that inflates evals;
    * cf. the dedup-then-split discipline of Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better").
    *
    * `pairs` (a_id, b_id) is the near-dup graph (e.g. MinHash-LSH
    * candidates). Docs in no pair are singleton clusters. The split is
    * [[Sampling.hashBucket]] of the CLUSTER id (min doc id in the
    * component) rather than the doc id — same md5 arithmetic as
    * [[Sampling.hashSplit]], so an oracle replays membership exactly.
    *
    * Returns (idCol, component, split). Valentinus has no splitter; this
    * extends its dedup surface (SURVEY.md §2.3) to the training-set
    * boundary. */
  def clusterSplit(df: DataFrame, idCol: String, pairs: DataFrame,
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"invalid split percentages $trainPct/$valPct")
    val comp = Components.connectedComponents(pairs)
    val labeled = df.join(comp.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("component", coalesce(col("component"), col(idCol)))
    val b = Sampling.hashBucket(col("component"))
    labeled.withColumn("split",
      when(b < trainPct, "train")
        .when(b < trainPct + valPct, "val")
        .otherwise("test"))
  }

  /** Per-group cap (RefinedWeb/C4-style per-domain limit): keep at most
    * `k` rows per `groupCol`, preferring high `prioCol` (ties broken by
    * ascending `idCol` so the cut is total and deterministic). The rank
    * filter compiles to WindowGroupLimit: each input partition keeps only
    * its local top-k per group BEFORE the shuffle, so the exchange moves
    * O(groups·k) rows, not the corpus. */
  def capPerGroup(df: DataFrame, groupCol: String, prioCol: String,
      idCol: String, k: Int): DataFrame = {
    require(k > 0, s"cap must be positive, got $k")
    df.withColumn("_rn", row_number().over(
        Window.partitionBy(col(groupCol))
          .orderBy(col(prioCol).desc, col(idCol))))
      .filter(col("_rn") <= k)
      .drop("_rn")
  }

  /** Snapshot diff between two corpus releases: classifies every doc id
    * as `added` (new only), `removed` (old only), `changed` (both, text
    * fingerprint differs) or `same` — the release-over-release audit a
    * dataset card ships with (and the input to incremental reprocessing:
    * only `added`+`changed` need re-embedding/re-dedup). One full outer
    * equi-join on the id; texts never move, only md5 fingerprints. */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    def fp(df: DataFrame) =
      df.select(col(idCol), Dedup.fingerprint(col(textCol)).as("_fp"))
    val o = fp(oldDf).withColumnRenamed("_fp", "_fp_old")
    val n = fp(newDf).withColumnRenamed("_fp", "_fp_new")
    o.join(n, Seq(idCol), "full_outer")
      .withColumn("change",
        when(col("_fp_old").isNull, "added")
          .when(col("_fp_new").isNull, "removed")
          .when(col("_fp_old") =!= col("_fp_new"), "changed")
          .otherwise("same"))
      .select(col(idCol), col("change"))
  }

  /** Ordered-gate ATTRITION FUNNEL — the curation diagnostic that says
    * which filter costs the corpus the most: every row is attributed to
    * the FIRST gate in `gates` (name, pass-predicate) that rejects it
    * (the conjunctive-pipeline semantics: later gates never see it), and
    * the readout is one row per gate — (stage, gate, n_in, n_rejected,
    * n_out, reject_share) with n_out chaining into the next stage's
    * n_in. Reordering gates changes the attribution, not the survivor
    * set — that is exactly what makes the ordered readout actionable
    * (the first expensive gate eats the blame shared rejections would
    * hide).
    *
    * NULL gate values fail typed: `!pass` of NULL is NULL, when() would
    * skip it and the row would silently fall through to a LATER stage —
    * misattribution, not an error Spark would surface.
    *
    * Plan: the first-rejecting-stage index is ONE map-only coalesce of
    * whens (codegen), the aggregate is gates+1 cells after map-side
    * combine, and the n_in chain is a window over that bounded frame —
    * nothing after the scan is more than gates-sized. */
  def filterFunnel(df: DataFrame, gates: Seq[(String, Column)]): DataFrame = {
    require(gates.nonEmpty && gates.size <= 64,
      s"need 1..64 ordered gates, got ${gates.size}")
    require(gates.map(_._1).distinct.size == gates.size,
      "gate names must be unique")
    val spark = df.sparkSession
    import spark.implicits._
    val firstReject = coalesce(
      gates.zipWithIndex.map { case ((_, pass), i) =>
        when(!pass, lit(i.toLong))
      } :+ lit(gates.size.toLong): _*)
    // NULL-gate guard fused into the funnel aggregate (guide §1.2): a row
    // with any NULL gate lands on sentinel stage −1 of the pinned counts
    val anyNull = gates.map(_._2.isNull).reduce(_ || _)
    val counts = df.select(
        when(anyNull, lit(-1L)).otherwise(firstReject).as("stage"))
      .groupBy(col("stage")).agg(count(lit(1)).as("_rej"))
      .pin // bounded (≤ gates+2 rows); guard + chain read the cache
    val nulls = counts.filter(col("stage") === -1L).count()
    require(nulls == 0L,
      "filterFunnel gates must be non-NULL booleans — a NULL would " +
        "silently fall through to a later stage (misattribution); fix " +
        "the gate expressions first")
    val names = gates.map(_._1).zipWithIndex
      .map { case (g, i) => (i.toLong, g) }.toDF("stage", "gate")
    val tot = counts.agg(sum(col("_rej")).as("_total"))
    // bounded single-partition window: ≤ 64 gate rows (the
    // temperatureSweep exemption — never copy into anything data-sized)
    val w = Window.orderBy(col("stage"))
      .rowsBetween(Window.unboundedPreceding, -1)
    names.join(counts, Seq("stage"), "left")
      .withColumn("n_rejected", coalesce(col("_rej"), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("n_in",
        col("_total") - coalesce(sum(col("n_rejected")).over(w), lit(0L)))
      .select(col("stage"), col("gate"), col("n_in"), col("n_rejected"),
        (col("n_in") - col("n_rejected")).as("n_out"),
        round(when(col("n_in") > 0L,
            col("n_rejected").cast("double") / col("n_in").cast("double"))
          .otherwise(lit(0.0d)), 6).as("reject_share"))
  }

  /** GATE-ORDER planner — the cost-based step BEFORE [[filterFunnel]]'s
    * attribution readout: measure every gate's INDEPENDENT pass rate in
    * one corpus pass, then order the conjunctive pipeline most-selective-
    * first (ascending pass count, name tiebreak) — the classic unit-cost
    * predicate ordering that minimizes expected rows scanned by later
    * gates. The plan is advisory about COST only: a conjunction's
    * survivor set is order-invariant by construction, and the output
    * carries the exact witness (`n_out_final` = docs passing ALL gates,
    * measured once, identical under any order).
    *
    * One row per gate in planned order: (planned_stage 1-based, gate,
    * n_pass, pass_rate, est_rows_in, n_out_final) — est_rows_in is the
    * independence-model estimate of rows reaching that stage,
    * est₁ = N, estᵢ₊₁ = ⌊estᵢ · rᵢ ∕ 10⁶⌋ with rᵢ = ⌊n_passᵢ·10⁶ ∕ N⌋ —
    * an exact integer recurrence (no float products), replayable by the
    * oracle; pass_rate = rᵢ∕10⁶ floated once. The estimate ignores gate
    * correlation — that is the model, documented; the funnel's MEASURED
    * n_in (run after adopting the plan) is the ground truth.
    *
    * NULL gate values fail typed (same contract and reason as
    * [[filterFunnel]]); an empty corpus fails typed — there is nothing
    * to plan from and every rate is 0∕0.
    *
    * Plan: ONE map-only pass with gates+2 conditional aggregates to a
    * single row (combiner-friendly), pulled to the driver (1 row,
    * bounded by the ≤ 64-gate ceiling) where the gates-sized ordering
    * and recurrence run — the corpus is never shuffled at all. */
  def planGates(df: DataFrame, gates: Seq[(String, Column)]): DataFrame = {
    require(gates.nonEmpty && gates.size <= 64,
      s"need 1..64 gates, got ${gates.size}")
    require(gates.map(_._1).distinct.size == gates.size,
      "gate names must be unique")
    val spark = df.sparkSession
    import spark.implicits._
    // r17: the NULL-gate guard rides the SAME single-row aggregate as
    // the pass counts (guide §1.2) — one corpus pass instead of two
    val aggCols = gates.zipWithIndex.map { case ((_, pass), i) =>
      sum(when(pass, 1L).otherwise(0L)).as(s"_p$i")
    } ++ Seq(count(lit(1)).as("_n"),
      sum(when(gates.map(_._2).reduce(_ && _), 1L).otherwise(0L))
        .as("_joint"),
      sum(when(gates.map(_._2.isNull).reduce(_ || _), 1L).otherwise(0L))
        .as("_nulls"))
    val row = df.agg(aggCols.head, aggCols.drop(1): _*).head()
    val nulls = if (row.isNullAt(row.fieldIndex("_nulls"))) 0L
      else row.getAs[Long]("_nulls")
    require(nulls == 0L,
      "planGates gates must be non-NULL booleans — a NULL row would " +
        "silently vanish from the pass counts; fix the gate expressions")
    val n = row.getAs[Long]("_n")
    require(n > 0L, "planGates needs a non-empty corpus")
    val joint = row.getAs[Long]("_joint")
    val planned = gates.map(_._1).zipWithIndex
      .map { case (name, i) => (name, row.getAs[Long](s"_p$i")) }
      .sortBy { case (name, p) => (p, name) }
    var est = n
    val out = planned.zipWithIndex.map { case ((name, p), i) =>
      val estIn = est
      val rMicro = p * 1000000L / n
      est = estIn * rMicro / 1000000L
      (i + 1L, name, p, rMicro.toDouble / 1e6d, estIn, joint)
    }
    out.toDF("planned_stage", "gate", "n_pass", "pass_rate",
      "est_rows_in", "n_out_final")
  }

  /** k-anonymity audit over quasi-identifier columns: a release is
    * k-anonymous iff every quasi-identifier combination ("cell") has at
    * least k rows (Sweeney 2002). Returns one row per `groupCols` head
    * group with the cell count, how many cells/rows fall below k (what a
    * suppression pass would redact), and the anonymity floor (min cell
    * size). Two grouped aggregates — no window, no driver state. */
  def kAnonymityProfile(df: DataFrame, groupCols: Seq[String],
      cellCols: Seq[String], k: Int): DataFrame = {
    require(k > 1, s"k must exceed 1, got $k")
    val cells = df.groupBy((groupCols ++ cellCols).map(col): _*)
      .agg(count(lit(1)).as("_n"))
    cells.groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_cells"),
        sum(when(col("_n") < k, 1L).otherwise(0L)).as("n_risky_cells"),
        sum(when(col("_n") < k, col("_n")).otherwise(0L)).as("n_risky_rows"),
        min(col("_n")).as("anonymity"))
  }

  /** l-DIVERSITY audit over quasi-identifier cells (Machanavajjhala et
    * al. 2007) — the attribute-disclosure gap [[kAnonymityProfile]]
    * cannot see: a cell can hold k ≫ 1 rows yet leak the sensitive
    * attribute completely if every row shares one sensitive value.
    * Per head group: the distinct-l floor (min distinct sensitive
    * values over its cells), how many cells/rows fall below `l` (what a
    * suppression pass would redact), and the ENTROPY-l floor
    * exp(min H(sensitive | cell)) — the stricter criterion that also
    * catches a cell that is 99% one value with a token second value
    * (distinct-l = 2, entropy-l ≈ 1).
    *
    * Determinism: all counts are exact integers; each cell's entropy is
    * a sum of per-(cell, value) nano-quantized fixed-order terms; the
    * floor is a min over exact longs, floated once. One-value cells
    * report entropy_l_floor = 1.0 exactly (H = 0).
    *
    * Plan: one corpus groupBy to the (cell × sensitive-value) frame,
    * one cells-sized groupBy folding counts AND entropy terms, one
    * head-group aggregate. No window, no join back to the corpus. */
  def lDiversityProfile(df: DataFrame, groupCols: Seq[String],
      cellCols: Seq[String], sensitiveCol: String, l: Int): DataFrame = {
    require(l > 1, s"l must exceed 1, got $l")
    // r17: a NULL sensitive value is a null group key on the pinned
    // (cell × value) frame — the typed check reads it, not the corpus
    val vals = df.groupBy((groupCols ++ cellCols :+ sensitiveCol).map(col): _*)
      .agg(count(lit(1)).as("_nv"))
      .pin // (cells × values)-sized; guard + both uses
    val nulls = vals.filter(col(sensitiveCol).isNull).count()
    require(nulls == 0L, s"lDiversityProfile needs non-NULL " +
      s"'$sensitiveCol' values — a NULL is not a diversity class")
    val cellTot = vals.groupBy((groupCols ++ cellCols).map(col): _*)
      .agg(sum(col("_nv")).as("_n"), count(lit(1)).as("_ldist"))
    val cells = vals.join(cellTot, groupCols ++ cellCols)
      .withColumn("_h9",
        round(negate((col("_nv").cast("double") / col("_n").cast("double")) *
          log(col("_nv").cast("double") / col("_n").cast("double"))) * 1e9d)
          .cast("long"))
      .groupBy((groupCols ++ cellCols).map(col): _*)
      .agg(first(col("_n")).as("_n"), first(col("_ldist")).as("_ldist"),
        sum(col("_h9")).as("_hsum"))
    cells.groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_cells"),
        min(col("_ldist")).as("l_floor"),
        sum(when(col("_ldist") < l, 1L).otherwise(0L)).as("n_risky_cells"),
        sum(when(col("_ldist") < l, col("_n")).otherwise(0L))
          .as("n_risky_rows"),
        round(exp(min(col("_hsum")).cast("double") / 1e9d), 6)
          .as("entropy_l_floor"))
  }

  /** t-CLOSENESS audit over quasi-identifier cells (Li, Li &
    * Venkatasubramanian 2007) — the distribution-skew gap
    * [[lDiversityProfile]] cannot see: a cell can be perfectly
    * l-diverse (every sensitive value present) yet still leak if its
    * sensitive DISTRIBUTION differs wildly from the global one (e.g. a
    * cell that is 90% one language in a corpus that is 20% that
    * language tells an attacker a lot). A release is t-close iff every
    * cell's sensitive distribution is within distance t of the global
    * distribution; for a nominal attribute the standard distance is
    * the total variation distance (= the equal-ground-distance EMD)
    *   TVD(cell) = ½ Σ_v |n_cv∕n_c − g_v∕N|.
    *
    * Per head group: (groupCols…, n_cells, t_max, n_risky_cells,
    * n_risky_rows) where t_max is the worst cell's TVD and risky =
    * cells with TVD > t.
    *
    * Determinism: the per-(cell, value) deviation goes to the common
    * denominator n_c·N — |n_cv·N − g_v·n_c| is an EXACT integer
    * (DECIMAL past 10⁹ rows), summed exactly per cell including the
    * values ABSENT from the cell (n_cv = 0 still deviates by g_v·n_c —
    * dropping them understates t); the only double is each cell's final
    * halve-and-divide, micro-quantized before the min/max. NULL
    * sensitive values fail typed.
    *
    * Plan: one corpus groupBy to the (cell × value) frame, one
    * cells × |values| dense frame via a broadcast of the |values|-sized
    * global marginal (cross join on bounded distinct values — the dense
    * completion is what makes absent values count), two bounded
    * aggregates. The corpus is touched once. */
  def tClosenessProfile(df: DataFrame, groupCols: Seq[String],
      cellCols: Seq[String], sensitiveCol: String, t: Double): DataFrame = {
    require(t > 0.0d && t < 1.0d, s"t must be in (0, 1), got $t")
    val dec = "decimal(38,0)"
    val cellKey = groupCols ++ cellCols
    val vals = df.groupBy((cellKey :+ sensitiveCol).map(col): _*)
      .agg(count(lit(1)).as("_ncv"))
      .pin // (cells × values)-sized; seeds all frames
    // r17: a NULL sensitive value is a null group key on the pinned
    // frame — the typed check reads it, not the corpus
    val nulls = vals.filter(col(sensitiveCol).isNull).limit(1).count()
    require(nulls == 0L, s"tClosenessProfile needs non-NULL " +
      s"'$sensitiveCol' values — a NULL is not a sensitive class")
    val glob = vals.groupBy(col(sensitiveCol))
      .agg(sum(col("_ncv")).as("_gv"))
    val nTotal = vals.agg(sum(col("_ncv"))).first().getLong(0)
    val cellTot = vals.groupBy(cellKey.map(col): _*)
      .agg(sum(col("_ncv")).as("_nc"))
    // dense completion: every cell × every observed sensitive value
    val denseDev = cellTot.crossJoin(broadcast(glob))
      .join(vals, cellKey :+ sensitiveCol, "left")
      .withColumn("_dev",
        abs(coalesce(col("_ncv"), lit(0L)).cast(dec) * nTotal -
          col("_gv").cast(dec) * col("_nc")))
    val cells = denseDev.groupBy(cellKey.map(col): _*)
      .agg(first(col("_nc")).as("_nc"), sum(col("_dev")).as("_devsum"))
      .withColumn("_tvd_micro",
        round(col("_devsum").cast("double") /
          (lit(2.0d) * col("_nc").cast("double") * lit(nTotal.toDouble)) * 1e6d)
          .cast("long"))
    val tMicro = math.round(t * 1e6d)
    cells.groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_cells"),
        round(max(col("_tvd_micro")).cast("double") / 1e6d, 6).as("t_max"),
        sum(when(col("_tvd_micro") > tMicro, 1L).otherwise(0L))
          .as("n_risky_cells"),
        sum(when(col("_tvd_micro") > tMicro, col("_nc")).otherwise(0L))
          .as("n_risky_rows"))
  }

  /** GREEDY MAXIMUM-COVERAGE document selection (the classic (1−1∕e)
    * greedy for submodular coverage, Nemhauser et al. 1978) — the
    * curation move MMR (q137) makes in embedding space, made exact in
    * VOCABULARY space: pick `k` documents one at a time, each maximizing
    * the count of corpus words not covered by the picks so far — the
    * smallest demo/eval slice that still exercises the corpus
    * vocabulary, or the seed set for a coverage-targeted curriculum.
    *
    * One row per pick, in pick order: (rank, doc_id, new_words,
    * cum_words) — new_words is the pick's marginal gain, cum_words the
    * running union size. Ties break on the smaller doc id; zero-gain
    * picks are legal (k exceeds what coverage needs — reported, not
    * hidden).
    *
    * Plan: the corpus collapses ONCE to distinct (doc, word) rows
    * (pinned); each of the k rounds is a words-sized anti-join +
    * doc-sized aggregate + a 1-row argmax collect — k is a small
    * constant by contract (driver loop, the q137/IVF-train pattern),
    * never data-sized. At 100 TB run it on a candidate pool (e.g. the
    * q129 per-source caps), not the raw corpus. */
  def greedyVocabCover(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    require(k >= 1 && k <= 64, s"k must be in [1, 64] (driver loop), got $k")
    val spark = df.sparkSession
    val dw = df
      .select(col(idCol).as("_d"),
        explode(TextAnalysis.tokens(col(textCol))).as("_w"))
      .filter(length(col("_w")) > 0)
      .distinct()
      .pin // (doc, word) rows, read k+1 times
    val docs = dw.select(col("_d")).distinct().pin
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val chosen = scala.collection.mutable.Set.empty[Long]
    var cum = 0L
    val rounds = math.min(k.toLong, docs.count())
    var r = 1L
    while (r <= rounds) {
      // r16: ONE job per round — the covered-word set is derived inside
      // the round's own plan from the ≤ k chosen ids (a filter of the
      // pinned (doc, word) table + distinct) instead of being maintained
      // as a separately union+distinct+checkpointed frame, which cost a
      // second synchronous job every round. Same greedy, same values:
      // covered ≡ the union of the chosen docs' word sets by definition.
      val coveredWords = dw.filter(col("_d").isin(chosen.toSeq: _*))
        .select(col("_w")).distinct()
      val gains = dw.join(coveredWords, Seq("_w"), "left_anti")
        .groupBy(col("_d")).agg(count(lit(1)).as("_g"))
      val best = docs.join(gains, Seq("_d"), "left")
        .select(col("_d"), coalesce(col("_g"), lit(0L)).as("_g"))
        .filter(!col("_d").isin(chosen.toSeq: _*))
        .orderBy(col("_g").desc, col("_d").asc)
        .limit(1).head()
      val (d, g) = (best.getLong(0), best.getLong(1))
      cum += g
      picked += ((r, d, g))
      chosen += d
      r += 1
    }
    import spark.implicits._
    val cums = picked.scanLeft(0L) { case (acc, (_, _, g)) => acc + g }.drop(1)
    picked.zip(cums).map { case ((rk, d, g), c) => (rk, d, g, c) }
      .toSeq.toDF("rank", "doc_id", "new_words", "cum_words")
  }
}
