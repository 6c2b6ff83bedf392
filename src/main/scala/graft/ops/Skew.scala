package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.core.Pin._

/** Skew mitigation for joins and aggregations (SCALE.md): when one key
  * carries a disproportionate share of rows (a viral user_id, an empty-
  * string document), hash-partitioning sends it all to one task. AQE's
  * skew-join split handles sort-merge cases at runtime; salting is the
  * deterministic, plan-level fix that also covers aggregations.
  */
object Skew {

  /** Salted equi-join: the skewed (large) side gets a random-but-
    * deterministic salt in [0, salts); the small side is replicated once
    * per salt value via explode. The join key becomes (key, salt), so a
    * hot key spreads over `salts` tasks. Row-level results are identical
    * to the unsalted join.
    *
    * Determinism: salt = hash of the large side's full row id expression,
    * not rand() — reruns and retries produce the same partitioning.
    */
  def saltedJoin(
      large: DataFrame, small: DataFrame, key: String,
      salts: Int, saltBy: Column): DataFrame = {
    val saltedLarge = large.withColumn("_salt", pmod(hash(saltBy), lit(salts)))
    val saltedSmall = small.withColumn("_salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedLarge.join(saltedSmall, Seq(key, "_salt")).drop("_salt")
  }

  /** Skew-safe equi-join of a large stream against its own Zipf-skewed
    * lookup table (the LM-scoring shape: corpus-derived (group, token, n)
    * rows joined back to a vocabulary-sized count table, where one hot
    * token like "the" is a double-digit percent of the corpus and would
    * land on ONE shuffle task).
    *
    * Plan: the top `hotK` lookup rows by `weight` (deterministic
    * tie-break on the key columns) are broadcast and map-side joined —
    * the skewed keys BY CONSTRUCTION sit in this set, so the large side
    * never hash-partitions on them; only rows whose key falls outside
    * the hot set shuffle-join against the residual lookup, and that tail
    * is near-uniform by Zipf's law.
    *
    * `joinType` "inner" (default) drops left keys absent from `lookup`
    * (vacuous for self-derived count tables, where every key is present
    * by construction); "left" keeps them with NULL payload — the
    * held-out-scoring case, where unseen n-grams must survive into a
    * backoff chain.
    *
    * Row-level results are identical to `left.join(lookup, keys,
    * joinType)` UNCONDITIONALLY — including lookups with duplicate join
    * keys: the hot set is KEY-COMPLETE by construction (the top `hotK`
    * distinct keys ranked by max(weight), then every lookup row for
    * those keys), so a key's rows can never straddle the hot/cold
    * boundary and silently drop matches. For the common unique-key count
    * table this selects exactly the old top-hotK rows; for duplicated
    * keys the broadcast carries up to hotK × (max rows per key) rows —
    * `weight` must be usable inside max() over lookup rows. The routing
    * never changes a value, so oracle hashes survive the swap.
    *
    * `hotK` ≤ 0 is the [[Auto]] sentinel: K derives from the lookup's
    * own weight mass via [[autoHotK]] (smallest K covering 95% of mass,
    * broadcast-capped); pass an explicit positive K to override.
    *
    * Cost note: the lookup is referenced three times (key ranking, hot
    * selection, cold join), so it is materialized HERE once with a
    * lazy pin — the first reference computes it, the other two read
    * the cached partitions; without this, an un-pinned
    * corpus-derived lookup lineage (a token count table is a full
    * corpus explode + groupBy) would re-run per reference. Lookups are
    * vocabulary-sized by contract, so the cached copy is model-sized. */
  /** Sentinel for `hotK`: non-positive means "derive K automatically
    * from the weight distribution" — see [[autoHotK]]. */
  final val Auto = 0

  /** Derive the hot-set size from the lookup's own weight ranking: the
    * smallest K whose top-K keys (by max row weight) cover `massFrac`
    * of the total weight mass, capped at `maxHotK` (the broadcast
    * budget) and floored at 1. The right K is corpus-dependent — the
    * point where the Zipf head flattens into the near-uniform tail — so
    * a hard-coded 4096 over-broadcasts a small vocabulary and
    * under-protects a heavy-tailed one.
    *
    * Cost: one vocab-sized aggregate (via [[rankedHead]] — the same
    * single probe [[hotColdJoin]] reuses for its hot-key set, so Auto
    * mode inside a join adds NO extra pass). Because [[hotColdJoin]]'s
    * routing never changes a value, ANY K gives row-identical results
    * (SkewSpec property), so auto-K is purely a performance knob. */
  def autoHotK(lookup: DataFrame, keys: Seq[String], weight: Column,
      massFrac: Double = 0.95, maxHotK: Int = 65536): Int = {
    require(massFrac > 0.0 && massFrac <= 1.0,
      s"massFrac must lie in (0, 1], got $massFrac")
    require(maxHotK >= 1, s"maxHotK must be >= 1, got $maxHotK")
    val (total, head) = rankedHead(lookup, keys, weight, maxHotK)
    massCoverK(head, total, massFrac)
  }

  /** ONE-job ranked-head probe shared by [[autoHotK]] and
    * [[hotColdJoin]]: a vocab-sized (keys → max weight) aggregate whose
    * FINAL aggregate computes both the total weight mass and the top
    * `maxK` (keys…, weight) rows via the bounded-heap
    * [[graft.expr.TopKBy]] — so deriving K and selecting the hot keys
    * costs one aggregate job and one config-bounded driver collect,
    * never a second TakeOrdered or total pass. Head rows come back
    * sorted by weight desc, keys asc (the `-weight` ascending trick
    * keeps the historical deterministic tie-break); null weights are
    * excluded from both ranking and total. */
  private def rankedHead(lookup: DataFrame, keys: Seq[String],
      weight: Column, maxK: Int): (Double, Array[Row]) = {
    val kw = lookup
      .groupBy(keys.map(col).toIndexedSeq: _*)
      .agg(max(weight).cast("double").as("__graft_w"))
      .filter(col("__graft_w").isNotNull)
    val ord = struct((-col("__graft_w")) +: keys.map(col).toIndexedSeq: _*)
    val payload = struct(keys.map(col).toIndexedSeq :+ col("__graft_w"): _*)
    val row = kw.agg(sum(col("__graft_w")).as("_t"),
      graft.expr.TopKBy.bottom(payload, ord, maxK).as("_h")).head()
    val total = if (row.isNullAt(0)) 0.0 else row.getDouble(0)
    val head = row.getSeq[Row](1).toArray
    (total, head)
  }

  /** Smallest K whose top-K weights cover `massFrac` of `total`,
    * floored at 1 — the driver-side tail of [[autoHotK]] over an
    * already-collected ranked head. */
  private def massCoverK(head: Array[Row], total: Double,
      massFrac: Double): Int = {
    if (head.isEmpty || total <= 0.0) return 1
    var cum = 0.0
    var k = 0
    while (k < head.length && cum < massFrac * total) {
      cum += head(k).getDouble(head(k).length - 1); k += 1
    }
    math.max(k, 1)
  }

  /** A DERIVED hot-key routing set — K plus the hot keys as a
    * broadcast-ready local relation, the driver-side product of ONE
    * [[rankedHead]] probe. A pure function of (lookup, keys, weight,
    * hotK policy), split out (r16) so persisted-model serving
    * ([[LmIndex]]) can derive it once per committed snapshot and reuse
    * it across probes instead of re-ranking the lookup per call. */
  final case class HotSet(k: Int, keys: DataFrame)

  /** Derive the [[HotSet]] for (lookup, keys, weight, hotK): one
    * ranked-head probe serves both the Auto-K derivation and the hot
    * KEY selection (weight desc, keys asc — deterministic). Results of
    * the downstream join are K-invariant — routing only — so any
    * caching of this set is purely a performance knob. */
  def hotSet(lookup: DataFrame, keys: Seq[String], weight: Column,
      hotK: Int): HotSet = {
    val (total, head) = rankedHead(lookup, keys, weight,
      if (hotK > 0) hotK else 65536)
    val k = if (hotK > 0) hotK else massCoverK(head, total, 0.95)
    // the hot keys are already on the driver — ship them back as a
    // LOCAL relation (broadcast-ready, zero recompute of the ranking)
    val keySchema = StructType(keys.map(n => lookup.schema(n)))
    val hotRows: java.util.List[Row] = java.util.Arrays.asList(
      head.take(k).map(r => Row.fromSeq(keys.indices.map(r.get))): _*)
    HotSet(k, lookup.sparkSession.createDataFrame(hotRows, keySchema))
  }

  def hotColdJoin(
      left: DataFrame, lookup: DataFrame, keys: Seq[String],
      weight: Column, hotK: Int, joinType: String = "inner"): DataFrame = {
    val lkp = lookup.pin
    hotColdJoinWith(left, lkp, keys, hotSet(lkp, keys, weight, hotK), joinType)
  }

  /** [[hotColdJoin]] with a PRECOMPUTED [[HotSet]] over an
    * already-pinned lookup (the caller owns materialization — the
    * serving path passes snapshot-cached persisted tables). Routing and
    * results exactly as [[hotColdJoin]]. */
  def hotColdJoinWith(
      left: DataFrame, lkp: DataFrame, keys: Seq[String],
      hot: HotSet, joinType: String = "inner"): DataFrame = {
    require(joinType == "inner" || joinType == "left",
      s"hotColdJoin supports inner/left, got $joinType")
    require(!left.columns.contains("__graft_hot") &&
        !lkp.columns.contains("__graft_hot"),
      "hotColdJoin reserves the working column name __graft_hot")
    val hotRows = lkp.join(broadcast(hot.keys), keys.toIndexedSeq)
    val tagged = left.join(
      broadcast(hotRows.withColumn("__graft_hot", lit(1))), keys.toIndexedSeq, "left")
    val fromHot = tagged.filter(col("__graft_hot").isNotNull).drop("__graft_hot")
    val coldLeft = tagged.filter(col("__graft_hot").isNull)
      .select(left.columns.map(col).toIndexedSeq: _*)
    // the cold rows' keys are disjoint from the hot KEY set by
    // construction, so joining the FULL lookup is row-identical to
    // joining (lookup ∖ hot) — no anti-join needed; the hot rows it
    // carries match nothing
    fromHot.unionByName(coldLeft.join(lkp, keys.toIndexedSeq, joinType))
  }

  /** Two-phase (salted) aggregation for skewed group keys: partial
    * aggregate on (key, salt), then final aggregate on key. Use for
    * algebraic aggregates (sum/count/min/max). */
  def saltedSumCount(
      df: DataFrame, key: String, valueCol: String, salts: Int,
      saltBy: Column): DataFrame =
    df.withColumn("_salt", pmod(hash(saltBy), lit(salts)))
      .groupBy(col(key), col("_salt"))
      .agg(sum(col(valueCol)).as("_psum"), count(lit(1)).as("_pcnt"))
      .groupBy(col(key))
      .agg(sum(col("_psum")).as(s"sum_$valueCol"),
        sum(col("_pcnt")).as("n"))

  /** SKEW DIAGNOSIS report — the pre-flight audit the other ops in
    * this file act on: before shuffling on `key` across `partitions`
    * tasks, which keys would overload their task, by how much, and
    * what salt factor fixes each? One row per top-k key by mass:
    * (key, cnt, n_rows, n_keys, share, skew_x, salt) where
    * skew_x = cnt ∕ (N∕P) is the key's load relative to a perfectly
    * balanced task and salt = ⌈cnt·P∕N⌉ is the [[saltedJoin]] /
    * [[saltedSumCount]] splits that bring its per-split mass back
    * under one balanced task. skew_x ≤ 1 keys need no salting —
    * the report says so instead of hiding them.
    *
    * Determinism: counts are exact integers; salt is the exact
    * integer ⌈cnt·P∕N⌉ = (cnt·P + N − 1) div N — never a float
    * ceiling; share/skew_x are fixed-order double ratios, 6 dp; the
    * top-k cut orders by (cnt desc, key asc) — a total order.
    *
    * Plan: ONE map-side-combined groupBy to per-key counts, a 1-row
    * total, a top-k TakeOrderedAndProject — never a global sort. A
    * NULL key is a real (and typically the hottest) join key; it is
    * reported like any other under its string form 'NULL'. */
  def skewReport(df: DataFrame, key: String, partitions: Int,
      topK: Int = 10): DataFrame =
    skewReportFromCounts(skewPartial(df, key), partitions, topK)

  /** The keys-sized PARTIAL state of [[skewReport]] over a slice —
    * per-key counts, additive across any batch boundaries, which is
    * what makes the streaming monitor
    * ([[graft.streaming.SkewMonitor]]) ≡ the batch report by
    * construction. */
  private[graft] def skewPartial(df: DataFrame, key: String): DataFrame =
    df.select(coalesce(col(key).cast("string"), lit("NULL")).as("key"))
      .groupBy(col("key")).agg(count(lit(1)).as("cnt"))

  /** [[skewReport]] over stacked (possibly per-batch partial) counts —
    * the cross-batch merge first (a no-op on a final state), then the
    * same totals and top-k cut. Output and determinism exactly as
    * [[skewReport]]. */
  private[graft] def skewReportFromCounts(partials: DataFrame,
      partitions: Int, topK: Int): DataFrame = {
    require(partitions >= 1 && partitions <= 1000000,
      s"need 1 <= partitions <= 1e6, got $partitions")
    require(topK >= 1 && topK <= 1000, s"need 1 <= topK <= 1000, got $topK")
    val counts = partials
      .groupBy(col("key")).agg(sum(col("cnt")).as("cnt"))
      .pin // keys-sized, read twice (totals + top-k)
    val tot = counts.agg(coalesce(sum(col("cnt")), lit(0L)).as("n_rows"),
      count(lit(1)).as("n_keys"))
    require(tot.filter(col("n_rows") > 0L).limit(1).count() == 1L,
      "skewReport needs a non-empty input")
    def d(c: String) = col(c).cast("double")
    counts.orderBy(col("cnt").desc, col("key").asc).limit(topK)
      .crossJoin(broadcast(tot))
      .select(col("key"), col("cnt"), col("n_rows"), col("n_keys"),
        round(d("cnt") / d("n_rows"), 6).as("share"),
        round(d("cnt") * lit(partitions.toDouble) / d("n_rows"), 6)
          .as("skew_x"),
        expr(s"(cast(cnt as decimal(38,0)) * $partitions + n_rows - 1) " +
          "div cast(n_rows as decimal(38,0))").as("salt"))
      .orderBy(col("cnt").desc, col("key").asc)
  }
}
