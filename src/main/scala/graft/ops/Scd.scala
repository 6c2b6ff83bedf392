package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension (type 2) merge — the warehouse-side
  * versioning primitive (Kimball): an incoming batch of (key, value)
  * updates closes the current version of changed keys and opens a new
  * one, preserving full history. The valentinus reference versions whole
  * collections (atomic catalog swap); SCD2 is the row-level counterpart
  * a dimension table needs.
  *
  * Representation: (key, value, valid_from, valid_to, is_current) with
  * open rows carrying `valid_to = openSentinel` (a sentinel rather than
  * NULL so every engine sorts/compares versions identically).
  *
  * Scale: ONE full-outer equi-join of the OPEN slice against the batch
  * (closed history is untouched — at 100 TB it stays on disk, ideally
  * partitioned by is_current so the open slice is a partition scan);
  * everything else is map-only row routing. Pure column compares — no
  * rand, no timestamps — so the merge is deterministic and replayable.
  *
  * NULL and duplicate discipline: value comparisons are NULL-SAFE
  * (`<=>`), so an open row with a NULL value updated to a non-null one
  * versions correctly (and vice versa) instead of vanishing from every
  * routing filter; "this key has an update" is a dedicated marker
  * column, never inferred from value nullability. Duplicate keys in
  * `updates` would fan out the full-outer join into duplicate
  * closed/opened rows, so the batch is first collapsed to one row per
  * key (greatest value wins — deterministic; NULL loses to any value).
  * Callers with a real ordering (event time, sequence) should pre-pick
  * the winning update themselves. */
object Scd {

  def scd2Merge(current: DataFrame, updates: DataFrame, keyCol: String,
      valCol: String, batchVersion: Long,
      openSentinel: Long = 999999L): DataFrame = {
    val cols = Seq(col(keyCol), col(valCol), col("valid_from"),
      col("valid_to"), col("is_current"))
    val open = current.filter(col("is_current") === 1L)
      .withColumn("_has_open", lit(1L))
    val hist = current.filter(col("is_current") =!= 1L).select(cols: _*)
    // one update per key (greatest value, NULL losing to any value) —
    // duplicate batch keys must not fan out the join
    val upd = updates.select(col(keyCol), col(valCol).as("_new"))
      .groupBy(col(keyCol)).agg(max(col("_new")).as("_new"))
      .withColumn("_has_upd", lit(1L))
    val j = open.join(upd, Seq(keyCol), "full_outer")
    val same = col("_new") <=> col(valCol)
    // unchanged open rows (no update, or update with the same value —
    // NULL-safely: a NULL→NULL "update" is a no-op, not a version)
    val unchanged = j.filter(col("_has_open").isNotNull &&
        (col("_has_upd").isNull || same))
      .select(cols: _*)
    // changed keys (including NULL→value and value→NULL transitions):
    // close the old version at this batch...
    val closed = j.filter(col("_has_open").isNotNull &&
        col("_has_upd").isNotNull && !same)
      .select(col(keyCol), col(valCol), col("valid_from"),
        lit(batchVersion).as("valid_to"), lit(0L).as("is_current"))
    // ...and open the new one; brand-new keys open their first version
    val opened = j.filter(col("_has_upd").isNotNull &&
        (col("_has_open").isNull || !same))
      .select(col(keyCol), col("_new").as(valCol),
        lit(batchVersion).as("valid_from"),
        lit(openSentinel).as("valid_to"), lit(1L).as("is_current"))
    hist.unionByName(unchanged).unionByName(closed).unionByName(opened)
  }
}
