package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Pin._

/** Order-independent table checksums — the replica/migration integrity
  * primitive: two copies of a table (different clusters, different file
  * layouts, different engines) agree iff their checksums agree, without
  * moving either copy. Each row hashes to a 60-bit integer (first 15
  * hex digits of md5 over a '|'-joined column rendering — the same
  * portable device as [[Sampling.hashBucket]]) and the table checksum
  * is the exact DECIMAL sum of row hashes: commutative + associative,
  * so ANY partitioning, row order, or engine produces the identical
  * value. One map-side-combined aggregate per table — checksumming
  * 100 TB is a single scan with 16 bytes of state per partition.
  *
  * Columns must render identically across engines: integers, strings,
  * and DECIMALs are safe; raw DOUBLEs are not (cast them to DECIMAL
  * first) — enforced at the call site by listing columns explicitly.
  *
  * The row rendering is INJECTIVE, not just a join: a naive
  * `concat_ws('|', ...)` skips NULLs entirely — ('a', NULL, 'b') and
  * ('a', 'b', NULL) render identically — and a value containing the
  * delimiter aliases column boundaries (('a|b','c') vs ('a','b|c')),
  * so two genuinely different replicas could produce EQUAL checksums.
  * Each column is therefore escaped ('\' → '\\', '|' → '\|') and NULL
  * is rendered as the tag '\N', which no escaped value can collide
  * with — all literal left-to-right replaces, replayed identically by
  * the DuckDB oracle. */
object Integrity {

  /** (table_name, n_rows, checksum-as-string) for one table. */
  def tableChecksum(df: DataFrame, name: String, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    val rendered = cols.map { c =>
      coalesce(
        call_function("replace",
          call_function("replace", col(c).cast("string"),
            lit("\\"), lit("\\\\")),
          lit("|"), lit("\\|")),
        lit("\\N"))
    }
    val rowHash = conv(substring(
        md5(concat_ws("|", rendered: _*)), 1, 15), 16, 10)
      .cast("decimal(38,0)")
    df.select(rowHash.as("_h"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("_h")).cast("decimal(38,0)").cast("string").as("checksum"))
      .select(lit(name).as("table_name"), col("n_rows"), col("checksum"))
  }

  /** BENFORD first-digit audit of a positive numeric column — the
    * fabrication/pipeline-bug tripwire: naturally-grown magnitudes
    * (transaction values, populations, file sizes) follow
    * P(d) = log₁₀(1 + 1∕d), while generated, truncated, capped or
    * unit-mangled data does not; a jump in the deviation flags an
    * upstream change even when row counts and checksums still pass.
    * One row per digit 1..9: (digit, n_obs, frac_obs, p_benford,
    * abs_dev) plus the repeated summary `mad` (mean absolute
    * deviation, the standard Benford conformity number: < 0.006 close,
    * > 0.015 nonconformity).
    *
    * Determinism: the first significant digit comes from the DECIMAL
    * STRING of the micro-quantized value — `substr(cast(round(v·10⁶)
    * as string), 1, 1)` — never from log₁₀/floor (whose last-ulp
    * behavior near powers of ten differs across engines); digits with
    * no observations still emit a row (1..9 spine). p_benford is the
    * closed form ln(1+1∕d)∕ln(10); fractions are fixed-order doubles
    * rounded to 6 dp; `mad` sums the nano-quantized per-digit
    * deviations as longs — bit-replayable. Values ≤ 0 or NULL fail
    * typed (they have no Benford digit; filter or shift first).
    *
    * Plan: ONE map-side-combined groupBy to the 9-row digit frame,
    * then spine-join + 1-row broadcast combines. The audit of 100 TB
    * is a single scan with 9 counters. */
  def benfordAudit(df: DataFrame, valueCol: String): DataFrame = {
    // ONE corpus pass (guide §1.2): the typed guard rides the digit
    // aggregate as a counted flag and the ≤10-row digit frame is pinned
    val obs = df
      .select(substring(round(col(valueCol).cast("double") * 1e6d)
        .cast("long").cast("string"), 1, 1).cast("long").as("digit"),
        (col(valueCol).isNull ||
          round(col(valueCol).cast("double") * 1e6d) < 1.0d).as("_badrow"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"),
        sum(when(col("_badrow"), lit(1L)).otherwise(lit(0L))).as("_bad"))
      .pin // ≤ 10 rows; guard + total + spine join read the cache
    val bad = obs.filter(col("_bad") > 0L).count()
    require(bad == 0L, s"benfordAudit needs positive non-NULL '$valueCol' " +
      "values on the micro grid (≥ 5·10⁻⁷) — zero/negative/sub-grid " +
      "magnitudes have no quantized Benford first digit")
    val spine = df.sparkSession.range(1, 10).select(col("id").as("digit"))
    val tot = obs.agg(coalesce(sum(col("n_obs")), lit(0L)).as("_n"))
    val per = broadcast(spine).join(obs, Seq("digit"), "left")
      .crossJoin(broadcast(tot))
      .select(col("digit"), coalesce(col("n_obs"), lit(0L)).as("n_obs"),
        col("_n"))
      .withColumn("frac_obs",
        round(col("n_obs").cast("double") / col("_n").cast("double"), 6))
      .withColumn("p_benford", round(
        log(lit(1.0d) + lit(1.0d) / col("digit").cast("double")) /
          log(lit(10.0d)), 6))
      .withColumn("abs_dev", round(abs(
        col("n_obs").cast("double") / col("_n").cast("double") -
          log(lit(1.0d) + lit(1.0d) / col("digit").cast("double")) /
            log(lit(10.0d))), 6))
      .pin // 9 rows, read twice
    val mad = per
      .select(round(col("abs_dev") * 1e9d).cast("long").as("_d"))
      .agg(sum(col("_d")).as("_sd"))
    per.crossJoin(broadcast(mad))
      .select(col("digit"), col("n_obs"), col("frac_obs"),
        col("p_benford"), col("abs_dev"),
        round(col("_sd").cast("double") / lit(9.0d) / 1e9d, 6).as("mad"))
      .orderBy(col("digit"))
  }
}
