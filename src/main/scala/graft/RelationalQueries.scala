package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.core.Pin._

/** Relational extension surface over the TPC-H-ish testdata (SURVEY.md §2.3):
  * scans, filters, joins (broadcast + shuffle), aggregations, windows, top-k,
  * set ops, semi/anti joins, date/time bucketing, JSON extraction.
  *
  * The reference (kn0sys/valentinus) has none of these (verified absent,
  * SURVEY.md §2.3); they are the north-star extension surface, built on
  * Spark built-ins only so Catalyst plans partial aggregation, broadcast
  * joins and pushdown for free.
  *
  * Scale notes (100 TB design point):
  *  - FIXED-size dimensions (region: 5 rows, nation: 25 — constant at any
  *    SF) are broadcast explicitly; SCALING dimensions (customer/part/
  *    supplier grow ~linearly with SF: 1.5M customers/SF in TPC-H) carry NO
  *    broadcast hint — AQE picks broadcast vs shuffle-hash from runtime
  *    sizes, so the same plan that broadcasts at sf0.1 switches to a
  *    shuffle join at 100 TB instead of OOMing the driver on a forced hint;
  *    the fact tables (lineitem/orders) never leave executors;
  *  - every aggregate is a map-side-partial hash aggregate (Catalyst);
  *  - top-k uses orderBy+limit => TakeOrderedAndProject (no global sort);
  *  - all money arithmetic is DECIMAL-exact then cast to double (bit-equal
  *    to the DuckDB oracle, and overflow-safe at any scale).
  */
object RelationalQueries {

  private def dec2(c: Column): Column = c.cast(DecimalType(18, 2))
  private def dec4(c: Column): Column = c.cast(DecimalType(18, 4))
  private val one2: Column = lit(1).cast(DecimalType(18, 2))

  /** TPC-H Q1-style pricing summary: filter + grouped exact aggregates. */
  def pricingSummary(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .filter($"l_shipdate" <= lit("2000-12-01").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        sum(dec4($"l_quantity")).cast("double").as("sum_qty"),
        sum(dec2($"l_extendedprice")).cast("double").as("sum_base_price"),
        sum(dec2($"l_extendedprice") * (one2 - dec2($"l_discount")))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** Star join: lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region (dims
    * broadcast), revenue per nation in ASIA. TPC-H Q5 shape. */
  def revenueByNation(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val o  = Tables.orders(s, dir)
    val c  = Tables.customer(s, dir)
    val n  = Tables.nation(s, dir)
    val r  = Tables.region(s, dir)
    li.join(o, $"l_orderkey" === $"o_orderkey")
      .join(c, $"o_custkey" === $"c_custkey") // scaling dim: no hint, AQE sizes it
      .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(r.filter($"r_name" === "ASIA")),
        $"n_regionkey" === $"r_regionkey")
      .groupBy($"n_name")
      .agg(sum(dec2($"l_extendedprice") * (one2 - dec2($"l_discount")))
        .cast("double").as("revenue"))
      .orderBy($"revenue".desc, $"n_name")
  }

  /** Global top-k: TakeOrderedAndProject, no full sort at scale. */
  def topOrders(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
      .limit(10)
  }

  /** Per-group top-k via ranking window (row_number over partition). */
  def topOrdersPerCustomer(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    Tables.orders(s, dir)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter($"rn" <= 3)
      .select($"o_custkey", $"o_orderkey", $"o_totalprice", $"rn")
      .orderBy($"o_custkey", $"rn")
  }

  /** Fact ⋈ scaling-dim join + multi-aggregate per market segment.
    * customer is unhinted — AQE broadcasts it while it fits and shuffle-
    * joins it at scale. */
  def marketSegmentStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    o.join(c, $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(dec2($"o_totalprice")).cast("double").as("sum_total"))
      .withColumn("avg_total", $"sum_total" / $"n_orders")
      .orderBy($"c_mktsegment")
  }

  /** Set operations: INTERSECT then EXCEPT on customer keys by status. */
  def setOpsCustomers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir)
    val open   = o.filter($"o_orderstatus" === "O").select($"o_custkey")
    val filled = o.filter($"o_orderstatus" === "F").select($"o_custkey")
    val part   = o.filter($"o_orderstatus" === "P").select($"o_custkey")
    open.intersect(filled).except(part).orderBy($"o_custkey")
  }

  /** Anti join: customers with no orders (left_anti = NOT EXISTS). */
  def customersWithoutOrders(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
    c.join(o, $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name")
      .orderBy($"c_custkey")
  }

  /** Tumbling 1-hour event-time window aggregate (batch twin of the
    * streaming pipeline in graft.streaming.EventStreams). Epoch-aligned
    * bucketing expressed portably as floor(epoch/3600)*3600. */
  def eventsHourly(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy(
        (floor(unix_timestamp($"ts") / 3600) * 3600).cast("long")
          .as("hour_epoch"),
        $"event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(dec2($"value")).cast("double").as("sum_value"))
      .orderBy($"hour_epoch", $"event_type")
  }

  /** JSON extraction from the events.props payload column. */
  def eventsJsonProps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .withColumn("k", get_json_object($"props", "$.k").cast("long"))
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n"),
        sum($"k").as("sum_k"),
        min($"k").as("min_k"),
        max($"k").as("max_k"))
      .orderBy($"event_type")
  }

  /** Grouped stats on the part dimension (min/max/sum/avg). */
  def partStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.part(s, dir)
      .groupBy($"p_brand")
      .agg(
        count(lit(1)).as("n_parts"),
        min($"p_size").as("min_size"),
        max($"p_size").as("max_size"),
        sum(dec2($"p_retailprice")).cast("double").as("sum_retail"))
      .withColumn("avg_retail", $"sum_retail" / $"n_parts")
      .orderBy($"p_brand")
  }

  /** Month-granularity date rollup (date_trunc), epoch-keyed. */
  def ordersMonthly(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .groupBy(unix_timestamp(date_trunc("month", $"o_orderdate"))
        .cast("long").as("month_epoch"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(dec2($"o_totalprice")).cast("double").as("sum_total"))
      .orderBy($"month_epoch")
  }

  /** ROLLUP grouping sets over returnflag × linestatus. */
  def pricingRollup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(
        count(lit(1)).as("n"),
        sum(dec4($"l_quantity")).cast("double").as("sum_qty"))
      .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
  }

  /** CUBE grouping sets (all four combinations of status × order year)
    * with grouping_id — the grouping-sets twin of q12's ROLLUP. */
  def ordersCube(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .withColumn("o_year", year($"o_orderdate").cast("long"))
      .cube($"o_orderstatus", $"o_year")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(dec2($"o_totalprice")).cast("double").as("sum_total"),
        grouping_id().cast("long").as("gid"))
      .orderBy($"gid", $"o_orderstatus".asc_nulls_first, $"o_year".asc_nulls_first)
  }

  /** Range (interval) join: clicks landing in the 10-minute window after
    * each purchase by the same user — RangeJoin.pointInInterval's bucketed
    * equi-join on (user, time bucket) + exact filter, never a per-key
    * cartesian. Aggregated per purchase; oracle = DuckDB's native
    * inequality join (plan shape differs, result must not). */
  def purchaseClickWindows(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val points = ev.filter($"event_type" === "click")
      .select($"user_id", $"event_id".as("click_id"), unix_micros($"ts").as("t"))
    val intervals = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("purchase_id"),
        unix_micros($"ts").as("lo"),
        (unix_micros($"ts") + lit(600000000L)).as("hi"))
    graft.ops.RangeJoin.pointInInterval(points, intervals, "user_id",
        "t", "lo", "hi", bucketWidth = 600000000L)
      .groupBy($"purchase_id", $"user_id")
      .agg(
        count(lit(1)).as("n_clicks"),
        min($"click_id").as("min_click_id"),
        max($"click_id").as("max_click_id"))
      .orderBy($"purchase_id")
  }

  /** Sliding (overlapping) windows: 10-minute windows every 5 minutes per
    * event type — the batch twin of EventStreams.slidingAvg, over the same
    * `window()` builtin the streaming path uses (each event lands in
    * exactly 2 windows). DECIMAL-exact sums; epoch-keyed output. */
  def slidingWindowStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy(window($"ts", "10 minutes", "5 minutes"), $"event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(dec2($"value")).cast("double").as("sum_value"))
      .select(
        unix_timestamp($"window.start").as("window_start"),
        $"event_type", $"n_events", $"sum_value",
        ($"sum_value" / $"n_events").as("avg_value"))
      .orderBy($"window_start", $"event_type")
  }

  /** Skew-mitigated two-phase aggregation (Skew.saltedSumCount): partial
    * agg on (key, salt) then final on key. The oracle is the PLAIN
    * group-by — proving the salted plan is semantics-preserving (DECIMAL
    * sums are associative, so re-association by salt changes nothing). */
  def saltedAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir).withColumn("qty", dec4($"l_quantity"))
    graft.ops.Skew.saltedSumCount(li, "l_returnflag", "qty",
        salts = 8, saltBy = col("l_orderkey"))
      .select($"l_returnflag", $"sum_qty".cast("double").as("sum_qty"), $"n")
      .orderBy($"l_returnflag")
  }

  /** Salted join on a skewed key (q56's join-side twin): 86% of lineitem
    * rows collapse onto hot key 0 (every l_linenumber > 1), the classic
    * one-task-gets-everything shape. Skew.saltedJoin spreads the hot key
    * over 16 salt values — the large side salts by a hash of its unique
    * row id (deterministic, rerun-stable), the 25-row dim side replicates
    * ×16. Row-level results are provably identical to the plain join
    * (SkewSpec) and the oracle is the PLAIN join — salting must be
    * invisible in the result. */
  def saltedJoinStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
      .withColumn("skew_key",
        when($"l_linenumber" > 1, 0L).otherwise(pmod($"l_suppkey", lit(25L))))
    val n = Tables.nation(s, dir)
      .select($"n_nationkey".cast("long").as("skew_key"), $"n_name")
    graft.ops.Skew.saltedJoin(li, n, "skew_key", salts = 16,
        saltBy = struct($"l_orderkey", $"l_linenumber"))
      .groupBy($"n_name")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(dec4($"l_quantity")).cast("double").as("sum_qty"))
      .orderBy($"n_name")
  }

  /** RANGE window frames (value-based, vs q14's ROWS frames): per user,
    * count/sum of events in the trailing 10 minutes — ties on the order
    * key all join the frame, exactly the RANGE semantics both engines
    * define. DECIMAL-exact sums. */
  def rangeFrameTotals(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"t")
      .rangeBetween(-600000000L, 0L)
    Tables.events(s, dir)
      .withColumn("t", unix_micros($"ts"))
      .select($"event_id", $"user_id",
        count(lit(1)).over(w).as("n_10min"),
        sum(dec2($"value")).over(w).cast("double").as("sum_10min"))
      .orderBy($"event_id")
  }

  /** Map functions over JSON props: from_json → map, element_at lookup,
    * grouped aggregates (the §2.3 "Map fns" row — JSON objects promoted
    * to a typed MapType instead of string re-parsing per access). The map
    * value type is STRING + per-key try_cast, not LONG: a typed-long map
    * nulls the ENTIRE map when any value fails to parse, which would
    * diverge from the oracle's per-key extraction on mixed-value props —
    * string+try_cast makes both engines fail per key, identically. */
  def mapProps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.{MapType, StringType}
    Tables.events(s, dir)
      .select($"event_type",
        element_at(from_json($"props", MapType(StringType, StringType)), "k")
          .as("ks"))
      .select($"event_type", expr("try_cast(ks AS BIGINT)").as("k"))
      .groupBy($"event_type")
      .agg(
        count($"k").as("n_with_k"),
        sum($"k").as("sum_k"),
        countDistinct($"k").as("nd_k"))
      .orderBy($"event_type")
  }

  /** Correlated EXISTS subquery through the SQL surface: suppliers with at
    * least one large-quantity lineitem. Catalyst decorrelates the EXISTS
    * into a left-semi hash join — the plan q06/q07 build via the DataFrame
    * API, proven here from raw SQL (the reference has no subqueries at
    * all; this is the SQL facade's decorrelation guarantee). */
  def existsSubquery(s: SparkSession, dir: String): DataFrame = {
    Tables.supplier(s, dir).createOrReplaceTempView("_g_supplier")
    Tables.lineitem(s, dir).createOrReplaceTempView("_g_lineitem")
    s.sql(
      """SELECT s_suppkey, s_name
        |FROM _g_supplier s
        |WHERE EXISTS (
        |  SELECT 1 FROM _g_lineitem l
        |  WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity >= 49.0)
        |ORDER BY s_suppkey""".stripMargin)
  }

  /** Exact multi-column DISTINCT aggregation (expand-based in Spark). */
  def distinctCounts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(
        countDistinct($"l_partkey").as("nd_parts"),
        countDistinct($"l_suppkey").as("nd_supps"),
        countDistinct($"l_orderkey").as("nd_orders"))
      .orderBy($"l_returnflag")
  }

  /** Running (prefix) totals per customer — analytic window frame.
    * DECIMAL-exact prefix sums over a deterministic order. */
  def runningTotals(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate", $"o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, dir)
      .filter($"o_custkey" < 100)
      .select($"o_custkey", $"o_orderkey",
        unix_timestamp($"o_orderdate").cast("long").as("od_epoch"),
        sum(dec2($"o_totalprice")).over(w).cast("double").as("running_total"),
        count(lit(1)).over(w).as("running_n"))
      .orderBy($"o_custkey", $"od_epoch", $"o_orderkey")
  }

  /** lag(): inter-event gap seconds per user — analytic offset function. */
  def eventGaps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(s, dir)
      .filter($"user_id" < 5)
      .select($"user_id", $"event_id",
        (unix_timestamp($"ts") - unix_timestamp(lag($"ts", 1).over(w)))
          .as("gap_sec"))
      .orderBy($"user_id", $"event_id")
  }

  /** Orders above their customer's average — the correlated-scalar-
    * subquery shape, decorrelated into a window aggregate (one pass,
    * no per-row subquery execution — the 100 TB-friendly form). */
  def aboveAvgOrders(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey")
    Tables.orders(s, dir)
      .filter($"o_custkey" < 200)
      .withColumn("avg_total",
        sum(dec2($"o_totalprice")).over(w).cast("double") /
          count(lit(1)).over(w))
      .filter($"o_totalprice" > $"avg_total")
      .select($"o_custkey", $"o_orderkey", $"o_totalprice", $"avg_total")
      .orderBy($"o_custkey", $"o_orderkey")
  }

  /** Gap-based sessionization (30-min gap) via lag + cumulative sum — the
    * batch twin of EventStreams.userSessions (session_window), expressed
    * in portable window functions so the DuckDB oracle checks the same
    * semantics. Microsecond-exact gap comparison (unix_micros) — no float
    * boundary effects. */
  def sessionization(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val order = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val cum = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gapUs = 1800L * 1000000L
    Tables.events(s, dir)
      .filter($"user_id" < 10)
      .withColumn("new_s",
        when(lag($"ts", 1).over(order).isNull ||
          unix_micros($"ts") - unix_micros(lag($"ts", 1).over(order)) > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum($"new_s").over(cum))
      .groupBy($"user_id", $"session_id")
      .agg(
        count(lit(1)).as("n_events"),
        floor(min(unix_micros($"ts")) / lit(1000000L)).cast("long").as("start_epoch"),
        sum(dec2($"value")).cast("double").as("session_value"))
      .orderBy($"user_id", $"session_id")
  }

  /** As-of join: each event picks up the user's most recent order at event
    * time (graft.ops.AsOfJoin — union + window composition, one shuffle,
    * no range-join explosion). Oracle: DuckDB's native ASOF LEFT JOIN —
    * matching results prove the composition implements true point-in-time
    * semantics. Orders deduped to one per (custkey, date) so ties can't
    * differ between engines. */
  def eventsAsOfOrders(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, dir).filter($"user_id" < 10)
      .select($"event_id", $"user_id", $"ts")
    val o = Tables.orders(s, dir)
      .groupBy($"o_custkey".as("user_id"), $"o_orderdate")
      .agg(max($"o_orderkey").as("last_orderkey"))
    graft.ops.AsOfJoin.asOf(e, o, "user_id", "ts", "o_orderdate",
      Seq("last_orderkey", "o_orderdate"))
      .select($"event_id", $"user_id", $"last_orderkey",
        unix_timestamp($"o_orderdate").cast("long").as("last_order_epoch"))
      .orderBy($"event_id")
  }

  /** Exact continuous quantiles per event type (order statistics — the
    * sort-based aggregate family). Exact percentile, not approx sketches:
    * approximate quantile implementations differ across engines and can't
    * be oracle-checked; the approx path at scale is
    * `approx_percentile`/t-digest, same query shape. */
  def valueQuantiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n"),
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.9)"), 6).as("p90"),
        round(expr("percentile(value, 0.99)"), 6).as("p99"),
        min($"value").as("min_v"),
        max($"value").as("max_v"))
      .orderBy($"event_type")
  }

  /** Approximate quantiles via the portable histogram sketch
    * (ops.HistogramQuantile, 128 bins) over q19's exact domain — the
    * mergeable bounded-state path (bins longs per group) where q19's
    * exact percentile buffers values; unlike t-digest/GK state, the
    * DuckDB oracle replays the whole sketch. */
  def histogramQuantiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ops.HistogramQuantile.quantiles(Tables.events(s, dir),
        "event_type", "value", Seq(0.5, 0.9, 0.99), bins = 128)
      .orderBy($"event_type", $"p")
  }

  /** The remaining window-function surface in one entry: NTILE buckets,
    * PERCENT_RANK, CUME_DIST, LEAD and running FIRST_VALUE per order-
    * status partition. The ORDER BY carries an explicit o_orderkey
    * tie-break so rank-derived ratios are deterministic in any engine;
    * the ratios themselves are single IEEE divides of exact counts. */
  def windowSuite(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_orderstatus")
      .orderBy($"o_totalprice", $"o_orderkey")
    Tables.orders(s, dir)
      .withColumn("ntile4", ntile(4).over(w).cast("long"))
      .withColumn("prk", round(percent_rank().over(w), 6))
      .withColumn("cd", round(cume_dist().over(w), 6))
      .withColumn("next_price", lead($"o_totalprice", 1).over(w))
      .withColumn("first_price", first($"o_totalprice").over(w))
      .filter($"o_orderkey" < 2000)
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice",
        $"ntile4", $"prk", $"cd", $"next_price", $"first_price")
      .orderBy($"o_orderkey")
  }

  /** Pivot: event counts per user bucket, one column per event type
    * (Spark's relational pivot operator; missing combos coalesced to 0 to
    * match SQL's COUNT(CASE ...) semantics). */
  def eventTypePivot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val types = Seq("click", "error", "purchase", "signup", "view")
    val p = Tables.events(s, dir)
      .groupBy(pmod($"user_id", lit(10L)).as("user_bucket"))
      .pivot("event_type", types)
      .count()
    types.foldLeft(p) { (df, t) =>
      df.withColumn(s"n_$t", coalesce(col(t), lit(0L))).drop(t)
    }.orderBy($"user_bucket")
  }

  /** Statistical aggregates: correlation, sample stddev/variance per
    * group (rounded — incremental-moment algorithms differ in last-ulp
    * across engines). */
  def statsAggregates(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(
        round(corr($"l_quantity", $"l_extendedprice"), 6).as("corr_qty_price"),
        round(stddev_samp($"l_extendedprice"), 4).as("sd_price"),
        round(var_samp($"l_quantity"), 4).as("var_qty"),
        round(covar_samp($"l_quantity", $"l_extendedprice"), 2).as("cov_qty_price"))
      .orderBy($"l_returnflag")
  }

  /** Approximate distinct counts via the portable KMV sketch
    * ([[graft.expr.KmvDistinct]], k=64): bounded mergeable state (k
    * smallest distinct affine hashes) with a one-integer-division
    * estimator, so — unlike HLL, whose register layout is engine-private
    * by design — the DuckDB oracle replays the ENTIRE sketch bit-for-bit
    * and q49 is hash-exact like every other entry. Spark's native
    * approx_count_distinct (HLL) remains available for interop; the
    * exact counterpart q13 is the accuracy baseline. */
  def approxDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val kmv = udaf(new graft.expr.KmvDistinct(64))
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(
        kmv($"l_partkey").as("apx_parts"),
        kmv($"l_suppkey").as("apx_supps"),
        kmv($"l_orderkey").as("apx_orders"))
      .orderBy($"l_returnflag")
  }

  /** Per-customer top-3 orders via the bounded-heap aggregate
    * ([[graft.expr.TopKBy]]) — the scale path for per-group top-k: no
    * Sort node, partial heaps shrink each (group, mapper) to ≤ k rows
    * before the exchange. q04 is the window-function twin (row_number
    * sorts every group); this entry proves the aggregate form returns
    * the identical ranking. Order key is the unique composite
    * (o_totalprice, o_orderkey) desc, so ties are deterministic. */
  def topkHeapPerCustomer(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .filter($"o_custkey" < 300)
      .groupBy($"o_custkey")
      .agg(graft.expr.TopKBy.top(
        struct($"o_orderkey", $"o_totalprice"),
        struct($"o_totalprice", $"o_orderkey"), 3).as("top"))
      .select($"o_custkey", posexplode($"top").as(Seq("i", "t")))
      .select($"o_custkey",
        ($"i" + 1).cast("long").as("rk"),
        $"t.o_orderkey".as("o_orderkey"),
        $"t.o_totalprice".as("o_totalprice"))
      .orderBy($"o_custkey", $"rk")
  }

  /** TPC-H Q11-shaped global-share filter: per-brand revenue kept only
    * when it exceeds a fixed fraction of TOTAL revenue — the
    * scalar-subquery-in-HAVING pattern. Plan: one partial+final
    * aggregate over the fact join; the total is a 1-row re-aggregate of
    * the 25 brand rows, broadcast into the filter — the global pass
    * costs one extra row, not one extra scan. DECIMAL-exact money; the
    * share is a double of two exact decimals, rounded before the
    * threshold so the cut is oracle-stable. */
  def revenueShare(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rev = Tables.lineitem(s, dir)
      .join(Tables.part(s, dir), $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand")
      .agg(sum(dec2($"l_extendedprice") * (one2 - dec2($"l_discount")))
        .as("rev_d"))
    val total = rev.agg(sum($"rev_d").as("total_d"))
    rev.crossJoin(broadcast(total))
      .withColumn("share",
        round($"rev_d".cast("double") / $"total_d".cast("double"), 6))
      .filter($"share" > 0.04d)
      .select($"p_brand", $"rev_d".cast("double").as("revenue"), $"share")
      .orderBy($"p_brand")
  }

  /** TPC-H Q17 shape: revenue from SMALL-QUANTITY lineitems — items whose
    * quantity is below 20% of their part's average quantity — summed per
    * brand. The correlated scalar subquery (per-part average) decorrelates
    * to one aggregate + an equi-join back on partkey; the threshold
    * compare is cross-multiplied into DECIMAL integers
    * (5·n·qty < Σqty ⟺ qty < 0.2·avg) so NO float division exists
    * anywhere — the cut is exact in any engine at any scale. */
  def smallQtyRevenue(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val perPart = li.groupBy($"l_partkey".as("pk"))
      .agg(sum(dec4($"l_quantity")).as("sum_qty"), count(lit(1)).as("n_qty"))
    li.join(perPart, $"l_partkey" === $"pk")
      .filter(dec4($"l_quantity") * 5 * $"n_qty" < $"sum_qty")
      .join(Tables.part(s, dir), $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand")
      .agg(
        count(lit(1)).as("n_small"),
        sum(dec2($"l_extendedprice")).cast("double").as("small_revenue"))
      .orderBy($"p_brand")
  }

  /** Statistical anomaly gate: hourly event-value totals more than 2
    * population-σ from their event type's mean. The moments are
    * DECIMAL-EXACT (Σv and Σv² of exact cents; v² of DECIMAL(18,2) is
    * DECIMAL(37,4), no precision loss), so the doubles that form z are
    * functions of identical integers in any engine — the same
    * determinism device as the cosine kernels — and the 6-dp-rounded z
    * makes the cut oracle-stable. Plan: two partial+final aggregates
    * (hourly; per-type moments) + a tiny broadcast-back join — the
    * monitoring query a pipeline runs over every ingest batch. */
  def hourlyAnomalies(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hourly = Tables.events(s, dir)
      .groupBy($"event_type",
        (floor(unix_timestamp($"ts") / 3600) * 3600).cast("long").as("hour_epoch"))
      .agg(sum(dec2($"value")).as("v_d"))
    val stats = hourly.groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"v_d").as("s_d"),
        sum($"v_d" * $"v_d").as("q_d"))
    hourly.join(broadcast(stats), "event_type")
      .withColumn("mu", $"s_d".cast("double") / $"n")
      .withColumn("variance",
        ($"q_d".cast("double") - $"s_d".cast("double") * $"s_d".cast("double") / $"n") / $"n")
      .withColumn("z", round(($"v_d".cast("double") - $"mu") / sqrt($"variance"), 6))
      .filter(abs($"z") > 2.0d)
      .select($"event_type", $"hour_epoch",
        $"v_d".cast("double").as("hr_value"), $"z")
      .orderBy($"event_type", $"hour_epoch")
  }

  /** q214: CUSUM change detection over hourly event values
    * ([[graft.ops.ChangeDetect.cusum]]) — the sequential monitor next
    * to q106's memoryless z-gate: small persistent shifts of the hourly
    * mean accumulate across hours (drawup of the prefix sums — two
    * bounded-grid windows, no recursion) until the two-sided statistic
    * crosses the alarm level. Oracle replays the per-hour micro means,
    * prefix sums, running minima and the alarm cut. */
  def cusumHourly(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ops.ChangeDetect.cusum(
        Tables.events(s, dir)
          .select((floor(unix_timestamp($"ts") / 3600) * 3600).cast("long")
            .as("hour_epoch"), $"value"),
        "hour_epoch", "value",
        target = 50.0d, slack = 2.0d, threshold = 100.0d)
      .orderBy($"bucket")
  }

  /** q216: KENDALL τ-b ([[graft.ops.RankMetrics.kendallTau]]) between
    * hourly event VOLUME and hourly MEAN VALUE — the ordinal "do busy
    * hours run hot?" readout next to q110's Pearson (which a single
    * outlier hour can own) and q207's Spearman: pairwise order
    * agreements over the bounded hourly grid with Kendall's exact tie
    * correction. Oracle replays the micro-mean grid, the quadratic
    * pair classification and the one final ratio. */
  def kendallHourly(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val grid = Tables.events(s, dir)
      .select((floor(unix_timestamp($"ts") / 3600) * 3600).cast("long")
        .as("hour_epoch"),
        round($"value".cast("double") * 1e6d).cast("decimal(38,0)").as("_vm"))
      .groupBy($"hour_epoch")
      .agg(count(lit(1)).as("n_events"), sum($"_vm").as("_sm"))
      .select($"hour_epoch", $"n_events",
        round(round($"_sm".cast("double") / $"n_events".cast("double"))
          .cast("long").cast("double") / 1e6d, 6).as("mean_value"))
    graft.ops.RankMetrics.kendallTau(grid, "hour_epoch",
      "n_events", "mean_value")
  }

  /** q217: THEIL–SEN robust hourly trend
    * ([[graft.ops.ChangeDetect.theilSen]]) — the median-of-pairwise-
    * slopes drift RATE over the hourly value series, immune to the
    * outage/backfill outlier hours that own an OLS fit (breakdown
    * point ~29%); the rate readout behind q214's CUSUM alarm. Oracle
    * replays the micro-mean grid, every IEEE pairwise slope, both
    * median selections and the final unit scaling. */
  def theilSenHourly(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ops.ChangeDetect.theilSen(
      Tables.events(s, dir)
        .select(floor(unix_timestamp($"ts") / 3600).cast("long")
          .as("hour_idx"), $"value"),
      "hour_idx", "value")
  }

  /** q218: hourly AUTOCORRELATION function
    * ([[graft.ops.ChangeDetect.acf]]) at lags 1..6 — the persistence/
    * seasonality fingerprint that tells the monitoring stack whether
    * per-hour anomalies (q106) are independent (z-gate false-alarm
    * math holds) or the series is sticky (use q214's CUSUM). Gap hours
    * contribute no pair — documented, not imputed. Oracle replays the
    * micro-mean grid, the lag equi-joins and the expanded-moment
    * fixed-order ratio per lag. */
  def acfHourly(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ops.ChangeDetect.acf(
      Tables.events(s, dir)
        .select(floor(unix_timestamp($"ts") / 3600).cast("long")
          .as("hour_idx"), $"value"),
      "hour_idx", "value", maxLag = 6)
  }

  /** q228: classical SEASONAL decomposition
    * ([[graft.ops.ChangeDetect.seasonalDecompose]]) — hour-of-day
    * seasonal offsets of event value after removing the centered 2×24h
    * moving-average trend: the interpretable "3am is ALWAYS quiet"
    * profile behind q218's raw lag-memory and the pattern q106's
    * per-hour z must not alarm on. Exact micro-mean grid, exact DECIMAL
    * window sums, one final ratio; oracle replays grid, both straddling
    * windows and the phase fold. */
  def seasonalHourly(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ops.ChangeDetect.seasonalDecompose(
      Tables.events(s, dir)
        .select(floor(unix_timestamp($"ts") / 3600).cast("long")
          .as("hour_idx"), $"value"),
      "hour_idx", "value", period = 24)
  }

  /** q233: least-squares CHANGE-POINT localization
    * ([[graft.ops.ChangeDetect.changePoint]]) — q214's CUSUM says a
    * persistent shift exists; this names the exact hour the level
    * broke: the two-segment SSE-minimizing split of the hourly
    * micro-mean series via prefix sums (O(buckets) candidates, O(1)
    * each). Oracle replays grid, prefixes and the arg-max. */
  def changePointHourly(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ops.ChangeDetect.changePoint(
      Tables.events(s, dir)
        .select(floor(unix_timestamp($"ts") / 3600).cast("long")
          .as("hour_idx"), $"value"),
      "hour_idx", "value")
  }

  /** q142: freshness-weighted (exponentially decayed) event counts — the
    * recency signal behind trending/popularity features, with a 1-day
    * half-life. Determinism at scale: ages are bucketed to whole DAYS
    * (integer floor-div), so the weight 2^−k is an exact power of two,
    * the per-(type, day) term n_k·2^−k is one exact double op rounded to
    * 9 dp, and the cross-bucket sum runs in DECIMAL — order-free on any
    * partitioning and replayed exactly by the oracle. Plan: one grouped
    * count on (type, day-bucket) — bounded by types × horizon days —
    * then a types-sized aggregate; the 1-row max-ts is broadcast. */
  def decayedCounts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"event_type", unix_timestamp($"ts").as("ts_s"))
    val tmax = ev.agg(max($"ts_s").as("tmax"))
    ev.crossJoin(broadcast(tmax))
      .withColumn("k", expr("(tmax - ts_s) div 86400"))
      .groupBy($"event_type", $"k")
      .agg(count(lit(1)).as("n_k"))
      .withColumn("term",
        round($"n_k".cast("double") / pow(lit(2.0), $"k"), 9).cast("decimal(20,9)"))
      .groupBy($"event_type")
      .agg(sum($"n_k").as("n_events"),
        round(sum($"term").cast("double"), 6).as("decayed_count"))
      .orderBy($"event_type")
  }

  /** q147: VARIANT-typed semi-structured processing (Spark 4's
    * `parse_json` → `variant_get`) — the shredded-JSON path that
    * replaces per-access string re-parsing: props parses ONCE into an
    * open-schema VARIANT and every extraction is a binary-encoded field
    * read. Same answers as q09's string-JSON twin, so the oracle (plain
    * JSON SQL) proves the variant path end to end. At 100 TB variant
    * columns shred into parquet and extractions prune like struct
    * fields — q09's regex-ish reparse cost disappears. */
  def variantProps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select($"event_type",
        expr("variant_get(parse_json(props), '$.k', 'bigint')").as("k"),
        expr("try_variant_get(parse_json(props), '$.missing', 'bigint')").as("m"))
      .groupBy($"event_type")
      .agg(count($"k").as("n_with_k"),
        sum($"k").as("sum_k"),
        min($"k").as("min_k"),
        max($"k").as("max_k"),
        count($"m").as("n_missing_field"))
      .orderBy($"event_type")
  }

  /** q154: A/B experiment readout with Welch's t — users hash-split
    * 50/50 into variants (the md5 device, so assignment is stable and
    * replayable), per-variant mean/variance of event value from exact
    * DECIMAL sums, and the t statistic as ONE IEEE expression over
    * exact components (q106's determinism recipe applied to the
    * experiment-analysis question). Two grouped aggregates; variant
    * cardinality is 2. */
  def abTest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .withColumn("variant",
        when(graft.ops.Sampling.hashBucket($"user_id") < 50, "A").otherwise("B"))
    val stats = ev.groupBy($"variant")
      .agg(count(lit(1)).as("n"),
        sum(dec2($"value")).as("s_d"),
        sum(dec2($"value") * dec2($"value")).as("q_d"))
      .withColumn("mean", round($"s_d".cast("double") / $"n", 6))
      .withColumn("variance",
        ($"q_d".cast("double") - $"s_d".cast("double") * $"s_d".cast("double") / $"n") /
          ($"n" - 1))
    val a = stats.filter($"variant" === "A")
      .select($"n".as("n_a"), $"mean".as("mean_a"), $"variance".as("_va"))
    val b = stats.filter($"variant" === "B")
      .select($"n".as("n_b"), $"mean".as("mean_b"), $"variance".as("_vb"))
    a.crossJoin(b)
      .select($"n_a", $"mean_a", $"n_b", $"mean_b",
        round(($"mean_a" - $"mean_b") /
          sqrt($"_va" / $"n_a" + $"_vb" / $"n_b"), 6).as("welch_t"))
  }

  /** q236: CUPED-adjusted A/B lift
    * ([[graft.ops.ClassifierEval.cupedLift]]) — q154's experiment
    * readout made sensitive: each user's post-period mean value is
    * adjusted by their own PRE-period mean (periods split at the
    * integer midpoint of the event time range, users present in both),
    * θ and the variance reduction pooled across arms. Exact per-user
    * micro means, exact DECIMAL moments, fixed-order lifts. */
  def cupedExperiment(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dec = "decimal(38,0)"
    val ev = Tables.events(s, dir)
      .select($"user_id", unix_timestamp($"ts").cast("long").as("ep"),
        round($"value" * 1e6d).cast("long").as("vm"))
    val mid = ev.agg(expr("(min(ep) + max(ep)) div 2").as("mid"))
    val per = ev.crossJoin(broadcast(mid))
      .groupBy($"user_id")
      .agg(
        sum(when($"ep" < $"mid", 1L).otherwise(0L)).as("n_pre"),
        sum(when($"ep" < $"mid", $"vm").otherwise(0L).cast(dec)).as("s_pre"),
        sum(when($"ep" >= $"mid", 1L).otherwise(0L)).as("n_post"),
        sum(when($"ep" >= $"mid", $"vm").otherwise(0L).cast(dec)).as("s_post"))
      .filter($"n_pre" > 0L && $"n_post" > 0L)
      .select($"user_id",
        (round($"s_post".cast("double") / $"n_post".cast("double"))
          .cast("long").cast("double") / 1e6d).as("y"),
        (round($"s_pre".cast("double") / $"n_pre".cast("double"))
          .cast("long").cast("double") / 1e6d).as("x"),
        when(graft.ops.Sampling.hashBucket($"user_id") < 50, "A")
          .otherwise("B").as("arm"))
    graft.ops.ClassifierEval.cupedLift(per, "arm", "y", "x")
  }

  /** q244: hourly CROSS-correlation, errors × signups
    * ([[graft.ops.ChangeDetect.ccf]]) — q218's ACF says each series
    * remembers itself; this says whether error spikes LEAD signup dips
    * (peak at positive lag = errors now, signups later): the
    * incident-impact readout a per-series monitor cannot produce.
    * Lags −6..+6 over the per-hour mean values of the two event types.
    * Oracle replays both micro-mean grids, the lag joins and every
    * fixed-order ratio. */
  def errorSignupCcf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"event_type",
        floor(unix_timestamp($"ts") / 3600).cast("long").as("hour_idx"),
        $"value")
    graft.ops.ChangeDetect.ccf(
      ev.filter($"event_type" === "error").select($"hour_idx", $"value"),
      ev.filter($"event_type" === "signup").select($"hour_idx", $"value"),
      "hour_idx", "value", maxLag = 6)
  }

  /** q246: BENFORD first-digit audit of event values
    * ([[graft.ops.Integrity.benfordAudit]]) — the fabrication/unit-bug
    * tripwire next to q144's checksums: a re-ingest that rescaled,
    * capped or synthesized the `value` column moves the first-digit
    * profile even when counts and sums still reconcile. The synthetic
    * testdata is NOT Benford-distributed — the audit's honest reading
    * here is a large `mad`, which is exactly the point: the number is
    * a fingerprint to TREND across ingests, not a pass/fail gate.
    * Oracle replays the micro-string digit extraction, the 9-digit
    * spine and the closed-form expectations. */
  def eventValueBenford(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // zero-valued events (a real occurrence) have no first digit —
    // filtered to the audit's documented domain; the op fails typed
    // rather than silently binning them
    graft.ops.Integrity.benfordAudit(
      Tables.events(s, dir).select($"value")
        .filter(round($"value" * 1e6d) >= 1.0d), "value")
  }

  /** q248: COVARIATE BALANCE of the q236 experiment split
    * ([[graft.ops.ClassifierEval.covariateBalance]]) — the pre-flight
    * audit CUPED assumes: are the hash-assigned arms actually
    * exchangeable on the pre-period covariates (per-user pre-period
    * mean value, pre-period activity count)? |SMD| < 0.1 says the
    * randomization held; a failure here poisons q236's lift before any
    * adjustment. Oracle replays the per-user frame, the per-arm DECIMAL
    * moments and the fixed-order SMDs. */
  def experimentBalance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dec = "decimal(38,0)"
    val ev = Tables.events(s, dir)
      .select($"user_id", unix_timestamp($"ts").cast("long").as("ep"),
        round($"value" * 1e6d).cast("long").as("vm"))
    val mid = ev.agg(expr("(min(ep) + max(ep)) div 2").as("mid"))
    val per = ev.crossJoin(broadcast(mid))
      .groupBy($"user_id")
      .agg(
        sum(when($"ep" < $"mid", 1L).otherwise(0L)).as("n_pre"),
        sum(when($"ep" < $"mid", $"vm").otherwise(0L).cast(dec)).as("s_pre"))
      .filter($"n_pre" > 0L)
      .select($"user_id",
        (round($"s_pre".cast("double") / $"n_pre".cast("double"))
          .cast("long").cast("double") / 1e6d).as("x_pre"),
        $"n_pre".cast("double").as("n_events_pre"),
        when(graft.ops.Sampling.hashBucket($"user_id") < 50, "A")
          .otherwise("B").as("arm"))
    graft.ops.ClassifierEval.covariateBalance(per, "arm",
      Seq("x_pre", "n_events_pre"))
  }

  /** q250: POWER ANALYSIS of the q236 experiment
    * ([[graft.ops.ClassifierEval.powerAnalysis]]) — the planning
    * closure of the A/B family: given the post-period lift and pooled
    * variance q236 observed, how many users per arm would the NEXT
    * run need at α = 0.05∕80% power? An n_required far above the
    * actual arms says "underpowered", which is not "no effect". Same
    * per-user post-mean frame and hash arms; z quantiles are baked
    * literals, so the whole path is engine-exact. Oracle replays the
    * frame, moments and the sizing formula. */
  def experimentPower(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dec = "decimal(38,0)"
    val ev = Tables.events(s, dir)
      .select($"user_id", unix_timestamp($"ts").cast("long").as("ep"),
        round($"value" * 1e6d).cast("long").as("vm"))
    val mid = ev.agg(expr("(min(ep) + max(ep)) div 2").as("mid"))
    val per = ev.crossJoin(broadcast(mid))
      .groupBy($"user_id")
      .agg(
        sum(when($"ep" >= $"mid", 1L).otherwise(0L)).as("n_post"),
        sum(when($"ep" >= $"mid", $"vm").otherwise(0L).cast(dec)).as("s_post"))
      .filter($"n_post" > 0L)
      .select($"user_id",
        (round($"s_post".cast("double") / $"n_post".cast("double"))
          .cast("long").cast("double") / 1e6d).as("y"),
        when(graft.ops.Sampling.hashBucket($"user_id") < 50, "A")
          .otherwise("B").as("arm"))
    graft.ops.ClassifierEval.powerAnalysis(per, "arm", "y")
  }

  /** q251: KAPLAN–MEIER user-lifetime survival
    * ([[graft.ops.Funnel.kaplanMeier]]) — q87's retention triangle
    * upgraded to the censoring-honest survival curve: users whose last
    * activity sits in the final observed day are censored, not counted
    * as churned, so the curve does not nosedive at the window edge.
    * Day periods, KM steps at churn times, nano-ln running product.
    * Oracle replays lifespans, the at-risk reverse cumulative and
    * every survival factor. */
  def userSurvival(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ops.Funnel.kaplanMeier(Tables.events(s, dir), "user_id", "ts")
  }

  /** q277: JARQUE–BERA normality audit of event value per type
    * ([[graft.ops.ClassifierEval.jarqueBera]]) — the shape gate in
    * front of the whole t/z family (q106 per-hour z, q154 Welch,
    * q236 CUPED): moment skewness, excess kurtosis and the χ²₂ JB
    * statistic per event_type, exactly the readout that says "this
    * metric is heavy-tailed — use the rank tests". Oracle replays the
    * milli grid, the rounded mean, all three exact central sums and
    * the fixed-order readouts. */
  def eventValueJarqueBera(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ops.ClassifierEval.jarqueBera(
      Tables.events(s, dir).select($"event_type", $"value"),
      "event_type", "value")
  }

  /** q284: STANDARDIZED EFFECT SIZES for the q154 A/B split
    * ([[graft.ops.ClassifierEval.effectSizes]]) — Cohen's d, Hedges' g
    * and Glass's Δ on the same hash-bucketed arms: the magnitude
    * companion to q154's Welch t (significant ≠ large) and the input
    * q250's power planner actually wants. Oracle replays the bucket
    * split, the exact DECIMAL moments and the three fixed-order
    * ratios. */
  def experimentEffectSizes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ops.ClassifierEval.effectSizes(
      Tables.events(s, dir).withColumn("variant",
        when(graft.ops.Sampling.hashBucket($"user_id") < 50, "A")
          .otherwise("B")),
      "variant", "value", "A", "B")
  }

  /** q282: EDIT-DISTANCE SIMILARITY JOIN over part names
    * ([[graft.ops.Dedup.editNeighborJoin]]) — every unordered pair of
    * distinct p_name values within Levenshtein distance 1, found via
    * deletion-neighborhood blocking (equi-join on (L+1) signatures per
    * string, never all pairs) + exact verify: the typo/near-spelling
    * join an entity-resolution or vocabulary-normalization pass runs,
    * where q92 gives only the per-pair metric. Oracle is the BRUTE
    * FORCE all-pairs join — a match proves the blocking complete. */
  def partNameEditJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ops.Dedup.editNeighborJoin(
      Tables.part(s, dir).select($"p_name"), "p_name")
      .orderBy($"a", $"b")
  }

  /** q294: QUANTILE TREATMENT EFFECTS for the q154 A/B split
    * ([[graft.ops.ClassifierEval.quantileTreatmentEffects]]) — the
    * per-decile difference of the two arms' exact value quantiles: the
    * readout that catches a tail-only treatment effect q284's pooled-sd
    * d averages away. Oracle replays the arm grids, the cumulative
    * windows and the exact integer rank thresholds. */
  def experimentQte(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ops.ClassifierEval.quantileTreatmentEffects(
      Tables.events(s, dir).withColumn("variant",
        when(graft.ops.Sampling.hashBucket($"user_id") < 50, "A")
          .otherwise("B")),
      "variant", "value", "A", "B")
  }

  /** q293: WALD–WOLFOWITZ runs test on the hourly series
    * ([[graft.ops.ChangeDetect.runsTest]]) — is the hour-to-hour
    * movement around the median RANDOM at all? Too few runs = sticky
    * regimes (q218's ACF shows where), too many = oscillation; either
    * kills the q106 z-gate's independence assumption. Oracle replays
    * the micro-mean grid, the rank median, the sign drops and the lag
    * run count. */
  def hourlyRunsTest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ops.ChangeDetect.runsTest(
      Tables.events(s, dir)
        .select(floor(unix_timestamp($"ts") / 3600).cast("long")
          .as("hour_idx"), $"value"),
      "hour_idx", "value")
  }

  /** q289: PAGE–HINKLEY self-referenced drift monitor
    * ([[graft.ops.ChangeDetect.pageHinkley]]) — q214's CUSUM needs a
    * calibrated target level; this needs NOTHING: the reference is the
    * hourly series' own running mean, so it is the drift alarm you can
    * deploy on a metric you've never seen. Oracle replays the
    * micro-mean grid, the running-mean terms (milli-quantized before
    * the prefix sum) and the drawup-from-running-min readout. */
  def hourlyPageHinkley(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ops.ChangeDetect.pageHinkley(
      Tables.events(s, dir)
        .select(floor(unix_timestamp($"ts") / 3600).cast("long")
          .as("hour_idx"), $"value"),
      "hour_idx", "value", delta = 0.0d, lambda = 5.0d)
  }

  /** q288: LOG-RANK survival comparison between the q154 arms
    * ([[graft.ops.Funnel.logRank]]) — do A-bucket users churn at a
    * different rate than B-bucket users, judged on the full KM curves
    * rather than a point estimate? The hypergeometric O−E and variance
    * accumulate nano-quantized on the event-time grid. Oracle replays
    * the per-user collapse, the at-risk windows and both quantized
    * sums. */
  def cohortLogRank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ops.Funnel.logRank(
      Tables.events(s, dir).withColumn("cohort",
        when(graft.ops.Sampling.hashBucket($"user_id") < 50, "A")
          .otherwise("B")),
      "user_id", "ts", "cohort")
  }

  /** q255: MANN–KENDALL hourly trend significance
    * ([[graft.ops.ChangeDetect.mannKendall]]) — the significance gate
    * in front of q217's Theil–Sen slope: S counts concordant minus
    * discordant hour pairs on the same micro-mean grid, with the
    * tie-corrected variance and ±1 continuity correction. No
    * distributional assumption, no linearity assumption — quote the
    * slope only when this z clears the bar. Oracle replays the grid,
    * the sign pairs, the tie term and the fixed-order z. */
  def hourlyMannKendall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ops.ChangeDetect.mannKendall(
      Tables.events(s, dir)
        .select(floor(unix_timestamp($"ts") / 3600).cast("long")
          .as("hour_idx"), $"value"),
      "hour_idx", "value")
  }

  /** q261: SEGMENTED TREND around the q233 change point
    * ([[graft.ops.ChangeDetect.segmentedTrend]]) — the quantifying
    * closure of the change-point family: separate exact OLS fits
    * before and after the SAME argmax split q233 reports, so "traffic
    * shifted at hour τ" becomes "flat before, +k∕h after". Single-
    * bucket sides report NULL fits. Oracle replays the grid, the
    * split search and both fixed-order fits. */
  def hourlySegmentedTrend(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ops.ChangeDetect.segmentedTrend(
      Tables.events(s, dir)
        .select(floor(unix_timestamp($"ts") / 3600).cast("long")
          .as("hour_idx"), $"value"),
      "hour_idx", "value")
  }

  /** q262: SKEW DIAGNOSIS of the events user_id key
    * ([[graft.ops.Skew.skewReport]]) — the pre-flight audit behind
    * every salted op (q56/q63) and the hot/cold router: which user
    * keys would overload a 32-task shuffle, by how much, and what
    * exact salt factor ⌈cnt·P∕N⌉ fixes each. One map-side-combined
    * groupBy + a top-10 TakeOrderedAndProject — the report costs a
    * scan, the un-diagnosed skew costs a straggler. Oracle replays
    * counts and the integer ceiling. */
  def eventKeySkew(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ops.Skew.skewReport(Tables.events(s, dir), "user_id",
      partitions = 32, topK = 10)
  }

  /** q269: SPRT error-rate trajectory
    * ([[graft.ops.ChangeDetect.sprt]]) — Wald's sequential test on
    * the hourly error stream: is the error rate p₁ = 0.25 rather than
    * the in-control p₀ = 0.15, decided AS the hours arrive instead of
    * at a fixed horizon (the q154/q250 designs)? Integer nano-LLR,
    * integer boundary compares, first-crossing column. Oracle replays
    * the grid, all four log constants and every compare. */
  def hourlyErrorSprt(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ops.ChangeDetect.sprt(
      Tables.events(s, dir)
        .select(floor(unix_timestamp($"ts") / 3600).cast("long")
          .as("hour_idx"),
          when($"event_type" === "error", 1L).otherwise(0L).as("is_err")),
      "hour_idx", "is_err", p0 = 0.15d, p1 = 0.25d)
  }

  /** Robust (median/MAD) outlier stats — the heavy-tail-safe complement
    * of q106's z-score: per return flag, the EXACT lower median of the
    * price (order statistic at rank ⌈n/2⌉ — integer arithmetic, no
    * interpolation), the median absolute deviation around it, and the
    * count beyond 3·MAD. Everything runs in exact integer cents, so the
    * whole decision path is bit-identical to a sorted scan.
    *
    * Both medians come from [[graft.ops.ExactRank.radixHistogram]] +
    * [[graft.ops.ExactRank.valueCounts]] — iterative histogram
    * selection, NOT `row_number()` over a 3-value partition key (that
    * window plan is a three-reducer global sort, the single-task
    * scale-killer at 100 TB). Each selection round is a map-only
    * scan-count with bounded state; no plan node sorts anything larger
    * than the final 3-row presentation order. */
  def madOutliers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ops.ExactRank
    val li = Tables.lineitem(s, dir)
      .select($"l_returnflag",
        (dec2($"l_extendedprice") * 100).cast("long").as("c"))
    // FOUR shuffle-free passes over the (group, cents) projection —
    // median radix + median values, then absdev radix + absdev values —
    // assemble the whole answer on the driver from bounded histograms:
    // the n_outliers cut needs no fifth pass because the absdev radix
    // histogram already counts every slot fully below the 3·MAD region,
    // and the value pass covers the region itself. Four passes amortize
    // a cache of the 2-column projection (measured: no-cache re-scans
    // cost ~40% more end-to-end at sf0.1; q98's TWO passes go the other
    // way and skip the cache). The cache is the columnar DataFrame
    // (Tungsten-encoded, spills gracefully at MEMORY_AND_DISK — never a
    // Java-serialized tuple RDD), a small fraction of the table width.
    // All passes run over InternalRow plan output (no per-row tuple
    // deserialization, measured ~2× kernel cost) and the valueCounts
    // passes range-filter through the DataFrame layer first.
    val cached = li.pin
    val h1 = ExactRank.radixHistogram(cached)
    val medPlan = h1.toSeq.sortBy(_._1).map { case (g, slots) =>
      val n = slots.iterator.map(_.cnt).sum
      val rMed = (n + 1) / 2
      val (iM, bM) = ExactRank.slotAt(slots, rMed)
      (g, slots, n, rMed, iM, bM)
    }
    val ranges1 = medPlan.map { case (g, slots, _, _, iM, _) =>
      g -> Array((slots(iM).mn, slots(iM).mx)) }.toMap
    val lo1 = ranges1.valuesIterator.flatten.map(_._1).min
    val hi1 = ranges1.valuesIterator.flatten.map(_._2).max
    val vc1 = ExactRank.valueCounts(
      cached.filter($"c" >= lo1 && $"c" <= hi1), ranges1)
    val med: Map[String, Long] = medPlan.map { case (g, slots, _, rMed, iM, bM) =>
      g -> ExactRank.valueAt(vc1(g), slots(iM).mn, slots(iM).mx, bM, rMed)
    }.toMap
    val dev = cached.select($"l_returnflag",
      abs($"c" - element_at(typedlit(med), $"l_returnflag")).as("c"))
    val h2 = ExactRank.radixHistogram(dev)
    val madPlan = h2.toSeq.sortBy(_._1).map { case (g, slots) =>
      val n = slots.iterator.map(_.cnt).sum
      val rMed = (n + 1) / 2
      val (iM, bM) = ExactRank.slotAt(slots, rMed)
      // 3·MAD lands in [3·slot.mn, 3·slot.mx]; widen that region to
      // the radix slots containing its endpoints so every slot
      // intersecting it lies FULLY inside (slots are disjoint value
      // intervals, so only the containing slots can straddle)
      val lo3 = 3L * slots(iM).mn
      val hi3 = 3L * slots(iM).mx
      val loR = slots.find(sl => sl.mn <= lo3 && lo3 <= sl.mx).map(_.mn).getOrElse(lo3)
      val hiR = slots.find(sl => sl.mn <= hi3 && hi3 <= sl.mx).map(_.mx).getOrElse(hi3)
      (g, slots, n, rMed, iM, bM, loR, hiR)
    }
    val ranges2 = madPlan.map { case (g, slots, _, _, iM, _, loR, hiR) =>
      g -> Array((slots(iM).mn, slots(iM).mx), (loR, hiR)) }.toMap
    val lo2 = ranges2.valuesIterator.flatten.map(_._1).min
    val hi2 = ranges2.valuesIterator.flatten.map(_._2).max
    val vc2 = ExactRank.valueCounts(
      dev.filter($"c" >= lo2 && $"c" <= hi2), ranges2)
    def cents2(c: Long): Double =
      java.math.BigDecimal.valueOf(c, 2).doubleValue
    val rows = madPlan.map { case (g, slots, n, rMed, iM, bM, loR, hiR) =>
      val values = vc2(g)
      val mad = ExactRank.valueAt(values, slots(iM).mn, slots(iM).mx, bM, rMed)
      val t = 3L * mad // t ∈ [loR, hiR] by construction
      // count(absdev ≤ t): slots fully below the region (their values
      // are all < loR ≤ t) + region values ≤ t; slots above the
      // region hold only values > hiR ≥ t
      var cnt = 0L
      slots.foreach(sl => if (sl.mx < loR) cnt += sl.cnt)
      values.foreach { case (v, c2) => if (v >= loR && v <= t) cnt += c2 }
      org.apache.spark.sql.Row(g, n, cents2(med(g)), cents2(mad), n - cnt)
    }
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("l_returnflag", StringType), StructField("n", LongType),
      StructField("median", DoubleType), StructField("mad", DoubleType),
      StructField("n_outliers", LongType)))
    s.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, schema)
  }

  /** Exact heavy-hitter users (count ≥ 80) via the Count-Min prefilter
    * ([[graft.ops.HeavyHitters]]): a map-only sketch pass (depth × width
    * long counters, cardinality-independent state) then a map-only
    * exact count of only the items whose one-sided estimate clears the
    * bar. At 100 TB the naive groupBy shuffles one row per DISTINCT
    * item — this never shuffles at all and its state is answer-sized.
    * The oracle is the PLAIN `GROUP BY HAVING` — hash-equality proves
    * the exact verify pass strips every sketch false positive (the q112
    * one-sided-error device on counters instead of membership). */
  def heavyHitterUsers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ops.HeavyHitters.heavyHitters(
        Tables.events(s, dir).select($"user_id"),
        "user_id", minCount = 80L)
      .orderBy($"n".desc, $"user_id")
  }

  /** Hourly cross-metric correlation matrix: Pearson corr between every
    * pair of event types' hourly value series — the "which metrics move
    * together" monitoring query. Moments (Σx, Σx², Σxy) are
    * DECIMAL-exact; the correlation is assembled in double from exact
    * components (q106's determinism device) and rounded to 6 dp. Plan:
    * one hourly aggregate, a self-equi-join ON HOUR (types² × hours
    * rows — types is a constant, never a scale risk), one pair
    * aggregate. */
  def typeCorrelation(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hourly = Tables.events(s, dir)
      .groupBy($"event_type",
        (floor(unix_timestamp($"ts") / 3600) * 3600).cast("long").as("hr"))
      .agg(sum(dec2($"value")).as("v"))
    val a = hourly.select($"event_type".as("type_a"), $"hr", $"v".as("va"))
    val b = hourly.select($"event_type".as("type_b"), $"hr", $"v".as("vb"))
    a.join(b, Seq("hr")).filter($"type_a" < $"type_b")
      .groupBy($"type_a", $"type_b")
      .agg(
        count(lit(1)).as("n"),
        sum($"va").as("sx"), sum($"vb").as("sy"),
        sum($"va" * $"va").as("sxx"), sum($"vb" * $"vb").as("syy"),
        sum($"va" * $"vb").as("sxy"))
      .withColumn("corr_v", round(
        ($"n" * $"sxy".cast("double") - $"sx".cast("double") * $"sy".cast("double")) /
          sqrt(($"n" * $"sxx".cast("double") - $"sx".cast("double") * $"sx".cast("double")) *
            ($"n" * $"syy".cast("double") - $"sy".cast("double") * $"sy".cast("double"))), 6))
      .select($"type_a", $"type_b", $"n", $"corr_v")
      .orderBy($"type_a", $"type_b")
  }

  /** Time-series gap-fill + forward-fill (resample): per-user hourly
    * grid from first to last active hour (`sequence` explode — map-only
    * row generation, no join against a global calendar), left join of
    * the hourly aggregate, missing hours as explicit zero-count rows,
    * and the value column forward-filled with `last(_, ignoreNulls)`
    * over a ROWS frame. Plan: one shuffle for the hourly aggregate, one
    * for the (user,hr) join, one window — the grid explode itself never
    * shuffles. At 100 TB the grid is bounded by users × span-hours, not
    * by event count, and partitions by user_id with no skew beyond the
    * per-user span. Output epochs as BIGINT (q08 convention). */
  def gapFillHourly(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hourly = Tables.events(s, dir)
      .filter($"user_id" < 25)
      .groupBy($"user_id", date_trunc("hour", $"ts").as("hr"))
      .agg(count(lit(1)).as("n_events"),
        sum(dec2($"value")).cast("double").as("hr_value"))
    val grid = hourly.groupBy($"user_id")
      .agg(min($"hr").as("h0"), max($"hr").as("h1"))
      .select($"user_id",
        explode(sequence($"h0", $"h1", expr("interval 1 hour"))).as("hr"))
    val w = Window.partitionBy($"user_id").orderBy($"hr")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hourly, Seq("user_id", "hr"), "left")
      .select($"user_id",
        (unix_timestamp($"hr")).as("hour_epoch"),
        coalesce($"n_events", lit(0L)).as("n_events"),
        last($"hr_value", ignoreNulls = true).over(w).as("filled_value"))
      .orderBy($"user_id", $"hour_epoch")
  }

  /** Winsorized robust statistics: per-group P05/P95 as EXACT order
    * statistics at the integer-arithmetic ranks ⌈n/20⌉ and ⌈19n/20⌉ (no
    * interpolation, so both engines land on the same data value), then
    * the clamped DECIMAL-exact mean and clamp counts — assembled
    * ENTIRELY on the driver from TWO shuffle-free histogram passes (the
    * q109 `madOutliers` discipline), never a per-group sort, never a
    * join, never a third scan.
    *
    * Pass 1 — [[graft.ops.ExactRank.radixHistogram]]: per-(group, radix
    * slot) count/min/max/SUM in one map-only `treeAggregate`. The
    * cumulative slot counts locate the slots holding ranks ⌈n/20⌉ and
    * ⌈19n/20⌉. Pass 2 — [[graft.ops.ExactRank.valueCounts]] over just
    * those two boundary slots per group: exact per-value counts pin
    * p05/p95 to the data values. Everything else is slot arithmetic:
    * `win_sum` = Σ full-slot SUMs strictly between the boundary slots +
    * per-value corrections inside them + n_lo·p05 + n_hi·p95, and
    * n_lo/n_hi fall out of the same cumulative counts. All in exact
    * integer cents, so the result is bit-identical to the clamped
    * DECIMAL aggregate it replaces. Driver state: groups × occupied
    * slots + two slots' distinct values — never data-proportional. */
  def winsorizedStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ops.ExactRank
    val li = Tables.lineitem(s, dir)
      .select($"l_returnflag",
        (dec2($"l_extendedprice") * 100).cast("long").as("c"))
    // exactly TWO passes, so no cache: building a columnar cache costs
    // more than the one extra scan it would save (measured — the cached
    // variant ran ~20% slower at sf0.1). Both kernels run over the
    // InternalRow plan output (no per-row tuple deserialization), and
    // pass 2's range filter goes through the DataFrame layer so codegen
    // drops rows early and parquet row-group pruning applies.
    locally {
      val hist = ExactRank.radixHistogram(li)
      val plan = hist.toSeq.sortBy(_._1).map { case (g, slots) =>
        val n = slots.iterator.map(_.cnt).sum
        val r05 = (n + 19) / 20
        val r95 = (n * 19 + 19) / 20
        val (i05, b05) = ExactRank.slotAt(slots, r05)
        val (i95, b95) = ExactRank.slotAt(slots, r95)
        (g, slots, n, r05, r95, i05, b05, i95, b95)
      }
      val ranges = plan.map { case (g, slots, _, _, _, i05, _, i95, _) =>
        g -> Array((slots(i05).mn, slots(i05).mx),
          (slots(i95).mn, slots(i95).mx))
      }.toMap
      val cLo = ranges.valuesIterator.flatten.map(_._1).min
      val cHi = ranges.valuesIterator.flatten.map(_._2).max
      val vc = ExactRank.valueCounts(
        li.filter($"c" >= cLo && $"c" <= cHi), ranges)
      def cents2(c: Long): Double =
        java.math.BigDecimal.valueOf(c, 2).doubleValue
      val rows = plan.map { case (g, slots, n, r05, r95, i05, b05, i95, b95) =>
        val values = vc(g)
        val p05 = ExactRank.valueAt(values, slots(i05).mn, slots(i05).mx, b05, r05)
        val p95 = ExactRank.valueAt(values, slots(i95).mn, slots(i95).mx, b95, r95)
        // clamp counts from cumulative slot counts + boundary-slot
        // per-value corrections; win_sum's middle region from full-slot
        // SUMs between the boundaries + the same per-value corrections
        var nLo = b05      // will become count(c < p05)
        var nLe95 = b95    // will become count(c <= p95)
        var mid = 0L       // Σ c over p05 <= c <= p95, exact cents
        var i = i05 + 1
        while (i < i95) { mid += slots(i).sum; i += 1 }
        values.foreach { case (v, cnt) =>
          val in05 = v >= slots(i05).mn && v <= slots(i05).mx
          val in95 = v >= slots(i95).mn && v <= slots(i95).mx
          if (in05 && v < p05) nLo += cnt
          if (in95 && v <= p95) nLe95 += cnt
          if (i05 == i95) {
            if (in05 && v >= p05 && v <= p95) mid += v * cnt
          } else {
            if (in05 && v >= p05) mid += v * cnt
            else if (in95 && v <= p95) mid += v * cnt
          }
        }
        val nHi = n - nLe95
        val winSumC = nLo * p05 + nHi * p95 + mid
        org.apache.spark.sql.Row(g, n, cents2(p05), cents2(p95),
          cents2(winSumC), nLo, nHi, cents2(winSumC) / n)
      }
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("l_returnflag", StringType), StructField("n", LongType),
        StructField("p05", DoubleType), StructField("p95", DoubleType),
        StructField("win_sum", DoubleType),
        StructField("n_lo", LongType), StructField("n_hi", LongType),
        StructField("win_mean", DoubleType)))
      s.createDataFrame(
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, schema)
    }
  }

  /** Last-touch attribution: each purchase event is credited to the
    * channel of the most recent PRIOR click by the same user —
    * `last(channel, ignoreNulls)` over (user ORDER BY ts, event_id ROWS
    * UNBOUNDED PRECEDING), where non-click rows contribute NULL; no
    * prior click ⇒ 'organic'. One shuffle on user_id for the window,
    * then the channel rollup. The lookback is the whole user history —
    * state per user is one channel value, constant at any scale. */
  def lastTouchAttribution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val channel = when($"event_type" === "click",
      concat(lit("ch"),
        (get_json_object($"props", "$.k").cast("long") % 4).cast("string")))
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .withColumn("attr",
        coalesce(last(channel, ignoreNulls = true).over(w), lit("organic")))
      .filter($"event_type" === "purchase")
      .groupBy($"attr".as("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(dec2($"value")).cast("double").as("revenue"))
      .orderBy($"channel")
  }

  /** Bloom-pruned semi-join (ops.BloomJoin): lineitems of URGENT orders,
    * with the probe side dropped map-side by a bloom of the build keys
    * before the exact LeftSemi join — the runtime-filter regime where the
    * build side out-grows broadcast but its key set fits ~128 KB of bits.
    * The bloom never changes the result (false positives are removed by
    * the exact join), so the oracle is the PLAIN semi-join — correctness
    * of the whole pruning transformation, not just the happy path. */
  def bloomSemiJoinStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val urgent = Tables.orders(s, dir)
      .filter($"o_orderpriority" === "1-URGENT")
      .select($"o_orderkey")
    graft.ops.BloomJoin.prunedSemiJoin(
        Tables.lineitem(s, dir), urgent, "l_orderkey", "o_orderkey")
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).as("n_items"),
        sum(dec4($"l_quantity")).cast("double").as("sum_qty"))
      .orderBy($"l_returnflag")
  }

  /** DuckDB re-derivation of q49's KMV sketch: per column, the distinct
    * affine hashes per group, the k-th smallest (window), and the
    * integer-division estimator — every step exact (see KmvDistinct). */
  private def kmvOracle: String = {
    val P = graft.expr.DedupKernel.P
    val (a, b) = graft.expr.DedupKernel.perm(0)
    val k = 64
    def estCte(name: String, keyCol: String) =
      s"""$name AS (
         |  SELECT l_returnflag,
         |    CASE WHEN nd < $k THEN nd ELSE ${(k - 1).toLong * P} // h END AS est
         |  FROM (
         |    SELECT l_returnflag, h,
         |      ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn,
         |      COUNT(*) OVER (PARTITION BY l_returnflag) AS nd
         |    FROM (SELECT DISTINCT l_returnflag, (($keyCol % $P) * $a + $b) % $P AS h
         |          FROM lineitem) d) t
         |  WHERE rn = CASE WHEN nd < $k THEN nd ELSE $k END)""".stripMargin
    s"""WITH ${estCte("ep", "l_partkey")},
       |${estCte("es", "l_suppkey")},
       |${estCte("eo", "l_orderkey")}
       |SELECT p.l_returnflag, p.est AS apx_parts, s.est AS apx_supps,
       |  o.est AS apx_orders
       |FROM ep p
       |JOIN es s USING (l_returnflag)
       |JOIN eo o USING (l_returnflag)
       |ORDER BY l_returnflag""".stripMargin
  }

  val all: Seq[Query] = Seq(
    Query("q49_approx_distinct", approxDistinct, kmvOracle),
    Query("q109_mad_outliers", madOutliers,
      """WITH li AS (
        |  SELECT l_returnflag, CAST(l_extendedprice AS DECIMAL(18,2)) AS price
        |  FROM lineitem),
        |med AS (
        |  SELECT l_returnflag, MAX(CASE WHEN rn = (n + 1) // 2 THEN price END) AS med
        |  FROM (
        |    SELECT l_returnflag, price,
        |      ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY price) AS rn,
        |      COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        |    FROM li) t GROUP BY 1),
        |dev AS (
        |  SELECT li.l_returnflag, li.price, ABS(li.price - med.med) AS absdev, med.med
        |  FROM li JOIN med USING (l_returnflag)),
        |mad AS (
        |  SELECT l_returnflag, MAX(CASE WHEN rn = (n + 1) // 2 THEN absdev END) AS mad
        |  FROM (
        |    SELECT l_returnflag, absdev,
        |      ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY absdev) AS rn,
        |      COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        |    FROM dev) t GROUP BY 1)
        |SELECT dev.l_returnflag, COUNT(*) AS n,
        |  CAST(MIN(dev.med) AS DOUBLE) AS median,
        |  CAST(MIN(mad.mad) AS DOUBLE) AS mad,
        |  CAST(SUM(CASE WHEN dev.absdev > mad.mad * 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM dev JOIN mad USING (l_returnflag)
        |GROUP BY dev.l_returnflag
        |ORDER BY l_returnflag""".stripMargin),
    // q113's oracle is sketch-free on purpose: CMS never under-counts,
    // so the exact verify pass makes the result equal the plain HAVING
    Query("q113_heavy_hitters", heavyHitterUsers,
      """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
        |FROM events GROUP BY user_id HAVING COUNT(*) >= 80
        |ORDER BY n DESC, user_id""".stripMargin),
    Query("q110_type_correlation", typeCorrelation,
      """WITH hourly AS (
        |  SELECT event_type, CAST(FLOOR(epoch(ts)/3600)*3600 AS BIGINT) AS hr,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS v
        |  FROM events GROUP BY 1, 2),
        |p AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    COUNT(*) AS n,
        |    SUM(a.v) AS sx, SUM(b.v) AS sy,
        |    SUM(a.v * a.v) AS sxx, SUM(b.v * b.v) AS syy,
        |    SUM(a.v * b.v) AS sxy
        |  FROM hourly a JOIN hourly b ON a.hr = b.hr AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, n,
        |  ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |         (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) + 0.0 AS corr_v
        |FROM p
        |ORDER BY type_a, type_b""".stripMargin),
    Query("q106_hourly_anomaly", hourlyAnomalies,
      """WITH hourly AS (
        |  SELECT event_type,
        |    CAST(FLOOR(epoch(ts)/3600)*3600 AS BIGINT) AS hour_epoch,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS v_d
        |  FROM events GROUP BY 1, 2),
        |stats AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    SUM(v_d) AS s_d, SUM(v_d * v_d) AS q_d
        |  FROM hourly GROUP BY 1),
        |z AS (
        |  SELECT h.event_type, h.hour_epoch,
        |    CAST(h.v_d AS DOUBLE) AS hr_value,
        |    ROUND((CAST(h.v_d AS DOUBLE) - CAST(s_d AS DOUBLE) / n) /
        |      sqrt((CAST(q_d AS DOUBLE) - CAST(s_d AS DOUBLE) * CAST(s_d AS DOUBLE) / n) / n), 6) AS z
        |  FROM hourly h JOIN stats USING (event_type))
        |SELECT event_type, hour_epoch, hr_value, z FROM z
        |WHERE ABS(z) > 2.0
        |ORDER BY event_type, hour_epoch""".stripMargin),
    Query("q105_small_qty", smallQtyRevenue,
      """WITH pp AS (
        |  SELECT l_partkey AS pk,
        |    SUM(CAST(l_quantity AS DECIMAL(18,4))) AS sum_qty,
        |    COUNT(*) AS n_qty
        |  FROM lineitem GROUP BY 1)
        |SELECT p_brand, COUNT(*) AS n_small,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS small_revenue
        |FROM lineitem
        |JOIN pp ON l_partkey = pk
        |JOIN part ON l_partkey = p_partkey
        |WHERE CAST(l_quantity AS DECIMAL(18,4)) * 5 * n_qty < sum_qty
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin),
    Query("q96_gap_fill", gapFillHourly,
      """WITH hourly AS (
        |  SELECT user_id, date_trunc('hour', ts) AS hr,
        |    COUNT(*) AS n_events,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS hr_value
        |  FROM events WHERE user_id < 25
        |  GROUP BY 1, 2),
        |grid AS (
        |  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr
        |  FROM (SELECT user_id, MIN(hr) AS h0, MAX(hr) AS h1
        |        FROM hourly GROUP BY user_id))
        |SELECT g.user_id, CAST(epoch(g.hr) AS BIGINT) AS hour_epoch,
        |  COALESCE(h.n_events, 0) AS n_events,
        |  last_value(h.hr_value IGNORE NULLS) OVER (
        |    PARTITION BY g.user_id ORDER BY g.hr
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
        |FROM grid g LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hr = h.hr
        |ORDER BY g.user_id, hour_epoch""".stripMargin),
    Query("q98_winsorize", winsorizedStats,
      """WITH li AS (
        |  SELECT l_returnflag, CAST(l_extendedprice AS DECIMAL(18,2)) AS price
        |  FROM lineitem),
        |ranked AS (
        |  SELECT l_returnflag, price,
        |    ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY price) AS rn,
        |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM li),
        |th AS (
        |  SELECT l_returnflag,
        |    MAX(CASE WHEN rn = (n + 19) // 20 THEN price END) AS p05,
        |    MAX(CASE WHEN rn = (n * 19 + 19) // 20 THEN price END) AS p95
        |  FROM ranked GROUP BY l_returnflag)
        |SELECT li.l_returnflag, COUNT(*) AS n,
        |  CAST(MIN(p05) AS DOUBLE) AS p05,
        |  CAST(MIN(p95) AS DOUBLE) AS p95,
        |  CAST(SUM(CASE WHEN price < p05 THEN p05
        |               WHEN price > p95 THEN p95 ELSE price END) AS DOUBLE) AS win_sum,
        |  CAST(SUM(CASE WHEN price < p05 THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
        |  CAST(SUM(CASE WHEN price > p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
        |  CAST(SUM(CASE WHEN price < p05 THEN p05
        |               WHEN price > p95 THEN p95 ELSE price END) AS DOUBLE) / COUNT(*) AS win_mean
        |FROM li JOIN th USING (l_returnflag)
        |GROUP BY li.l_returnflag
        |ORDER BY l_returnflag""".stripMargin),
    Query("q101_attribution", lastTouchAttribution,
      """WITH attr AS (
        |  SELECT event_type, value,
        |    COALESCE(last_value(
        |      CASE WHEN event_type = 'click'
        |        THEN 'ch' || CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) % 4 AS VARCHAR)
        |      END IGNORE NULLS) OVER (
        |        PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |      'organic') AS channel
        |  FROM events)
        |SELECT channel, COUNT(*) AS n_purchases,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM attr WHERE event_type = 'purchase'
        |GROUP BY channel
        |ORDER BY channel""".stripMargin),
    Query("q90_revenue_share", revenueShare,
      """WITH r AS (
        |  SELECT p_brand,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS rev_d
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY p_brand),
        |t AS (SELECT SUM(rev_d) AS total_d FROM r)
        |SELECT p_brand, CAST(rev_d AS DOUBLE) AS revenue,
        |  ROUND(CAST(rev_d AS DOUBLE) / CAST(total_d AS DOUBLE), 6) AS share
        |FROM r, t
        |WHERE ROUND(CAST(rev_d AS DOUBLE) / CAST(total_d AS DOUBLE), 6) > 0.04
        |ORDER BY p_brand""".stripMargin),
    Query("q76_window_suite", windowSuite,
      """SELECT o_orderkey, o_orderstatus, o_totalprice, ntile4, prk, cd,
        |  next_price, first_price
        |FROM (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    CAST(NTILE(4) OVER w AS BIGINT) AS ntile4,
        |    ROUND(PERCENT_RANK() OVER w, 6) AS prk,
        |    ROUND(CUME_DIST() OVER w, 6) AS cd,
        |    LEAD(o_totalprice, 1) OVER w AS next_price,
        |    FIRST_VALUE(o_totalprice) OVER w AS first_price
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_orderstatus
        |               ORDER BY o_totalprice, o_orderkey)) t
        |WHERE o_orderkey < 2000
        |ORDER BY o_orderkey""".stripMargin),
    Query("q75_histogram_quantiles", histogramQuantiles,
      """WITH ext AS (
        |  SELECT event_type, MIN(CAST(value AS DOUBLE)) AS lo,
        |    MAX(CAST(value AS DOUBLE)) AS hi, COUNT(value) AS n
        |  FROM events GROUP BY 1),
        |b AS (
        |  SELECT e.event_type, ext.lo, ext.hi, ext.n,
        |    CASE WHEN ext.hi = ext.lo THEN 0
        |         ELSE LEAST(CAST(floor((CAST(e.value AS DOUBLE) - ext.lo)
        |                / (ext.hi - ext.lo) * 128) AS BIGINT), 127) END AS bin,
        |    COUNT(*) AS c
        |  FROM events e JOIN ext USING (event_type)
        |  WHERE e.value IS NOT NULL
        |  GROUP BY 1, 2, 3, 4, 5),
        |cumt AS (
        |  SELECT *, CAST(COALESCE(SUM(c) OVER (PARTITION BY event_type ORDER BY bin
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
        |  FROM b),
        |qs AS (SELECT unnest([CAST(0.5 AS DOUBLE), 0.9, 0.99]) AS p),
        |sel AS (
        |  SELECT event_type, p, lo, hi, n, bin, c, cb,
        |    CAST(ceil(p * n) AS BIGINT) AS needed
        |  FROM cumt, qs
        |  WHERE cb < CAST(ceil(p * n) AS BIGINT)
        |    AND CAST(ceil(p * n) AS BIGINT) <= cb + c)
        |SELECT event_type, p,
        |  ROUND(CASE WHEN hi = lo THEN lo
        |             ELSE lo + (hi - lo) / 128 *
        |                  (bin + CAST(needed - cb AS DOUBLE) / c) END, 6) AS est,
        |  n
        |FROM sel
        |ORDER BY event_type, p""".stripMargin),
    Query("q69_bloom_semijoin", bloomSemiJoinStats,
      """SELECT l_returnflag,
        |  COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem l
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_orderkey = l.l_orderkey
        |                AND o.o_orderpriority = '1-URGENT')
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),
    Query("q60_exists_subquery", existsSubquery,
      """SELECT s_suppkey, s_name
        |FROM supplier s
        |WHERE EXISTS (
        |  SELECT 1 FROM lineitem l
        |  WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity >= 49.0)
        |ORDER BY s_suppkey""".stripMargin),
    Query("q58_range_frame", rangeFrameTotals,
      """SELECT event_id, user_id,
        |  COUNT(*) OVER w AS n_10min,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_10min
        |FROM (SELECT event_id, user_id, epoch_us(ts) AS t, value FROM events) e
        |WINDOW w AS (PARTITION BY user_id ORDER BY t
        |  RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin),
    Query("q59_map_props", mapProps,
      """SELECT event_type,
        |  COUNT(k) AS n_with_k,
        |  CAST(SUM(k) AS BIGINT) AS sum_k,
        |  COUNT(DISTINCT k) AS nd_k
        |FROM (SELECT event_type,
        |        TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |      FROM events) t
        |GROUP BY 1
        |ORDER BY 1""".stripMargin),
    Query("q55_sliding_window", slidingWindowStats,
      """WITH e AS (SELECT epoch(ts) AS t, event_type, value FROM events),
        |w AS (
        |  SELECT event_type, value, t,
        |    unnest(generate_series(
        |      CAST(floor(t/300)*300 - 300 AS BIGINT),
        |      CAST(floor(t/300)*300 AS BIGINT), 300)) AS ws
        |  FROM e)
        |SELECT ws AS window_start, event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value
        |FROM w
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin),
    Query("q63_salted_join", saltedJoinStats,
      """WITH l AS (
        |  SELECT CASE WHEN l_linenumber > 1 THEN 0 ELSE l_suppkey % 25 END AS skew_key,
        |    l_quantity
        |  FROM lineitem)
        |SELECT n.n_name,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM l JOIN nation n ON l.skew_key = n.n_nationkey
        |GROUP BY 1
        |ORDER BY 1""".stripMargin),
    Query("q56_salted_agg", saltedAgg,
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),
    Query("q53_range_join", purchaseClickWindows,
      """WITH p AS (
        |  SELECT user_id, event_id AS click_id, epoch_us(ts) AS t
        |  FROM events WHERE event_type = 'click'),
        |iv AS (
        |  SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS lo,
        |    epoch_us(ts) + 600000000 AS hi
        |  FROM events WHERE event_type = 'purchase')
        |SELECT iv.purchase_id, iv.user_id, COUNT(*) AS n_clicks,
        |  MIN(p.click_id) AS min_click_id, MAX(p.click_id) AS max_click_id
        |FROM iv JOIN p ON iv.user_id = p.user_id AND p.t >= iv.lo AND p.t <= iv.hi
        |GROUP BY 1, 2
        |ORDER BY purchase_id""".stripMargin),
    Query("q54_cube", ordersCube,
      """WITH t AS (
        |  SELECT o_orderstatus, CAST(year(o_orderdate) AS BIGINT) AS o_year, o_totalprice
        |  FROM orders)
        |SELECT o_orderstatus, o_year, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
        |  CAST(GROUPING(o_orderstatus, o_year) AS BIGINT) AS gid
        |FROM t
        |GROUP BY CUBE (o_orderstatus, o_year)
        |ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_year ASC NULLS FIRST""".stripMargin),
    Query("q01_pricing_summary", pricingSummary,
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    Query("q02_revenue_by_nation", revenueByNation,
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey AND r_name = 'ASIA'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin),
    Query("q03_topk_orders", topOrders,
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 10""".stripMargin),
    Query("q04_window_rank", topOrdersPerCustomer,
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin),
    Query("q05_market_share", marketSegmentStats,
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin),
    Query("q06_set_ops", setOpsCustomers,
      """(SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        | INTERSECT
        | SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
        |ORDER BY o_custkey""".stripMargin),
    Query("q07_cust_no_orders", customersWithoutOrders,
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin),
    Query("q08_events_hourly", eventsHourly,
      """SELECT CAST(FLOOR(epoch(ts)/3600)*3600 AS BIGINT) AS hour_epoch,
        |  event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY hour_epoch, event_type""".stripMargin),
    Query("q09_json_props", eventsJsonProps,
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin),
    Query("q10_part_stats", partStats,
      """SELECT p_brand, COUNT(*) AS n_parts,
        |  MIN(p_size) AS min_size, MAX(p_size) AS max_size,
        |  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_retail,
        |  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_retail
        |FROM part
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin),
    Query("q11_orders_monthly", ordersMonthly,
      """SELECT CAST(epoch(date_trunc('month', o_orderdate)) AS BIGINT) AS month_epoch,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |FROM orders
        |GROUP BY 1
        |ORDER BY month_epoch""".stripMargin),
    Query("q12_rollup", pricingRollup,
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin),
    Query("q13_distinct_counts", distinctCounts,
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS nd_parts,
        |  COUNT(DISTINCT l_suppkey) AS nd_supps,
        |  COUNT(DISTINCT l_orderkey) AS nd_orders
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),
    Query("q14_running_totals", runningTotals,
      """SELECT o_custkey, o_orderkey,
        |  CAST(FLOOR(epoch(o_orderdate)) AS BIGINT) AS od_epoch,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
        |  COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_n
        |FROM orders
        |WHERE o_custkey < 100
        |ORDER BY o_custkey, od_epoch, o_orderkey""".stripMargin),
    Query("q15_event_gaps", eventGaps,
      """SELECT user_id, event_id,
        |  CAST(FLOOR(epoch(ts)) AS BIGINT)
        |    - CAST(FLOOR(epoch(LAG(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT)
        |    AS gap_sec
        |FROM events
        |WHERE user_id < 5
        |ORDER BY user_id, event_id""".stripMargin),
    Query("q17_sessionization", sessionization,
      """WITH marked AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN LAG(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |           OR epoch_us(ts) - epoch_us(LAG(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WHERE user_id < 10),
        |sess AS (
        |  SELECT user_id, ts, value,
        |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM marked)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |  CAST(FLOOR(MIN(epoch_us(ts)) / 1000000) AS BIGINT) AS start_epoch,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
        |FROM sess
        |GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin),
    Query("q48_stats_agg", statsAggregates,
      """SELECT l_returnflag,
        |  ROUND(corr(l_quantity, l_extendedprice), 6) + 0.0 AS corr_qty_price,
        |  ROUND(stddev_samp(l_extendedprice), 4) AS sd_price,
        |  ROUND(var_samp(l_quantity), 4) AS var_qty,
        |  ROUND(covar_samp(l_quantity, l_extendedprice), 2) + 0.0 AS cov_qty_price
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),
    Query("q47_pivot", eventTypePivot,
      """SELECT user_id % 10 AS user_bucket,
        |  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
        |  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_error,
        |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
        |  COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
        |  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS n_view
        |FROM events
        |GROUP BY 1
        |ORDER BY user_bucket""".stripMargin),
    Query("q19_quantiles", valueQuantiles,
      """SELECT event_type, COUNT(*) AS n,
        |  ROUND(quantile_cont(value, 0.5), 6) AS p50,
        |  ROUND(quantile_cont(value, 0.9), 6) AS p90,
        |  ROUND(quantile_cont(value, 0.99), 6) AS p99,
        |  MIN(value) AS min_v, MAX(value) AS max_v
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin),
    Query("q18_asof_join", eventsAsOfOrders,
      """WITH o AS (
        |  SELECT o_custkey AS user_id, o_orderdate,
        |    MAX(o_orderkey) AS last_orderkey
        |  FROM orders GROUP BY 1, 2),
        |e AS (
        |  SELECT event_id, user_id, ts FROM events WHERE user_id < 10)
        |SELECT e.event_id, e.user_id, o.last_orderkey,
        |  CAST(FLOOR(epoch(o.o_orderdate)) AS BIGINT) AS last_order_epoch
        |FROM e ASOF LEFT JOIN o ON e.user_id = o.user_id AND e.ts >= o.o_orderdate
        |ORDER BY e.event_id""".stripMargin),
    Query("q16_above_avg", aboveAvgOrders,
      """WITH t AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey) AS DOUBLE)
        |      / COUNT(*) OVER (PARTITION BY o_custkey) AS avg_total
        |  FROM orders WHERE o_custkey < 200)
        |SELECT o_custkey, o_orderkey, o_totalprice, avg_total FROM t
        |WHERE o_totalprice > avg_total
        |ORDER BY o_custkey, o_orderkey""".stripMargin),
    Query("q51_topk_heap", topkHeapPerCustomer,
      """SELECT o_custkey, CAST(rk AS BIGINT) AS rk, o_orderkey, o_totalprice
        |FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey DESC) AS rk
        |  FROM orders WHERE o_custkey < 300)
        |WHERE rk <= 3
        |ORDER BY o_custkey, rk""".stripMargin),

    Query("q142_decayed_counts", decayedCounts,
      """WITH e AS (
        |  SELECT event_type, CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_s FROM events),
        |mx AS (SELECT MAX(ts_s) AS tmax FROM e),
        |bk AS (
        |  SELECT event_type, (mx.tmax - e.ts_s) // 86400 AS k, COUNT(*) AS n_k
        |  FROM e, mx GROUP BY 1, 2)
        |SELECT event_type, CAST(SUM(n_k) AS BIGINT) AS n_events,
        |  ROUND(CAST(SUM(CAST(ROUND(CAST(n_k AS DOUBLE) / POWER(2.0, k), 9)
        |    AS DECIMAL(20,9))) AS DOUBLE), 6) AS decayed_count
        |FROM bk GROUP BY event_type ORDER BY event_type""".stripMargin),

    Query("q147_variant_props", variantProps,
      """SELECT event_type,
        |  COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
        |  COUNT(CAST(json_extract_string(props, '$.missing') AS BIGINT)) AS n_missing_field
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    Query("q154_ab_ttest", abTest,
      """WITH e AS (
        |  SELECT CASE WHEN CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 50
        |    THEN 'A' ELSE 'B' END AS variant, value
        |  FROM events),
        |st AS (
        |  SELECT variant, COUNT(*) AS n,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS s_d,
        |    SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS q_d
        |  FROM e GROUP BY variant),
        |w AS (
        |  SELECT variant, n,
        |    ROUND(CAST(s_d AS DOUBLE) / n, 6) AS mean,
        |    (CAST(q_d AS DOUBLE) - CAST(s_d AS DOUBLE) * CAST(s_d AS DOUBLE) / n) / (n - 1) AS variance
        |  FROM st)
        |SELECT a.n AS n_a, a.mean AS mean_a, b.n AS n_b, b.mean AS mean_b,
        |  ROUND((a.mean - b.mean) / SQRT(a.variance / a.n + b.variance / b.n), 6) + 0.0 AS welch_t
        |FROM w a, w b WHERE a.variant = 'A' AND b.variant = 'B'""".stripMargin),
    // q214: micro-quantized hourly means, integer deviations, the
    // prefix-sum/running-min drawup identity, alarm at h = 100
    Query("q214_cusum", cusumHourly,
      """WITH pb AS (
        |  SELECT CAST(FLOOR(epoch(ts)/3600)*3600 AS BIGINT) AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(round(value * 1e6) AS HUGEINT)) AS sm
        |  FROM events GROUP BY 1),
        |m AS (
        |  SELECT bucket, n,
        |    CAST(round(CAST(sm AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT) AS mean_m
        |  FROM pb),
        |d AS (
        |  SELECT bucket, n, mean_m,
        |    mean_m - 52000000 AS dhi,
        |    48000000 - mean_m AS dlo
        |  FROM m),
        |p AS (
        |  SELECT bucket, n, mean_m,
        |    CAST(SUM(dhi) OVER (ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS phi,
        |    CAST(SUM(dlo) OVER (ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS plo
        |  FROM d),
        |s AS (
        |  SELECT bucket, n, mean_m,
        |    phi - LEAST(MIN(phi) OVER (ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS shi,
        |    plo - LEAST(MIN(plo) OVER (ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS slo
        |  FROM p)
        |SELECT bucket, n,
        |  ROUND(CAST(mean_m AS DOUBLE) / 1e6, 6) AS mean,
        |  ROUND(CAST(shi AS DOUBLE) / 1e6, 6) AS cusum_hi,
        |  ROUND(CAST(slo AS DOUBLE) / 1e6, 6) AS cusum_lo,
        |  CASE WHEN shi > 100000000 OR slo > 100000000
        |    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS alarm
        |FROM s ORDER BY bucket""".stripMargin),
    // q216: micro-quantized hourly (volume, mean) grid, quadratic pair
    // classification in pure integer sign arithmetic, tau-b tie correction
    Query("q216_kendall_tau", kendallHourly,
      """WITH pb AS (
        |  SELECT CAST(FLOOR(epoch(ts)/3600)*3600 AS BIGINT) AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS n_events,
        |    SUM(CAST(round(value * 1e6) AS HUGEINT)) AS sm
        |  FROM events GROUP BY 1),
        |g AS (
        |  SELECT bucket,
        |    n_events * 1000000 AS x,
        |    CAST(round(ROUND(CAST(CAST(round(CAST(sm AS DOUBLE) /
        |      CAST(n_events AS DOUBLE)) AS BIGINT) AS DOUBLE) / 1e6, 6) * 1e6)
        |      AS BIGINT) AS y
        |  FROM pb),
        |n1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM g),
        |s AS (
        |  SELECT
        |    CAST(COALESCE(SUM(CASE WHEN (g2.x - g1.x) * (g2.y - g1.y) > 0
        |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS concordant,
        |    CAST(COALESCE(SUM(CASE WHEN (g2.x - g1.x) * (g2.y - g1.y) < 0
        |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS discordant,
        |    CAST(COALESCE(SUM(CASE WHEN g1.x = g2.x THEN 1 ELSE 0 END), 0)
        |      AS BIGINT) AS ties_x,
        |    CAST(COALESCE(SUM(CASE WHEN g1.y = g2.y THEN 1 ELSE 0 END), 0)
        |      AS BIGINT) AS ties_y
        |  FROM g g1 JOIN g g2 ON g1.bucket < g2.bucket)
        |SELECT n1.n AS n, n1.n * (n1.n - 1) // 2 AS n_pairs,
        |  concordant, discordant, ties_x, ties_y,
        |  CASE WHEN CAST(n1.n * (n1.n - 1) // 2 - ties_x AS DOUBLE) > 0
        |        AND CAST(n1.n * (n1.n - 1) // 2 - ties_y AS DOUBLE) > 0
        |    THEN ROUND(CAST(concordant - discordant AS DOUBLE) /
        |      sqrt(CAST(n1.n * (n1.n - 1) // 2 - ties_x AS DOUBLE) *
        |           CAST(n1.n * (n1.n - 1) // 2 - ties_y AS DOUBLE)), 6) + 0.0
        |    ELSE CAST(0.0 AS DOUBLE) END AS tau_b
        |FROM s, n1""".stripMargin),
    // q217: pairwise IEEE slopes over the micro-mean grid, two median
    // selections (slope, then residual) by rank, /1e6 unit scaling
    Query("q217_theil_sen", theilSenHourly,
      """WITH pb AS (
        |  SELECT CAST(FLOOR(epoch(ts)/3600) AS BIGINT) AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(round(value * 1e6) AS HUGEINT)) AS sm
        |  FROM events GROUP BY 1),
        |g AS (
        |  SELECT bucket,
        |    CAST(round(CAST(sm AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT) AS m
        |  FROM pb),
        |n1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS h FROM g),
        |sl AS (
        |  SELECT CAST(g2.m - g1.m AS DOUBLE) / CAST(g2.bucket - g1.bucket AS DOUBLE) AS s
        |  FROM g g1 JOIN g g2 ON g1.bucket < g2.bucket),
        |r AS (
        |  SELECT s, ROW_NUMBER() OVER (ORDER BY s) AS rn,
        |    COUNT(*) OVER () AS np
        |  FROM sl),
        |med AS (
        |  SELECT SUM(s) / CAST(COUNT(*) AS DOUBLE) AS slope
        |  FROM r WHERE rn >= (np + 1) // 2 AND rn <= (np + 2) // 2),
        |res AS (
        |  SELECT CAST(g.m AS DOUBLE) - med.slope * CAST(g.bucket AS DOUBLE) AS e
        |  FROM g, med),
        |r2 AS (
        |  SELECT e, ROW_NUMBER() OVER (ORDER BY e) AS rn,
        |    COUNT(*) OVER () AS np
        |  FROM res),
        |med2 AS (
        |  SELECT SUM(e) / CAST(COUNT(*) AS DOUBLE) AS icpt
        |  FROM r2 WHERE rn >= (np + 1) // 2 AND rn <= (np + 2) // 2)
        |SELECT n1.h AS n_points, n1.h * (n1.h - 1) // 2 AS n_pairs,
        |  ROUND(med.slope / 1e6, 6) + 0.0 AS slope,
        |  ROUND(med2.icpt / 1e6, 6) + 0.0 AS intercept
        |FROM n1, med, med2""".stripMargin),
    // q218: micro-mean grid, lag equi-joins (gaps drop pairs), expanded
    // moments S1 - xbar*S2 + p*xbar^2 over full-series denominator
    Query("q218_acf", acfHourly,
      """WITH pb AS (
        |  SELECT CAST(FLOOR(epoch(ts)/3600) AS BIGINT) AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(round(value * 1e6) AS HUGEINT)) AS sm
        |  FROM events GROUP BY 1),
        |g AS (
        |  SELECT bucket,
        |    CAST(round(CAST(sm AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT) AS m
        |  FROM pb),
        |tot AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(m AS HUGEINT)) AS sx,
        |    SUM(CAST(m AS HUGEINT) * m) AS sxx
        |  FROM g),
        |lags AS (SELECT CAST(unnest(generate_series(1, 6)) AS BIGINT) AS lag),
        |pl AS (
        |  SELECT l.lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    SUM(CAST(g1.m AS HUGEINT) * g2.m) AS s1,
        |    SUM(CAST(g1.m AS HUGEINT) + g2.m) AS s2
        |  FROM g g1 CROSS JOIN lags l
        |  JOIN g g2 ON g2.bucket = g1.bucket + l.lag
        |  GROUP BY 1)
        |SELECT l.lag, CAST(COALESCE(pl.n_pairs, 0) AS BIGINT) AS n_pairs,
        |  CASE WHEN pl.n_pairs IS NULL OR pl.n_pairs = 0
        |    OR CAST(tot.sxx AS DOUBLE) - CAST(tot.sx AS DOUBLE) *
        |      CAST(tot.sx AS DOUBLE) / CAST(tot.n AS DOUBLE) <= 0
        |    THEN CAST(0.0 AS DOUBLE)
        |    ELSE ROUND(
        |      (CAST(pl.s1 AS DOUBLE) -
        |        (CAST(tot.sx AS DOUBLE) / CAST(tot.n AS DOUBLE)) *
        |          CAST(pl.s2 AS DOUBLE) +
        |        CAST(pl.n_pairs AS DOUBLE) *
        |          (CAST(tot.sx AS DOUBLE) / CAST(tot.n AS DOUBLE)) *
        |          (CAST(tot.sx AS DOUBLE) / CAST(tot.n AS DOUBLE))) /
        |      (CAST(tot.sxx AS DOUBLE) - CAST(tot.sx AS DOUBLE) *
        |        CAST(tot.sx AS DOUBLE) / CAST(tot.n AS DOUBLE)), 6) + 0.0
        |  END AS acf
        |FROM lags l LEFT JOIN pl USING (lag), tot
        |ORDER BY lag""".stripMargin),
    Query("q228_seasonal", seasonalHourly,
      """WITH pb AS (
        |  SELECT CAST(FLOOR(epoch(ts)/3600) AS BIGINT) AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(round(value * 1e6) AS HUGEINT)) AS sm
        |  FROM events GROUP BY 1),
        |g AS (
        |  SELECT bucket,
        |    CAST(round(CAST(sm AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT) AS m
        |  FROM pb),
        |wnd AS (
        |  SELECT bucket, m,
        |    SUM(CAST(m AS HUGEINT)) OVER (ORDER BY bucket
        |      RANGE BETWEEN 12 PRECEDING AND 11 FOLLOWING) AS sa,
        |    COUNT(*) OVER (ORDER BY bucket
        |      RANGE BETWEEN 12 PRECEDING AND 11 FOLLOWING) AS ca,
        |    SUM(CAST(m AS HUGEINT)) OVER (ORDER BY bucket
        |      RANGE BETWEEN 11 PRECEDING AND 12 FOLLOWING) AS sb,
        |    COUNT(*) OVER (ORDER BY bucket
        |      RANGE BETWEEN 11 PRECEDING AND 12 FOLLOWING) AS cb
        |  FROM g),
        |i AS (
        |  SELECT bucket % 24 AS hod,
        |    CAST(m AS HUGEINT) * 48 - (sa + sb) AS x
        |  FROM wnd WHERE ca = 24 AND cb = 24)
        |SELECT hod AS hour_of_day, CAST(COUNT(*) AS BIGINT) AS n_hours,
        |  ROUND(CAST(SUM(x) AS DOUBLE) /
        |    (CAST(COUNT(*) AS DOUBLE) * 48 * 1000000.0), 6) AS seasonal
        |FROM i GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("q233_change_point", changePointHourly,
      """WITH pb AS (
        |  SELECT CAST(FLOOR(epoch(ts)/3600) AS BIGINT) AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(round(value * 1e6) AS HUGEINT)) AS sm
        |  FROM events GROUP BY 1),
        |g AS (
        |  SELECT bucket,
        |    CAST(round(CAST(sm AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT) AS m
        |  FROM pb),
        |tot AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS nb,
        |    SUM(CAST(m AS HUGEINT)) AS s
        |  FROM g),
        |pre AS (
        |  SELECT bucket,
        |    CAST(ROW_NUMBER() OVER (ORDER BY bucket) AS BIGINT) AS n1,
        |    SUM(CAST(m AS HUGEINT)) OVER (ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s1
        |  FROM g),
        |cand AS (
        |  SELECT p.bucket, p.n1, p.s1, t.nb - p.n1 AS n2, t.s - p.s1 AS s2,
        |    t.nb,
        |    CAST(p.s1 AS DOUBLE) * CAST(p.s1 AS DOUBLE) / CAST(p.n1 AS DOUBLE)
        |      + CAST(t.s - p.s1 AS DOUBLE) * CAST(t.s - p.s1 AS DOUBLE) /
        |        CAST(t.nb - p.n1 AS DOUBLE) AS f
        |  FROM pre p, tot t
        |  WHERE p.n1 < t.nb)
        |SELECT nb AS n_buckets, bucket AS break_bucket,
        |  n1 AS n_before, n2 AS n_after,
        |  ROUND(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 1000000.0, 6) + 0.0 AS mean_before,
        |  ROUND(CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) / 1000000.0, 6) + 0.0 AS mean_after,
        |  ROUND(CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) / 1000000.0
        |    - CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 1000000.0, 6) + 0.0 AS shift
        |FROM cand
        |ORDER BY f DESC, bucket LIMIT 1""".stripMargin),
    Query("q236_cuped", cupedExperiment,
      """WITH e AS (
        |  SELECT user_id, CAST(epoch(ts) AS BIGINT) AS ep,
        |    CAST(round(value * 1e6) AS HUGEINT) AS vm
        |  FROM events),
        |mid AS (SELECT (MIN(ep) + MAX(ep)) // 2 AS mid FROM e),
        |u AS (
        |  SELECT user_id, mid.mid,
        |    CAST(SUM(CASE WHEN ep < mid THEN 1 ELSE 0 END) AS BIGINT) AS n_pre,
        |    SUM(CASE WHEN ep < mid THEN vm ELSE 0 END) AS s_pre,
        |    CAST(SUM(CASE WHEN ep >= mid THEN 1 ELSE 0 END) AS BIGINT) AS n_post,
        |    SUM(CASE WHEN ep >= mid THEN vm ELSE 0 END) AS s_post
        |  FROM e, mid GROUP BY user_id, mid.mid),
        |v AS (
        |  SELECT user_id,
        |    CAST(round(CAST(s_post AS DOUBLE) / CAST(n_post AS DOUBLE)) AS BIGINT) AS ymu,
        |    CAST(round(CAST(s_pre AS DOUBLE) / CAST(n_pre AS DOUBLE)) AS BIGINT) AS xmu,
        |    CASE WHEN CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 50
        |      THEN 'A' ELSE 'B' END AS arm
        |  FROM u WHERE n_pre > 0 AND n_post > 0),
        |m AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        |    SUM(CASE WHEN arm = 'A' THEN CAST(ymu AS HUGEINT) ELSE 0 END) AS sya,
        |    SUM(CASE WHEN arm = 'B' THEN CAST(ymu AS HUGEINT) ELSE 0 END) AS syb,
        |    SUM(CASE WHEN arm = 'A' THEN CAST(xmu AS HUGEINT) ELSE 0 END) AS sxa,
        |    SUM(CASE WHEN arm = 'B' THEN CAST(xmu AS HUGEINT) ELSE 0 END) AS sxb,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(xmu AS HUGEINT)) AS sx, SUM(CAST(ymu AS HUGEINT)) AS sy,
        |    SUM(CAST(xmu AS HUGEINT) * ymu) AS sxy,
        |    SUM(CAST(xmu AS HUGEINT) * xmu) AS sxx,
        |    SUM(CAST(ymu AS HUGEINT) * ymu) AS syy
        |  FROM v),
        |m2 AS (
        |  SELECT *,
        |    CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE) AS num,
        |    CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE) AS denx,
        |    CAST(CAST(n AS HUGEINT) * syy - sy * sy AS DOUBLE) AS deny,
        |    CAST(sya AS DOUBLE) / CAST(na AS DOUBLE) AS mya,
        |    CAST(syb AS DOUBLE) / CAST(nb AS DOUBLE) AS myb,
        |    CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE) AS mxa,
        |    CAST(sxb AS DOUBLE) / CAST(nb AS DOUBLE) AS mxb,
        |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xbar
        |  FROM m),
        |m3 AS (
        |  SELECT *, CASE WHEN denx <= 0 THEN CAST(0.0 AS DOUBLE)
        |    ELSE num / denx END AS k
        |  FROM m2)
        |SELECT 'A' AS arm_a, 'B' AS arm_b, na AS n_a, nb AS n_b,
        |  ROUND((myb - mya) / 1000000.0, 6) + 0.0 AS lift_raw,
        |  ROUND(((myb - k * (mxb - xbar)) - (mya - k * (mxa - xbar))) / 1000000.0, 6) + 0.0 AS lift_cuped,
        |  ROUND(k, 6) + 0.0 AS theta,
        |  CASE WHEN denx <= 0 OR deny <= 0 THEN CAST(0.0 AS DOUBLE)
        |    ELSE ROUND(num * num / (denx * deny), 6) END AS var_reduction
        |FROM m3""".stripMargin),
    // q244: two micro-mean grids, a ±6 lag spine, per-lag HUGEINT pair
    // sums, full-series moments, one fixed-order ratio per lag
    Query("q244_ccf", errorSignupCcf,
      """WITH pbx AS (
        |  SELECT CAST(FLOOR(epoch(ts)/3600) AS BIGINT) AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(round(value * 1e6) AS HUGEINT)) AS sm
        |  FROM events WHERE event_type = 'error' GROUP BY 1),
        |gx AS (
        |  SELECT bucket,
        |    CAST(round(CAST(sm AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT) AS m
        |  FROM pbx),
        |pby AS (
        |  SELECT CAST(FLOOR(epoch(ts)/3600) AS BIGINT) AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(round(value * 1e6) AS HUGEINT)) AS sm
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |gy AS (
        |  SELECT bucket,
        |    CAST(round(CAST(sm AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT) AS m
        |  FROM pby),
        |totx AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS nx, SUM(CAST(m AS HUGEINT)) AS sx,
        |    SUM(CAST(m AS HUGEINT) * m) AS sxx
        |  FROM gx),
        |toty AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS ny, SUM(CAST(m AS HUGEINT)) AS sy,
        |    SUM(CAST(m AS HUGEINT) * m) AS syy
        |  FROM gy),
        |lags AS (SELECT CAST(unnest(generate_series(-6, 6)) AS BIGINT) AS lag),
        |pl AS (
        |  SELECT l.lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    SUM(CAST(g1.m AS HUGEINT) * g2.m) AS sxy,
        |    SUM(CAST(g1.m AS HUGEINT)) AS spx,
        |    SUM(CAST(g2.m AS HUGEINT)) AS spy
        |  FROM gx g1 CROSS JOIN lags l
        |  JOIN gy g2 ON g2.bucket = g1.bucket + l.lag
        |  GROUP BY 1)
        |SELECT l.lag, CAST(COALESCE(pl.n_pairs, 0) AS BIGINT) AS n_pairs,
        |  CASE WHEN pl.n_pairs IS NULL OR pl.n_pairs = 0
        |    OR CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) *
        |      CAST(sx AS DOUBLE) / CAST(nx AS DOUBLE) <= 0
        |    OR CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) *
        |      CAST(sy AS DOUBLE) / CAST(ny AS DOUBLE) <= 0
        |    THEN CAST(0.0 AS DOUBLE)
        |    ELSE ROUND(
        |      (CAST(pl.sxy AS DOUBLE) -
        |        (CAST(sy AS DOUBLE) / CAST(ny AS DOUBLE)) * CAST(pl.spx AS DOUBLE) -
        |        (CAST(sx AS DOUBLE) / CAST(nx AS DOUBLE)) * CAST(pl.spy AS DOUBLE) +
        |        CAST(pl.n_pairs AS DOUBLE) *
        |          (CAST(sx AS DOUBLE) / CAST(nx AS DOUBLE)) *
        |          (CAST(sy AS DOUBLE) / CAST(ny AS DOUBLE))) /
        |      sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) *
        |          CAST(sx AS DOUBLE) / CAST(nx AS DOUBLE)) *
        |        (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) *
        |          CAST(sy AS DOUBLE) / CAST(ny AS DOUBLE))), 6) + 0.0 END AS ccf
        |FROM lags l LEFT JOIN pl ON l.lag = pl.lag, totx, toty
        |ORDER BY l.lag""".stripMargin),
    // q246: micro-string first digits, 1..9 spine, closed-form Benford
    // expectations, nano-summed mean absolute deviation
    Query("q246_benford", eventValueBenford,
      """WITH o AS (
        |  SELECT CAST(substr(CAST(CAST(round(value * 1e6) AS BIGINT) AS VARCHAR),
        |    1, 1) AS BIGINT) AS digit
        |  FROM events WHERE round(value * 1e6) >= 1),
        |obs AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs FROM o GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM obs),
        |spine AS (SELECT CAST(unnest(generate_series(1, 9)) AS BIGINT) AS digit),
        |per AS (
        |  SELECT s.digit, CAST(COALESCE(n_obs, 0) AS BIGINT) AS n_obs,
        |    ROUND(CAST(COALESCE(n_obs, 0) AS DOUBLE) / CAST(n AS DOUBLE), 6) AS frac_obs,
        |    ROUND(ln(1.0 + 1.0 / CAST(s.digit AS DOUBLE)) / ln(10.0), 6) AS p_benford,
        |    ROUND(abs(CAST(COALESCE(n_obs, 0) AS DOUBLE) / CAST(n AS DOUBLE) -
        |      ln(1.0 + 1.0 / CAST(s.digit AS DOUBLE)) / ln(10.0)), 6) AS abs_dev
        |  FROM spine s LEFT JOIN obs USING (digit), tot),
        |md AS (
        |  SELECT CAST(SUM(CAST(round(abs_dev * 1e9) AS BIGINT)) AS BIGINT) AS sd
        |  FROM per)
        |SELECT digit, n_obs, frac_obs, p_benford, abs_dev,
        |  ROUND(CAST(sd AS DOUBLE) / 9.0 / 1e9, 6) AS mad
        |FROM per, md ORDER BY digit""".stripMargin),
    // q248: the q236 per-user pre-period frame, per-arm HUGEINT moments
    // per covariate, fixed-order sample variances and SMDs
    Query("q248_balance", experimentBalance,
      """WITH e AS (
        |  SELECT user_id, CAST(epoch(ts) AS BIGINT) AS ep,
        |    CAST(round(value * 1e6) AS HUGEINT) AS vm
        |  FROM events),
        |mid AS (SELECT (MIN(ep) + MAX(ep)) // 2 AS mid FROM e),
        |u AS (
        |  SELECT user_id,
        |    CAST(SUM(CASE WHEN ep < mid THEN 1 ELSE 0 END) AS BIGINT) AS n_pre,
        |    SUM(CASE WHEN ep < mid THEN vm ELSE 0 END) AS s_pre
        |  FROM e, mid GROUP BY user_id),
        |v AS (
        |  SELECT user_id,
        |    CAST(round(CAST(s_pre AS DOUBLE) / CAST(n_pre AS DOUBLE)) AS BIGINT) AS xmu,
        |    n_pre * 1000000 AS nmu,
        |    CASE WHEN CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 50
        |      THEN 'A' ELSE 'B' END AS arm
        |  FROM u WHERE n_pre > 0),
        |m AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        |    SUM(CASE WHEN arm = 'A' THEN CAST(xmu AS HUGEINT) ELSE 0 END) AS sxa,
        |    SUM(CASE WHEN arm = 'A' THEN CAST(xmu AS HUGEINT) * xmu ELSE 0 END) AS qxa,
        |    SUM(CASE WHEN arm = 'B' THEN CAST(xmu AS HUGEINT) ELSE 0 END) AS sxb,
        |    SUM(CASE WHEN arm = 'B' THEN CAST(xmu AS HUGEINT) * xmu ELSE 0 END) AS qxb,
        |    SUM(CASE WHEN arm = 'A' THEN CAST(nmu AS HUGEINT) ELSE 0 END) AS sna,
        |    SUM(CASE WHEN arm = 'A' THEN CAST(nmu AS HUGEINT) * nmu ELSE 0 END) AS qna,
        |    SUM(CASE WHEN arm = 'B' THEN CAST(nmu AS HUGEINT) ELSE 0 END) AS snb,
        |    SUM(CASE WHEN arm = 'B' THEN CAST(nmu AS HUGEINT) * nmu ELSE 0 END) AS qnb
        |  FROM v)
        |SELECT 'x_pre' AS covariate, na AS n_a, nb AS n_b,
        |  ROUND(CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE) / 1e6, 6) AS mean_a,
        |  ROUND(CAST(sxb AS DOUBLE) / CAST(nb AS DOUBLE) / 1e6, 6) AS mean_b,
        |  CASE WHEN ((CAST(qxa AS DOUBLE) - CAST(sxa AS DOUBLE) * CAST(sxa AS DOUBLE) /
        |      CAST(na AS DOUBLE)) / (CAST(na AS DOUBLE) - 1.0) +
        |    (CAST(qxb AS DOUBLE) - CAST(sxb AS DOUBLE) * CAST(sxb AS DOUBLE) /
        |      CAST(nb AS DOUBLE)) / (CAST(nb AS DOUBLE) - 1.0)) / 2.0 <= 0.0
        |    THEN NULL
        |    ELSE ROUND((CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE) -
        |      CAST(sxb AS DOUBLE) / CAST(nb AS DOUBLE)) /
        |      sqrt(((CAST(qxa AS DOUBLE) - CAST(sxa AS DOUBLE) * CAST(sxa AS DOUBLE) /
        |          CAST(na AS DOUBLE)) / (CAST(na AS DOUBLE) - 1.0) +
        |        (CAST(qxb AS DOUBLE) - CAST(sxb AS DOUBLE) * CAST(sxb AS DOUBLE) /
        |          CAST(nb AS DOUBLE)) / (CAST(nb AS DOUBLE) - 1.0)) / 2.0), 6) END AS smd
        |FROM m
        |UNION ALL
        |SELECT 'n_events_pre', na, nb,
        |  ROUND(CAST(sna AS DOUBLE) / CAST(na AS DOUBLE) / 1e6, 6),
        |  ROUND(CAST(snb AS DOUBLE) / CAST(nb AS DOUBLE) / 1e6, 6),
        |  CASE WHEN ((CAST(qna AS DOUBLE) - CAST(sna AS DOUBLE) * CAST(sna AS DOUBLE) /
        |      CAST(na AS DOUBLE)) / (CAST(na AS DOUBLE) - 1.0) +
        |    (CAST(qnb AS DOUBLE) - CAST(snb AS DOUBLE) * CAST(snb AS DOUBLE) /
        |      CAST(nb AS DOUBLE)) / (CAST(nb AS DOUBLE) - 1.0)) / 2.0 <= 0.0
        |    THEN NULL
        |    ELSE ROUND((CAST(sna AS DOUBLE) / CAST(na AS DOUBLE) -
        |      CAST(snb AS DOUBLE) / CAST(nb AS DOUBLE)) /
        |      sqrt(((CAST(qna AS DOUBLE) - CAST(sna AS DOUBLE) * CAST(sna AS DOUBLE) /
        |          CAST(na AS DOUBLE)) / (CAST(na AS DOUBLE) - 1.0) +
        |        (CAST(qnb AS DOUBLE) - CAST(snb AS DOUBLE) * CAST(snb AS DOUBLE) /
        |          CAST(nb AS DOUBLE)) / (CAST(nb AS DOUBLE) - 1.0)) / 2.0), 6) END
        |FROM m""".stripMargin),
    // q250: the q236 post-period per-user frame, per-arm HUGEINT
    // moments, pooled sample variance, the literal-z sizing formula
    Query("q250_power", experimentPower,
      """WITH e AS (
        |  SELECT user_id, CAST(epoch(ts) AS BIGINT) AS ep,
        |    CAST(round(value * 1e6) AS HUGEINT) AS vm
        |  FROM events),
        |mid AS (SELECT (MIN(ep) + MAX(ep)) // 2 AS mid FROM e),
        |u AS (
        |  SELECT user_id,
        |    CAST(SUM(CASE WHEN ep >= mid THEN 1 ELSE 0 END) AS BIGINT) AS n_post,
        |    SUM(CASE WHEN ep >= mid THEN vm ELSE 0 END) AS s_post
        |  FROM e, mid GROUP BY user_id),
        |v AS (
        |  SELECT user_id,
        |    CAST(round(CAST(s_post AS DOUBLE) / CAST(n_post AS DOUBLE)) AS BIGINT) AS ymu,
        |    CASE WHEN CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 50
        |      THEN 'A' ELSE 'B' END AS arm
        |  FROM u WHERE n_post > 0),
        |m AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        |    SUM(CASE WHEN arm = 'A' THEN CAST(ymu AS HUGEINT) ELSE 0 END) AS sa,
        |    SUM(CASE WHEN arm = 'A' THEN CAST(ymu AS HUGEINT) * ymu ELSE 0 END) AS qa,
        |    SUM(CASE WHEN arm = 'B' THEN CAST(ymu AS HUGEINT) ELSE 0 END) AS sb,
        |    SUM(CASE WHEN arm = 'B' THEN CAST(ymu AS HUGEINT) * ymu ELSE 0 END) AS qb
        |  FROM v),
        |m2 AS (
        |  SELECT na, nb,
        |    CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS ma,
        |    CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS mb,
        |    ((CAST(na AS DOUBLE) - 1.0) *
        |      ((CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) /
        |        CAST(na AS DOUBLE)) / (CAST(na AS DOUBLE) - 1.0)) +
        |     (CAST(nb AS DOUBLE) - 1.0) *
        |      ((CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) /
        |        CAST(nb AS DOUBLE)) / (CAST(nb AS DOUBLE) - 1.0))) /
        |    (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 2.0) AS pooled
        |  FROM m),
        |m3 AS (SELECT *, abs(ma - mb) AS delta FROM m2)
        |SELECT na AS n_a, nb AS n_b,
        |  ROUND(ma / 1e6, 6) AS mean_a,
        |  ROUND(mb / 1e6, 6) AS mean_b,
        |  ROUND(delta / 1e6, 6) AS delta,
        |  ROUND(sqrt(GREATEST(pooled, 0.0)) / 1e6, 6) AS sd_pooled,
        |  CASE WHEN delta = 0.0 THEN NULL
        |    ELSE CAST(CEIL(2.0 * GREATEST(pooled, 0.0) *
        |      ((1.959964 + 0.841621) * (1.959964 + 0.841621)) /
        |      (delta * delta)) AS BIGINT) END AS n_required
        |FROM m3""".stripMargin),
    // q251: day-bucket lifespans with horizon censoring, reverse
    // cumulative at-risk counts, nano-ln running survival product
    Query("q251_survival", userSurvival,
      """WITH s AS (
        |  SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS es FROM events),
        |a AS (
        |  SELECT user_id,
        |    (es - ((es % 86400) + 86400) % 86400) // 86400 AS p
        |  FROM s),
        |per AS (
        |  SELECT user_id, MIN(p) AS fst, MAX(p) AS lst FROM a GROUP BY 1),
        |hor AS (SELECT MAX(lst) AS h FROM per),
        |byT AS (
        |  SELECT lst - fst AS t, CAST(COUNT(*) AS BIGINT) AS cnt,
        |    CAST(SUM(CASE WHEN lst < h THEN 1 ELSE 0 END) AS BIGINT) AS d
        |  FROM per, hor GROUP BY 1),
        |risk AS (
        |  SELECT t, d,
        |    CAST(SUM(cnt) OVER (ORDER BY t DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk
        |  FROM byT),
        |dth AS (
        |  SELECT t, n_risk, d,
        |    CASE WHEN d = n_risk THEN NULL
        |      ELSE CAST(round(ln(CAST(n_risk - d AS DOUBLE) /
        |        CAST(n_risk AS DOUBLE)) * 1e9) AS BIGINT) END AS lnq
        |  FROM risk WHERE d > 0),
        |cumv AS (
        |  SELECT t, n_risk, d,
        |    MAX(CASE WHEN lnq IS NULL THEN 1 ELSE 0 END) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hit0,
        |    CAST(SUM(COALESCE(lnq, 0)) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cl
        |  FROM dth)
        |SELECT t AS t_period, n_risk, d AS n_events,
        |  ROUND(CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE), 6) AS hazard,
        |  CASE WHEN hit0 = 1 THEN CAST(0.0 AS DOUBLE)
        |    ELSE ROUND(exp(CAST(cl AS DOUBLE) / 1e9), 6) END AS survival
        |FROM cumv ORDER BY t_period""".stripMargin),
    // q282: BRUTE-FORCE all-pairs edit join — a match proves the
    // deletion-neighborhood blocking complete
    Query("q282_edit_join", partNameEditJoin,
      """WITH d AS (
        |  SELECT DISTINCT p_name AS s FROM part
        |  WHERE p_name IS NOT NULL AND length(p_name) >= 2)
        |SELECT a.s AS a, b.s AS b,
        |  CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
        |FROM d a JOIN d b ON a.s < b.s
        |WHERE levenshtein(a.s, b.s) <= 1
        |ORDER BY a, b""".stripMargin),
    // q294: per-arm micro grids, cumulative windows, exact integer
    // ceil-rank thresholds, quantum-aligned decile differences
    Query("q294_qte", experimentQte,
      """WITH e AS (
        |  SELECT CASE WHEN CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 50
        |    THEN 'A' ELSE 'B' END AS variant,
        |    CAST(round(value * 1e6) AS BIGINT) AS sm
        |  FROM events),
        |g AS (SELECT variant, sm, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM e GROUP BY 1, 2),
        |cumt AS (
        |  SELECT variant, sm,
        |    CAST(SUM(c) OVER (PARTITION BY variant ORDER BY sm ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM g),
        |nn AS (SELECT variant, CAST(MAX(cum) AS BIGINT) AS n
        |  FROM cumt GROUP BY 1),
        |ks AS (SELECT CAST(k AS BIGINT) AS k FROM generate_series(1, 9) t(k)),
        |qa AS (
        |  SELECT ks.k, CAST(MIN(c.sm) AS BIGINT) AS va, CAST(MIN(nn.n) AS BIGINT) AS na
        |  FROM ks, cumt c JOIN nn USING (variant)
        |  WHERE c.variant = 'A' AND c.cum >= (ks.k * nn.n + 9) // 10
        |  GROUP BY 1),
        |qb AS (
        |  SELECT ks.k, CAST(MIN(c.sm) AS BIGINT) AS vb, CAST(MIN(nn.n) AS BIGINT) AS nb
        |  FROM ks, cumt c JOIN nn USING (variant)
        |  WHERE c.variant = 'B' AND c.cum >= (ks.k * nn.n + 9) // 10
        |  GROUP BY 1)
        |SELECT CAST(qa.k AS DOUBLE) / 10.0 AS q,
        |  na AS n_a, nb AS n_b,
        |  CAST(va AS DOUBLE) / 1e6 AS val_a,
        |  CAST(vb AS DOUBLE) / 1e6 AS val_b,
        |  CAST(va - vb AS DOUBLE) / 1e6 AS qte
        |FROM qa JOIN qb USING (k)
        |ORDER BY q""".stripMargin),
    // q293: micro-mean grid, rank median, equal-drops, lag run count,
    // fixed-order mu/sigma z (+0.0: signed)
    Query("q293_runs_test", hourlyRunsTest,
      """WITH pb AS (
        |  SELECT CAST(FLOOR(epoch(ts)/3600) AS BIGINT) AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(round(value * 1e6) AS HUGEINT)) AS sm
        |  FROM events GROUP BY 1),
        |g AS (
        |  SELECT bucket,
        |    CAST(round(CAST(sm AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT) AS mm
        |  FROM pb),
        |n0 AS (SELECT CAST(COUNT(*) AS BIGINT) AS h FROM g),
        |rk AS (SELECT mm,
        |  ROW_NUMBER() OVER (ORDER BY CAST(mm AS DOUBLE)) AS rn FROM g),
        |md AS (
        |  SELECT SUM(CAST(mm AS DOUBLE)) / CAST(COUNT(*) AS DOUBLE) AS med
        |  FROM rk, n0 WHERE rn >= (h + 1) // 2 AND rn <= (h + 2) // 2),
        |sg AS (
        |  SELECT bucket,
        |    CAST(CASE WHEN CAST(mm AS DOUBLE) > med THEN 1 ELSE 0 END
        |      AS BIGINT) AS s
        |  FROM g, md WHERE CAST(mm AS DOUBLE) <> med),
        |lg AS (SELECT s, LAG(s) OVER (ORDER BY bucket) AS prev FROM sg),
        |ag AS (
        |  SELECT CAST(COALESCE(SUM(s), 0) AS BIGINT) AS n_above,
        |    CAST(COALESCE(SUM(1 - s), 0) AS BIGINT) AS n_below,
        |    CAST(COALESCE(SUM(CASE WHEN prev IS NOT NULL AND prev <> s
        |        THEN 1 ELSE 0 END), 0)
        |      + CASE WHEN COUNT(*) > 0 THEN 1 ELSE 0 END AS BIGINT) AS n_runs
        |  FROM lg),
        |f AS (
        |  SELECT n_above, n_below, n_runs,
        |    2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE) /
        |      (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE)) + 1.0 AS mu,
        |    2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE) *
        |      (2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
        |        - (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE))) /
        |      ((CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE)) *
        |       (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE)) *
        |       ((CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE)) - 1.0))
        |      AS v
        |  FROM ag)
        |SELECT n_above, n_below, n_runs,
        |  CASE WHEN n_above > 0 AND n_below > 0 THEN ROUND(mu, 6)
        |    ELSE CAST(0.0 AS DOUBLE) END AS expected_runs,
        |  CASE WHEN n_above > 0 AND n_below > 0 AND v > 0.0
        |    THEN ROUND((CAST(n_runs AS DOUBLE) - mu) / sqrt(v), 6) + 0.0
        |    ELSE CAST(0.0 AS DOUBLE) END AS z
        |FROM f""".stripMargin),
    // q289: hourly micro-mean grid, running-mean terms milli-quantized
    // BEFORE the prefix sum, drawup from the running minimum
    Query("q289_page_hinkley", hourlyPageHinkley,
      """WITH pb AS (
        |  SELECT CAST(FLOOR(epoch(ts)/3600) AS BIGINT) AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(round(value * 1e6) AS HUGEINT)) AS sm
        |  FROM events GROUP BY 1),
        |g AS (
        |  SELECT bucket,
        |    CAST(round(CAST(sm AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT) AS mm
        |  FROM pb),
        |w1 AS (
        |  SELECT bucket, mm,
        |    CAST(COUNT(*) OVER (ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS i,
        |    CAST(SUM(mm) OVER (ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s
        |  FROM g),
        |t AS (
        |  SELECT bucket, mm,
        |    CAST(round((CAST(mm AS DOUBLE) - CAST(s AS DOUBLE) / CAST(i AS DOUBLE)
        |      - 0.0) * 1e3) AS BIGINT) AS t3
        |  FROM w1),
        |c AS (
        |  SELECT bucket, mm,
        |    CAST(SUM(t3) OVER (ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS m
        |  FROM t),
        |c2 AS (
        |  SELECT bucket, mm, m,
        |    CAST(MIN(m) OVER (ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS mn
        |  FROM c)
        |SELECT bucket, ROUND(CAST(mm AS DOUBLE) / 1e6, 6) AS mean,
        |  ROUND(CAST(m - mn AS DOUBLE) / 1e9, 6) AS ph,
        |  CAST(CASE WHEN CAST(m - mn AS DOUBLE) / 1e9 > 5.0 THEN 1 ELSE 0 END
        |    AS BIGINT) AS alarm
        |FROM c2 ORDER BY bucket""".stripMargin),
    // q277: milli grid, rounded mean, three exact central sums, the
    // fixed-order g1/g2/JB readouts (+0.0 on the signed ones)
    Query("q277_jarque_bera", eventValueJarqueBera,
      """WITH v AS (
        |  SELECT event_type AS g, CAST(round(value * 1e3) AS BIGINT) AS v
        |  FROM events),
        |m AS (
        |  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(round(CAST(SUM(CAST(v AS HUGEINT)) AS DOUBLE) /
        |      CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS mh
        |  FROM v GROUP BY 1),
        |c AS (
        |  SELECT v.g, n, mh,
        |    SUM(CAST(v - mh AS HUGEINT) * (v - mh)) AS m2,
        |    SUM(CAST(v - mh AS HUGEINT) * (v - mh) * (v - mh)) AS m3,
        |    SUM(CAST(v - mh AS HUGEINT) * (v - mh) * (v - mh) * (v - mh)) AS m4
        |  FROM v JOIN m USING (g) GROUP BY 1, 2, 3),
        |f AS (
        |  SELECT g, n, mh, m2, m3, m4,
        |    CAST(m2 AS DOUBLE) / CAST(n AS DOUBLE) AS m2d,
        |    (CAST(m3 AS DOUBLE) / CAST(n AS DOUBLE)) /
        |      sqrt((CAST(m2 AS DOUBLE) / CAST(n AS DOUBLE)) *
        |        (CAST(m2 AS DOUBLE) / CAST(n AS DOUBLE)) *
        |        (CAST(m2 AS DOUBLE) / CAST(n AS DOUBLE))) AS g1,
        |    (CAST(m4 AS DOUBLE) / CAST(n AS DOUBLE)) /
        |      ((CAST(m2 AS DOUBLE) / CAST(n AS DOUBLE)) *
        |       (CAST(m2 AS DOUBLE) / CAST(n AS DOUBLE))) - 3.0 AS g2
        |  FROM c)
        |SELECT g AS "group", n,
        |  ROUND(CAST(mh AS DOUBLE) / 1e3, 6) AS mean,
        |  CASE WHEN m2 > 0 THEN ROUND(g1, 6) + 0.0
        |    ELSE CAST(0.0 AS DOUBLE) END AS skewness,
        |  CASE WHEN m2 > 0 THEN ROUND(g2, 6) + 0.0
        |    ELSE CAST(0.0 AS DOUBLE) END AS ex_kurtosis,
        |  CASE WHEN m2 > 0 THEN
        |      ROUND(CAST(n AS DOUBLE) / 6.0 * (g1 * g1 + g2 * g2 / 4.0), 6)
        |    ELSE CAST(0.0 AS DOUBLE) END AS jb
        |FROM f ORDER BY "group"""".stripMargin),
    // q284: the q154 arms, exact DECIMAL moments, fixed-order pooled-sd
    // d / Hedges correction / Glass denominator (+0.0: signed readouts)
    Query("q284_effect_size", experimentEffectSizes,
      """WITH e AS (
        |  SELECT CASE WHEN CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 50
        |    THEN 'A' ELSE 'B' END AS variant, value
        |  FROM events),
        |st AS (
        |  SELECT variant, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS s,
        |    SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS q
        |  FROM e GROUP BY 1),
        |w AS (
        |  SELECT variant, n,
        |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS m,
        |    (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) /
        |      CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS v
        |  FROM st),
        |j AS (
        |  SELECT a.n AS n_a, b.n AS n_b, a.m AS ma, b.m AS mb,
        |    a.v AS va, b.v AS vb,
        |    ((CAST(a.n AS DOUBLE) - 1.0) * a.v +
        |     (CAST(b.n AS DOUBLE) - 1.0) * b.v) /
        |      (CAST(a.n AS DOUBLE) + CAST(b.n AS DOUBLE) - 2.0) AS pooled,
        |    1.0 - 3.0 / (4.0 * (CAST(a.n AS DOUBLE) + CAST(b.n AS DOUBLE)) - 9.0) AS corr
        |  FROM w a, w b WHERE a.variant = 'A' AND b.variant = 'B')
        |SELECT n_a, n_b, ROUND(ma, 6) AS mean_a, ROUND(mb, 6) AS mean_b,
        |  CASE WHEN pooled > 0 THEN ROUND((ma - mb) / sqrt(pooled), 6) + 0.0
        |    ELSE NULL END AS cohen_d,
        |  CASE WHEN pooled > 0
        |    THEN ROUND((ma - mb) / sqrt(pooled) * corr, 6) + 0.0
        |    ELSE NULL END AS hedges_g,
        |  CASE WHEN vb > 0 THEN ROUND((ma - mb) / sqrt(vb), 6) + 0.0
        |    ELSE NULL END AS glass_delta
        |FROM j""".stripMargin),
    // q288: per-user (cohort, first, last) collapse, the q251 at-risk
    // windows per cohort, nano-quantized hypergeometric O-E/variance
    // terms, one fixed-order chi-square
    Query("q288_logrank", cohortLogRank,
      """WITH s AS (
        |  SELECT user_id,
        |    CASE WHEN CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 50
        |      THEN 'A' ELSE 'B' END AS c,
        |    CAST(FLOOR(epoch(ts)) AS BIGINT) AS es
        |  FROM events),
        |a AS (
        |  SELECT user_id, c,
        |    (es - ((es % 86400) + 86400) % 86400) // 86400 AS p
        |  FROM s),
        |per AS (
        |  SELECT user_id, MIN(c) AS c, MIN(p) AS fst, MAX(p) AS lst
        |  FROM a GROUP BY 1),
        |hor AS (SELECT MAX(lst) AS h FROM per),
        |byu AS (
        |  SELECT c, lst - fst AS t,
        |    CASE WHEN lst < h THEN 1 ELSE 0 END AS death
        |  FROM per, hor),
        |sizes AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN c = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(SUM(CASE WHEN c = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        |    CAST(SUM(CASE WHEN c = 'A' THEN death ELSE 0 END) AS BIGINT) AS da,
        |    CAST(SUM(CASE WHEN c = 'B' THEN death ELSE 0 END) AS BIGINT) AS db
        |  FROM byu),
        |grid AS (
        |  SELECT t,
        |    CAST(SUM(CASE WHEN c = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN c = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS c2,
        |    CAST(SUM(CASE WHEN c = 'A' THEN death ELSE 0 END) AS BIGINT) AS d1,
        |    CAST(SUM(CASE WHEN c = 'B' THEN death ELSE 0 END) AS BIGINT) AS d2
        |  FROM byu GROUP BY 1),
        |risk AS (
        |  SELECT t, d1, d2,
        |    CAST(SUM(c1) OVER (ORDER BY t DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n1,
        |    CAST(SUM(c2) OVER (ORDER BY t DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n2
        |  FROM grid),
        |f AS (SELECT * FROM risk WHERE d1 + d2 > 0),
        |terms AS (
        |  SELECT
        |    CAST(round((CAST(d1 AS DOUBLE) -
        |      CAST(d1 + d2 AS DOUBLE) * CAST(n1 AS DOUBLE) /
        |        (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))) * 1e9) AS BIGINT)
        |      AS oe9,
        |    CASE WHEN n1 + n2 > 1 THEN
        |      CAST(round((CAST(d1 + d2 AS DOUBLE) *
        |        (CAST(n1 AS DOUBLE) / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))) *
        |        (1.0 - CAST(n1 AS DOUBLE) / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))) *
        |        ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) - CAST(d1 + d2 AS DOUBLE)) /
        |        ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) - 1.0)) * 1e9) AS BIGINT)
        |    ELSE 0 END AS v9
        |  FROM f),
        |t2 AS (
        |  SELECT CAST(COALESCE(SUM(oe9), 0) AS BIGINT) AS oe,
        |    CAST(COALESCE(SUM(v9), 0) AS BIGINT) AS v
        |  FROM terms)
        |SELECT 'A' AS cohort_a, 'B' AS cohort_b, na AS n_a, nb AS n_b,
        |  da AS events_a, db AS events_b,
        |  ROUND(CAST(oe AS DOUBLE) / 1e9, 6) + 0.0 AS o_minus_e,
        |  ROUND(CAST(v AS DOUBLE) / 1e9, 6) AS var_lr,
        |  CASE WHEN v > 0 THEN
        |    ROUND((CAST(oe AS DOUBLE) / 1e9) * (CAST(oe AS DOUBLE) / 1e9) /
        |      (CAST(v AS DOUBLE) / 1e9), 6)
        |    ELSE CAST(0.0 AS DOUBLE) END AS chi2
        |FROM t2, sizes""".stripMargin),
    // q255: the q217 micro-mean grid, sign pairs, tie term, the
    // continuity-corrected z in fixed double order
    Query("q255_mann_kendall", hourlyMannKendall,
      """WITH pb AS (
        |  SELECT CAST(FLOOR(epoch(ts)/3600) AS BIGINT) AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(round(value * 1e6) AS HUGEINT)) AS sm
        |  FROM events GROUP BY 1),
        |g AS (
        |  SELECT bucket,
        |    CAST(round(CAST(sm AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT) AS m
        |  FROM pb),
        |n1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS h FROM g),
        |sx AS (
        |  SELECT CAST(COALESCE(SUM(CASE WHEN g2.m > g1.m THEN 1
        |    WHEN g2.m < g1.m THEN -1 ELSE 0 END), 0) AS BIGINT) AS s
        |  FROM g g1 JOIN g g2 ON g1.bucket < g2.bucket),
        |tt AS (
        |  SELECT COALESCE(SUM(CAST(t AS HUGEINT) * (t - 1) * (t * 2 + 5)), 0) AS tc
        |  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM g GROUP BY m)),
        |v AS (
        |  SELECT (CAST(h AS DOUBLE) * (CAST(h AS DOUBLE) - 1.0) *
        |    (CAST(h AS DOUBLE) * 2.0 + 5.0) - CAST(tc AS DOUBLE)) / 18.0 AS var_
        |  FROM n1, tt)
        |SELECT n1.h AS n_points, n1.h * (n1.h - 1) // 2 AS n_pairs, sx.s AS s,
        |  ROUND(v.var_, 6) AS var_s,
        |  CASE WHEN v.var_ > 0.0 THEN
        |    CASE WHEN sx.s > 0
        |        THEN ROUND((CAST(sx.s AS DOUBLE) - 1.0) / sqrt(v.var_), 6) + 0.0
        |      WHEN sx.s < 0
        |        THEN ROUND((CAST(sx.s AS DOUBLE) + 1.0) / sqrt(v.var_), 6) + 0.0
        |      ELSE CAST(0.0 AS DOUBLE) END
        |  ELSE CAST(0.0 AS DOUBLE) END AS z
        |FROM n1, sx, v""".stripMargin),
    // q261: the q233 split search verbatim, then conditional HUGEINT
    // OLS moments per side and the fixed-order slope/intercept ratios
    Query("q261_segmented_trend", hourlySegmentedTrend,
      """WITH pb AS (
        |  SELECT CAST(FLOOR(epoch(ts)/3600) AS BIGINT) AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(round(value * 1e6) AS HUGEINT)) AS sm
        |  FROM events GROUP BY 1),
        |g AS (
        |  SELECT bucket,
        |    CAST(round(CAST(sm AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT) AS m
        |  FROM pb),
        |tot AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS nb,
        |    SUM(CAST(m AS HUGEINT)) AS s
        |  FROM g),
        |pre AS (
        |  SELECT bucket,
        |    CAST(ROW_NUMBER() OVER (ORDER BY bucket) AS BIGINT) AS n1,
        |    SUM(CAST(m AS HUGEINT)) OVER (ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s1
        |  FROM g),
        |cand AS (
        |  SELECT p.bucket,
        |    CAST(p.s1 AS DOUBLE) * CAST(p.s1 AS DOUBLE) / CAST(p.n1 AS DOUBLE)
        |      + CAST(t.s - p.s1 AS DOUBLE) * CAST(t.s - p.s1 AS DOUBLE) /
        |        CAST(t.nb - p.n1 AS DOUBLE) AS f
        |  FROM pre p, tot t
        |  WHERE p.n1 < t.nb),
        |brk AS (SELECT bucket FROM cand ORDER BY f DESC, bucket LIMIT 1),
        |sides AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN g.bucket <= brk.bucket THEN 1 ELSE 0 END) AS BIGINT) AS np,
        |    SUM(CASE WHEN g.bucket <= brk.bucket THEN CAST(g.bucket AS HUGEINT) ELSE 0 END) AS sxp,
        |    SUM(CASE WHEN g.bucket <= brk.bucket THEN CAST(g.m AS HUGEINT) ELSE 0 END) AS syp,
        |    SUM(CASE WHEN g.bucket <= brk.bucket THEN CAST(g.bucket AS HUGEINT) * g.m ELSE 0 END) AS sxyp,
        |    SUM(CASE WHEN g.bucket <= brk.bucket THEN CAST(g.bucket AS HUGEINT) * g.bucket ELSE 0 END) AS sxxp,
        |    CAST(SUM(CASE WHEN g.bucket > brk.bucket THEN 1 ELSE 0 END) AS BIGINT) AS nq,
        |    SUM(CASE WHEN g.bucket > brk.bucket THEN CAST(g.bucket AS HUGEINT) ELSE 0 END) AS sxq,
        |    SUM(CASE WHEN g.bucket > brk.bucket THEN CAST(g.m AS HUGEINT) ELSE 0 END) AS syq,
        |    SUM(CASE WHEN g.bucket > brk.bucket THEN CAST(g.bucket AS HUGEINT) * g.m ELSE 0 END) AS sxyq,
        |    SUM(CASE WHEN g.bucket > brk.bucket THEN CAST(g.bucket AS HUGEINT) * g.bucket ELSE 0 END) AS sxxq
        |  FROM g, brk),
        |fits AS (
        |  SELECT np, nq,
        |    CAST(np * sxyp - sxp * syp AS DOUBLE) AS nump,
        |    CAST(np * sxxp - sxp * sxp AS DOUBLE) AS denp,
        |    CAST(syp AS DOUBLE) / CAST(np AS DOUBLE) AS mypd,
        |    CAST(sxp AS DOUBLE) / CAST(np AS DOUBLE) AS mxpd,
        |    CAST(nq * sxyq - sxq * syq AS DOUBLE) AS numq,
        |    CAST(nq * sxxq - sxq * sxq AS DOUBLE) AS denq,
        |    CAST(syq AS DOUBLE) / CAST(nq AS DOUBLE) AS myqd,
        |    CAST(sxq AS DOUBLE) / CAST(nq AS DOUBLE) AS mxqd
        |  FROM sides)
        |SELECT tot.nb AS n_buckets, brk.bucket AS break_bucket,
        |  np AS n_pre,
        |  CASE WHEN denp <> 0.0 THEN ROUND(nump / denp / 1e6, 6) + 0.0
        |    ELSE NULL END AS slope_pre,
        |  CASE WHEN denp <> 0.0
        |    THEN ROUND((mypd - nump / denp * mxpd) / 1e6, 6) + 0.0
        |    ELSE NULL END AS icpt_pre,
        |  nq AS n_post,
        |  CASE WHEN denq <> 0.0 THEN ROUND(numq / denq / 1e6, 6) + 0.0
        |    ELSE NULL END AS slope_post,
        |  CASE WHEN denq <> 0.0
        |    THEN ROUND((myqd - numq / denq * mxqd) / 1e6, 6) + 0.0
        |    ELSE NULL END AS icpt_post,
        |  CASE WHEN denp <> 0.0 AND denq <> 0.0
        |    THEN ROUND((numq / denq - nump / denp) / 1e6, 6) + 0.0
        |    ELSE NULL END AS slope_change
        |FROM fits, tot, brk""".stripMargin),
    // q269: hourly error grid, the four nano log constants, integer
    // LLR and boundary compares, first-crossing window
    Query("q269_sprt", hourlyErrorSprt,
      """WITH e AS (
        |  SELECT CAST(FLOOR(epoch(ts)/3600) AS BIGINT) AS bucket,
        |    CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS y
        |  FROM events),
        |g AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_obs,
        |    CAST(SUM(y) AS BIGINT) AS n_success
        |  FROM e GROUP BY 1),
        |c AS (
        |  SELECT *,
        |    CAST(SUM(n_obs) OVER (ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_n,
        |    CAST(SUM(n_success) OVER (ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_success
        |  FROM g),
        |k AS (SELECT
        |    CAST(round(ln(0.25/0.15) * 1e9) AS BIGINT) AS lls,
        |    CAST(round(ln((1.0 - 0.25)/(1.0 - 0.15)) * 1e9) AS BIGINT) AS llf,
        |    CAST(round(ln((1.0 - 0.05)/0.05) * 1e9) AS BIGINT) AS la,
        |    CAST(round(ln(0.05/(1.0 - 0.05)) * 1e9) AS BIGINT) AS lb),
        |d AS (SELECT c.*, cum_success * lls + (cum_n - cum_success) * llf
        |    AS llr9, la, lb
        |  FROM c, k),
        |d2 AS (SELECT *, CASE WHEN llr9 >= la THEN 'accept_h1'
        |    WHEN llr9 <= lb THEN 'accept_h0'
        |    ELSE 'continue' END AS decision
        |  FROM d)
        |SELECT bucket, n_obs, n_success, cum_n, cum_success,
        |  ROUND(CAST(llr9 AS DOUBLE) / 1e9, 6) + 0.0 AS llr, decision,
        |  MIN(CASE WHEN decision <> 'continue' THEN bucket END)
        |    OVER (ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS stop_bucket
        |FROM d2 ORDER BY bucket""".stripMargin),
    // q262: per-key exact counts, fixed-order shares, the exact
    // integer salt ceiling (cnt*P + N - 1) // N
    Query("q262_skew_report", eventKeySkew,
      """WITH c AS (
        |  SELECT COALESCE(CAST(user_id AS VARCHAR), 'NULL') AS key,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1),
        |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
        |  CAST(COUNT(*) AS BIGINT) AS n_keys FROM c)
        |SELECT key, cnt, t.n_rows, t.n_keys,
        |  ROUND(CAST(cnt AS DOUBLE) / CAST(t.n_rows AS DOUBLE), 6) AS share,
        |  ROUND(CAST(cnt AS DOUBLE) * 32.0 / CAST(t.n_rows AS DOUBLE), 6)
        |    AS skew_x,
        |  CAST((CAST(cnt AS HUGEINT) * 32 + t.n_rows - 1) // t.n_rows
        |    AS BIGINT) AS salt
        |FROM c, t
        |ORDER BY cnt DESC, key ASC LIMIT 10""".stripMargin))
}
