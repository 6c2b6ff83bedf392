package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import graft.core.Pin._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** EXACT per-group order statistics WITHOUT a per-group sort — the
  * scale-safe replacement for `row_number() OVER (PARTITION BY g ORDER BY
  * v)` when g has few distinct values. The window form funnels each
  * group's entire row set through ONE reducer task (a 3-value group key
  * makes the engine a three-task sort with unbounded per-task memory);
  * this op never sorts and never shuffles the base data at all.
  *
  * Method (iterative histogram selection, the classic distributed
  * selection algorithm — e.g. Blum et al. selection generalized to
  * scan-counting). Round 1 is a RADIX histogram that doubles as the
  * bounds pass: one map-only job counts rows per (group, slot) where
  * the slot key is monotone in the value (bit length, then the top 10
  * mantissa bits — pure integer bit ops, exact at every boundary) and
  * carries each slot's exact min/max. From that single job the driver
  * reads each group's row count n (Σ counts — so `rankOf` needs no
  * separate bounds pass), walks the slots in value order to the one
  * holding each rank, and starts the target at that slot's [min, max].
  * Later rounds bucket each target's remaining range into ≤ `buckets`
  * equal-width slots, narrow to the slot containing the rank, and
  * repeat; when slot width reaches 1 the slot IS the value. Radix slots
  * are ≤ 2^52 wide, so post-radix rounds ≤ ⌈log_buckets(2^52)⌉ (≤ 4 at
  * the default 8192); money-scale fixed-point domains (≤ 2^24 cents)
  * have radix slots ≤ 8192 wide and finish in 2 jobs total.
  *
  * Every pass is a `treeAggregate` over the projected (group, value)
  * plan's InternalRow output — no per-row Tuple2/String deserialization
  * (the Dataset tuple path measured ~2× the raw scan cost at sf0.1);
  * per-partition bounded histograms (targets × buckets longs /
  * groups × occupied slots), tree-combined, never shuffled. This is the
  * MLlib summary-statistics pattern (per-partition imperative state the
  * DataFrame aggregate can't beat here): the per-round result is ≤
  * targets × buckets longs, so a shuffle exchange plus its reduce tasks
  * plus adaptive re-planning is pure fixed overhead per round — measured
  * at sf0.1 it tripled the query time. At 1000 executors the tree
  * combine (depth 2) keeps the driver from merging one partial per
  * partition. Filters for each round's candidate ranges go through the
  * DataFrame layer first, so parquet row-group pruning still applies on
  * uncached input. Unless the caller cached `df`, the base projection is
  * pinned ONLY when the radix pass predicts ≥ 2 further rounds — building the
  * cache costs more than one extra pruned scan, so 2-job selections
  * skip it while wide-domain selections amortize it across their rounds.
  *
  * Driver state is bounded by groups × occupied radix slots (≤ ~55k per
  * group over the full 64-bit domain, typically a few hundred) plus
  * targets × buckets longs — never data-proportional. Intended for
  * LOW-cardinality groups (the regime where the window plan is a
  * scale-killer); for high-cardinality groups the per-partition window
  * sort is already fine and preferable.
  *
  * All arithmetic is integer (values enter as exact fixed-point longs),
  * so the selected statistic is bit-identical to what any engine's sort
  * would return — the DuckDB oracles replay the same ranks against a
  * plain sorted scan and hash-match (q98/q109).
  */
object ExactRank {

  /** One selection target: the `rank`-th smallest (1-based) value of
    * `group`'s multiset, labeled `name` in the output. */
  final case class RankTarget(group: String, name: String, rank: Long)

  private final case class TargetState(group: String, name: String,
      lo: Long, hi: Long, r: Long, var done: Boolean = false)

  /** Monotone radix slot: bit length k of the sign-folded magnitude,
    * then its top 10 mantissa bits. Slots are disjoint ascending value
    * intervals of width ≤ max(1, 2^(k-11)) ≤ 2^52. Package-visible so
    * the property spec can pin monotonicity + width directly. */
  private[ops] def radixSlot(c: Long): Long = {
    val m = if (c >= 0) c else -(c + 1) // -(Long.Min+1+...) never overflows
    val k = 64 - java.lang.Long.numberOfLeadingZeros(m) // 0 for m=0
    val s =
      if (k <= 10) k * 2048L + m
      else k * 2048L + (m >>> (k - 11))
    if (c >= 0) s else -s - 1
  }

  /** Exact values at per-group ranks over `df` = (groupCol: string,
    * centsCol: long). `rankOf` maps each group's row count n to the
    * 1-based ranks wanted for that group (name -> rank); it MUST yield
    * the same rank names for every group. Returns one row per group
    * with a long value column per rank name, e.g.
    * (l_returnflag, p05_cents, p95_cents) — a driver-local relation, so
    * broadcasting it back over the base data costs no extra job. */
  def valuesAtRanks(s: SparkSession, df: DataFrame, groupCol: String,
      centsCol: String, rankOf: Long => Seq[(String, Long)],
      buckets: Int = 8192): DataFrame = {
    require(buckets >= 2, s"need buckets >= 2, got $buckets")
    val base = df.select(col(groupCol).cast("string").as("g"),
      col(centsCol).cast("long").as("c"))
    // ---- radix pass: fused bounds + first histogram, one job over
    // the shared InternalRow kernel (no per-row tuple deserialization)
    val radix = radixHistogram(base).iterator.flatMap { case (g, slots) =>
      slots.iterator.map(st => (g, st.cnt, st.mn, st.mx))
    }.toArray

    var states: Seq[TargetState] = buildInitialStates(radix, rankOf)
    val rankNames = states.map(_.name).distinct

    def roundsFor(range: Long): Int = {
      var w = range; var r = 0
      while (w > 1) { w = (w + buckets - 1) / buckets; r += 1 }
      r
    }
    val maxRounds = states.filter(!_.done)
      .map(st => roundsFor(st.hi - st.lo + 1))
      .maxOption.getOrElse(0)
    val scan = if (maxRounds >= 2 && df.storageLevel == StorageLevel.NONE) base.pin else base

    while (states.exists(!_.done)) {
      val open = states.filter(!_.done).toArray
      // width per target this round: ceil(range / buckets), floor 1.
      // radix round 1 bounds every range at 2^52, so hi - lo + 1 can't
      // wrap — the require guards future direct-state misuse
      val widths = open.map { st =>
        val range = st.hi - st.lo + 1
        require(range > 0,
          s"selection range overflow for ${st.group}/${st.name}: [${st.lo}, ${st.hi}]")
        math.max(1L, (range + buckets - 1) / buckets)
      }
      val nBuckets = open.indices.map { i =>
        ((open(i).hi - open(i).lo) / widths(i) + 1).toInt
      }.toArray
      val byGroup = open.indices.groupBy(i => open(i).group)
        .map { case (g, is) => UTF8String.fromString(g) -> is.toArray }
      // range filter through the DataFrame layer: parquet row-group
      // pruning on uncached input, metadata-only on cached
      val cLo = open.iterator.map(_.lo).min
      val cHi = open.iterator.map(_.hi).max
      // one map-only job over InternalRow plan output: per-partition
      // bucket counts per target, tree-combined — ≤ targets × buckets
      // longs, no shuffle, no per-row tuple deserialization
      val roundRdd = internalRows(
        scan.filter(col("c") >= cLo && col("c") <= cHi))
      val hist = roundRdd
        .treeAggregate(Array.empty[Array[Long]])(
          seqOp = (acc0, row) => {
            if (row.isNullAt(0) || row.isNullAt(1)) acc0
            else {
              val acc = if (acc0.length == 0)
                nBuckets.map(new Array[Long](_)) else acc0
              val g = row.getUTF8String(0)
              val c = row.getLong(1)
              byGroup.get(g) match {
                case Some(is) =>
                  var j = 0
                  while (j < is.length) {
                    val i = is(j)
                    val st = open(i)
                    if (c >= st.lo && c <= st.hi)
                      acc(i)(((c - st.lo) / widths(i)).toInt) += 1
                    j += 1
                  }
                case None =>
              }
              acc
            }
          },
          combOp = (l, r) => {
            if (l.length == 0) r
            else if (r.length == 0) l
            else {
              var i = 0
              while (i < l.length) {
                val li = l(i); val ri = r(i)
                var b = 0
                while (b < li.length) { li(b) += ri(b); b += 1 }
                i += 1
              }
              l
            }
          },
          depth = treeDepth(roundRdd))

      states = states.map { st =>
        if (st.done) st
        else {
          val i = open.indexWhere(_ eq st)
          val w = widths(i)
          val slots = if (hist.length == 0) new Array[Long](0) else hist(i)
          var cum = 0L
          var b = -1L
          var below = 0L
          var j = 0
          while (b < 0 && j < slots.length) {
            val cnt = slots(j)
            if (cnt > 0 && cum + cnt >= st.r) { b = j.toLong; below = cum }
            cum += cnt
            j += 1
          }
          require(b >= 0, s"rank ${st.r} not reached in ${st.group}/${st.name}")
          if (w == 1L) TargetState(st.group, st.name,
            st.lo + b, st.lo + b, 1L, done = true)
          else {
            val nlo = st.lo + b * w
            val nhi = math.min(st.hi, nlo + w - 1)
            TargetState(st.group, st.name, nlo, nhi, st.r - below)
          }
        }
      }
    }

    // pivot driver-side: one row per group, a long column per rank name
    val byGroupOut = states.groupBy(_.group)
    val outRows = byGroupOut.toSeq.sortBy(_._1).map { case (g, sts) =>
      val vals = sts.map(st => st.name -> st.lo).toMap
      Row.fromSeq(g +: rankNames.map(n => vals.getOrElse(n,
        throw new IllegalArgumentException(
          s"rankOf must yield the same rank names for every group: " +
            s"group '$g' lacks '$n' (has ${vals.keySet.mkString(", ")})"))))
    }
    val outSchema = StructType(
      StructField(groupCol, StringType) +:
        rankNames.map(n => StructField(n, LongType)))
    s.createDataFrame(outRows.asJava, outSchema)
  }

  // ------------------------------------------------------------------
  // Shuffle-free histogram primitives (shared by valuesAtRanks and the
  // driver-assembled robust-stats queries q98/q109)
  // ------------------------------------------------------------------

  type PairRdd = org.apache.spark.rdd.RDD[(String, Long)]

  /** Stats of one radix slot: row count, exact min/max value, exact
    * value sum (fits a long for any DECIMAL(18,2)-bounded domain — the
    * same bound the decimal aggregates assume). */
  final case class SlotStat(cnt: Long, mn: Long, mx: Long, sum: Long)

  /** The projected (string group, long value) plan as an InternalRow
    * RDD — the histogram kernels iterate it WITHOUT deserializing each
    * row to a Scala tuple (no per-row String/Tuple2 allocation; group
    * keys are content-hashed UTF8Strings, cloned only on first sight).
    * Measured at sf0.1: the tuple path costs ~2× the raw scan; this
    * path is within ~25% of it. `df` must project exactly
    * (group: string, value: long) as columns 0 and 1. */
  private def internalRows(df: DataFrame) = {
    val fields = df.schema.fields
    require(fields.length == 2 &&
      fields(0).dataType == StringType && fields(1).dataType == LongType,
      s"need (group: string, value: long) projection, got ${df.schema.simpleString}")
    df.queryExecution.toRdd
  }

  /** treeAggregate depth: the intermediate tree level exists so the
    * driver never merges one partial per partition on a wide cluster —
    * but below ~64 partitions the level is pure overhead (an extra
    * stage + a shuffle of the partials, ~0.1-0.2 s per pass measured at
    * local[32]), and the driver merges a few dozen bounded histograms
    * in microseconds. Depth 2 kicks in exactly when it starts paying. */
  private def treeDepth(rdd: org.apache.spark.rdd.RDD[_]): Int =
    if (rdd.getNumPartitions <= 64) 1 else 2

  /** ONE shuffle-free job: per-(group, radix slot) count/min/max/sum,
    * per-partition maps tree-combined (depth 2 keeps the driver from
    * merging one partial per partition on wide clusters). Result per
    * group is sorted ascending by slot min — radix slots are disjoint
    * value intervals, so that IS value order and cumulative counts
    * locate any rank's slot exactly. Driver state: groups × occupied
    * slots (≤ ~55k per group over the full 64-bit domain). */
  def radixHistogram(rdd: PairRdd): Map[String, Array[SlotStat]] = {
    val agg = rdd.treeAggregate(
      mutable.HashMap.empty[String, mutable.HashMap[Long, Array[Long]]])(
      seqOp = (acc, row) => {
        val (g, c) = row
        val slots = acc.getOrElseUpdate(g, mutable.HashMap.empty)
        val a = slots.getOrElseUpdate(radixSlot(c),
          Array(0L, Long.MaxValue, Long.MinValue, 0L))
        a(0) += 1
        if (c < a(1)) a(1) = c
        if (c > a(2)) a(2) = c
        a(3) += c
        acc
      },
      combOp = (l, r) => {
        r.foreach { case (g, slots) =>
          val dst = l.getOrElseUpdate(g, mutable.HashMap.empty)
          slots.foreach { case (slot, a) =>
            dst.get(slot) match {
              case Some(d) =>
                d(0) += a(0)
                if (a(1) < d(1)) d(1) = a(1)
                if (a(2) > d(2)) d(2) = a(2)
                d(3) += a(3)
              case None => dst(slot) = a
            }
          }
        }
        l
      },
      depth = treeDepth(rdd))
    agg.iterator.map { case (g, slots) =>
      g -> slots.valuesIterator
        .map(a => SlotStat(a(0), a(1), a(2), a(3)))
        .toArray.sortBy(_.mn)
    }.toMap
  }

  /** [[radixHistogram]] straight off a (group: string, value: long)
    * DataFrame via its InternalRow RDD — same result, no per-row
    * tuple/String deserialization (the tuple path measured ~2× the raw
    * scan cost at sf0.1). Group keys stay UTF8String until the driver
    * materializes the result. */
  def radixHistogram(df: DataFrame): Map[String, Array[SlotStat]] = {
    val rows = internalRows(df)
    val agg = rows.treeAggregate(
      mutable.HashMap.empty[UTF8String, mutable.HashMap[Long, Array[Long]]])(
      seqOp = (acc, row) => {
        if (!row.isNullAt(0) && !row.isNullAt(1)) {
          val g = row.getUTF8String(0) // transient buffer: clone to store
          val c = row.getLong(1)
          val slots = acc.get(g) match {
            case Some(m) => m
            case None =>
              val m = mutable.HashMap.empty[Long, Array[Long]]
              acc.put(g.clone(), m)
              m
          }
          val a = slots.getOrElseUpdate(radixSlot(c),
            Array(0L, Long.MaxValue, Long.MinValue, 0L))
          a(0) += 1
          if (c < a(1)) a(1) = c
          if (c > a(2)) a(2) = c
          a(3) += c
        }
        acc
      },
      combOp = (l, r) => {
        r.foreach { case (g, slots) =>
          val dst = l.getOrElseUpdate(g, mutable.HashMap.empty)
          slots.foreach { case (slot, a) =>
            dst.get(slot) match {
              case Some(d) =>
                d(0) += a(0)
                if (a(1) < d(1)) d(1) = a(1)
                if (a(2) > d(2)) d(2) = a(2)
                d(3) += a(3)
              case None => dst(slot) = a
            }
          }
        }
        l
      },
      depth = treeDepth(rows))
    agg.iterator.map { case (g, slots) =>
      g.toString -> slots.valuesIterator
        .map(a => SlotStat(a(0), a(1), a(2), a(3)))
        .toArray.sortBy(_.mn)
    }.toMap
  }

  /** Ceiling on Σ range widths accepted by [[valueCounts]] — per-value
    * state must stay a bounded histogram, never data-proportional. 16M
    * longs ≈ 256 MB worst case per partial, far above any radix-slot
    * regime (slots are ≤ 8192 wide at fixed-point money scale) and far
    * below an executor heap, so contract violations fail fast instead
    * of OOMing executors or the driver. */
  val maxValueCountWidth: Long = 16L << 20

  private def requireBoundedWidth(ranges: Map[String, Array[(Long, Long)]]): Unit = {
    val width = ranges.valuesIterator.flatten
      .map { case (lo, hi) => hi - lo + 1 }.sum
    require(width <= maxValueCountWidth,
      s"valueCounts ranges span $width possible values (max $maxValueCountWidth): " +
        "per-value counting is for radix-slot-narrow ranges; widen via " +
        "another histogram round instead")
  }

  /** ONE shuffle-free job: exact per-value row counts for values inside
    * any of the given per-group [lo, hi] ranges (values outside every
    * range cost one comparison and no state). Σ range widths must stay
    * under [[maxValueCountWidth]] (ranges come from radix slots, ≤
    * `buckets`-scale in the fixed-point domains this serves — the
    * require fails fast on contract violations that would otherwise OOM
    * executors); driver state is Σ distinct in-range values. Result per
    * group is (value, count) sorted ascending. */
  def valueCounts(rdd: PairRdd, ranges: Map[String, Array[(Long, Long)]])
      : Map[String, Array[(Long, Long)]] = {
    requireBoundedWidth(ranges)
    val agg = rdd.treeAggregate(
      mutable.HashMap.empty[String, mutable.HashMap[Long, Long]])(
      seqOp = (acc, row) => {
        val (g, c) = row
        ranges.get(g) match {
          case Some(rs) =>
            var i = 0
            var in = false
            while (!in && i < rs.length) {
              if (c >= rs(i)._1 && c <= rs(i)._2) in = true
              i += 1
            }
            if (in) {
              val m = acc.getOrElseUpdate(g, mutable.HashMap.empty)
              m.update(c, m.getOrElse(c, 0L) + 1L)
            }
          case None =>
        }
        acc
      },
      combOp = (l, r) => {
        r.foreach { case (g, m) =>
          val dst = l.getOrElseUpdate(g, mutable.HashMap.empty)
          m.foreach { case (v, cnt) => dst.update(v, dst.getOrElse(v, 0L) + cnt) }
        }
        l
      },
      depth = treeDepth(rdd))
    agg.iterator.map { case (g, m) => g -> m.toArray.sortBy(_._1) }.toMap
  }

  /** [[valueCounts]] straight off a (group: string, value: long)
    * DataFrame via its InternalRow RDD — same result, no per-row
    * tuple/String deserialization. The caller should ALSO range-filter
    * the DataFrame (`c between min-lo and max-hi`) so codegen drops
    * out-of-range rows before they reach the kernel and parquet
    * row-group pruning can skip whole chunks. */
  def valueCounts(df: DataFrame, ranges: Map[String, Array[(Long, Long)]])
      : Map[String, Array[(Long, Long)]] = {
    requireBoundedWidth(ranges)
    val utf8Ranges = ranges.map { case (g, rs) =>
      UTF8String.fromString(g) -> rs
    }
    val rows = internalRows(df)
    val agg = rows.treeAggregate(
      mutable.HashMap.empty[UTF8String, mutable.HashMap[Long, Long]])(
      seqOp = (acc, row) => {
        if (!row.isNullAt(0) && !row.isNullAt(1)) {
          val g = row.getUTF8String(0) // transient buffer: clone to store
          utf8Ranges.get(g) match {
            case Some(rs) =>
              val c = row.getLong(1)
              var i = 0
              var in = false
              while (!in && i < rs.length) {
                if (c >= rs(i)._1 && c <= rs(i)._2) in = true
                i += 1
              }
              if (in) {
                val m = acc.get(g) match {
                  case Some(m0) => m0
                  case None =>
                    val m0 = mutable.HashMap.empty[Long, Long]
                    acc.put(g.clone(), m0)
                    m0
                }
                m.update(c, m.getOrElse(c, 0L) + 1L)
              }
            case None =>
          }
        }
        acc
      },
      combOp = (l, r) => {
        r.foreach { case (g, m) =>
          val dst = l.getOrElseUpdate(g, mutable.HashMap.empty)
          m.foreach { case (v, cnt) => dst.update(v, dst.getOrElse(v, 0L) + cnt) }
        }
        l
      },
      depth = treeDepth(rows))
    agg.iterator.map { case (g, m) => g.toString -> m.toArray.sortBy(_._1) }.toMap
  }

  /** Index of the slot holding 1-based `rank` plus the exact row count
    * strictly below that slot. */
  def slotAt(slots: Array[SlotStat], rank: Long): (Int, Long) = {
    var cum = 0L
    var i = 0
    while (i < slots.length) {
      val cnt = slots(i).cnt
      if (cum + cnt >= rank) return (i, cum)
      cum += cnt
      i += 1
    }
    throw new IllegalStateException(s"rank $rank beyond ${cum} rows")
  }

  /** Exact value at 1-based `rank` given per-value counts of the slot
    * [lo, hi] that holds it and the count `below` the slot. */
  def valueAt(values: Array[(Long, Long)], lo: Long, hi: Long,
      below: Long, rank: Long): Long = {
    var cum = below
    var i = 0
    while (i < values.length) {
      val (v, cnt) = values(i)
      if (v >= lo && v <= hi) {
        cum += cnt
        if (cum >= rank) return v
      }
      i += 1
    }
    throw new IllegalStateException(
      s"rank $rank not reached in [$lo, $hi] (cum=$cum)")
  }

  /** Walk each group's radix slots (value order) to seed one TargetState
    * per (group, rank name) at the [slot min, slot max] containing the
    * rank. `radix` rows are (group, count, slot min, slot max). */
  private def buildInitialStates(
      radix: Array[(String, Long, Long, Long)],
      rankOf: Long => Seq[(String, Long)]): Seq[TargetState] =
    radix.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (g, ss) =>
      val ordered = ss.sortBy(_._3) // by slot min: slots are disjoint intervals
      val n = ordered.iterator.map(_._2).sum
      rankOf(n).map { case (name, rank) =>
        require(rank >= 1 && rank <= n, s"rank $rank outside 1..$n for group $g")
        var cum = 0L
        var idx = -1
        var below = 0L
        var i = 0
        while (idx < 0 && i < ordered.length) {
          val cnt = ordered(i)._2
          if (cum + cnt >= rank) { idx = i; below = cum }
          cum += cnt
          i += 1
        }
        val (_, _, mn, mx) = ordered(idx)
        val st = TargetState(g, name, mn, mx, rank - below)
        if (mn == mx) st.done = true
        st
      }
    }
}
