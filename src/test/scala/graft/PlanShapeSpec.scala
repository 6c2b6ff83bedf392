package graft

/** Plan-shape regression tests: the scale properties claimed in SCALE.md,
  * asserted on the actual optimized plans so they can't silently regress.
  * (Plans at sf0.001 — shapes, not sizes, are under test.)
  */
class PlanShapeSpec extends SparkSpecBase {
  private val sfDir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan.toString

  test("q01: aggregate is partial+final (map-side combine before shuffle)") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("partial_sum") || p.contains("HashAggregate"),
      s"expected two-phase hash aggregate:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q02: star join broadcasts dims; no cartesian; pruned fact scan") {
    val p = plan("q02_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double,l_discount:double>"),
      s"lineitem scan must be pruned to 3 columns:\n$p")
  }

  test("q02/q05: scaling dims carry no forced broadcast hint (AQE sizes them)") {
    // region/nation are constant-size (5/25 rows at ANY SF) and stay
    // hinted; customer grows with SF, so its join strategy must be
    // size-driven — a forced hint OOMs at the 100 TB design point.
    val hints02 = SparkEntry.queries("q02_revenue_by_nation")(spark, sfDir)
      .queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }
    assert(hints02.length == 2, s"q02 must hint only nation+region, got: $hints02")
    assert(!hints02.exists(_.toString.contains("c_custkey")),
      "customer must not be hint-forced")
    val hints05 = SparkEntry.queries("q05_market_share")(spark, sfDir)
      .queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }
    assert(hints05.isEmpty, s"q05 must carry no join hints, got: $hints05")
    // …and the size-driven outcome at this (tiny) SF is still a broadcast:
    val p = plan("q05_market_share")
    assert(p.contains("BroadcastHashJoin"),
      s"AQE should pick broadcast for a tiny customer table:\n$p")
  }

  test("q03: global top-k plans as TakeOrderedAndProject (no full sort)") {
    val p = plan("q03_topk_orders")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("q04: rank filter plans as WindowGroupLimit (bounded per-group heap)") {
    val p = plan("q04_window_rank")
    assert(p.contains("WindowGroupLimit"), s"expected WindowGroupLimit:\n$p")
  }

  test("q20: vector kernel compiles into whole-stage generated code") {
    // AQE reports 0 codegen subtrees pre-execution; disable it to inspect
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val codegen =
      try SparkEntry.queries("q20_vec_dot_topk")(spark, sfDir)
        .queryExecution.explainString(org.apache.spark.sql.execution.CodegenMode)
      finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert(codegen.contains("WholeStageCodegen subtree"),
      s"expected codegen subtrees:\n${codegen.take(500)}")
    // the generated code calls the dot kernel itself (no CodegenFallback)
    assert(codegen.contains("graft.expr.VectorKernel.dot("),
      "expected the generated call of the dot kernel (no CodegenFallback)")
  }

  test("q24: metadata DSL predicates are pushed to the parquet scan") {
    val p = plan("q24_meta_filter_cosine")
    assert(p.contains("PushedFilters") && p.contains("GreaterThan(n_chars,200)"),
      s"expected n_chars>200 in PushedFilters:\n$p")
    assert(p.contains("EqualTo(lang,en)"), s"expected lang=en pushed:\n$p")
  }

  test("q30: dedup is a single-shuffle aggregate, no join") {
    val p = plan("q30_dedup_exact")
    assert(!p.contains("Join"), s"exact dedup must not join:\n$p")
  }

  test("q32: LSH candidate generation joins on (band, bucket), never cross") {
    val p = plan("q32_minhash_lsh")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"LSH must be an equi-join:\n$p")
  }

  test("q35: SRP-LSH candidates join on (table, bucket), never cross") {
    val p = plan("q35_ann_lsh")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"SRP-LSH must be an equi-join:\n$p")
  }

  test("q34: bucketed near-dup joins on (table, bucket), never cross") {
    val p = plan("q34_embed_neardup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"near-dup candidates must come from an equi-join:\n$p")
  }

  test("q52: prebuilt-IVF probe partition-prunes the cells scan") {
    val p = plan("q52_ann_ivf")
    assert(p.contains("PartitionFilters") && p.contains("INSET"),
      s"probe must prune to the probed ivf_cell partitions:\n$p")
  }

  test("q51: bounded-heap top-k aggregates without Window or global Sort") {
    val p = plan("q51_topk_heap")
    assert(!p.contains("Window"), s"topk_by must not plan a Window:\n$p")
    assert(p.contains("topkby") || p.contains("TopKBy") || p.contains("ObjectHashAggregate"),
      s"expected the TypedImperativeAggregate path:\n$p")
  }

  test("q53: range join is a bucketed equi-join with pushed filters, no cartesian") {
    val p = plan("q53_range_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"range join must stay an equi-join:\n$p")
    assert(p.contains("EqualTo(event_type,click)"),
      s"event_type filter must reach the parquet scan:\n$p")
  }

  test("q17: sessionization reuses one user_id exchange for both windows and the agg") {
    val p = plan("q17_sessionization")
    // lag + cumulative-sum windows and the (user_id, session_id) groupBy
    // all cluster by user_id — one hash exchange serves the whole chain;
    // the only other exchange is the presentation orderBy's range
    // partitioning. The NTZ-cast armor must not break pushdown either.
    assert(p.sliding("Exchange".length).count(_ == "Exchange") <= 2,
      s"q17: windows + agg must share one hash exchange:\n$p")
    assert(p.contains("LessThan(user_id,10)"),
      s"q17: user_id filter must reach the parquet scan:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q58: trailing 10-min totals plan a RANGE frame, one hash exchange") {
    val p = plan("q58_range_frame")
    assert(p.contains("RangeFrame"),
      s"q58: frame must be value-based RANGE, not ROWS:\n$p")
    assert(p.sliding("Exchange".length).count(_ == "Exchange") <= 2,
      s"q58: one user_id hash exchange + presentation sort only:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q117: DSIR selection is a bounded top-k, never a global sort") {
    val p = plan("q117_dsir_selection")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-50 must plan as TakeOrderedAndProject:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q118: margin mining's rank filters prune as WindowGroupLimit heaps") {
    val p = plan("q118_margin_mining")
    assert(p.contains("WindowGroupLimit"),
      s"top-k neighborhood sums must heap-prune before the exchange:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"final top-15 must be bounded:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q119: span removal joins grams on code — no cartesian, no nested loop") {
    val p = plan("q119_span_removal")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"dup-span candidates must come from equi-joins:\n$p")
  }

  test("q122: index-backed BM25 partition-prunes the postings scan to probe buckets") {
    val p = plan("q122_bm25_index")
    assert(p.contains("PartitionFilters") && p.contains("INSET"),
      s"probe must prune to the probe terms' bucket directories:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q60: correlated EXISTS decorrelates to a semi join, never a loop") {
    val p = plan("q60_exists_subquery")
    assert(p.contains("LeftSemi"), s"EXISTS must become a semi join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"no nested-loop fallback:\n$p")
  }

  test("q54: cube plans one Expand feeding a two-phase aggregate") {
    val p = plan("q54_cube")
    assert(p.contains("Expand"), s"cube must plan Expand:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q66/q67: PII scrub and repetition scoring are map-only scans") {
    // one Exchange allowed: the presentation orderBy's range partitioning.
    // No join, no aggregate — the work itself must fuse into the scan.
    for (name <- Seq("q66_pii_scrub", "q67_repetition")) {
      val p = plan(name)
      assert(!p.contains("Join") && !p.contains("HashAggregate"),
        s"$name must not join or aggregate:\n$p")
      assert(p.sliding("Exchange".length).count(_ == "Exchange") <= 1,
        s"$name: only the final sort may exchange:\n$p")
    }
  }

  test("q69: bloom filter reaches the probe side; exact join is LeftSemi, no cartesian") {
    val p = plan("q69_bloom_semijoin")
    assert(p.contains("bloom_might_contain"),
      s"probe rows must be pre-filtered by the bloom:\n$p")
    assert(p.contains("LeftSemi"), s"exact join must be a semi join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("q70: probe scans the prebuilt quantized index, not the float corpus") {
    val p = plan("q70_sq_topk")
    // (string match: AQE wraps the scan nodes, so collecting
    // FileSourceScanExec from the pre-execution plan comes up empty)
    assert(p.contains("graft_sq_index"),
      s"candidate scan must read the persisted int8 index:\n$p")
    assert(p.contains("vec_dot_i8"), s"candidates must score via the int8 kernel:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"both cuts are top-k:\n$p")
  }

  test("q72: tf-idf aggregates are partial+final; scalar N broadcast") {
    val p = plan("q72_tfidf_terms")
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      s"tf/df must combine map-side:\n$p")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin")
      || p.contains("BroadcastNestedLoop"),
      s"the 1-row N side must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("q68: stratified sample plans one hash exchange + WindowGroupLimit") {
    val p = plan("q68_stratified_sample")
    assert(p.contains("WindowGroupLimit"),
      s"rn <= k must push a per-group limit under the window:\n$p")
    assert(p.sliding("hashpartitioning".length)
      .count(_ == "hashpartitioning") <= 2, // one exchange, echoed in Window
      s"expected a single hash exchange on the group key:\n$p")
  }

  test("q77: eval n-gram side broadcasts; corpus side never cross-joins") {
    val p = plan("q77_decontaminate")
    assert(p.contains("BroadcastHashJoin"), s"eval grams must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"no cartesian anywhere:\n$p")
  }

  test("q80: z-order key is map-only into a two-phase aggregate") {
    val p = plan("q80_zorder_layout")
    assert(!p.contains("Join"), s"layout key needs no join:\n$p")
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      s"bucket stats must combine map-side:\n$p")
    // the ONLY exchanges are the aggregate's hash exchange and the
    // presentation sort — the interleave itself shuffles nothing
    assert(p.sliding("Exchange".length).count(_ == "Exchange") <= 2,
      s"z-value computation must be map-only:\n$p")
  }

  test("q84: both matryoshka phases plan as TakeOrderedAndProject") {
    val p = plan("q84_matryoshka_topk")
    assert(p.sliding("TakeOrderedAndProject".length)
      .count(_ == "TakeOrderedAndProject") == 2,
      s"prefix cut AND rerank must both be top-k operators:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"query vector joins by broadcast, not cartesian:\n$p")
  }

  test("q85: fixed-size sample is TakeOrderedAndProject (O(k) driver)") {
    val p = plan("q85_fixed_sample")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("q96: gap-fill grid explodes map-side; no cartesian, no global sort before the window") {
    val p = plan("q96_gap_fill")
    assert(p.contains("Generate explode"), s"grid must be a map-side explode:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"grid-to-hourly join must be an equi-join:\n$p")
  }

  test("q98: winsorize is driver-assembled — result is a local relation, no join/exchange at all") {
    // since the radix-histogram rewrite the whole answer is assembled on
    // the driver from two shuffle-free kernel passes: the returned frame
    // must be a pure LocalTableScan — any Join/Exchange/Window appearing
    // here means the threshold-join plan regressed back in
    val p = plan("q98_winsorize")
    assert(p.contains("LocalTableScan"),
      s"driver-assembled result must be a local relation:\n$p")
    for (bad <- Seq("Join", "Exchange", "Window"))
      assert(!p.contains(bad), s"q98 result plan regressed ($bad):\n$p")
  }

  test("q98/q109: exact order statistics plan NO window and NO per-group sort") {
    // the scale-killer this guards against: row_number() OVER
    // (PARTITION BY l_returnflag ORDER BY price) funnels each ~N/3-row
    // group through ONE reducer task. ExactRank's histogram selection
    // must keep both plans window-free; the only Sort allowed is the
    // final ≤3-row presentation orderBy.
    for (name <- Seq("q98_winsorize", "q109_mad_outliers")) {
      val p = plan(name)
      assert(!p.contains("Window"),
        s"$name must not plan a Window over the 3-value group key:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"$name joins must broadcast (thresholds are tiny):\n$p")
      // presentation sort only: every Sort must sit ABOVE the final
      // aggregate (sorting ≤3 grouped rows); a Sort feeding directly off
      // the fact scan/exchange is the per-group sort landmine
      val sorts = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.SortExec => s
        }
      sorts.foreach { s =>
        assert(s.child.toString.contains("HashAggregate"),
          s"$name: a Sort consumes ungrouped rows — per-group sort regressed:\n$s")
      }
    }
  }

  test("q94: semdedup pairs come from the cell equi-join, never a cross product") {
    val p = plan("q94_semdedup")
    assert(!p.contains("CartesianProduct"),
      s"within-cell pairing must be an equi-join on cell:\n$p")
  }

  test("q99: ADC scoring is map-only over the coded corpus (no join, no float corpus)") {
    val p = plan("q99_pq_adc")
    assert(!p.contains("CartesianProduct") && !p.contains("Join"),
      s"ADC must be a literal-codebook expression, not a codebook join:\n$p")
  }

  test("q105: correlated scalar subquery decorrelates — no cartesian, aggs partial+final") {
    val p = plan("q105_small_qty")
    assert(!p.contains("CartesianProduct"),
      s"per-part threshold must be an equi-join back, not a loop:\n$p")
    assert(p.contains("HashAggregate"), s"expected hash aggregates:\n$p")
  }

  test("q107: composed stack probes the prebuilt index with partition pruning") {
    val p = plan("q107_ivf_pq")
    assert(!p.contains("CartesianProduct"),
      s"cell prune + ADC must stay equi-join/map-only:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the probe side (3 queries × nprobe cells) must broadcast:\n$p")
    assert("PartitionFilters: \\[ivf_cell#\\d+ INSET".r.findFirstIn(p).isDefined,
      s"the index scan must prune to the probed cell partitions:\n${p.take(2000)}")
  }

  test("q95: retrieval filter pushes into the scan; rank is bounded top-k") {
    val p = plan("q95_boolean_retrieval")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must be a bounded top-k, not a global sort:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q97: prefix-jaccard candidates come from equi-joins, never a cross product") {
    val p = plan("q97_prefix_jaccard")
    assert(!p.contains("CartesianProduct"),
      s"prefix filter must make every join an equi-join:\n$p")
  }

  test("q101: attribution is one window pass, no self-join of events") {
    val p = plan("q101_attribution")
    assert(p.contains("Window"), s"expected window operator:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"last-touch must not self-join events:\n$p")
  }

  test("q124: weight table joins as broadcast; features come from the codegen kernel") {
    val p = plan("q124_quality_classifier")
    assert(p.contains("BroadcastHashJoin"),
      s"the O(buckets) model table must broadcast:\n$p")
    assert(p.contains("feature_buckets"),
      s"features must come from the one-pass kernel, not an explode of strings:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q126: phash candidates come from the band equi-join; payloads never shuffle") {
    val p = plan("q126_phash_neardup")
    assert(!p.contains("CartesianProduct"),
      s"candidates must come from the (band, key) equi-join:\n$p")
    assert(p.contains("avg_hash64"),
      s"fingerprint must be the codegen kernel:\n$p")
    // the join moves (id, hash, band, key) rows only — no payload column
    // may appear above the fingerprint projection
    val joinPart = p.substring(p.indexOf("Join"))
    assert(!joinPart.contains("payload#"),
      s"payload bytes must not cross the exchange:\n$p")
  }

  test("q129: the per-domain cap rank-filter compiles to WindowGroupLimit") {
    val p = plan("q129_source_cap")
    assert(p.contains("WindowGroupLimit"),
      s"rn <= k must push a partial top-k below the window sort:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q131: zipf regression aggregates are two-phase over decimal sums") {
    val p = plan("q131_zipf_slope")
    assert(p.contains("partial_sum") || p.contains("HashAggregate"),
      s"decimal sums must combine map-side:\n$p")
    assert(!p.contains("CartesianProduct"))
    // text never reaches the regression: the explode projects (lang, tk)
    assert(p.contains("ReadSchema: struct<text:string,lang:string>") ||
      p.contains("ReadSchema: struct<lang:string,text:string>"),
      s"scan must prune to (lang, text):\n$p")
  }

  test("q132: diversity joins per-group aggregates, never row-level frames") {
    val p = plan("q132_lexical_diversity")
    assert(!p.contains("CartesianProduct"))
    // both sides of the join are already group-sized aggregates
    val joinPart = p.substring(p.indexOf("Join"))
    assert(joinPart.contains("HashAggregate") || joinPart.contains("SortAggregate"),
      s"join inputs must be aggregated frames:\n$p")
  }

  test("q128/q130: curation summaries stay equi-join + grouped agg") {
    Seq("q128_cluster_split", "q130_kanonymity").foreach { q =>
      val p = plan(q)
      // q128's one CartesianProduct-shaped op is the sanctioned broadcast
      // of the 1-row leaked_pairs count — a BroadcastNestedLoopJoin over
      // a single row, not a data-sized cross product
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
  }

  test("q144: table checksums are map-side-combined single aggregates") {
    val p = plan("q144_table_checksum")
    assert(p.contains("partial_sum") || p.contains("HashAggregate"),
      s"checksum must combine map-side:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"no join belongs in a checksum scan:\n$p")
  }

  test("q148: the LSH plan estimate is two grouped aggregates, no join at all") {
    val p = plan("q148_lsh_plan")
    assert(!p.contains("Join"), s"estimating the join must not RUN a join:\n$p")
    assert(p.contains("HashAggregate"), s"bucket counts must aggregate:\n$p")
  }

  test("q150: rendezvous argmax prunes per-partition before the exchange") {
    val p = plan("q150_rendezvous_shards")
    assert(p.contains("WindowGroupLimit"),
      s"rn = 1 must compile to a bounded per-key heap:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q78/q102/q117/q125: LM token joins are hot/cold — corpus pre-aggregated, hot tokens broadcast") {
    // the Zipf-skew fix: the exploded token stream must (a) collapse to
    // distinct (group, token, n) rows BEFORE any join — a multi-key
    // HashAggregate — and (b) reach the vocabulary table through a
    // broadcast (hot) join, so the corpus never hash-partitions on the
    // skewed bare-token key
    val grpKey = Map(
      "q78_unigram_logprob" -> "doc_id",
      "q102_bigram_logprob" -> "doc_id",
      "q117_dsir_selection" -> "doc_id",
      "q125_doremi_mixture" -> "source")
    grpKey.foreach { case (q, grp) =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"),
        s"$q: hot tokens must broadcast:\n${p.take(1200)}")
      // the pre-aggregate either plans inline (HashAggregate on the
      // multi-key) or — since the r16 pin — is materialized once and
      // enters the join as the pinned (group, gram…, _n) relation (a
      // checkpointed RDD scan or a persisted in-memory scan); both
      // forms prove the corpus collapsed before any join
      val pre = (raw"HashAggregate\(keys=\[$grp#\d+L?, ").r
      val pinned =
        (raw"(Scan ExistingRDD|InMemoryTableScan )\[$grp#\d+L?, ?(token|p)#").r
      assert(pre.findFirstIn(p).isDefined || pinned.findFirstIn(p).isDefined,
        s"$q: corpus must pre-aggregate to (group, token, n) before any join:\n${p.take(1500)}")
    }
  }

  test("q143: SCD2 merge is one logical key-equi merge join, no cross products") {
    // logically ONE full-outer join of open slice vs batch; Catalyst's
    // outer-join elimination specializes it per routing branch (each
    // union arm's filter implies one side), so physically up to three
    // key-equi outer joins appear — never more, and never a cartesian
    val p = plan("q143_scd2_merge")
    val joins = ("SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin|" +
      "CartesianProduct|BroadcastNestedLoopJoin").r.findAllIn(p).size
    assert(joins <= 3, s"expected <= 3 specialized merge joins, got $joins:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the merge must stay key-equi:\n${p.take(1500)}")
  }

  test("q138/q139: BPE training drives a BOUNDED number of jobs per merge round") {
    // the driver loop's scale contract: each round costs O(1) jobs
    // (pair-count argmax + the word-table checkpoint), independent of
    // corpus size — 5 rounds must stay within a small fixed budget
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    sc.addSparkListener(listener)
    try {
      import spark.implicits._
      val docs = Seq.fill(8)("the quick brown fox and the lazy dog").toDF("text")
      graft.ops.TextAnalysis.bpeMerges(docs, "text", iters = 5).collect()
      // listener bus is async: poll to quiescence
      var last = -1; var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        val now = jobs.get()
        if (now == last) stable += 1 else { stable = 0; last = now }
      }
      val perRoundBudget = 4 * 5 + 6 // 4 jobs/round ceiling + setup slack
      assert(jobs.get() > 0 && jobs.get() <= perRoundBudget,
        s"BPE must stay within ~4 jobs per round, saw ${jobs.get()} for 5 rounds")
    } finally sc.removeSparkListener(listener)
  }

  test("q155/q156: eval/probe side broadcasts; argmax is a bounded heap") {
    Seq("q155_semantic_decon", "q156_knn_label_noise").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
        s"$q: the bounded side must broadcast:\n${p.take(1200)}")
      assert(p.contains("WindowGroupLimit"),
        s"$q: the per-row top-k must plan as a bounded heap:\n${p.take(1200)}")
      assert(!p.contains("CartesianProduct"), s"$q:\n${p.take(1200)}")
      assert(!p.contains("SortMergeJoin"),
        s"$q: nothing may shuffle-join — the corpus side stays put:\n${p.take(1200)}")
    }
  }

  test("q157: KN bigram inherits the hot/cold LM shape") {
    val p = plan("q157_kn_bigram")
    assert(p.contains("BroadcastHashJoin"),
      s"hot pairs must broadcast:\n${p.take(1200)}")
    // inline pre-aggregate or the r16 pinned (doc, p, c, _n) relation,
    // checkpointed or persisted — both prove the corpus collapsed
    // before any join
    val pre = raw"HashAggregate\(keys=\[doc_id#\d+L?, ".r
    val pinned = raw"(Scan ExistingRDD|InMemoryTableScan )\[doc_id#\d+L?, ?p#".r
    assert(pre.findFirstIn(p).isDefined || pinned.findFirstIn(p).isDefined,
      s"corpus must pre-aggregate to (doc, p, c, n) before any join:\n${p.take(1500)}")
  }

  test("q159/q160: text kernels are map-only — no join, no aggregate exchange") {
    Seq("q159_char_entropy", "q160_blocklist_gate").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Join"), s"$q must not join:\n${p.take(1200)}")
      assert(!p.contains("HashAggregate"),
        s"$q is a per-row kernel — no aggregate belongs in it:\n${p.take(1200)}")
    }
  }

  test("q161: windowed histogram aggregates map-side before the exchange") {
    val p = plan("q161_windowed_quantiles")
    assert(p.contains("HashAggregate"), s"bin counts must aggregate:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"the sketch is one grouped aggregate + windows, never a join:\n${p.take(1200)}")
  }

  test("q158: sweep candidates come from the band equi-join, never all pairs") {
    val p = plan("q158_dedup_sweep")
    assert(!p.contains("CartesianProduct"), s"no cross product:\n${p.take(1200)}")
  }

  test("q162: shard prep composes gate → dedup → pack without a cartesian or global sort") {
    val p = plan("q162_shard_prep")
    assert(!p.contains("CartesianProduct"), s"no cross product:\n${p.take(1200)}")
    // packing is a per-shard window, not a global orderBy: the only
    // Sort nodes may be window-local or the final presentation sort
    assert(p.contains("Window"), s"packing must be a windowed prefix sum:\n${p.take(1200)}")
  }

  test("q164: triplet negatives come from a broadcast pool, never pairs × corpus") {
    val p = plan("q164_triplet_mining")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the negative pool must broadcast:\n${p.take(1200)}")
    assert(p.contains("WindowGroupLimit"),
      s"per-pair argmin must be a bounded heap:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct"), s"\n${p.take(1200)}")
  }

  test("q165: novelty curve is two combiner aggregates + a source-sized window") {
    val p = plan("q165_novelty_curve")
    assert(p.contains("HashAggregate"), s"\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no cross product belongs here:\n${p.take(1200)}")
  }

  test("q154: A/B readout is grouped moments + 1-row joins only") {
    val p = plan("q154_ab_ttest")
    assert(p.contains("HashAggregate"))
    assert(!p.contains("SortMergeJoin"),
      s"both variant frames are 1-row — nothing may sort-merge:\n$p")
  }

  test("q163: per-id argmax prunes as a WindowGroupLimit heap") {
    val p = plan("q163_semantic_outliers")
    assert(p.contains("WindowGroupLimit"),
      s"the closest-centroid rank must be a bounded per-group heap:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct"), s"\n${p.take(1200)}")
  }

  test("q166 kernel: spectral moments are ONE scan, one aggregate, one exchange") {
    // q166's returned frame is driver-side (a model-sized local
    // relation), so pin the distributed KERNEL it runs: the one-pass
    // SpectralMoments aggregate over the embeddings scan
    val dims = 64
    val vm = graft.Tables.embeddings(spark, sfDir).select(
      org.apache.spark.sql.functions.expr(
        "transform(embedding, x -> cast(round(cast(x as double) * 1000000.0) as bigint))")
        .as("vm"))
      .agg(graft.expr.SpectralMoments.of(
        org.apache.spark.sql.functions.col("vm"), dims))
    val p = vm.queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"moment kernel must read the corpus exactly once:\n$p")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      s"expected the imperative aggregate operator:\n$p")
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 2,
      s"partial buffers merge through one exchange (AQE may stage one more):\n$p")
    assert(!p.contains("Generate"),
      s"the explode formulation must not resurface:\n$p")
  }

  test("q168/q170: LM serving never scans the training corpus") {
    // the probe batch enters through a checkpointed pre-aggregate and
    // the model through its persisted parquet deltas — the TRAINING
    // text reaches the plan only if someone rewires scoring to the live
    // path; a documents.parquet file scan in the serving plan is the
    // regression this pins against
    Seq("q168_lm_index_score", "q170_lm_index_append").foreach { q =>
      val p = plan(q)
      assert(!p.contains("documents.parquet"),
        s"$q must serve from the persisted model, not the corpus:\n${p.take(1500)}")
    }
  }

  test("q171: batched BPE rounds keep the vocab-sized aggregate shape") {
    val p = plan("q171_bpe_batched")
    // the returned trajectory is driver-sized; the pin is that building
    // it never left a cartesian or sort-merge join in any round's plan
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"\n${p.take(1200)}")
  }

  test("q174: PCA projection's corpus pass is map-only into a bounded top-N") {
    val p = plan("q174_pca_project")
    assert(p.contains("TakeOrderedAndProject"),
      s"the global top-50 must be a bounded heap, not a sort:\n${p.take(1200)}")
    assert(!p.contains("Join"),
      s"the eigenvectors ride along as literals — no join belongs here:\n${p.take(1200)}")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"projection reads the corpus exactly once:\n${p.take(1200)}")
  }

  test("q175/q177/q178: evaluation readouts never grow past their bounded frames") {
    // ranked lists are top-k, labels an eval set, bins/grid literals —
    // a cartesian or global sort in any of them is a regression
    Seq("q175_retrieval_metrics", "q177_calibration", "q178_temp_scaling")
      .foreach { q =>
        val p = plan(q)
        assert(!p.contains("CartesianProduct"), s"$q:\n${p.take(1200)}")
        assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
          s"$q must aggregate to its bounded readout:\n${p.take(1200)}")
      }
  }

  test("q176: banding audit joins candidates to truth, never all-pairs on the slice") {
    val p = plan("q176_dedup_audit")
    assert(!p.contains("CartesianProduct"), s"\n${p.take(1200)}")
  }

  test("q172: incremental components touch (id, label)-sized state only") {
    val p = plan("q172_components_append")
    assert(!p.contains("CartesianProduct"), s"\n${p.take(1200)}")
    // the final frame unions pass-through labels with the re-solved
    // slice; both sides are label-sized equi-joins
    assert(p.contains("Union"), s"untouched ∪ resolved union expected:\n${p.take(1200)}")
  }
}
