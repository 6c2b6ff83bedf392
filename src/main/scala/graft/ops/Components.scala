package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Pin
import graft.core.Pin._

/** Connected components over near-duplicate candidate pairs — the step
  * that turns pairwise matches (MinHash/SimHash/embedding) into dedup
  * *clusters* with one kept representative (SURVEY.md §2.3 "Dedup":
  * transitivity). GraphFrames-free: iterative min-label propagation on
  * DataFrames.
  *
  * Each round every node adopts the minimum label among itself and its
  * neighbors, then SHORTCUTS its label to its label's label (pointer
  * doubling — the same acceleration the large-star/small-star family
  * uses): propagation distance doubles per round, so convergence is
  * O(log diameter) rounds, not O(diameter) — a 1000-hop chain (the
  * pathological near-dup shape: a drifting document edited 1000 times)
  * converges in ~12 rounds instead of 1000.
  *
  * Per-round lineage is cut with [[graft.core.Pin.cut]] (executor-memory)
  * by default; pass `checkpointDir` to cut with RELIABLE checkpoints on
  * durable storage instead — the cluster-scale option: a lost executor
  * replays from the checkpoint file rather than recomputing the whole
  * iteration chain (localCheckpoint blocks are lost with their executor).
  */
object Components {

  /** pairs(a_id, b_id) → (id, component) for every id appearing in a pair;
    * component = min id reachable through the pair graph.
    *
    * @param checkpointDir durable checkpoint directory (HDFS/S3/local
    *   path) for cluster-scale runs; None = [[graft.core.Pin.cut]].
    * @throws java.lang.IllegalStateException when maxIter rounds did not converge —
    *   a silent partial result would under-deduplicate. With pointer
    *   doubling the default 50 rounds covers diameters ≈ 2⁵⁰. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50,
      checkpointDir: Option[String] = None): DataFrame = {
    checkpointDir.foreach(pairs.sparkSession.sparkContext.setCheckpointDir)
    def cut(df: DataFrame, eager: Boolean = true): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint(eager) else Pin.cut(df, eager)
    val edges = cut(pairs
      .select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
      .distinct())
    var labels = cut(edges.select(col("src").as("id")).distinct()
      .withColumn("component", col("id")))
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .select(col("src").as("id"), col("component"), lit(false).as("own"))
      // carry each node's previous label through the same aggregation
      // (`own` marks the labels-side row — exactly one per id), so change
      // detection is a scan of the checkpointed result, not an extra join
      val minRoundPlan = labels.select(col("id"), col("component"), lit(true).as("own"))
        .union(viaNeighbors)
        .groupBy(col("id"))
        .agg(min(col("component")).as("component"),
          max(when(col("own"), col("component"))).as("old"))
      // Pointer doubling — component ← component(component) — doubles the
      // propagation distance covered per round, but costs a self-join, so
      // it starts at round 3: near-dup clusters usually have diameter ≤ 2
      // and converge before paying anything; deeper graphs still finish in
      // O(log diameter) rounds. Every label value is itself a node id
      // (labels start as ids and min() only selects existing ones), so the
      // inner self-join is total; labels are non-increasing, so
      // shortcutting preserves correctness.
      // The round's cut is LAZY — the `changed` count right below is its
      // first action, one job per round. The pointer-doubling rounds keep
      // an EAGER cut before the self-join: its two references would
      // otherwise race-compute the same partitions.
      val next =
        if (iter < 2) cut(minRoundPlan, eager = false)
        else {
          // materialized before the self-join — referencing the plan twice
          // without the cut would run the union+aggregate pipeline twice
          val mr = cut(minRoundPlan)
          cut(mr
            .join(
              mr.select(col("id").as("component"), col("component").as("_c2")),
              Seq("component"))
            .select(col("id"), col("_c2").as("component"), col("old")),
            eager = false)
        }
      val changed = next.filter(col("component") =!= col("old")).count()
      labels = next.select(col("id"), col("component"))
      converged = changed == 0L
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIter rounds — " +
          "raise maxIter or inspect the pair graph for pathological chains")
    labels
  }

  /** INCREMENTAL component maintenance — the append contract (q111 IVF
    * cells, q123 BM25 postings, q170 LM counts) applied to the dedup
    * graph: a batch of NEW candidate pairs (e.g. from
    * [[Dedup.incrementalCandidates]]) arrives and the persisted
    * (id, component) labeling is extended WITHOUT re-reading the old
    * edge list or re-converging untouched clusters.
    *
    * Device: an old cluster's labeling IS a connectivity certificate —
    * the star edges (member → label) reproduce exactly its connected
    * set at diameter ≤ 2. So only clusters containing an endpoint of a
    * new pair are re-solved: their star edges union the new pairs form
    * a graph whose components are PROVABLY the components of
    * (old edges ∪ new edges) restricted to the affected region, and
    * [[connectedComponents]] over it converges in O(1) pointer-doubled
    * rounds (stars are depth-1). Untouched rows pass through verbatim.
    * Labels stay canonical min-ids: every member id of an affected
    * cluster enters the re-solve via its star edge, so the merged
    * minimum is the true minimum. Append ≡ full recompute is proven in
    * spec (planted bridge merging two old clusters) and by the q172
    * oracle, which closes the ENTIRE unioned edge set in DuckDB.
    *
    * State touched: (id, label)-sized frames only — the old labeling,
    * the new pairs, and the affected slice; nothing corpus-sized, no
    * old-pair rescan. At 100 TB this is the difference between a
    * nightly full dedup-graph solve and a per-batch touch-up. */
  def appendToComponents(oldLabels: DataFrame, newPairs: DataFrame,
      maxIter: Int = 50, checkpointDir: Option[String] = None): DataFrame = {
    val touched = newPairs.select(col("a_id").as("id"))
      .union(newPairs.select(col("b_id").as("id")))
      .distinct()
    val affected = oldLabels.join(touched, Seq("id"))
      .select(col("component")).distinct()
    // star-edge certificate precondition: a label must itself be a
    // member id (connectedComponents' min-id labels always are). A
    // phantom label would enter the re-solve as a node that never
    // existed and could steal the minimum — checked on the AFFECTED
    // slice only (batch-bounded, not graph-bounded), typed failure per
    // the module's degenerate-input discipline.
    val phantom = affected.join(
        oldLabels.filter(col("id") === col("component")).select(col("component")),
        Seq("component"), "left_anti")
      .count()
    require(phantom == 0L,
      s"$phantom affected component label(s) are not member ids — " +
        "appendToComponents requires a labeling whose labels are ids " +
        "(the connectedComponents min-id contract)")
    val affectedRows = oldLabels.join(affected, Seq("component"))
    val untouched = oldLabels.join(affected, Seq("component"), "left_anti")
      .select(col("id"), col("component"))
    // star edges — INCLUDING the label's self row, so singleton clusters
    // survive the re-solve even when their only new contact is indirect
    val starPairs = affectedRows
      .select(col("id").as("a_id"), col("component").as("b_id"))
    val resolved = connectedComponents(
      starPairs.unionByName(newPairs.select(col("a_id"), col("b_id"))),
      maxIter, checkpointDir)
    untouched.unionByName(resolved)
  }

  /** Full near-dup dedup: keep one representative (min id) per component;
    * rows in no pair keep themselves. Returns the deduplicated df. */
  def dropNearDuplicates(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val comps = connectedComponents(pairs)
    val losers = comps.filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Quality-priority dedup: within each near-dup cluster keep the row
    * with the HIGHEST `priorityCol` (ties → min id) — the curation policy
    * real pipelines want (keep the longest / highest-quality duplicate),
    * where [[dropNearDuplicates]] keeps the arbitrary min-id. Returns one
    * row per CLUSTER: its label, size, the kept id and its priority.
    * Plan: clusters (O(log diameter) rounds) → broadcast-or-shuffle join
    * to df on id → one partial+final max_by aggregate per cluster. */
  def bestPerCluster(df: DataFrame, idCol: String, pairs: DataFrame,
      priorityCol: String): DataFrame =
    connectedComponents(pairs)
      .join(df.select(col(idCol).as("id"), col(priorityCol).as("_prio")), Seq("id"))
      .groupBy(col("component"))
      .agg(
        count(lit(1)).as("n_docs"),
        // max_by with explicit (priority, -id) tie-break: deterministic
        // regardless of partition order, unlike bare max_by on ties
        max(struct(col("_prio"), negate(col("id")), col("id"))).as("_best"))
      .select(
        col("component"),
        col("n_docs"),
        col("_best").getField("id").as("keep_id"),
        col("_best").getField("_prio").as("keep_prio"))

  /** PageRank over an undirected pair graph in PURE INTEGER arithmetic —
    * centrality for dedup-cluster graphs (which duplicate is the "hub"
    * the others orbit?) and the graph-analytics checkbox beyond
    * [[connectedComponents]]. Ranks are micro-units (Σ init = 10¹²);
    * the update r' = ⌊3·10¹²∕(20N)⌋ + ⌊85·Σ⌊r_u∕deg_u⌋∕100⌋ is the
    * standard d=0.85 damped rank with every division a FLOOR DIV — no
    * floats anywhere, so the result is bit-identical across partition
    * layouts and engines (the q108 oracle replays all iterations).
    * Floor-div leaks ≤ deg_u micro-units per node per round — a 10⁻⁶
    * relative perturbation, documented and deterministic.
    *
    * Scale: each iteration is one equi-join (adj ⋈ ranks on src — both
    * sides partitionable by src) + one combiner-friendly groupBy(dst);
    * nodes/degrees computed once. iters is a constant (3): total cost is
    * iters fact-sized shuffles, the textbook distributed-PR shape.
    * Undirected edges mean every node has deg ≥ 1 — no dangling mass. */
  def pageRankInt(pairs: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1, s"need iters >= 1, got $iters")
    // materialize the edge list ONCE: every iteration (and the degree
    // table) reuses it, so the upstream pair computation — often a full
    // MinHash candidate generation — runs once, not once per round
    val adj = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
      .distinct()
      .pin
    val deg = adj.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // N is a bounded scalar (node count), same driver footprint as
    // Ivf.train's nc-row init. An empty edge list means no nodes: return
    // the empty (id, pr_micro, deg) frame instead of dividing by zero.
    val n = deg.count()
    if (n == 0L)
      return deg.select(col("src").as("id"), lit(0L).as("pr_micro"), col("deg"))
    val init = 1000000000000L / n
    val base = 3000000000000L / (20L * n)
    var ranks = deg.select(col("src").as("id"), lit(init).as("r"))
    var it = 0
    while (it < iters) {
      val contrib = adj
        .join(ranks, col("src") === col("id"))
        .join(deg, "src")
        .select(col("dst"), expr("r div deg").as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("sc"))
      ranks = deg
        .join(contrib, col("src") === col("dst"), "left")
        .select(col("src").as("id"),
          (lit(base) + expr("(85 * coalesce(sc, 0L)) div 100")).as("r"))
      it += 1
      // lineage grows one join+agg per round: a shallow run (the common
      // iters=3) stays fully lazy — one plan, no forced materialization —
      // while deep runs cut lineage every 5 rounds like connectedComponents
      if (it % 5 == 0 && it < iters) ranks = Pin.cut(ranks, eager = true)
    }
    ranks.join(deg, col("id") === col("src"))
      .select(col("id"), col("r").as("pr_micro"), col("deg"))
  }

  /** Triangle census of an undirected pair graph — the density signal
    * that separates tight duplicate CLIQUES (template families, mirror
    * sets) from chains of borderline matches: one row with the triangle
    * count, the open-triad (wedge) count and the global clustering
    * coefficient 3·Δ∕wedges.
    *
    * Node-iterator formulation on ID-ORDERED edges (a < b): a triangle
    * (a < b < c) is counted exactly once by joining ordered edges
    * (a,b)⋈(b,c) on the middle vertex and closing with (a,c). Both
    * joins are equi-joins; the wedge count is Σ deg·(deg−1)∕2, one
    * grouped aggregate. Pure integer arithmetic + one final ratio. */
  def triangleCensus(pairs: DataFrame): DataFrame = {
    val e = pairs
      .select(least(col("a_id"), col("b_id")).as("a"),
        greatest(col("a_id"), col("b_id")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .pin
    val tri = e.select(col("a"), col("b").as("m"))
      .join(e.select(col("a").as("m"), col("b").as("c")), "m")
      .select(col("a"), col("c"))
      .join(e.withColumnRenamed("b", "c"), Seq("a", "c"))
      .agg(count(lit(1)).as("n_triangles"))
    val deg = e.select(col("a").as("id")).union(e.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    val wedges = deg.agg(
      sum(expr("deg * (deg - 1) div 2")).as("n_wedges"),
      count(lit(1)).as("n_nodes"))
    tri.crossJoin(wedges)
      .select(col("n_nodes"), col("n_wedges"), col("n_triangles"),
        when(col("n_wedges") === 0L, lit(0.0))
          .otherwise(round(lit(3.0) * col("n_triangles").cast("double") /
            col("n_wedges").cast("double"), 6)).as("clustering_coeff"))
  }

  /** DEGREE ASSORTATIVITY of an undirected pair graph (Newman 2002) —
    * the mixing readout next to [[triangleCensus]]'s clique density:
    * r > 0 says high-degree nodes attach to other high-degree nodes
    * (one template FAMILY of mutual near-dups — dedup will collapse it
    * cleanly), r < 0 says hubs attach to leaves (a star: one canonical
    * page matched by many one-off variants — survivor choice matters
    * much more). r is the Pearson correlation of the degrees at the two
    * ends of an edge, over both orientations:
    *   r = [S_xy∕2m − (S_x∕2m)²] ∕ [S_xx∕2m − (S_x∕2m)²]
    * with S_x = Σ_edges (d_u + d_v), S_xy = Σ d_u·d_v,
    * S_xx = Σ (d_u² + d_v²)∕… folded exactly.
    *
    * One row: (n_nodes, n_edges, assortativity).
    *
    * Determinism: degrees and all three sums are exact integers
    * (DECIMAL past 10⁹ edges); the only double is the final ratio,
    * 6 dp. A degree-regular graph (zero variance — every node the same
    * degree) reports 0.0, documented rather than NaN.
    *
    * Plan: dedupe to ID-ORDERED edges, one degree aggregate, two
    * broadcast joins of the (node, degree) table onto the edge ends,
    * ONE final aggregate — the [[triangleCensus]] shuffle shape minus
    * the wedge-closing join. */
  def degreeAssortativity(pairs: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val e = pairs
      .select(least(col("a_id"), col("b_id")).as("a"),
        greatest(col("a_id"), col("b_id")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .pin
    val deg = e.select(col("a").as("id")).union(e.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    val withDeg = e
      .join(deg.select(col("id").as("a"), col("deg").as("_da")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("deg").as("_db")), Seq("b"))
    val nNodes = deg.count()
    val sums = withDeg.agg(
      count(lit(1)).as("n_edges"),
      sum((col("_da") + col("_db")).cast(dec)).as("_sx"),
      sum(col("_da").cast(dec) * col("_db")).as("_sxy"),
      sum(col("_da").cast(dec) * col("_da") +
        col("_db").cast(dec) * col("_db")).as("_sxx"))
    def d(c: String) = col(c).cast("double")
    val twoM = lit(2.0d) * d("n_edges")
    val mu = d("_sx") / twoM
    val varD = d("_sxx") / twoM - mu * mu
    sums.select(lit(nNodes).as("n_nodes"), col("n_edges"),
      when(col("n_edges") === 0L || varD <= 0.0d, lit(0.0d))
        .otherwise(round((d("_sxy") / d("n_edges") - mu * mu) / varD, 6))
        .as("assortativity"))
  }

  /** k-CORE of an undirected pair graph by iterative peeling (Seidman
    * 1983; Batagelj–Zaveršnik's distributed analogue) — the density cut
    * that separates MUTUALLY-confirmed duplicate nests from incidental
    * pairs: a node survives the k-core iff it keeps ≥ k neighbors after
    * everything weaker is recursively removed. On a near-dup candidate
    * graph the 2-core is exactly the cycle-bearing clusters (template
    * families, mirror sets — every member corroborated by ≥ 2 others);
    * tree-shaped chains of borderline one-off matches peel away
    * entirely, however long. The survivor-quality signal [[pageRankInt]]
    * smooths, made exact.
    *
    * Returns (id, deg) for every surviving node, deg = degree WITHIN
    * the core (≥ k by definition).
    *
    * Each round deletes every node of current degree < k; a deletion
    * can expose new sub-k nodes, so rounds repeat until a fixpoint.
    * Rounds needed = the graph's peel depth, NOT its size: near-dup
    * graphs are shallow (clusters of diameter ≤ 2-3 peel in 1-2
    * rounds); the pathological deep case is a long path (each round
    * exposes only the next vertex), bounded by the typed `maxRounds`
    * ceiling — non-convergence throws rather than returning a silently
    * under-peeled core (the [[connectedComponents]] contract).
    *
    * Determinism: pure set arithmetic on exact integer degrees — no
    * floats anywhere, so the fixpoint is unique and replayable (the
    * oracle unrolls the same rounds; extra rounds past convergence are
    * no-ops, so a fixed unroll ≡ the fixpoint).
    *
    * Plan per round: one combiner-friendly degree aggregate over the
    * remaining edges + two anti joins against the sub-k node set (both
    * equi-joins on node id; the sub-k set shrinks rapidly and is
    * broadcast-sized after the first round), lineage cut per round with
    * [[graft.core.Pin.cut]] — edges-sized state, never corpus-sized. */
  def kCore(pairs: DataFrame, k: Int, maxRounds: Int = 32): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    require(maxRounds >= 1 && maxRounds <= 256,
      s"maxRounds must be in [1, 256], got $maxRounds")
    var e = Pin.cut(pairs
      .select(least(col("a_id"), col("b_id")).as("a"),
        greatest(col("a_id"), col("b_id")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct(), eager = true)
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      val deg = e.select(col("a").as("id")).union(e.select(col("b").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("deg"))
      val bad = Pin.cut(deg.filter(col("deg") < k.toLong).select(col("id")),
        eager = true) // referenced by BOTH anti joins
      if (bad.isEmpty) converged = true
      else e = Pin.cut(e
        .join(bad.withColumnRenamed("id", "a"), Seq("a"), "left_anti")
        .join(bad.withColumnRenamed("id", "b"), Seq("b"), "left_anti"),
        eager = true)
      round += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"kCore(k=$k) did not converge within $maxRounds peel rounds — " +
          "raise maxRounds or inspect the pair graph for deep chains")
    e.select(col("a").as("id")).union(e.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
  }

  /** SOFT dedup (SoftDeDup-style reweighting): instead of REMOVING
    * near-duplicates ([[dropNearDuplicates]] keeps one survivor per
    * cluster), keep every document and downweight it by its cluster
    * size — weight = 1∕|cluster| — so each near-dup CLUSTER contributes
    * exactly one document's worth of training mass however many copies
    * exist. The loss-shaping alternative when hard removal throws away
    * useful minor variants (each cluster's variants share the mass
    * instead of all-but-one dying). Docs in no pair are singletons with
    * weight 1.
    *
    * Returns (idCol, component, csize, weight). Plan: the components
    * solve over the PAIRS graph (pairs-sized, ≪ corpus), one corpus ⋈
    * labels left join, one cluster-size aggregate joined back — the
    * [[bestPerCluster]] shuffle shape with a weight instead of a
    * survivor cut. */
  def clusterWeights(df: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val lab = df.select(col(idCol))
      .join(connectedComponents(pairs).withColumnRenamed("id", idCol),
        Seq(idCol), "left")
      .withColumn("component", coalesce(col("component"), col(idCol)))
    val sz = lab.groupBy(col("component")).agg(count(lit(1)).as("csize"))
    lab.join(sz, Seq("component"))
      .select(col(idCol), col("component"), col("csize"),
        round(lit(1.0d) / col("csize").cast("double"), 6).as("weight"))
  }

  /** NEWMAN MODULARITY of a GIVEN node partition over an undirected
    * pair graph — "do the near-dup edges stay inside the communities?"
    * With communities = the connected components the answer is trivially
    * yes; the informative use labels nodes by an INDEPENDENT attribute
    * (source, language, topic): Q ≈ high means duplication is a
    * within-community phenomenon (safe to shard by that attribute),
    * Q ≈ 0 means edges ignore the attribute (cross-source contamination
    * — sharding by source will split duplicate families across shards).
    *
    * Q = Σ_c [e_c∕m − (d_c∕2m)²] over communities c, with e_c the
    * intra-community edge count, d_c the community degree sum and m the
    * edge count. Returns one row per community
    * (community, n_nodes, d_sum, e_within, q_term, q_total) ordered by
    * community — the per-community terms name WHICH community's term
    * drags Q down, and q_total repeats the partition-level sum.
    *
    * Determinism: every count is an exact integer; each term is
    * (4m·e_c − d_c²) ∕ (4m²) with the numerator in DECIMAL(38,0)
    * (d_c ≤ 2m, so d_c² overflows long past m ≈ 1.5·10⁹ edges) and ONE
    * fixed-order double division; q_total sums the nano-quantized
    * per-community terms as longs — bit-replayable in DuckDB.
    *
    * Plan: canonical edges materialize once (the [[triangleCensus]]
    * device); two edges⋈labels equi-joins, then everything is
    * arithmetic on the |communities|-bounded frame. m is a bounded
    * driver scalar (same footprint as [[pageRankInt]]'s node count).
    * Typed failures: empty edge set (Q undefined, 0∕0) and any edge
    * endpoint missing a community label (it would silently vanish from
    * d_c but not m). */
  def modularity(nodes: DataFrame, idCol: String, commCol: String,
      pairs: DataFrame): DataFrame = {
    val e = pairs
      .select(least(col("a_id"), col("b_id")).as("a"),
        greatest(col("a_id"), col("b_id")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .pin
    val m = e.count()
    require(m > 0L, "modularity needs a non-empty edge set — Q is 0/0 " +
      "on a graph with no edges")
    // r17: the node null guard is fused into the community-size
    // aggregate (guide §1.2) — null labels land in the null group key
    // and null ids in a counted flag on the |communities|-sized frame,
    // so the check no longer makes its own full pass over the nodes
    val lab = nodes.select(col(idCol).as("_id"), col(commCol).as("_c"))
    val nNodes = nodes
      .select(col(commCol).as("_c"), col(idCol).isNull.as("_badid"))
      .groupBy(col("_c")).agg(count(lit(1)).as("n_nodes"),
        sum(when(col("_badid"), lit(1L)).otherwise(lit(0L))).as("_bad"))
      .pin // |communities|-bounded; guard + join read the cache
    val nullLab = nNodes.filter(col("_c").isNull || col("_bad") > 0L)
      .count()
    require(nullLab == 0L, s"modularity needs non-NULL '$idCol'/'$commCol'")
    val j = e
      .join(lab.select(col("_id").as("a"), col("_c").as("_ca")), Seq("a"), "left")
      .join(lab.select(col("_id").as("b"), col("_c").as("_cb")), Seq("b"), "left")
      .pin // read 3×: probe, degrees, intra-edges
    val unlabeled = j.filter(col("_ca").isNull || col("_cb").isNull)
      .limit(1).count()
    require(unlabeled == 0L, "modularity: an edge endpoint has no " +
      s"community label in '$commCol' — it would drop from the degree " +
      "sums while its edges count in m; label every endpoint first")
    // community degree sums: each edge contributes 1 to both endpoints
    val dSum = j.select(col("_ca").as("_c")).union(j.select(col("_cb").as("_c")))
      .groupBy(col("_c")).agg(count(lit(1)).as("d_sum"))
    val eIn = j.filter(col("_ca") === col("_cb"))
      .groupBy(col("_ca").as("_c")).agg(count(lit(1)).as("e_within"))
    val per = nNodes.drop("_bad")
      .join(dSum, Seq("_c"), "left")
      .join(eIn, Seq("_c"), "left")
      .select(col("_c").as("community"), col("n_nodes"),
        coalesce(col("d_sum"), lit(0L)).as("d_sum"),
        coalesce(col("e_within"), lit(0L)).as("e_within"))
      .withColumn("q_term",
        round(((lit(4L) * lit(m)).cast("decimal(38,0)") *
          col("e_within").cast("decimal(38,0)") -
          col("d_sum").cast("decimal(38,0)") *
          col("d_sum").cast("decimal(38,0)")).cast("double") /
          (lit(4.0d) * lit(m).cast("double") * lit(m).cast("double")), 6))
      .pin // |communities|-bounded, read twice
    val qTot = per
      .select(round(col("q_term") * 1e9d).cast("long").as("_qn"))
      .agg(coalesce(sum(col("_qn")), lit(0L)).as("_qt"))
    per.crossJoin(broadcast(qTot))
      .select(col("community"), col("n_nodes"), col("d_sum"),
        col("e_within"), col("q_term"),
        round(col("_qt").cast("double") / 1e9d, 6).as("q_total"))
      .orderBy(col("community"))
  }

  /** BIPARTITE HITS (hubs & authorities, Kleinberg) over a two-sided
    * edge list — the "which items matter, which actors matter"
    * readout on interaction data: a user touching many high-authority
    * items is a strong hub, an item touched by strong hubs is a strong
    * authority. Unlike [[pageRankInt]]'s single score, the two sides
    * reinforce each other: h = Σ_adj a, a′ = Σ_adj h, iterated a fixed
    * `iters` rounds from the uniform start. Returns one row per node:
    * (side: "hub"|"auth", id, score_ppb, deg), both sides together.
    *
    * Determinism (the [[pageRankInt]] integer device, extended with
    * explicit renormalization): scores live on an integer
    * parts-per-billion grid summing to M = 10⁹; each half-step's raw
    * sums (each ≤ M, so raw·M ≤ 10¹⁸ stays in long) rescale by
    * `(raw · M) div Σraw` — floor division, so every score is an exact
    * integer function of the edge set and bit-replayable by an unrolled
    * DuckDB CTE chain. L1 normalization replaces the classical L2 (a
    * sqrt would leave the rational grid); the RANKING is identical —
    * the two differ by a positive global factor.
    *
    * Plan: the edge list materializes once; each round is two
    * node-sized equi-join+agg pairs plus two broadcast 1-row totals —
    * no driver-side data, no collect. Node-sized intermediates
    * checkpoint per round (lineage, not data, is the cost). Typed
    * failures: NULL endpoints. Empty edge set returns the empty frame. */
  def hitsBipartite(edges: DataFrame, hubCol: String, authCol: String,
      iters: Int = 3): DataFrame = {
    require(iters >= 1, s"need iters >= 1, got $iters")
    val M = 1000000000L
    // r17: null guard fused into the edge-distinct aggregate (guide
    // §1.2) — the flag rides the groupBy that distinct() was anyway,
    // so the check reads the pinned edge set, not the raw input
    val e0 = edges.select(col(hubCol).cast("long").as("hub"),
        col(authCol).cast("long").as("auth"),
        (col(hubCol).isNull || col(authCol).isNull).as("_badrow"))
      .groupBy(col("hub"), col("auth"))
      .agg(max(col("_badrow")).as("_bad"))
      .pin
    val nulls = e0.filter(col("_bad")).limit(1).count()
    require(nulls == 0L, s"hitsBipartite needs non-NULL '$hubCol'/'$authCol'")
    val e = e0.drop("_bad")
    if (e.isEmpty)
      return e.select(lit("hub").as("side"), col("hub").as("id"),
        lit(0L).as("score_ppb"), lit(0L).as("deg"))
    val hubDeg = e.groupBy(col("hub")).agg(count(lit(1)).as("deg"))
      .pin
    val authDeg = e.groupBy(col("auth")).agg(count(lit(1)).as("deg"))
      .pin
    val nAuth = authDeg.agg(count(lit(1)).as("_n")).head().getLong(0)
    // uniform integer start on the authority side: a₀ = M div |auth|
    var a = authDeg.select(col("auth"), expr(s"${M}L div ${nAuth}L").as("a"))
    var h: DataFrame = null
    var it = 0
    def rescale(raw: DataFrame, keyCol: String, out: String): DataFrame = {
      // one job per half-step: the lazy cut fills inside the total's
      // job, and the total comes back as a driver literal
      val r = Pin.cut(raw, eager = false) // node-sized; read 2×
      val totRow = r.agg(sum(col("_s")).as("_t")).head()
      // empty input → NULL sum; 0 divisor reproduces the old NULL-score
      // behavior of `div _t` with a NULL/zero total
      val tot = if (totRow.isNullAt(0)) 0L else totRow.getLong(0)
      r.select(col(keyCol), expr(s"(_s * ${M}L) div ${tot}L").as(out))
    }
    while (it < iters) {
      h = rescale(
        e.join(a, Seq("auth")).groupBy(col("hub"))
          .agg(sum(col("a")).as("_s")), "hub", "h")
      a = rescale(
        e.join(h, Seq("hub")).groupBy(col("auth"))
          .agg(sum(col("h")).as("_s")), "auth", "a")
      it += 1
    }
    h.join(hubDeg, Seq("hub"))
      .select(lit("hub").as("side"), col("hub").as("id"),
        col("h").as("score_ppb"), col("deg"))
      .unionAll(
        a.join(authDeg, Seq("auth"))
          .select(lit("auth").as("side"), col("auth").as("id"),
            col("a").as("score_ppb"), col("deg")))
      .orderBy(col("side"), col("score_ppb").desc, col("id"))
  }
}
