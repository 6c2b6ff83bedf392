package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Pin._

/** Distributed spectral probes of an embedding corpus — the linear-
  * algebra tier of the pipeline: the top principal component of the
  * (centered) covariance answers "is there one dominant direction in
  * this embedding space" (anisotropy / collapsed-embedding audits,
  * whitening prep, drift direction between corpus snapshots).
  *
  * Everything is INTEGER-EXACT so the DuckDB oracle replays the whole
  * computation bit-for-bit — no LAPACK, no float accumulation ordering:
  *
  *  1. vectors quantize to micro-int components (round(x·10⁶));
  *  2. the second-moment matrix Σ vmₚ·vm_q and the component sums Σ vmₚ
  *     accumulate in DECIMAL (exact at any corpus size — products are
  *     ≤ 10¹² per row) in ONE corpus pass, map-side combined;
  *  3. the scaled centered covariance A = n·Σxy − Σx·Σy (exact
  *     integers; scaling by n² · 10¹² changes no eigenvector) is
  *     normalized to ≤ 10⁶ integer entries (one deterministic double
  *     divide per matrix cell);
  *  4. power iteration runs a fixed number of rounds with L∞-normalized
  *     integer iterates ON THE DRIVER — the matrix is dims² rows, a
  *     MODEL, not data (the IVF-centroid contract: bounded by the
  *     `dims` config, never by corpus size), and every A·v product
  *     stays inside exact long range by construction (10⁶·10⁶·dims);
  *  5. the Rayleigh quotient and the explained-variance share
  *     λ / trace(A) are single fixed-order double expressions at the
  *     very end.
  *
  * Plan: ONE corpus pass, ONE job — the
  * [[graft.expr.SpectralMoments]] TypedImperativeAggregate accumulates
  * n, the component sums AND the dims·(dims+1)/2 upper-triangle second
  * moments in a single 128-bit-exact buffer per partition (dims² × 8 B
  * each, the reason for the 1024 dims ceiling), merged to one row —
  * the exchange carries partial BUFFERS, not dims² × partitions
  * exploded product rows, and the corpus is scanned once instead of
  * three times (pair moments / component sums / row count). The
  * centered covariance n·Σxy − Σx·Σy is then exact driver-side BigInt
  * math on the model-sized result. An earlier all-lazy formulation
  * re-walked the corpus lineage once per iteration level
  * (exponentially) — driver math on the model-sized matrix is the
  * correct shape at every scale. */
object Spectral {

  /** Top principal component: `k` rows (rnk, pos, loading, ev_share) —
    * the `k` dimensions with the largest |loading| on the dominant
    * eigenvector, plus the (constant) explained-variance share.
    *
    * Typed failures: NULL / wrong-length / out-of-range vectors fail
    * loudly inside the moment kernel (see [[graft.expr.SpectralMoments]])
    * instead of silently skewing the covariance; an empty corpus and a
    * zero covariance raise here. */
  def topComponent(df: DataFrame, vecCol: String, dims: Int,
      iters: Int = 5, k: Int = 8): DataFrame =
    topComponents(df, vecCol, dims, m = 1, iters, k).drop("comp")

  /** Top `m` principal components by HOTELLING DEFLATION — the
    * whitening prep a real embedding pipeline wants: after extracting
    * component c with Rayleigh estimate λ = num∕den, the matrix is
    * deflated A ← A − λ·v vᵀ∕(vᵀv) (one fixed-order double expression
    * per cell, half-up-quantized back to the ≤ 10⁶ integer grid) and
    * the next component is power-iterated on the residual. Everything
    * downstream of the ONE [[graft.expr.SpectralMoments]] corpus pass
    * is driver math on the dims² model matrix; each component's
    * ev_share is its Rayleigh quotient over the ORIGINAL trace, so the
    * shares of successive components add up toward 1.
    *
    * Returns m·k rows (comp, rnk, pos, loading, ev_share). Determinism:
    * the deflation cell update and both quotients are fixed-order
    * double expressions over exact integers — the q173 oracle replays
    * every iteration of every component, deflation included.
    *
    * Typed failures: NULL / wrong-length / out-of-range vectors fail
    * inside the moment kernel; an empty corpus, a zero covariance, a
    * collapsed iterate, and a rank-exhausted residual (m beyond the
    * spectrum) each raise here. */
  def topComponents(df: DataFrame, vecCol: String, dims: Int, m: Int,
      iters: Int = 5, k: Int = 8): DataFrame = {
    require(k >= 1 && k <= dims, s"k must be in [1, $dims], got $k")
    val spark = df.sparkSession
    import spark.implicits._
    val model = spectralModel(df, vecCol, dims, m, iters)
    val out = model.components.flatMap { c =>
      c.v.zipWithIndex
        .sortBy { case (x, p) => (-math.abs(x), p) }
        .take(k).zipWithIndex
        .map { case ((x, p), i) =>
          (c.comp.toLong, i + 1L, p.toLong,
            BigDecimal(x.toDouble / 1e6)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
            c.evShare)
        }
    }
    out.toDF("comp", "rnk", "pos", "loading", "ev_share")
  }

  /** One extracted component: the full L∞-normalized micro-integer
    * eigenvector, its Rayleigh pieces and the ev share vs the original
    * trace. */
  private[graft] final case class SpectralComponent(
      comp: Int, v: Array[Long], num: BigInt, den: Long, evShare: Double)

  private[graft] final case class SpectralModel(
      components: Seq[SpectralComponent], trace: Long)

  /** The shared driver computation behind [[topComponents]] and
    * [[pcaProjection]]: ONE SpectralMoments corpus pass, then
    * power-iteration + Hotelling deflation per component on the
    * model-sized integer matrix. */
  private[graft] def spectralModel(df: DataFrame, vecCol: String,
      dims: Int, m: Int, iters: Int): SpectralModel = {
    // dims ceiling is MEMORY, not taste: each partial buffer is
    // dims·(dims+1)/2 + dims 128-bit cells ≈ dims² × 8 B — 8.4 MB at
    // 1024; the pre-r14 4096 ceiling would cost 134 MB per partial
    require(dims >= 2 && dims <= 1024, s"dims must be in [2, 1024], got $dims")
    require(m >= 1 && m <= 16, s"components m must be in [1, 16], got $m")
    require(iters >= 1 && iters <= 16,
      s"power iteration rounds must be in [1, 16], got $iters")

    // ONE corpus pass: exact integer moments (map-side combined)
    val vm = df.select(expr(
      s"transform($vecCol, x -> cast(round(cast(x as double) * 1000000.0) as bigint))")
      .as("vm"))
    val mrow = vm
      .agg(graft.expr.SpectralMoments.of(col("vm"), dims).as("m"))
      .select(col("m.n").as("n"), col("m.sx").as("sx"), col("m.sxy").as("sxy"))
      .head()
    val n = BigInt(mrow.getLong(0))
    require(n.signum > 0,
      "corpus is empty — there is no covariance to analyze")
    val sxB = mrow.getSeq[String](1).map(BigInt(_)).toIndexedSeq
    val triB = mrow.getSeq[String](2).map(BigInt(_)).toIndexedSeq
    // triangle layout: cell (p ≤ q) at p·dims − p·(p−1)/2 + (q − p);
    // the full matrix is its mirror, so every cell reads the triangle
    // directly — no staging map
    def triIdx(p: Int, q: Int): Int = p * dims - p * (p - 1) / 2 + (q - p)
    def cell(p: Int, q: Int): BigInt = {
      val (lo, hi) = if (p <= q) (p, q) else (q, p)
      n * triB(triIdx(lo, hi)) - sxB(p) * sxB(q)
    }

    def halfUp(x: Double): Long =
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    // the mirrored cells repeat triangle values, so the max |cell| over
    // the full matrix is the max over the triangle
    val maInt = (for { p <- 0 until dims; q <- p until dims }
      yield cell(p, q).abs).max
    require(maInt.signum != 0,
      "covariance is identically zero (constant embeddings) — there is " +
        "no principal direction to report")
    val ma = maInt.toDouble
    val a = Array.tabulate(dims, dims)((p, q) =>
      halfUp(cell(p, q).toDouble / ma * 1e6))
    // trace of the ORIGINAL normalized matrix: every component's
    // ev_share is measured against the full variance
    val tr = (0 until dims).map(p => a(p)(p)).sum

    // integer power iteration with L∞ normalization (exact longs)
    def mulNorm(vIn: Array[Long]): (Array[Long], Array[Long]) = {
      val w = Array.tabulate(dims) { p =>
        var s = 0L; var q = 0
        while (q < dims) { s += a(p)(q) * vIn(q); q += 1 }
        s
      }
      val mInt = w.map(math.abs).max
      require(mInt != 0L,
        "power iteration collapsed to the zero vector (start vector in " +
          "the covariance nullspace) — perturb the input or reduce dims")
      val m = mInt.toDouble
      (w, w.map(x => halfUp(x.toDouble / m * 1e6)))
    }

    val comps = scala.collection.mutable.ArrayBuffer.empty[SpectralComponent]
    for (c <- 1 to m) {
      require(a.exists(_.exists(_ != 0L)),
        s"residual covariance exhausted before component $c — the " +
          s"spectrum has rank < $m at the integer grid's resolution")
      var v = Array.fill(dims)(1000000L)
      for (_ <- 1 to iters) v = mulNorm(v)._2
      val wLast = mulNorm(v)._1
      val num = v.indices.map(p => BigInt(v(p)) * BigInt(wLast(p))).sum
      val den = v.map(x => x * x).sum
      val evShare = BigDecimal(num.toDouble / den.toDouble / tr.toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      comps += SpectralComponent(c, v, num, den, evShare)
      if (c < m) {
        // Hotelling deflation on the integer grid; the cell update is
        // ONE left-associated double expression, replayed verbatim by
        // the oracle: num/den · v_p · v_q / den
        var p = 0
        while (p < dims) {
          var q = 0
          while (q < dims) {
            a(p)(q) -= halfUp(
              num.toDouble / den.toDouble * v(p).toDouble * v(q).toDouble /
                den.toDouble)
            q += 1
          }
          p += 1
        }
      }
    }
    SpectralModel(comps.toSeq, tr)
  }

  /** PCA PROJECTION — whitening APPLIED: every corpus vector is
    * projected onto the top-`m` deflated eigenvectors from
    * [[spectralModel]] and the `topN` most-aligned rows come back with
    * their projections and per-component alignment r² (squared cosine
    * to the component). This is the serving half of the q166/q173
    * audit: dominant-direction outlier mining, anisotropy hot-lists,
    * the rows a whitening pass would move furthest.
    *
    * Plan: pass 1 is the ONE SpectralMoments job (model build); pass 2
    * is MAP-ONLY over the corpus — the m eigenvectors ride along as
    * array literals, each dot product is an exact-long zip_with +
    * aggregate HOF (|vm| ≤ 3·10⁹ is already enforced by the moment
    * kernel on the SAME rows, and 3·10⁹ · 10⁶ · 1024 < 2⁶³), the
    * squared norm accumulates in DECIMAL(38) (vm² alone can reach
    * 9·10¹⁸), and the global top-N plans as TakeOrderedAndProject on
    * the EXACT integer projection (ties → id). Nothing shuffles but
    * the N survivors.
    *
    * Determinism: projections are exact integers; the scaled outputs
    * and r² are fixed-order double expressions over exact values — the
    * q174 oracle re-derives the eigenvectors AND replays the
    * projection arithmetic. Zero-norm vectors carry no direction and
    * are filtered (documented, mirrored in the oracle). */
  def pcaProjection(df: DataFrame, idCol: String, vecCol: String,
      dims: Int, m: Int = 2, iters: Int = 5, topN: Int = 50): DataFrame = {
    require(topN >= 1 && topN <= 100000, s"topN must be in [1, 1e5], got $topN")
    val model = spectralModel(df, vecCol, dims, m, iters)
    val vm = expr(
      s"transform($vecCol, x -> cast(round(cast(x as double) * 1000000.0) as bigint))")
    var out = df.select(col(idCol), vm.as("_vm"))
      .withColumn("_n2", expr(
        "aggregate(_vm, cast(0 as decimal(38,0)), " +
          "(acc, x) -> acc + cast(x as decimal(38,0)) * x)"))
      .filter(col("_n2") > 0)
    for (c <- model.components) {
      val lits = c.v.mkString("array(", "L, ", "L)")
      val v2 = c.v.map(x => x * x).sum // ≤ dims · 10¹² — exact long
      out = out
        .withColumn(s"_d${c.comp}", expr(
          s"aggregate(zip_with(_vm, $lits, (x, y) -> x * y), 0L, (a, p) -> a + p)"))
        .withColumn(s"proj${c.comp}",
          round(col(s"_d${c.comp}").cast("double") / lit(1e12d), 6))
        .withColumn(s"r2_${c.comp}",
          round((col(s"_d${c.comp}").cast("double") * col(s"_d${c.comp}").cast("double")) /
            (col("_n2").cast("double") * lit(v2.toDouble)), 6))
    }
    out
      .orderBy(col("_d1").desc +: col(idCol).asc +: Nil: _*)
      .limit(topN)
      .select(col(idCol) +:
        model.components.flatMap(c =>
          Seq(col(s"proj${c.comp}"), col(s"r2_${c.comp}"))): _*)
  }

  /** EMBEDDING-SPACE ISOTROPY audit — mean pairwise cosine of the
    * whole collection in ONE pass: Σᵢ≠ⱼ ûᵢ·ûⱼ = ‖Σû‖² − Σ‖û‖², so the
    * all-pairs number needs only the per-dimension sums, never a pair
    * join. A healthy embedding space sits near 0 (directions spread);
    * a mean cosine drifting toward 1 is the collapsed/anisotropic
    * space in which every ANN tier, SemDeDup threshold and semantic
    * decontamination margin silently degrades — this is the one-row
    * canary to trend per embedding-model version. One row:
    * (n, dim, mean_self, mean_pairwise_cos); mean_self ≈ 1.0 is the
    * quantization sanity readout.
    *
    * Determinism: each vector L2-normalizes once (left-fold double
    * sum-of-squares — the engine-portable fold order — then one sqrt)
    * and the UNIT components micro-quantize to longs; per-dim sums
    * and both quadratic forms are exact DECIMAL integers; the two
    * outputs are fixed-order double ratios on the 10¹² grid rounded
    * to 6 dp — bit-replayable. Zero vectors fail typed (no
    * direction), as do NULL vectors.
    *
    * Plan: one corpus-scale posexplode → dims-bounded groupBy
    * (map-side combined — the shuffle carries dims rows per
    * partition), then 1-row arithmetic. 100 TB of vectors audit in a
    * single scan with dims counters. */
  def isotropy(df: DataFrame, vecCol: String): DataFrame =
    isotropyFromPartials(isotropyPartial(df, vecCol))

  /** The dims-sized PARTIAL state of [[isotropy]] over a slice:
    * one row per dimension `(_dim, _cnt, _s, _q)` with the exact
    * integer count / unit-component sum / square sum. Partials from
    * any number of micro-batches re-aggregate per dimension to the
    * identical state, which is what makes the streaming monitor
    * ([[graft.streaming.IsotropyMonitor]]) ≡ the batch op by
    * construction. Typed failures (NULL / zero vectors) fire here,
    * per slice, before anything persists. */
  /** Guarded unit-component explode shared by the isotropy family
    * (r17, guide §1.2): a NULL vector explodes to the SENTINEL dim −1
    * and a zero-norm vector to −2 (real dims are array positions,
    * always ≥ 0), so both typed guards read the bounded per-dim grid
    * instead of each making its own full pass over the corpus. The
    * value expression for real rows is byte-identical to the old
    * posexplode(transform(...)) form. */
  private val unitGridExplode =
    "inline(CASE " +
      "WHEN _v IS NULL THEN " +
      "array(named_struct('_dim', -1, '_u', CAST(0 AS BIGINT))) " +
      "WHEN _nrm = CAST(0.0 AS DOUBLE) THEN " +
      "array(named_struct('_dim', -2, '_u', CAST(0 AS BIGINT))) " +
      "ELSE transform(_v, (x, i) -> named_struct('_dim', i, " +
      "'_u', CAST(round(CAST(x AS DOUBLE) / _nrm * 1000000.0) AS BIGINT))) " +
      "END)"

  private def withNormOf(df: DataFrame): DataFrame =
    df.withColumn("_nrm", sqrt(expr(
      "aggregate(_v, cast(0.0 as double), " +
        "(acc, x) -> acc + cast(x as double) * cast(x as double))")))

  private[graft] def isotropyPartial(df: DataFrame,
      vecCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    // guards fused into the one explode aggregate: the checks read the
    // pinned dims-sized grid (sentinel dims −1/−2), not the corpus
    val g = withNormOf(df.select(col(vecCol).as("_v")))
      .select(expr(unitGridExplode))
      .groupBy(col("_dim"))
      .agg(count(lit(1)).as("_cnt"),
        sum(col("_u").cast(dec)).as("_s"),
        sum(col("_u").cast(dec) * col("_u")).as("_q"))
      .pin // dims-sized; the guard agg materializes the cache
    val flags = g.agg(
      sum(when(col("_dim") === -1, lit(1L)).otherwise(lit(0L))).as("_b1"),
      sum(when(col("_dim") === -2, lit(1L)).otherwise(lit(0L))).as("_b2"))
      .head()
    require(flags.isNullAt(0) || flags.getLong(0) == 0L,
      s"isotropy needs non-NULL '$vecCol' vectors")
    require(flags.isNullAt(1) || flags.getLong(1) == 0L,
      "isotropy: a zero vector has no direction — filter it first")
    g
  }

  /** Per-GROUP isotropy — [[isotropy]] sharded by a label/source
    * column: WHICH subpopulation's directions collapsed, not just
    * whether the corpus did (a healthy global mean cosine can hide
    * one label's cluster collapsing while another spreads — exactly
    * the failure that poisons per-label centroids (q25) and k-NN
    * label audits). One row per group:
    * (group, n, dim, mean_self, mean_pairwise_cos) —
    * mean_pairwise_cos is NULL for single-vector groups (no pairs),
    * documented.
    *
    * Determinism: the [[isotropy]] grid device per group — exact
    * integer per-dimension sums, two quadratic forms, fixed-order
    * ratios. Ragged vector lengths WITHIN a group fail typed. Plan:
    * one corpus posexplode → (group × dims)-bounded groupBy
    * (map-side combined), one groups-sized aggregate. */
  def isotropyByGroup(df: DataFrame, groupCol: String,
      vecCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    // both typed guards ride the explode aggregate (sentinel dims −1/−2,
    // see [[unitGridExplode]]); the checks read the pinned groups frame
    val byG = withNormOf(
        df.select(col(groupCol).as("_g"), col(vecCol).as("_v")))
      .select(col("_g"), expr(unitGridExplode))
      .groupBy(col("_g"), col("_dim"))
      .agg(count(lit(1)).as("_cnt"),
        sum(col("_u").cast(dec)).as("_s"),
        sum(col("_u").cast(dec) * col("_u")).as("_q"))
      .groupBy(col("_g"))
      .agg(min(col("_cnt")).as("_mn"), max(col("_cnt")).as("_mx"),
        sum(col("_s") * col("_s")).as("_ss"), sum(col("_q")).as("_qq"),
        count(lit(1)).as("dim"),
        sum(when(col("_dim") === -1, lit(1L)).otherwise(lit(0L))).as("_b1"),
        sum(when(col("_dim") === -2, lit(1L)).otherwise(lit(0L))).as("_b2"))
      .pin // groups-sized, read twice (guard + output)
    val flags = byG.agg(
      sum(when(col("_g").isNull || col("_b1") > 0L, lit(1L))
        .otherwise(lit(0L))).as("_n1"),
      sum(when(col("_b2") > 0L, lit(1L)).otherwise(lit(0L))).as("_n2"))
      .head()
    require(flags.isNullAt(0) || flags.getLong(0) == 0L,
      s"isotropyByGroup needs non-NULL '$groupCol'/'$vecCol'")
    require(flags.isNullAt(1) || flags.getLong(1) == 0L,
      "isotropyByGroup: a zero vector has no direction — filter it first")
    require(byG.filter(col("_mn") =!= col("_mx")).limit(1).count() == 0L,
      "isotropyByGroup: ragged vector lengths within a group — " +
        "per-dimension counts disagree")
    def d(c: String) = col(c).cast("double")
    byG.select(col("_g").as("group"), col("_mx").as("n"), col("dim"),
        round(d("_qq") / d("_mx") / 1e12d, 6).as("mean_self"),
        when(col("_mx") >= 2L,
          round((d("_ss") - d("_qq")) /
            (d("_mx") * (d("_mx") - lit(1.0d))) / 1e12d, 6))
          .otherwise(lit(null).cast("double")).as("mean_pairwise_cos"))
      .orderBy(col("group"))
  }

  /** CROSS-GROUP mean-cosine matrix — the embedding-space SEPARATION
    * audit: for every label pair, the mean pairwise cosine between
    * their vectors via Σû_a·Σû_b ∕ (n_a·n_b) (and the
    * [[isotropyByGroup]] identity on the diagonal), all from
    * per-group per-dimension sums — the full k×k matrix of a
    * corpus's between-cluster geometry with NO pair join anywhere.
    * Diagonal ≫ off-diagonal = separable labels; a row whose
    * off-diagonal catches its diagonal is a label bleeding into its
    * neighbours — the geometry the k-NN label-noise audit (q156)
    * then confirms point by point. One row per unordered pair
    * (src_a ≤ src_b): (src_a, src_b, n_a, n_b, mean_cos); a
    * single-vector diagonal reports NULL (no pairs), documented.
    *
    * Determinism: the [[isotropy]] micro unit grid; every dot of
    * per-dim sums is an exact DECIMAL integer; one fixed-order
    * division per pair, 6 dp. Ragged lengths within a group fail
    * typed (via the shared grid build). Plan: one corpus posexplode
    * → (group × dims) groupBy, one dims-keyed self-join bounded at
    * k²·dims rows, one pair groupBy. */
  def crossGroupCosine(df: DataFrame, groupCol: String,
      vecCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    // both typed guards ride the explode aggregate (sentinel dims −1/−2,
    // see [[unitGridExplode]]); the checks read the pinned grid
    val gd = withNormOf(
        df.select(col(groupCol).as("_g"), col(vecCol).as("_v")))
      .select(col("_g"), expr(unitGridExplode))
      .groupBy(col("_g"), col("_dim"))
      .agg(count(lit(1)).as("_cnt"),
        sum(col("_u").cast(dec)).as("_s"),
        sum(col("_u").cast(dec) * col("_u")).as("_q"))
      .pin // (groups x dims)-sized, read three ways
    val flags = gd.agg(
      sum(when(col("_g").isNull || col("_dim") === -1, lit(1L))
        .otherwise(lit(0L))).as("_n1"),
      sum(when(col("_dim") === -2, lit(1L)).otherwise(lit(0L))).as("_n2"))
      .head()
    require(flags.isNullAt(0) || flags.getLong(0) == 0L,
      s"crossGroupCosine needs non-NULL '$groupCol'/'$vecCol'")
    require(flags.isNullAt(1) || flags.getLong(1) == 0L,
      "crossGroupCosine: a zero vector has no direction — filter it first")
    val ragged = gd.groupBy(col("_g"))
      .agg(min(col("_cnt")).as("_mn"), max(col("_cnt")).as("_mx"))
      .filter(col("_mn") =!= col("_mx")).limit(1).count()
    require(ragged == 0L, "crossGroupCosine: ragged vector lengths " +
      "within a group — per-dimension counts disagree")
    val a = gd.select(col("_g").as("src_a"), col("_dim"),
      col("_cnt").as("_na"), col("_s").as("_sa"), col("_q").as("_qa"))
    val b = gd.select(col("_g").as("src_b"), col("_dim"),
      col("_cnt").as("_nb"), col("_s").as("_sb"))
    def d(c: String) = col(c).cast("double")
    a.join(b, Seq("_dim"))
      .filter(col("src_a") <= col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(max(col("_na")).as("n_a"), max(col("_nb")).as("n_b"),
        sum(col("_sa") * col("_sb")).as("_dot"),
        sum(col("_qa")).as("_qq"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        when(col("src_a") === col("src_b"),
          when(col("n_a") >= 2L,
            round((d("_dot") - d("_qq")) /
              (d("n_a") * (d("n_a") - lit(1.0d))) / 1e12d, 6))
            .otherwise(lit(null).cast("double")))
          .otherwise(round(d("_dot") / (d("n_a") * d("n_b")) / 1e12d, 6))
          .as("mean_cos"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** [[isotropy]] over stacked (possibly per-batch partial) dim rows —
    * the cross-batch merge first (a no-op on a final state), then the
    * two quadratic forms. Output and determinism exactly as
    * [[isotropy]]. RAGGED input — vectors of different lengths across
    * slices — makes the per-dimension counts disagree and fails typed
    * here, instead of silently averaging dimensions that only some
    * vectors have. */
  private[graft] def isotropyFromPartials(partials: DataFrame): DataFrame = {
    val merged = partials.groupBy(col("_dim"))
      .agg(sum(col("_cnt")).as("_cnt"), sum(col("_s")).as("_s"),
        sum(col("_q")).as("_q"))
      .pin // dims-sized, read twice (guard + forms)
    val ns = merged.select(col("_cnt")).distinct()
      .limit(2).collect().map(_.getLong(0))
    require(ns.nonEmpty, "isotropy needs >= 2 vectors, got 0")
    require(ns.length == 1,
      "isotropy: ragged vector lengths — per-dimension counts disagree " +
        s"(saw ${ns.mkString(", ")}, ...)")
    val n = ns.head
    require(n >= 2L, s"isotropy needs >= 2 vectors, got $n")
    val tot = merged.agg(sum(col("_s") * col("_s")).as("_ss"),
      sum(col("_q")).as("_qq"), count(lit(1)).as("dim"))
    def d(c: String) = col(c).cast("double")
    tot.select(lit(n).as("n"), col("dim"),
      round(d("_qq") / lit(n.toDouble) / 1e12d, 6).as("mean_self"),
      round((d("_ss") - d("_qq")) / lit((n.toDouble) * (n - 1).toDouble) /
        1e12d, 6).as("mean_pairwise_cos"))
  }
}
