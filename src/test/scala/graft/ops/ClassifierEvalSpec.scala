package graft.ops

import graft.SparkSpecBase

class ClassifierEvalSpec extends SparkSpecBase {
  import spark.implicits._

  test("cohenKappa matches the hand-computed identity on a known confusion") {
    // classic 2×2: a=20 both-yes, d=15 both-no, b=5, c=10 → N=50,
    // agree=35, po=0.7; marginals A: yes 25, no 25; B: yes 30, no 20 →
    // pe = (25·30 + 25·20)/2500 = 0.5 → kappa = 0.2/0.5 = 0.4
    val rows =
      Seq.fill(20)(("y", "y")) ++ Seq.fill(5)(("y", "n")) ++
      Seq.fill(10)(("n", "y")) ++ Seq.fill(15)(("n", "n"))
    val out = ClassifierEval.cohenKappa(rows.toDF("a", "b"), "a", "b")
      .as[(Long, Long, Double, Double, Double)].collect()
    assert(out.toSeq == Seq((50L, 35L, 0.7d, 0.5d, 0.4d)), out.toSeq.toString)
  }

  test("cohenKappa: chance-level agreement reports ~0; degenerate constant pair reports 1") {
    // independent marginals engineered so po == pe exactly → kappa = 0
    val rows =
      Seq.fill(9)(("y", "y")) ++ Seq.fill(21)(("y", "n")) ++
      Seq.fill(21)(("n", "y")) ++ Seq.fill(49)(("n", "n"))
    val k0 = ClassifierEval.cohenKappa(rows.toDF("a", "b"), "a", "b")
      .select("kappa").as[Double].head()
    assert(k0 == 0.0d, s"po==pe must give kappa 0, got $k0")
    val k1 = ClassifierEval.cohenKappa(
      Seq.fill(7)(("x", "x")).toDF("a", "b"), "a", "b")
      .select("kappa").as[Double].head()
    assert(k1 == 1.0d, s"constant agreeing pair must report 1.0, got $k1")
  }

  test("cohenKappa and classificationReport fail typed on NULL labels") {
    val df = Seq(("y", Some("y")), ("n", None)).toDF("a", "b")
    val e1 = intercept[IllegalArgumentException] {
      ClassifierEval.cohenKappa(df, "a", "b").collect()
    }
    assert(e1.getMessage.contains("non-NULL"))
    intercept[IllegalArgumentException] {
      ClassifierEval.classificationReport(df, "a", "b").collect()
    }
  }

  test("fleissKappa matches the hand-computed identity; unanimous input reports 1; NULL fails typed") {
    // S2=28, N=4, n=3, Nn=12: p_bar=16/24, C=(6,6) -> c2=72, p_e=0.5,
    // kappa = (192-144)/(2*72) = 1/3
    val rows = Seq(
      (1L, "a", "a", "a"),
      (2L, "a", "a", "b"),
      (3L, "b", "b", "b"),
      (4L, "a", "b", "b")).toDF("item", "r1", "r2", "r3")
    val out = ClassifierEval.fleissKappa(rows, "item", Seq("r1", "r2", "r3"))
      .as[(Long, Long, Double, Double, Double)].head()
    assert(out == ((4L, 3L, 0.666667d, 0.5d, 0.333333d)), out.toString)
    // partition-layout independence
    val rep = ClassifierEval.fleissKappa(rows.repartition(5), "item",
      Seq("r1", "r2", "r3")).as[(Long, Long, Double, Double, Double)].head()
    assert(rep == out)
    val unanimous = Seq((1L, "k", "k"), (2L, "k", "k")).toDF("item", "r1", "r2")
    val k1 = ClassifierEval.fleissKappa(unanimous, "item", Seq("r1", "r2"))
      .select("kappa").as[Double].head()
    assert(k1 == 1.0d)
    val withNull = Seq((1L, Some("a"), "a"), (2L, None, "b"))
      .toDF("item", "r1", "r2")
    intercept[IllegalArgumentException] {
      ClassifierEval.fleissKappa(withNull, "item", Seq("r1", "r2"))
    }
    intercept[IllegalArgumentException] {
      ClassifierEval.fleissKappa(rows, "item", Seq("r1"))
    }
  }

  test("conformal: exact order-statistic threshold, coverage audit, typed degenerate sets") {
    import org.apache.spark.sql.functions._
    // label 0 everywhere → nonconformity s == conf; calibration (odd
    // ids) holds s = 0.1..0.9, eval (even ids) holds 0.45 and 0.55
    val pred = ((1 to 9).map(i => (i * 2L - 1L, i / 10.0d)) ++
      Seq((100L, 0.45d), (102L, 0.55d))).toDF("id", "conf")
    val labels = pred.select($"id", lit(0L).as("y"))
    def run(alpha: Double) = ClassifierEval.conformal(pred, labels, "id",
        "conf", "y", calPred = col("id") % 2 === 1, alpha = alpha)
      .as[(Long, Long, Double, Long, Double, Double)].head()
    // alpha=0.1: k = ceil(10*0.9) = 9 → threshold 0.9, both eval covered
    assert(run(0.1d) == ((9L, 2L, 0.1d, 9L, 0.9d, 1.0d)), run(0.1d).toString)
    // alpha=0.5: k = 5 → threshold 0.5, only 0.45 covered
    assert(run(0.5d) == ((9L, 2L, 0.5d, 5L, 0.5d, 0.5d)), run(0.5d).toString)
    // exact-integer k: n_cal+1 = 10 divisible by 10 must NOT round up
    // (double ceil(18.000…004) bug class) — covered by k = 9 above
    val tiny = Seq((1L, 0.2d), (2L, 0.3d)).toDF("id", "conf")
    val tinyLab = tiny.select($"id", lit(0L).as("y"))
    intercept[IllegalArgumentException] {
      ClassifierEval.conformal(tiny, tinyLab, "id", "conf", "y",
        calPred = col("id") === 1L, alpha = 0.1d)
    }
    intercept[IllegalArgumentException] {
      ClassifierEval.conformal(pred, labels, "id", "conf", "y",
        calPred = col("id") % 2 === 1, alpha = 1.5d)
    }
  }

  test("scoreDrift: identical snapshots score 0, a full shift scores high; fixed bin shape") {
    val a = Seq.fill(5)(0.05d).toDF("conf")
    val b = Seq.fill(5)(0.95d).toDF("conf")
    val same = ClassifierEval.scoreDrift(a, a, "conf", bins = 10)
      .as[(Long, Long, Long, Double, Double, Double, Double)].collect()
    assert(same.length == 10, "readout shape must be all bins")
    assert(same.forall(r => r._6 == 0.0d && r._7 == 0.0d), same.toSeq.toString)
    val drift = ClassifierEval.scoreDrift(a, b, "conf", bins = 10)
      .as[(Long, Long, Long, Double, Double, Double, Double)].collect()
      .sortBy(_._1)
    // replicate bin 0's term with the op's exact arithmetic
    val pa = math.round(6.0 / 15.0 * 1e6d) / 1e6d   // rounded shares
    val pb = math.round(1.0 / 15.0 * 1e6d) / 1e6d
    val t0 = math.round((pa - pb) * math.log(pa / pb) * 1e6d) / 1e6d
    assert(drift(0)._6 == t0, s"${drift(0)} vs $t0")
    assert(drift.head._7 > 1.0d, "a full-bin shift must read as major drift")
    intercept[IllegalArgumentException] {
      ClassifierEval.scoreDrift(a, b, "conf", bins = 1)
    }
    intercept[IllegalArgumentException] {
      ClassifierEval.scoreDrift(Seq(1.5d).toDF("conf"), b, "conf")
    }
  }

  test("classificationReport: per-class P/R/F1, zero rows for one-sided classes") {
    // gold: a×3, b×2, c×1; predicted: a hits 2/3, b never predicted,
    // d hallucinated twice
    val rows = Seq(
      ("a", "a"), ("a", "a"), ("a", "d"),
      ("b", "d"), ("b", "c"),
      ("c", "c"))
    val out = ClassifierEval.classificationReport(rows.toDF("g", "p"), "g", "p")
      .orderBy("class")
      .as[(String, Long, Long, Long, Double, Double, Double, Double)]
      .collect().toSeq
    // tp: a=2, c=1 (gold c predicted c), d=0 (no gold d), b=0
    // f1: a = 4/(3+2)=0.8; b = 0; c = 2/(1+2)=0.666667; d = 0
    // macroF1 over 4 classes = (800000+0+666667+0)/(4·1e6)
    val macroF1 = math.round((800000L + 666667L) / 4.0d) / 1e6d // = 0.366667
    assert(out == Seq(
      ("a", 3L, 2L, 2L, 1.0d, 0.666667d, 0.8d, macroF1),
      ("b", 2L, 0L, 0L, 0.0d, 0.0d, 0.0d, macroF1),
      ("c", 1L, 2L, 1L, 0.5d, 1.0d, 0.666667d, macroF1),
      ("d", 0L, 2L, 0L, 0.0d, 0.0d, 0.0d, macroF1)), out.toString)
  }

  test("ksDistance: hand-checked sup, smallest-score tie-break, typed guards") {
    def ks(a: Seq[Double], b: Seq[Double]) =
      ClassifierEval.ksDistance(a.toDF("conf"), b.toDF("conf"), "conf")
        .as[(Long, Long, Double, Double)].head()
    // F_A - F_B peaks at 0.5 from score 0.2 onward; smallest argmax wins
    assert(ks(Seq(0.1, 0.2, 0.3, 0.4), Seq(0.3, 0.4, 0.5, 0.6))
      == ((4L, 4L, 0.5, 0.2)))
    // identical single-point distributions: d = 0 at that score
    assert(ks(Seq(0.5), Seq(0.5)) == ((1L, 1L, 0.0, 0.5)))
    // disjoint supports: d = 1 at the lower score
    assert(ks(Seq(0.1), Seq(0.9)) == ((1L, 1L, 1.0, 0.1)))
    // unequal sizes: A = {.1,.2}, B = {.15}: at .1 |1*1-0*2|=1 -> 1/2;
    // at .15 |1*1-1*2|=1 -> tie, argmax stays at the smallest score .1
    assert(ks(Seq(0.1, 0.2), Seq(0.15)) == ((2L, 1L, 0.5, 0.1)))
    intercept[IllegalArgumentException] {
      ClassifierEval.ksDistance(
        Seq(Option.empty[Double]).toDF("conf"), Seq(0.5).toDF("conf"), "conf")
    }
    intercept[IllegalArgumentException] {
      ClassifierEval.ksDistance(
        spark.emptyDataFrame.selectExpr("CAST(1.0 AS DOUBLE) AS conf"),
        Seq(0.5).toDF("conf"), "conf")
    }
  }


  test("nmi: identical partitions score 1 under any relabeling, independent score 0, constant scores 0") {
    def run(rows: Seq[(String, String)]) =
      ClassifierEval.nmi(rows.toDF("a", "b"), "a", "b")
        .as[(Long, Double, Double, Double, Double)].head()
    // identical partition, same names
    assert(run(Seq(("a", "a"), ("a", "a"), ("b", "b")))._5 == 1.0d)
    // identical partition, DIFFERENT names — the case kappa cannot score
    assert(run(Seq(("a", "x"), ("a", "x"), ("b", "y")))._5 == 1.0d)
    // independent partitions: every cell n=1, pointwise MI = ln(1) = 0
    val ind = run(Seq(("a", "x"), ("a", "y"), ("b", "x"), ("b", "y")))
    assert(ind._4 == 0.0d && ind._5 == 0.0d, ind.toString)
    // constant labeling carries no information: entropy 0 -> nmi 0, no NaN
    val const = run(Seq(("a", "x"), ("a", "y")))
    assert(const._2 == 0.0d && const._5 == 0.0d, const.toString)
    // hand-check entropies on the 2/3-1/3 split
    val h = run(Seq(("a", "a"), ("a", "a"), ("b", "b")))
    val expH = math.round((-(2.0 / 3.0 * math.log(2.0 / 3.0)) * 1e9 +
      -(1.0 / 3.0 * math.log(1.0 / 3.0)) * 1e9) / 1e9 * 1e6) / 1e6.toDouble
    assert(math.abs(h._2 - expH) < 2e-6, s"${h._2} vs $expH")
  }

  test("mannWhitney: hand-checked U/r/z with ties, identical cohorts, guards") {
    // A = {1,2,3}, B = {2,3,4}: U_A = 2 (one win + two half-ties),
    // ties t = (2,2) => sum(t^3-t) = 12
    val a = Seq(1.0, 2.0, 3.0).toDF("s")
    val b = Seq(2.0, 3.0, 4.0).toDF("s")
    val got = ClassifierEval.mannWhitney(a, b, "s")
      .as[(Long, Long, Double, Double, Double)].head()
    val varU = 3.0 * 3.0 / 12.0 * ((6.0 + 1.0) - 12.0 / (6.0 * 5.0))
    val z = BigDecimal((2.0 - 4.5) / math.sqrt(varU))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == ((3L, 3L, 2.0d, -0.555556d, z)), got.toString)
    // identical cohorts: U = n1*n2/2 exactly, z = 0, r = 0
    val same = ClassifierEval.mannWhitney(a, a, "s")
      .as[(Long, Long, Double, Double, Double)].head()
    assert(same == ((3L, 3L, 4.5d, 0.0d, 0.0d)), same.toString)
    // all scores equal on both sides: zero variance -> documented z = 0
    val const = Seq(0.5, 0.5).toDF("s")
    val cz = ClassifierEval.mannWhitney(const, const, "s")
      .select($"z").as[Double].head()
    assert(cz == 0.0d)
    intercept[IllegalArgumentException](ClassifierEval.mannWhitney(
      Seq(Option.empty[Double]).toDF("s"), b, "s"))
    intercept[IllegalArgumentException](ClassifierEval.mannWhitney(
      a.filter($"s" > 99.0), b, "s"))
  }

  test("chiSquare: perfect association, independence, degenerate dof = 0") {
    // two perfectly associated binary labelings: chi2 = N, V = 1
    val assoc = (Seq.fill(10)(("a1", "b1")) ++ Seq.fill(10)(("a2", "b2")))
      .toDF("x", "y")
    val g1 = ClassifierEval.chiSquare(assoc, "x", "y")
      .as[(Long, Long, Long, Long, Double, Double)].head()
    assert(g1 == ((20L, 2L, 2L, 1L, 20.0d, 1.0d)), g1.toString)
    // exact independence: chi2 = 0 (zero-observed cells included)
    val indep = (Seq.fill(5)(("a1", "b1")) ++ Seq.fill(5)(("a1", "b2")) ++
      Seq.fill(5)(("a2", "b1")) ++ Seq.fill(5)(("a2", "b2"))).toDF("x", "y")
    val g2 = ClassifierEval.chiSquare(indep, "x", "y")
      .as[(Long, Long, Long, Long, Double, Double)].head()
    assert(g2 == ((20L, 2L, 2L, 1L, 0.0d, 0.0d)), g2.toString)
    // a constant column has dof = 0: documented zeros, never NaN
    val flat = Seq(("a1", "b1"), ("a2", "b1")).toDF("x", "y")
    val g3 = ClassifierEval.chiSquare(flat, "x", "y")
      .as[(Long, Long, Long, Long, Double, Double)].head()
    assert(g3 == ((2L, 2L, 1L, 0L, 0.0d, 0.0d)), g3.toString)
    intercept[IllegalArgumentException](ClassifierEval.chiSquare(
      Seq(("a1", Option.empty[String])).toDF("x", "y"), "x", "y"))
  }

  test("mcnemar: hand-traced cells and continuity-corrected statistic") {
    // both=3, only_a=6, only_b=2, neither=1:
    // chi2 = (|6-2| - 1)^2 / 8 = 9/8 = 1.125
    val rows = (Seq.fill(3)((true, true)) ++ Seq.fill(6)((true, false)) ++
      Seq.fill(2)((false, true)) ++ Seq.fill(1)((false, false)))
      .toDF("a", "b")
    val got = ClassifierEval.mcnemar(rows, "a", "b")
      .as[(Long, Long, Long, Long, Long, Double)].head()
    assert(got == ((12L, 3L, 6L, 2L, 1L, 1.125d)), got.toString)
    // partition invariance
    val rep = ClassifierEval.mcnemar(rows.repartition(5), "a", "b")
      .as[(Long, Long, Long, Long, Long, Double)].head()
    assert(rep == got)
  }

  test("mcnemar: degenerate disagreement counts and typed guards") {
    // gates never disagree -> chi2 = 0.0, never NaN
    val agree = Seq((true, true), (false, false), (true, true)).toDF("a", "b")
    val g1 = ClassifierEval.mcnemar(agree, "a", "b")
      .as[(Long, Long, Long, Long, Long, Double)].head()
    assert(g1 == ((3L, 2L, 0L, 0L, 1L, 0.0d)), g1.toString)
    // |b - c| = 1: the corrected numerator clamps at 0
    val one = Seq((true, false), (false, true), (false, true)).toDF("a", "b")
    val g2 = ClassifierEval.mcnemar(one, "a", "b")
      .as[(Long, Long, Long, Long, Long, Double)].head()
    assert(g2 == ((3L, 0L, 1L, 2L, 0L, 0.0d)), g2.toString)
    intercept[IllegalArgumentException](ClassifierEval.mcnemar(
      Seq((true, Option.empty[Boolean])).toDF("a", "b"), "a", "b"))
  }

  test("ksDistanceByGroup: per-group sup matches ksDistance; empty cohort reports 0") {
    // g1: disjoint supports -> d = 1 at the lower score; g2: identical
    // single-point cohorts -> d = 0; g3: only cohort B present -> zeros
    val df = Seq(
      ("g1", true, 0.1), ("g1", false, 0.9),
      ("g2", true, 0.5), ("g2", false, 0.5),
      ("g3", false, 0.3), ("g3", false, 0.7))
      .toDF("src", "early", "conf")
    val got = ClassifierEval.ksDistanceByGroup(df, "src", "early", "conf")
      .orderBy($"src")
      .as[(String, Long, Long, Double, Double)].collect().toSeq
    assert(got == Seq(
      ("g1", 1L, 1L, 1.0d, 0.1d),
      ("g2", 1L, 1L, 0.0d, 0.5d),
      ("g3", 0L, 2L, 0.0d, 0.0d)), got.toString)
    // per-group rows agree with the global op run on that group alone
    val solo = ClassifierEval.ksDistance(
        df.filter($"src" === "g1" && $"early").select($"conf"),
        df.filter($"src" === "g1" && !$"early").select($"conf"), "conf")
      .as[(Long, Long, Double, Double)].head()
    assert((got.head._2, got.head._3, got.head._4, got.head._5) == solo)
    intercept[IllegalArgumentException](ClassifierEval.ksDistanceByGroup(
      Seq(("g", Option.empty[Boolean], 0.5)).toDF("src", "early", "conf"),
      "src", "early", "conf"))
  }

  test("cupedLift: imbalanced pre-period is corrected toward the true effect") {
    // Y = X + 5 for arm b, Y = X for arm a; but b's users happen to have
    // higher pre-period X (12, 22 vs 10, 20) -> raw lift over-reads 7,
    // CUPED pulls it to 2000/416 = 4.807692 with theta = 456/416
    val df = Seq(
      ("u1", "a", 10.0, 10.0), ("u2", "a", 20.0, 20.0),
      ("u3", "b", 17.0, 12.0), ("u4", "b", 27.0, 22.0))
      .toDF("u", "arm", "y", "x")
    val got = ClassifierEval.cupedLift(df, "arm", "y", "x")
      .as[(String, String, Long, Long, Double, Double, Double, Double)]
      .head()
    assert(got._1 == "a" && got._2 == "b" && got._3 == 2L && got._4 == 2L)
    assert(got._5 == 7.0d, s"raw lift: $got")
    assert(math.abs(got._6 - 4.807692d) < 1e-6, s"cuped lift: $got")
    assert(math.abs(got._7 - 1.096154d) < 1e-6, s"theta: $got")
    assert(math.abs(got._8 - 207936.0d / 247936.0d) < 1e-6, s"rho2: $got")
  }

  test("cupedLift: zero covariate variance degrades to the raw lift") {
    val df = Seq(("u1", "a", 10.0, 7.0), ("u2", "b", 16.0, 7.0))
      .toDF("u", "arm", "y", "x")
    val got = ClassifierEval.cupedLift(df, "arm", "y", "x")
      .as[(String, String, Long, Long, Double, Double, Double, Double)]
      .head()
    assert(got._5 == 6.0d && got._6 == 6.0d && got._7 == 0.0d &&
      got._8 == 0.0d, got.toString)
    intercept[IllegalArgumentException](ClassifierEval.cupedLift(
      df.filter($"arm" === "a"), "arm", "y", "x"))
    intercept[IllegalArgumentException](ClassifierEval.cupedLift(
      df.union(Seq(("u3", "c", 1.0, 1.0)).toDF("u", "arm", "y", "x")),
      "arm", "y", "x"))
    intercept[IllegalArgumentException](ClassifierEval.cupedLift(
      Seq(("u1", "a", Option.empty[Double], 1.0), ("u2", "b", Option(1.0), 1.0))
        .toDF("u", "arm", "y", "x"), "arm", "y", "x"))
  }

  test("cupedLift: a NULL arm next to three others reports the NULL, not the arm count") {
    val df = Seq(Option("a"), Option("b"), Option("c"), None).zipWithIndex
      .map { case (arm, i) => (s"u$i", arm, 1.0, 1.0) }.toDF("u", "arm", "y", "x")
    val e = intercept[IllegalArgumentException](
      ClassifierEval.cupedLift(df, "arm", "y", "x"))
    assert(e.getMessage.contains("needs non-NULL 'arm'/'y'/'x' values"), e.getMessage)
  }

  test("cochranQ: hand-traced statistic; unanimous docs cancel") {
    // C=(3,2,1), T=6, sumR2=14: Q = 2*(3*14-36)/(18-14) = 3.0
    val df = Seq(
      (1L, 1L, 1L, 1L), (2L, 1L, 0L, 0L),
      (3L, 1L, 1L, 0L), (4L, 0L, 0L, 0L)).toDF("id", "a", "b", "c")
    val got = ClassifierEval.cochranQ(df, Seq("a", "b", "c"))
      .as[(Long, Long, Long, Double)].head()
    assert(got == ((4L, 3L, 2L, 3.0d)), got.toString)
    // dropping the unanimous docs leaves Q unchanged (paired property)
    val core = ClassifierEval.cochranQ(df.filter($"id" === 2L || $"id" === 3L),
      Seq("a", "b", "c")).as[(Long, Long, Long, Double)].head()
    assert(core._4 == 3.0d, core.toString)
  }

  test("cochranQ: degenerate all-unanimous input and typed guards") {
    val unanimous = Seq((1L, 1L, 1L), (2L, 0L, 0L)).toDF("id", "a", "b")
    val got = ClassifierEval.cochranQ(unanimous, Seq("a", "b"))
      .as[(Long, Long, Long, Double)].head()
    assert(got == ((2L, 2L, 1L, 0.0d)), got.toString)
    intercept[IllegalArgumentException](ClassifierEval.cochranQ(
      Seq((1L, 2L, 1L)).toDF("id", "a", "b"), Seq("a", "b")))
    intercept[IllegalArgumentException](ClassifierEval.cochranQ(
      Seq((1L, Option.empty[Long], 1L)).toDF("id", "a", "b"), Seq("a", "b")))
    intercept[IllegalArgumentException](ClassifierEval.cochranQ(
      unanimous, Seq("a", "a")))
    intercept[IllegalArgumentException](ClassifierEval.cochranQ(
      unanimous, Seq("a")))
  }

  test("adjustedRand matches the hand-traced pair counts") {
    // A = [1,1,1,2,2,2], B = [1,1,2,2,3,3]: Sij = 2, Sa = 6, Sb = 3,
    // Sn = 15 → exp = 1.2, max = 4.5 → ARI = 0.8/3.3 = 0.242424
    val rows = Seq((1, 1), (1, 1), (1, 2), (2, 2), (2, 3), (2, 3))
    val got = ClassifierEval.adjustedRand(rows.toDF("a", "b"), "a", "b")
      .as[(Long, Long, Long, Long, Double)].head()
    assert(got == ((6L, 2L, 6L, 3L, 0.242424d)), got.toString)
  }

  test("adjustedRand: identical = 1, independent-opposed < 0, degenerates") {
    val same = Seq((1, 1), (1, 1), (2, 2), (2, 2)).toDF("a", "b")
    assert(ClassifierEval.adjustedRand(same, "a", "b")
      .select("ari").as[Double].head() == 1.0d)
    // crossed 2×2 (every cell 1): Sij = 0, exp = 2/3, max = 2 → −0.5
    val crossed = Seq((1, 1), (1, 2), (2, 1), (2, 2)).toDF("a", "b")
    assert(ClassifierEval.adjustedRand(crossed, "a", "b")
      .select("ari").as[Double].head() == -0.5d)
    // both all-singletons: identical up to names → convention 1.0
    val singl = Seq((1, 4), (2, 5), (3, 6)).toDF("a", "b")
    assert(ClassifierEval.adjustedRand(singl, "a", "b")
      .select("ari").as[Double].head() == 1.0d)
    // singletons vs one cluster: Sij = 0, exp = 0, max = 1.5 → 0.0
    val oneVs = Seq((1, 9), (2, 9), (3, 9)).toDF("a", "b")
    assert(ClassifierEval.adjustedRand(oneVs, "a", "b")
      .select("ari").as[Double].head() == 0.0d)
    intercept[IllegalArgumentException](ClassifierEval.adjustedRand(
      Seq((Some(1), 1), (None, 2)).toDF("a", "b"), "a", "b"))
  }

  test("vMeasure: identical = 1/1/1, independent = 0/0/0, one-cluster candidate") {
    val same = Seq((1, 1), (1, 1), (2, 2), (2, 2)).toDF("a", "b")
    val s = ClassifierEval.vMeasure(same, "a", "b")
      .select("homogeneity", "completeness", "v_measure")
      .as[(Double, Double, Double)].head()
    assert(s == ((1.0d, 1.0d, 1.0d)), s.toString)
    val crossed = Seq((1, 1), (1, 2), (2, 1), (2, 2)).toDF("a", "b")
    val c = ClassifierEval.vMeasure(crossed, "a", "b")
      .select("homogeneity", "completeness", "v_measure")
      .as[(Double, Double, Double)].head()
    assert(c == ((0.0d, 0.0d, 0.0d)), c.toString)
    // candidate glues everything: H(B) = 0 → completeness 1 (convention),
    // homogeneity 0 (clusters mix both classes), V = 0
    val glued = Seq((1, 9), (1, 9), (2, 9), (2, 9)).toDF("a", "b")
    val g = ClassifierEval.vMeasure(glued, "a", "b")
      .select("homogeneity", "completeness", "v_measure")
      .as[(Double, Double, Double)].head()
    assert(g == ((0.0d, 1.0d, 0.0d)), g.toString)
    intercept[IllegalArgumentException](ClassifierEval.vMeasure(
      Seq((Some(1), 1), (None, 2)).toDF("a", "b"), "a", "b"))
  }

  test("mantelHaenszel: single stratum equals the crude OR; zero cells stay honest NULLs") {
    // a=4 b=2 c=1 d=3, n=10: OR = 12/2 = 6; MH over one stratum = same
    val rows = Seq.fill(4)(("s", true, true)) ++ Seq.fill(2)(("s", true, false)) ++
      Seq.fill(1)(("s", false, true)) ++ Seq.fill(3)(("s", false, false))
    val got = ClassifierEval.mantelHaenszel(
      rows.toDF("st", "e", "o"), "st", "e", "o")
      .as[(String, Long, Long, Long, Long, Long, Option[Double], Option[Double])]
      .head()
    assert(got == (("s", 10L, 4L, 2L, 1L, 3L, Some(6.0d), Some(6.0d))),
      got.toString)
    // a zero b·c cell: or_stratum NULL, but its ad/n still pools
    val z = Seq(("s1", true, true), ("s1", false, false),
      ("s2", true, true), ("s2", true, false),
      ("s2", false, true), ("s2", false, false))
    val out = ClassifierEval.mantelHaenszel(
      z.toDF("st", "e", "o"), "st", "e", "o")
      .select("stratum", "or_stratum", "or_mh")
      .as[(String, Option[Double], Option[Double])].collect().toSeq
    assert(out.head == (("s1", None, out.head._3)), out.toString)
    assert(out.forall(_._3.isDefined), out.toString)
    intercept[IllegalArgumentException](ClassifierEval.mantelHaenszel(
      Seq(("s", Option.empty[Boolean], true)).toDF("st", "e", "o"),
      "st", "e", "o"))
  }

  test("mantelHaenszel pools the two-stratum hand case") {
    // s1: 10/5/4/8 n=27 → ad = 80/27, bc = 20/27
    // s2: 2/6/3/9  n=20 → ad = 18/20, bc = 18/20
    val rows =
      Seq.fill(10)(("s1", true, true)) ++ Seq.fill(5)(("s1", true, false)) ++
      Seq.fill(4)(("s1", false, true)) ++ Seq.fill(8)(("s1", false, false)) ++
      Seq.fill(2)(("s2", true, true)) ++ Seq.fill(6)(("s2", true, false)) ++
      Seq.fill(3)(("s2", false, true)) ++ Seq.fill(9)(("s2", false, false))
    val orMh = ClassifierEval.mantelHaenszel(
      rows.toDF("st", "e", "o"), "st", "e", "o")
      .select("or_mh").as[Double].head()
    val sad = math.round(80.0d / 27.0d * 1e9d) + math.round(18.0d / 20.0d * 1e9d)
    val sbc = math.round(20.0d / 27.0d * 1e9d) + math.round(18.0d / 20.0d * 1e9d)
    val want = BigDecimal(sad.toDouble / sbc.toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(orMh == want, s"got $orMh want $want")
  }

  test("permutationDriftBh: planted separation rejects, determinism, BH prefix") {
    // gA: cohort means 1.0 vs 0.0 (maximal gap); gB/gC: identical flat
    // scores (gap 0 — every replicate ties or exceeds, p = 1)
    def grp(g: String, hi: Boolean): Seq[(String, Long, Boolean, Double)] =
      (0 until 20).map { i =>
        val in = i < 10
        val v =
          if (g == "gA") { if (in) 1.0d else 0.0d } else 0.5d
        (g, (g.hashCode.toLong & 0xffff) * 100 + i, in, v)
      }
    val df = (grp("gA", hi = true) ++ grp("gB", hi = false) ++
      grp("gC", hi = false)).toDF("g", "id", "in", "s")
    val out = ClassifierEval.permutationDriftBh(df, "g", "in", "s", "id",
      b = 19).collect()
    val byG = out.map(r => r.getString(0) ->
      (r.getLong(4), r.getLong(5), r.getLong(7), r.getBoolean(8))).toMap
    // flat groups: zero observed gap — every relabeling is ≥ → p = 1
    assert(byG("gB")._2 == 20L && byG("gC")._2 == 20L, byG.toString)
    assert(!byG("gB")._4 && !byG("gC")._4, byG.toString)
    // planted group: p = 1/20 ≤ (1/3)·0.05·... BH with m=3: needs
    // p₍₁₎ ≤ (1/3)·(1/20) → 1/20 ≤ 1/60 is FALSE → nothing rejected
    // at α=0.05; at α=0.2 the cut passes (1/20 ≤ 1/15)
    assert(byG("gA")._1 == 0L && byG("gA")._2 == 1L, byG.toString)
    val out2 = ClassifierEval.permutationDriftBh(df, "g", "in", "s", "id",
      b = 19, alphaNum = 1, alphaDen = 5).collect()
    val rej = out2.map(r => r.getString(0) -> r.getBoolean(8)).toMap
    assert(rej("gA") && !rej("gB") && !rej("gC"), rej.toString)
    // determinism: the md5 device makes replicates a pure function
    val again = ClassifierEval.permutationDriftBh(df, "g", "in", "s", "id",
      b = 19).collect()
    assert(out.map(_.toString).toSeq == again.map(_.toString).toSeq)
    // rejected rows form a p_rank prefix
    val ranked = out2.sortBy(_.getLong(7))
    assert(ranked.map(_.getBoolean(8)).dropWhile(identity).forall(!_))
  }

  test("permutationDriftBh: typed guards") {
    import org.apache.spark.sql.functions.lit
    val ok = Seq(("g", 1L, true, 0.5d), ("g", 2L, false, 0.4d))
      .toDF("g", "id", "in", "s")
    intercept[IllegalArgumentException](
      ClassifierEval.permutationDriftBh(ok, "g", "in", "s", "id", b = 5))
    intercept[IllegalArgumentException](
      ClassifierEval.permutationDriftBh(
        ok.withColumn("s", lit(null).cast("double")), "g", "in", "s", "id",
        b = 19))
    // one-cohort group: observed mean gap undefined → typed
    intercept[IllegalArgumentException](
      ClassifierEval.permutationDriftBh(
        Seq(("g", 1L, true, 0.5d), ("g", 2L, true, 0.4d))
          .toDF("g", "id", "in", "s"), "g", "in", "s", "id", b = 19))
  }

  test("cronbachAlpha: perfectly coupled gates = 1, independent = 0, constant-total degenerate") {
    // identical items: itemVar = 4+4, totVar = 4·8 − 16 = 16 → α = 1
    val coupled = Seq((1L, 1L), (1L, 1L), (0L, 0L), (0L, 0L)).toDF("a", "b")
    assert(ClassifierEval.cronbachAlpha(coupled, Seq("a", "b"))
      .select("alpha").as[Double].head() == 1.0d)
    // orthogonal items: totVar = 4·6 − 16 = 8 = itemVar sum → α = 0
    val indep = Seq((1L, 1L), (1L, 0L), (0L, 1L), (0L, 0L)).toDF("a", "b")
    assert(ClassifierEval.cronbachAlpha(indep, Seq("a", "b"))
      .select("alpha").as[Double].head() == 0.0d)
    // anti-coupled: every row total 1 → zero total variance → 0.0
    val anti = Seq((1L, 0L), (1L, 0L), (0L, 1L), (0L, 1L)).toDF("a", "b")
    assert(ClassifierEval.cronbachAlpha(anti, Seq("a", "b"))
      .select("alpha").as[Double].head() == 0.0d)
    intercept[IllegalArgumentException](ClassifierEval.cronbachAlpha(
      Seq((2L, 1L)).toDF("a", "b"), Seq("a", "b")))
    intercept[IllegalArgumentException](ClassifierEval.cronbachAlpha(
      coupled, Seq("a", "a")))
    intercept[IllegalArgumentException](ClassifierEval.cronbachAlpha(
      coupled, Seq("a")))
  }

  test("covariateBalance: hand-traced SMD, zero-variance NULL, typed guards") {
    import org.apache.spark.sql.functions.{col, concat}
    // A: x = 1,3 (mean 2, s² 2); B: x = 5,9 (mean 7, s² 8) →
    // pooled 5, SMD = −5/√5 = −2.236068
    val df = Seq(("A", 1.0d, 10.0d), ("A", 3.0d, 10.0d),
      ("B", 5.0d, 10.0d), ("B", 9.0d, 10.0d)).toDF("arm", "x", "c")
    val got = ClassifierEval.covariateBalance(df, "arm", Seq("x", "c"))
      .as[(String, Long, Long, Double, Double, Option[Double])]
      .collect().toSeq
    assert(got.head == (("x", 2L, 2L, 2.0d, 7.0d, Some(-2.236068d))),
      got.toString)
    // constant covariate: means equal, pooled variance 0 → honest NULL
    assert(got(1) == (("c", 2L, 2L, 10.0d, 10.0d, None)), got.toString)
    intercept[IllegalArgumentException](ClassifierEval.covariateBalance(
      df.withColumn("arm", concat(col("arm"), col("x").cast("string"))),
      "arm", Seq("x"))) // 4 arms
    intercept[IllegalArgumentException](ClassifierEval.covariateBalance(
      Seq(("A", 1.0d), ("A", 2.0d), ("B", 3.0d)).toDF("arm", "x"),
      "arm", Seq("x"))) // arm with < 2 rows
    intercept[IllegalArgumentException](ClassifierEval.covariateBalance(
      Seq(("A", Option.empty[Double])).toDF("arm", "x"), "arm", Seq("x")))
  }

  test("powerAnalysis: hand-traced normal-approximation sizing") {
    // A: 1,2,3 (mean 2, s^2=1); B: 2,4 (mean 3, s^2=2)
    // pooled = (2*1 + 1*2)/3 = 4/3; delta = 1
    // n = ceil(2 * 4/3 * (1.959964+0.841621)^2 / 1) = ceil(20.930...) = 21
    val df = Seq(("A", 1.0d), ("A", 2.0d), ("A", 3.0d),
      ("B", 2.0d), ("B", 4.0d)).toDF("arm", "y")
    val got = ClassifierEval.powerAnalysis(df, "arm", "y")
      .as[(Long, Long, Double, Double, Double, Double, Option[Long])]
      .collect().toSeq
    assert(got == Seq((3L, 2L, 2.0d, 3.0d, 1.0d, 1.154701d, Some(21L))),
      got.toString)
  }

  test("powerAnalysis: zero observed effect reports NULL n_required") {
    val df = Seq(("A", 1.0d), ("A", 3.0d), ("B", 2.0d), ("B", 2.0d))
      .toDF("arm", "y")
    val got = ClassifierEval.powerAnalysis(df, "arm", "y")
      .as[(Long, Long, Double, Double, Double, Double, Option[Long])]
      .collect().toSeq
    assert(got == Seq((2L, 2L, 2.0d, 2.0d, 0.0d, 1.0d, None)), got.toString)
  }

  test("powerAnalysis: typed guards") {
    val ok = Seq(("A", 1.0d), ("A", 2.0d), ("B", 3.0d), ("B", 4.0d))
    intercept[IllegalArgumentException](ClassifierEval.powerAnalysis(
      (ok :+ (("C", 5.0d))).toDF("arm", "y"), "arm", "y")) // 3 arms
    intercept[IllegalArgumentException](ClassifierEval.powerAnalysis(
      Seq(("A", 1.0d), ("A", 2.0d), ("B", 3.0d)).toDF("arm", "y"),
      "arm", "y")) // arm with < 2 rows
    intercept[IllegalArgumentException](ClassifierEval.powerAnalysis(
      Seq(("A", Option.empty[Double]), ("A", Some(2.0d)), ("B", Some(3.0d)),
        ("B", Some(4.0d))).toDF("arm", "y"), "arm", "y"))
    intercept[IllegalArgumentException](ClassifierEval.powerAnalysis(
      ok.toDF("arm", "y"), "arm", "y", zAlpha = 0.0d))
  }

  test("wilsonInterval: hand-traced bounds stay in [0, 1], typed guards") {
    val df = (Seq.fill(50)(("A", 1L)) ++ Seq.fill(50)(("A", 0L)) ++
      Seq.fill(10)(("B", 0L)) ++ Seq.fill(10)(("C", 1L)))
      .toDF("g", "y")
    val got = ClassifierEval.wilsonInterval(df, "g", "y")
      .as[(String, Long, Long, Double, Double, Double)].collect().toSeq
    assert(got == Seq(
      ("A", 100L, 50L, 0.5d, 0.403832d, 0.596168d),
      ("B", 10L, 0L, 0.0d, 0.0d, 0.277533d),
      ("C", 10L, 10L, 1.0d, 0.722467d, 1.0d)), got.toString)
    intercept[IllegalArgumentException](ClassifierEval.wilsonInterval(
      Seq(("A", 2L)).toDF("g", "y"), "g", "y"))
    intercept[IllegalArgumentException](ClassifierEval.wilsonInterval(
      df, "g", "y", zCrit = 0.0d))
  }

  test("cochranArmitage: perfect trend z = 2, flat NULL, typed guards") {
    // buckets 0,1,2 with n = 2 each, keeps 0,1,2: A = 12, B = 216
    // -> t = 2, var = 1, z = 2 exactly
    val df = Seq((0L, 0L), (0L, 0L), (1L, 0L), (1L, 1L), (2L, 1L),
      (2L, 1L)).toDF("b", "y")
    val got = ClassifierEval.cochranArmitage(df, "b", "y")
      .as[(Long, Long, Long, Double, Double, Option[Double])]
      .collect().toSeq
    assert(got == Seq((6L, 3L, 3L, 2.0d, 1.0d, Some(2.0d))), got.toString)
    // all-pass labels: p(1-p) = 0 -> NULL z (t_stat = 0 too)
    val flat = ClassifierEval.cochranArmitage(
      Seq((0L, 1L), (1L, 1L)).toDF("b", "y"), "b", "y")
      .as[(Long, Long, Long, Double, Double, Option[Double])]
      .collect().toSeq
    assert(flat == Seq((2L, 2L, 2L, 0.0d, 0.0d, None)), flat.toString)
    intercept[IllegalArgumentException](ClassifierEval.cochranArmitage(
      Seq((0L, 2L)).toDF("b", "y"), "b", "y"))
    intercept[IllegalArgumentException](ClassifierEval.cochranArmitage(
      Seq((Option.empty[Long], Some(1L))).toDF("b", "y"), "b", "y"))
  }

  test("partialCorrelation: hand-traced first-order partial, guards") {
    // x = 1..4, z = 1,1,2,2, y = 0,1,1,3:
    // r_xy = 0.923381, r_xz = 0.894427, r_yz = 0.688247 ->
    // r_partial = 0.948683
    val df = Seq((1.0d, 0.0d, 1.0d), (2.0d, 1.0d, 1.0d),
      (3.0d, 1.0d, 2.0d), (4.0d, 3.0d, 2.0d)).toDF("x", "y", "z")
    val got = ClassifierEval.partialCorrelation(df, "x", "y", "z")
      .as[(Long, Double, Double, Double, Option[Double])].collect().toSeq
    assert(got == Seq((4L, 0.923381d, 0.894427d, 0.688247d,
      Some(0.948683d))), got.toString)
    // z == x: |r_xz| = 1 -> NULL partial, documented
    val coll = ClassifierEval.partialCorrelation(
      Seq((1.0d, 0.0d, 1.0d), (2.0d, 1.0d, 2.0d), (3.0d, 1.0d, 3.0d))
        .toDF("x", "y", "z"), "x", "y", "z")
      .as[(Long, Double, Double, Double, Option[Double])].collect().toSeq
    assert(coll.head._5.isEmpty && coll.head._3 == 1.0d, coll.toString)
    intercept[IllegalArgumentException](ClassifierEval.partialCorrelation(
      Seq((1.0d, 1.0d, 1.0d), (1.0d, 2.0d, 2.0d)).toDF("x", "y", "z"),
      "x", "y", "z")) // zero-variance x
    intercept[IllegalArgumentException](ClassifierEval.partialCorrelation(
      Seq((Option.empty[Double], Some(1.0d), Some(1.0d)))
        .toDF("x", "y", "z"), "x", "y", "z"))
  }

  test("gwetAc1: survives the kappa paradox; single-category degenerate") {
    // 90 (y,y), 5 (y,n), 5 (n,y): po = 0.9 but kappa = -0.052632;
    // AC1 = (4*100*90 - 3800)/(4*10000 - 3800) = 0.889503
    val rows = Seq.fill(90)(("y", "y")) ++ Seq.fill(5)(("y", "n")) ++
      Seq.fill(5)(("n", "y"))
    val got = ClassifierEval.gwetAc1(rows.toDF("a", "b"), "a", "b")
      .as[(Long, Long, Long, Double, Option[Double], Double)]
      .collect().toSeq
    assert(got == Seq((100L, 2L, 90L, 0.9d, Some(0.095d), 0.889503d)),
      got.toString)
    val kap = ClassifierEval.cohenKappa(rows.toDF("a", "b"), "a", "b")
      .select($"kappa").as[Double].head()
    assert(kap == -0.052632d, s"the paradox table must sink kappa: $kap")
    // single category: pe undefined, agreement trivially perfect
    val solo = ClassifierEval.gwetAc1(
      Seq.fill(7)(("x", "x")).toDF("a", "b"), "a", "b")
      .as[(Long, Long, Long, Double, Option[Double], Double)]
      .collect().toSeq
    assert(solo == Seq((7L, 1L, 7L, 1.0d, None, 1.0d)), solo.toString)
  }

  test("hellingerByGroup: hand-traced BC, identical group zero, guards") {
    // A all in bin 0, B all in bin 1 (bins = 2): each group shares
    // half the corpus mass in its one bin -> BC = sqrt(1/2),
    // H = sqrt(1 - 0.707106781) = 0.541196
    val df = Seq(("A", 0.1d), ("A", 0.1d), ("B", 0.9d), ("B", 0.9d))
      .toDF("g", "conf")
    val got = ClassifierEval.hellingerByGroup(df, "g", "conf", bins = 2)
      .as[(String, Long, Double, Double)].collect().toSeq
    assert(got == Seq(("A", 2L, 0.707107d, 0.541196d),
      ("B", 2L, 0.707107d, 0.541196d)), got.toString)
    // a single group IS the corpus: BC clamps to 1, H = 0
    val solo = ClassifierEval.hellingerByGroup(
      Seq(("A", 0.1d), ("A", 0.7d)).toDF("g", "conf"), "g", "conf",
      bins = 2).as[(String, Long, Double, Double)].collect().toSeq
    assert(solo == Seq(("A", 2L, 1.0d, 0.0d)), solo.toString)
    intercept[IllegalArgumentException](ClassifierEval.hellingerByGroup(
      Seq(("A", 1.5d)).toDF("g", "conf"), "g", "conf"))
    intercept[IllegalArgumentException](ClassifierEval.hellingerByGroup(
      df, "g", "conf", bins = 1))
  }

  test("cramerVonMises: hand-traced integrated gap, identical zero") {
    // A {1,2}, B {3,4}: terms 4+16+4+0 = 24 -> T = 24/(4*16) = 0.375
    // mean_h0 = (1 + 1/4)/6 = 0.208333
    val a = Seq(1.0d, 2.0d).toDF("conf")
    val b = Seq(3.0d, 4.0d).toDF("conf")
    val got = ClassifierEval.cramerVonMises(a, b, "conf")
      .as[(Long, Long, Double, Double, Long)].collect().toSeq
    assert(got == Seq((2L, 2L, 0.375d, 0.208333d, 0L)), got.toString)
    // identical samples integrate to exactly zero
    val same = ClassifierEval.cramerVonMises(a, a, "conf")
      .as[(Long, Long, Double, Double, Long)].collect().toSeq
    assert(same.head._3 == 0.0d && same.head._5 == 0L, same.toString)
    intercept[IllegalArgumentException](
      ClassifierEval.cramerVonMises(a, b.limit(0), "conf"))
  }

  test("ksTest: hand-traced Kolmogorov p at lambda = 1, D = 0 reports 1") {
    // A {0.1, 0.2}, B {0.3, 0.4}: D = 1 at 0.2; ne = 1 -> lambda = 1
    // p = 2(e^-2 - e^-8 + e^-18 - ...) = 0.27 on the pico grid
    val a = Seq(0.1d, 0.2d).toDF("conf")
    val b = Seq(0.3d, 0.4d).toDF("conf")
    val got = ClassifierEval.ksTest(a, b, "conf")
      .as[(Long, Long, Double, Double, Double, Double)].collect().toSeq
    assert(got == Seq((2L, 2L, 1.0d, 0.2d, 1.0d, 0.27d)), got.toString)
    // identical samples: D = 0 -> p = 1 exactly (series excluded)
    val same = ClassifierEval.ksTest(a, a, "conf")
      .as[(Long, Long, Double, Double, Double, Double)].collect().toSeq
    assert(same.head._3 == 0.0d && same.head._6 == 1.0d, same.toString)
    intercept[IllegalArgumentException](
      ClassifierEval.ksTest(a, b.limit(0), "conf"))
    intercept[IllegalArgumentException](ClassifierEval.ksTest(
      Seq(Option.empty[Double]).toDF("conf"), b, "conf"))
  }

  test("kruskalWallis: tie-free and tied hand cases") {
    // A {1,2}, B {3,4}: ranks 1..4, R_A=3, R_B=7 ->
    // H = 12/20 * (2*1 + 2*1) = 2.4, no ties so h_adj = h
    val df = Seq(("A", 1.0d), ("A", 2.0d), ("B", 3.0d), ("B", 4.0d))
      .toDF("src", "conf")
    val got = ClassifierEval.kruskalWallis(df, "src", "conf")
      .as[(Long, Long, Long, Double, Double, Option[Double])]
      .collect().toSeq
    assert(got == Seq((4L, 2L, 1L, 2.4d, 1.0d, Some(2.4d))), got.toString)
    // A {1,1}, B {1,2}: avg ranks 2,2,2,4 -> H = 0.6; tie term
    // t=3 at value 1 -> C = 1 - 24/60 = 0.6 -> h_adj = 1.0
    val tied = Seq(("A", 1.0d), ("A", 1.0d), ("B", 1.0d), ("B", 2.0d))
      .toDF("src", "conf")
    val t = ClassifierEval.kruskalWallis(tied, "src", "conf")
      .as[(Long, Long, Long, Double, Double, Option[Double])]
      .collect().toSeq
    assert(t == Seq((4L, 2L, 1L, 0.6d, 0.6d, Some(1.0d))), t.toString)
  }

  test("kruskalWallis: all-tied NULL h_adj, typed guards") {
    val const = Seq(("A", 1.0d), ("A", 1.0d), ("B", 1.0d))
      .toDF("src", "conf")
    val got = ClassifierEval.kruskalWallis(const, "src", "conf")
      .as[(Long, Long, Long, Double, Double, Option[Double])]
      .collect().toSeq
    assert(got == Seq((3L, 2L, 1L, 0.0d, 0.0d, None)), got.toString)
    intercept[IllegalArgumentException](ClassifierEval.kruskalWallis(
      Seq(("A", 1.0d), ("A", 2.0d)).toDF("src", "conf"), "src", "conf"))
    intercept[IllegalArgumentException](ClassifierEval.kruskalWallis(
      Seq(("A", Option.empty[Double]), ("B", Some(1.0d)))
        .toDF("src", "conf"), "src", "conf"))
  }

  test("brownForsythe: hand-traced F on median absolute deviations") {
    // A {0,2}: lower median 0, z {0,2}; B {1,5}: lower median 1, z {0,4}
    // SSB = 10 - 9 = 1, SSW = 20 - 10 = 10, F = (1/1)/(10/2) = 0.2
    val df = Seq(("A", 0.0d), ("A", 2.0d), ("B", 1.0d), ("B", 5.0d))
      .toDF("src", "conf")
    val got = ClassifierEval.brownForsythe(df, "src", "conf")
      .as[(Long, Long, Long, Long, Double, Double, Option[Double])]
      .collect().toSeq
    assert(got == Seq((4L, 2L, 1L, 2L, 1.0d, 10.0d, Some(0.2d))),
      got.toString)
  }

  test("brownForsythe: zero within-spread NULL f, typed guards") {
    // both groups constant: every z = 0 -> SSW = 0 -> F undefined
    val const = Seq(("A", 1.0d), ("A", 1.0d), ("B", 2.0d), ("B", 2.0d))
      .toDF("src", "conf")
    val got = ClassifierEval.brownForsythe(const, "src", "conf")
      .as[(Long, Long, Long, Long, Double, Double, Option[Double])]
      .collect().toSeq
    assert(got == Seq((4L, 2L, 1L, 2L, 0.0d, 0.0d, None)), got.toString)
    intercept[IllegalArgumentException](ClassifierEval.brownForsythe(
      Seq(("A", 1.0d), ("A", 2.0d)).toDF("src", "conf"), "src", "conf"))
    intercept[IllegalArgumentException](ClassifierEval.brownForsythe(
      Seq(("A", 1.0d), ("B", 2.0d)).toDF("src", "conf"),
      "src", "conf")) // N = k: no within dof
    intercept[IllegalArgumentException](ClassifierEval.brownForsythe(
      Seq(("A", Option.empty[Double]), ("B", Some(1.0d)))
        .toDF("src", "conf"), "src", "conf"))
  }

  test("mccSweep: hand-traced confusion grid, argmax flag, conventions") {
    // scores .1 .2 .3 .4 with labels 0 0 1 1: threshold .3 is perfect
    val pred = Seq((1L, 0.1d), (2L, 0.2d), (3L, 0.3d), (4L, 0.4d))
      .toDF("id", "conf")
    val lab = Seq((1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L)).toDF("id", "keep")
    val got = ClassifierEval.mccSweep(pred, lab, "id", "conf", "keep")
      .as[(Double, Long, Long, Long, Long, Double, Double, Long)]
      .collect().toSeq
    assert(got.map(_._1) == Seq(0.1d, 0.2d, 0.3d, 0.4d))
    val best = got.filter(_._8 == 1L)
    assert(best.size == 1 && best.head._1 == 0.3d, got.toString)
    assert(best.head._6 == 1.0d && best.head._7 == 1.0d, best.toString)
    // threshold .1 keeps everything: tp=2 fp=2 fn=0 tn=0 -> a zero
    // marginal -> mcc 0.0 by convention; youden = 1 + 0 - 1 = 0
    val t1 = got.head
    assert((t1._2, t1._3, t1._4, t1._5) == ((2L, 2L, 0L, 0L)))
    assert(t1._6 == 0.0d && t1._7 == 0.0d, t1.toString)
    // anti-correlated scores: best MCC still flagged (deterministic),
    // and the .4-threshold row has negative-signal mcc < 0
    val anti = ClassifierEval.mccSweep(pred,
      Seq((1L, 1L), (2L, 1L), (3L, 0L), (4L, 0L)).toDF("id", "keep"),
      "id", "conf", "keep")
      .as[(Double, Long, Long, Long, Long, Double, Double, Long)]
      .collect().toSeq
    assert(anti.exists(r => r._6 < 0.0d), anti.toString)
    intercept[IllegalArgumentException](ClassifierEval.mccSweep(pred,
      Seq((1L, 2L)).toDF("id", "keep"), "id", "conf", "keep"))
  }

  test("permutationAucNull: real signal vs destroyed null; bijection") {
    // a perfectly separating signal: ids 1..40, label = id > 20,
    // score = id/100 -> auc = 1.0; the permuted null must not stay 1.0
    val df = (1L to 40L)
      .map(i => (i, if (i > 20) 1L else 0L, i.toDouble / 100.0d))
      .toDF("id", "keep", "sig")
    val got = ClassifierEval.permutationAucNull(df, "id", "keep",
      Seq("sig"), buckets = 4)
      .as[(String, Long, Long, Double, Double, Double)].head()
    assert(got._1 == "sig" && got._2 == 20L && got._3 == 20L)
    assert(got._4 == 1.0d, got.toString)
    assert(got._5 < 0.9d, s"null AUC should collapse: ${got._5}")
    assert(got._6 == got._4 - got._5)
    // determinism: same input twice -> identical rows (the permutation
    // is a pure function of ids)
    val again = ClassifierEval.permutationAucNull(df, "id", "keep",
      Seq("sig"), buckets = 4)
      .as[(String, Long, Long, Double, Double, Double)].head()
    assert(again == got)
    // a constant signal is its own permutation: auc = null = 0.5-ish
    // (single tie group -> u2/(2 n+ n-) = 0.5 exactly)
    val const = ClassifierEval.permutationAucNull(
      df.withColumn("sig", org.apache.spark.sql.functions.lit(0.7d)), "id", "keep", Seq("sig"))
      .select($"auc", $"auc_null", $"delta")
      .as[(Double, Double, Double)].head()
    assert(const == ((0.5d, 0.5d, 0.0d)), const.toString)
    assert(java.lang.Double.doubleToRawLongBits(const._3) == 0L,
      "delta of equal AUCs must be canonical +0.0")
    intercept[IllegalArgumentException](
      ClassifierEval.permutationAucNull(df, "id", "keep", Seq.empty))
    intercept[IllegalArgumentException](
      ClassifierEval.permutationAucNull(df, "id", "keep", Seq("sig"),
        buckets = 1))
  }

  test("mannWhitneyMatrix: pairwise rows ≡ the single-pair op; guards") {
    val df = (Seq(0.1d, 0.2d, 0.3d).map(("s1", _)) ++
      Seq(0.4d, 0.5d).map(("s2", _)) ++
      Seq(0.2d, 0.4d, 0.6d).map(("s3", _))).toDF("src", "conf")
    val got = ClassifierEval.mannWhitneyMatrix(df, "src", "conf")
      .as[(String, String, Long, Long, Double, Double, Double)]
      .collect().toSeq
    assert(got.map(r => (r._1, r._2)) ==
      Seq(("s1", "s2"), ("s1", "s3"), ("s2", "s3")))
    // every pair row must equal the dedicated two-sample op
    got.foreach { case (a, b, na, nb, u, rb, z) =>
      val one = ClassifierEval.mannWhitney(
        df.filter($"src" === a).select($"conf"),
        df.filter($"src" === b).select($"conf"), "conf")
        .as[(Long, Long, Double, Double, Double)].head()
      assert((na, nb, u, rb, z) == one, s"pair ($a,$b): $one")
    }
    // s1 fully below s2: U_a = 0, rank-biserial = -1
    val p12 = got.find(r => r._1 == "s1" && r._2 == "s2").get
    assert(p12._5 == 0.0d && p12._6 == -1.0d, p12.toString)
    intercept[IllegalArgumentException](ClassifierEval.mannWhitneyMatrix(
      Seq(("s1", 0.5d)).toDF("src", "conf"), "src", "conf"))
    intercept[IllegalArgumentException](ClassifierEval.mannWhitneyMatrix(
      Seq(("s1", Option.empty[Double]), ("s2", Some(1.0d)))
        .toDF("src", "conf"), "src", "conf"))
    // the group list is collected to the driver: past the cap it fails
    // before any pair is expanded
    val overCap = intercept[IllegalArgumentException](ClassifierEval.mannWhitneyMatrix(
      (0 to 1000).map(i => (s"s$i", i.toDouble)).toDF("src", "conf"), "src", "conf"))
    assert(overCap.getMessage.contains("at most 1000 groups in 'src'"), overCap.getMessage)
  }

  test("kendallW: perfect / zero concordance, tie correction, guards") {
    // perfect concordance, no ties: W = 1, Friedman chi2 = m(n-1)W = 4
    val perfect = Seq((1L, 1.0d, 10.0d), (2L, 2.0d, 20.0d), (3L, 3.0d, 30.0d))
      .toDF("id", "x", "y")
    val p = ClassifierEval.kendallW(perfect, "id", Seq("x", "y"))
      .as[(Long, Long, Double, Double)].head()
    assert(p == ((3L, 2L, 1.0d, 4.0d)), p.toString)
    // exactly reversed: rank sums all equal -> S = 0 -> W = 0
    val rev = Seq((1L, 1.0d, 30.0d), (2L, 2.0d, 20.0d), (3L, 3.0d, 10.0d))
      .toDF("id", "x", "y")
    assert(ClassifierEval.kendallW(rev, "id", Seq("x", "y"))
      .select($"w").as[Double].head() == 0.0d)
    // hand-traced tie correction: x = (1,1,2) doubled ranks (3,3,6);
    // y = (5,6,7) doubled (2,4,6); R' = (5,7,12), centre 8, S' = 26;
    // denom = 4*24 - 2*(8-2) = 84 -> W = 78/84
    val tied = Seq((1L, 1.0d, 5.0d), (2L, 1.0d, 6.0d), (3L, 2.0d, 7.0d))
      .toDF("id", "x", "y")
    val t = ClassifierEval.kendallW(tied, "id", Seq("x", "y"))
      .as[(Long, Long, Double, Double)].head()
    assert(t._3 == 0.928571d && t._4 == 3.714286d, t.toString)
    intercept[IllegalArgumentException](
      ClassifierEval.kendallW(perfect, "id", Seq("x")))
    intercept[IllegalArgumentException](ClassifierEval.kendallW(
      Seq((1L, 1.0d, 2.0d)).toDF("id", "x", "y"), "id", Seq("x", "y")))
    intercept[IllegalArgumentException](ClassifierEval.kendallW(
      Seq((1L, Option.empty[Double], 2.0d), (2L, Some(1.0d), 3.0d))
        .toDF("id", "x", "y"), "id", Seq("x", "y")))
  }

  test("krippendorffAlpha: textbook trace, abstention drop, degenerate") {
    // 2 raters, 3 items: (a,a) (a,b) (b,b) -> D_o = 1/3, D_e = 0.6,
    // alpha = 1 - (1/3)/0.6 = 0.444444
    val base = Seq(
      (1L, "r1", "a"), (1L, "r2", "a"),
      (2L, "r1", "a"), (2L, "r2", "b"),
      (3L, "r1", "b"), (3L, "r2", "b")).toDF("item", "rater", "v")
    val got = ClassifierEval.krippendorffAlpha(base, "item", "rater", "v")
      .as[(Long, Long, Long, Double, Double, Double)].head()
    assert(got == ((3L, 2L, 6L, 0.333333d, 0.6d, 0.444444d)), got.toString)
    // an item with a single rating is unpairable and DROPS (the
    // abstention case) - identical alpha, n_items unchanged
    val withLonely = base.unionByName(
      Seq((4L, "r1", "a")).toDF("item", "rater", "v"))
    val g2 = ClassifierEval.krippendorffAlpha(withLonely, "item", "rater", "v")
      .as[(Long, Long, Long, Double, Double, Double)].head()
    assert(g2 == got, g2.toString)
    // single fully-disagreeing pairable item: alpha = 0 exactly
    val dis = ClassifierEval.krippendorffAlpha(
      Seq((1L, "r1", "a"), (1L, "r2", "b")).toDF("item", "rater", "v"),
      "item", "rater", "v").select($"alpha").as[Double].head()
    assert(dis == 0.0d)
    // one category everywhere: D_e = 0 -> alpha = 1.0 (documented)
    val uni = ClassifierEval.krippendorffAlpha(
      Seq((1L, "r1", "a"), (1L, "r2", "a"), (2L, "r1", "a"), (2L, "r2", "a"))
        .toDF("item", "rater", "v"), "item", "rater", "v")
      .select($"alpha").as[Double].head()
    assert(uni == 1.0d)
    intercept[IllegalArgumentException](ClassifierEval.krippendorffAlpha(
      Seq((1L, Option.empty[String], "a")).toDF("item", "rater", "v"),
      "item", "rater", "v"))
  }

  test("quantileTreatmentEffects: exact type-1 deciles, tail-only effect") {
    // A = 1..10 -> decile k reads exactly k; B = constant 5
    val df = ((1 to 10).map(v => ("A", v.toDouble)) ++
      (1 to 4).map(_ => ("B", 5.0d))).toDF("arm", "v")
    val got = ClassifierEval.quantileTreatmentEffects(df, "arm", "v", "A", "B")
      .as[(Double, Long, Long, Double, Double, Double)].collect().toSeq
    assert(got.size == 9)
    got.zipWithIndex.foreach { case ((q, na, nb, va, vb, qte), i) =>
      val k = i + 1
      assert(q == k / 10.0d && na == 10L && nb == 4L)
      assert(va == k.toDouble && vb == 5.0d && qte == (k - 5).toDouble,
        s"decile $k: $va $vb $qte")
    }
    // tail-only effect: identical low deciles, shifted p90 (the type-1
    // rank-9 value of 10 points)
    val tail = ((1 to 8).map(v => ("A", v.toDouble)) ++
      Seq(("A", 90.0d), ("A", 100.0d)) ++
      (1 to 8).map(v => ("B", v.toDouble)) ++
      Seq(("B", 9.0d), ("B", 10.0d))).toDF("arm", "v")
    val t9 = ClassifierEval.quantileTreatmentEffects(tail, "arm", "v",
      "A", "B")
    assert(t9.filter($"q" === 0.9d).select($"qte").as[Double].head()
      == 81.0d)
    assert(t9.filter($"q" === 0.5d).select($"qte").as[Double].head()
      == 0.0d)
    intercept[IllegalArgumentException](
      ClassifierEval.quantileTreatmentEffects(
        Seq(("A", 1.0d)).toDF("arm", "v"), "arm", "v", "A", "B"))
  }

  test("jarqueBera: symmetric light-tail vs skewed; zero variance; guards") {
    // symmetric around 2.0: skewness exactly 0, JB from kurtosis alone
    val sym = Seq.fill(1)(1.0d) ++ Seq.fill(2)(2.0d) ++ Seq.fill(1)(3.0d)
    // hard right skew
    val skw = Seq(1.0d, 1.0d, 1.0d, 1.0d, 10.0d)
    val df = (sym.map(("sym", _)) ++ skw.map(("skw", _)))
      .toDF("g", "v")
    val got = ClassifierEval.jarqueBera(df, "g", "v")
      .as[(String, Long, Double, Double, Double, Double)]
      .collect().map { case (g, n, m, s, k, j) => g -> ((n, m, s, k, j)) }
      .toMap
    val (n1, m1, s1, k1, j1) = got("sym")
    assert(n1 == 4L && m1 == 2.0d && s1 == 0.0d, got.toString)
    // m2 = 0.5, m4 = 0.5 -> kurtosis 2, excess -1, JB = 4/6 * (1/4)
    assert(k1 == -1.0d && j1 == 0.166667d, got.toString)
    val (_, _, s2, _, j2) = got("skw")
    assert(s2 > 1.0d && j2 > 1.0d, got.toString)
    // zero-variance group reads 0.0s, not NaN
    val const = ClassifierEval.jarqueBera(
      Seq(("c", 5.0d), ("c", 5.0d)).toDF("g", "v"), "g", "v")
      .as[(String, Long, Double, Double, Double, Double)].head()
    assert(const == (("c", 2L, 5.0d, 0.0d, 0.0d, 0.0d)), const.toString)
    intercept[IllegalArgumentException](ClassifierEval.jarqueBera(
      Seq((Option.empty[String], 1.0d)).toDF("g", "v"), "g", "v"))
  }

  test("effectSizes: hand-traced d/g/Glass; degenerate variance; guards") {
    // A: {3, 5} mean 4 var 2; B: {1, 1, 2, 2} mean 1.5 var 1/3
    val df = (Seq(3.0d, 5.0d).map(("A", _)) ++
      Seq(1.0d, 1.0d, 2.0d, 2.0d).map(("B", _))).toDF("arm", "v")
    val got = ClassifierEval.effectSizes(df, "arm", "v", "A", "B")
      .as[(Long, Long, Double, Double, Option[Double], Option[Double],
        Option[Double])].head()
    // pooled = (1*2 + 3*(1/3)) / 4 = 0.75; d = 2.5/sqrt(0.75)
    val d = 2.5d / math.sqrt(0.75d)
    val corr = 1.0d - 3.0d / (4.0d * 6.0d - 9.0d)
    assert(got._1 == 2L && got._2 == 4L && got._3 == 4.0d && got._4 == 1.5d)
    assert(got._5.contains(math.rint(d * 1e6d) / 1e6d), got.toString)
    assert(got._6.contains(
      BigDecimal(d * corr).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble), got.toString)
    assert(got._7.contains(
      BigDecimal(2.5d / math.sqrt(1.0d / 3.0d))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble), got.toString)
    // constant control arm: Glass undefined -> NULL; pooled still > 0
    val degC = ClassifierEval.effectSizes(
      (Seq(1.0d, 3.0d).map(("A", _)) ++ Seq(2.0d, 2.0d).map(("B", _)))
        .toDF("arm", "v"), "arm", "v", "A", "B")
      .select($"glass_delta").as[Option[Double]].head()
    assert(degC.isEmpty)
    intercept[IllegalArgumentException](ClassifierEval.effectSizes(
      Seq(("A", 1.0d)).toDF("arm", "v"), "arm", "v", "A", "B"))
  }
}
