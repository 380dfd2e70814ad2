package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

class StatsSpec extends SparkSpec {
  import spark.implicits._

  test("winsorize: values clip into their own group's quantiles") {
    // group a: 0..100 with one wild outlier; group b untouched range
    val rows = ((0 to 100).map(i => ("a", i.toDouble)) :+ ("a", 1e9)) ++
      (0 to 10).map(i => ("b", i.toDouble))
    val out = Stats.winsorize(rows.toDF("k", "v"), "k", "v",
        lo = 0.0, hi = 0.95)
      .select($"k", $"v", $"clipped")
      .as[(String, Double, Double)].collect()
    val a = out.filter(_._1 == "a")
    // p95 of the 102 sorted values interpolates between 95 and 96:
    // position 0.95*101 = 95.95 → the billion-scale outlier clips there
    assert(math.abs(a.map(_._3).max - 95.95) < 1e-9)
    // below-hi values pass through unchanged
    assert(a.filter(_._2 <= 90).forall(r => r._3 === r._2))
    // group b's own p95 applies, not group a's
    val b = out.filter(_._1 == "b")
    assert(b.map(_._3).max === 9.5) // quantile_cont(0..10, 0.95)
  }

  test("winsorize: lo bound lifts the low tail") {
    val out = Stats.winsorize(
        (0 to 10).map(i => ("g", i.toDouble)).toDF("k", "v"),
        "k", "v", lo = 0.5, hi = 1.0)
      .select($"clipped").as[Double].collect()
    assert(out.min === 5.0) // median of 0..10
    assert(out.max === 10.0)
  }

  test("winsorize: rejects inverted bounds") {
    intercept[IllegalArgumentException] {
      Stats.winsorize(Seq(("g", 1.0)).toDF("k", "v"), "k", "v", 0.9, 0.1)
    }
  }

  test("calibrateByGroup: per-group ppm, id tie-break, singleton = 0") {
    val d = Seq(
      ("a", 1L, 10L), ("a", 2L, 20L), ("a", 3L, 30L), // distinct scores
      ("b", 4L, 5L), ("b", 5L, 5L),                   // tie → id order
      ("c", 6L, 99L)                                  // singleton
    ).toDF("g", "id", "score")
    val out = Stats.calibrateByGroup(d, "g", "score", "id")
      .select($"id", $"cal_rank", $"cal_n", $"cal_ppm")
      .orderBy($"id")
      .as[(Long, Int, Long, Long)].collect()
    assert(out === Array(
      (1L, 1, 3L, 0L), (2L, 2, 3L, 500000L), (3L, 3, 3L, 1000000L),
      (4L, 1, 2L, 0L), (5L, 2, 2L, 1000000L),
      (6L, 1, 1L, 0L)))
  }

  test("histogram: equi-width bins, top edge closes into the last bin") {
    // values 0..10 over [0,10] with 5 bins of width 2
    val out = Stats.histogram(
        (0 to 10).map(_.toDouble).toDF("v"), "v", bins = 5)
      .orderBy($"bin")
      .as[(Long, Double, Double, Long)].collect()
    assert(out.map(_._1).toSeq === Seq(0L, 1L, 2L, 3L, 4L))
    // bins [0,2) [2,4) [4,6) [6,8) [8,10]: 2,2,2,2,3 (10 joins bin 4)
    assert(out.map(_._4).toSeq === Seq(2L, 2L, 2L, 2L, 3L))
    assert(out.map(_._2).toSeq === Seq(0.0, 2.0, 4.0, 6.0, 8.0))
    assert(out.map(_._3).toSeq === Seq(2.0, 4.0, 6.0, 8.0, 10.0))
    // a constant column lands in one bin
    val const = Stats.histogram(Seq(7.0, 7.0, 7.0).toDF("v"), "v", 4)
      .as[(Long, Double, Double, Long)].collect()
    assert(const === Array((0L, 7.0, 7.0, 3L)))
  }

  test("standardize: per-group z-scores; constant group gets z = 0") {
    val rows = Seq(("a", 0.0), ("a", 10.0), ("b", 5.0), ("b", 5.0))
    val out = Stats.standardize(rows.toDF("k", "v"), "k", "v")
      .select($"k", $"v", $"mu", $"sigma", $"z")
      .orderBy($"k", $"v")
      .as[(String, Double, Double, Double, Double)].collect()
    // group a: μ=5, σ=5 → z = ∓1
    assert(out(0) === (("a", 0.0, 5.0, 5.0, -1.0)))
    assert(out(1) === (("a", 10.0, 5.0, 5.0, 1.0)))
    // group b is constant: σ clamps to 0, z = 0 (never NaN)
    assert(out(2)._4 === 0.0 && out(2)._5 === 0.0)
    assert(!out.exists(r => r._5.isNaN))
  }

  test("btStrengths: hand-computed MM updates, mean-1 normalization, " +
      "partition invariance") {
    // A(1) beats B(2) twice, B beats C(3) once, C beats A once:
    // W = (2, 1, 1), n_AB = 2, n_BC = 1, n_CA = 1
    val pairs = Seq((1L, 2L), (1L, 2L), (2L, 3L), (3L, 1L))
      .toDF("w", "l")
    // iteration 1 from s = 1: denom_A = 2/2 + 1/2 = 1.5 -> 4/3,
    // denom_B = 2/2 + 1/2 = 1.5 -> 2/3, denom_C = 1/2 + 1/2 = 1 -> 1;
    // sum = 3 = k, so the mean-1 normalization is the identity here
    val it1 = Stats.btStrengths(pairs, "w", "l", iters = 1)
      .orderBy($"item")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(it1.map(r => (r._1, r._2, r._3)) ===
      Seq((1L, 2L, 3L), (2L, 1L, 3L), (3L, 1L, 2L)))
    assert(math.abs(it1(0)._4 - 4.0 / 3) < 1e-6)
    assert(math.abs(it1(1)._4 - 2.0 / 3) < 1e-6)
    assert(math.abs(it1(2)._4 - 1.0) < 1e-6)
    // iteration 2: denom_A = 2/2 + 3/7 = 10/7 -> 1.4,
    // denom_B = 2/2 + 3/5 = 8/5 -> 0.625, denom_C = 3/7 + 3/5 ->
    // 35/36; then the mean-1 factor 3/2.99722…
    val it2 = Stats.btStrengths(pairs, "w", "l", iters = 2)
      .orderBy($"item")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(math.abs(it2(0)._4 - 1.40130) < 1e-4)
    assert(math.abs(it2(1)._4 - 0.62558) < 1e-4)
    assert(math.abs(it2(2)._4 - 0.97312) < 1e-4)
    assert(it2(0)._4 > it2(2)._4 && it2(2)._4 > it2(1)._4) // A > C > B
    // fx sums make the fit partition-order-invariant, bit for bit
    val repart = Stats.btStrengths(pairs.repartition(7), "w", "l",
        iters = 2)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(repart === it2.toSet)
  }

  test("psi: identical distributions score exactly zero; a full " +
      "shift yields symmetric positive terms; out-of-range scores " +
      "clamp into edge bins; empty bins smooth, nulls drop") {
    val a = (0 until 8).map(_ / 10.0).toDF("score")
    assert(Stats.psi(a, a, "score", bins = 4)
      .select($"term_fx").as[Long].collect().forall(_ === 0L))
    val ref = Seq[java.lang.Double](0.05, 0.05, 0.05, -0.3, null)
      .toDF("score")
    val cur = Seq[java.lang.Double](0.95, 0.95, 0.95, 1.5, null)
      .toDF("score")
    val out = Stats.psi(ref, cur, "score", bins = 2).orderBy($"bin")
      .as[(Long, Long, Long, Double, Double, Long)].collect()
    assert(out.map(r => (r._1, r._2, r._3)) ===
      Array((0L, 4L, 0L), (1L, 0L, 4L)))
    // Laplace-smoothed shares: (4+1)/(4+2) and (0+1)/(4+2)
    assert(out(0)._4 === 5.0 / 6 && out(0)._5 === 1.0 / 6)
    // (p-q)·ln(p/q) is swap-symmetric, so the two bins' terms match
    assert(out(0)._6 > 0L && out(0)._6 === out(1)._6)
    // scalar PSI: 2 · (2/3)·ln(5) ≈ 2.146 — far past the 0.25 alarm
    assert(math.abs(out.map(_._6).sum / 1e9 -
      2 * (2.0 / 3) * math.log(5.0)) < 1e-8)
  }

  test("krippendorffAlpha: perfect agreement = 1, systematic " +
      "disagreement hits the textbook -0.5, sub-2-rating items drop, " +
      "one-category data is null") {
    val perfect = Seq((1L, "a"), (1L, "a"), (2L, "b"), (2L, "b"))
      .toDF("item", "cat")
    assert(Stats.krippendorffAlpha(perfect, "item", "cat")
      .as[(Long, Long, Option[Double])].head() ===
      ((2L, 4L, Some(1.0))))
    // the classic 2-unit, 2-coder, all-disagree case: D_o = 1,
    // D_e = 2/3, alpha = 1 - 3/2 = -0.5 — with a sub-2 item dropped
    val disagree = Seq((1L, "a"), (1L, "b"), (2L, "a"), (2L, "b"),
      (3L, "c")).toDF("item", "cat")
    assert(Stats.krippendorffAlpha(disagree, "item", "cat")
      .as[(Long, Long, Option[Double])].head() ===
      ((2L, 4L, Some(-0.5))))
    // every qualifying rating in one category: vacuous, null
    val mono = Seq((1L, "a"), (1L, "a"), (2L, "a"), (2L, "a"))
      .toDF("item", "cat")
    assert(Stats.krippendorffAlpha(mono, "item", "cat")
      .as[(Long, Long, Option[Double])].head() === ((2L, 4L, None)))
  }

  test("psiByGroup: per-group tables match the ungrouped psi; a " +
      "group on one side only reports maximal drift, not a dropout") {
    val ref = (Seq(("a", 0.1), ("a", 0.2), ("a", 0.9)) ++
      Seq.fill(10)(("b", 0.5))).toDF("g", "score")
    val cur = Seq(("a", 0.85), ("a", 0.95), ("c", 0.4))
      .toDF("g", "score")
    val byG = Stats.psi(ref, cur, "score", bins = 10, groupCols = Seq("g"))
      .as[(String, Long, Long, Long, Double, Double, Long)].collect()
    // group a's rows equal psi() run on a alone
    val aOnly = Stats.psi(ref.filter($"g" === "a"),
        cur.filter($"g" === "a"), "score", bins = 10)
      .as[(Long, Long, Long, Double, Double, Long)].collect()
      .sortBy(_._1).toSeq
    assert(byG.filter(_._1 == "a").sortBy(_._2)
      .map(t => (t._2, t._3, t._4, t._5, t._6, t._7)).toSeq === aOnly)
    // every group from either side present, 10 bins each
    assert(byG.map(_._1).distinct.sorted.toSeq === Seq("a", "b", "c"))
    assert(byG.groupBy(_._1).values.forall(_.length == 10))
    // b (vanished) and c (appeared): all-zero on one side still
    // yields finite smoothed terms, and the scalar flags real drift
    val bPsi = byG.filter(_._1 == "b").map(_._7).sum / 1e9
    assert(bPsi > 0.25)
  }

  test("annotationEntropy: unanimous item is zero-entropy with modal " +
      "share 1, uniform item hits ln(k), nulls drop") {
    val votes = Seq((1L, "x"), (1L, "x"), (1L, "x"),
      (2L, "x"), (2L, "y"), (2L, "z"),
      (3L, "x"), (3L, null.asInstanceOf[String]))
      .toDF("item", "cat")
    val got = Stats.annotationEntropy(votes, "item", "cat")
      .as[(Long, Long, Long, Double, Double)].collect()
      .sortBy(_._1).toSeq
    assert(got(0) === ((1L, 3L, 1L, 1.0, 0.0)))
    assert(got(1)._2 === 3L && got(1)._3 === 3L)
    assert(math.abs(got(1)._5 - math.log(3.0)) < 1e-8)
    assert(math.abs(got(1)._4 - 1.0 / 3) < 1e-12)
    // the null vote dropped: item 3 is a single unanimous rating
    assert(got(2) === ((3L, 1L, 1L, 1.0, 0.0)))
  }

  test("cumBelowByValue: exclusive prefix sums over value order, " +
      "gaps and negative values included, no global window") {
    import org.apache.spark.sql.execution.window.WindowExec
    val g = Seq((-5L, 2L), (0L, 3L), (7L, 1L), (1000000L, 4L))
      .toDF("v", "c")
    // unkeyed, and keyed by one constant group: same sums, and neither
    // plan holds an unpartitioned window
    for (keys <- Seq(Nil, Seq("k"))) {
      val out = Stats.cumBelowByValue(
        g.withColumn("k", org.apache.spark.sql.functions.lit(1)), keys,
        "v", Seq("c"))
      val got = out.select($"v", $"c", $"cum_c")
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      assert(got === Seq((-5L, 2L, 0L), (0L, 3L, 2L), (7L, 1L, 5L),
        (1000000L, 4L, 6L)), keys)
      val unpartitioned = out.queryExecution.executedPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(unpartitioned.isEmpty,
        s"global window leaked into the plan (keys $keys)")
    }
  }

  test("auc: hand value with ties, perfect separation 1, reversed 0, " +
      "all-tied 0.5, empty class null, non-integral score rejected") {
    def a(rows: Seq[(Long, Boolean)]): Option[Double] =
      Stats.auc(rows.toDF("s", "y"), "s", "y")
        .as[(Long, Long, Option[Double])].head()._3
    // pos {3,2}, neg {1,2}: 3 beats both (2), 2 beats 1 + ties 2
    // (1.5) → 3.5/4
    assert(a(Seq((3L, true), (2L, true), (1L, false), (2L, false)))
      === Some(0.875))
    assert(a(Seq((9L, true), (8L, true), (1L, false))) === Some(1.0))
    assert(a(Seq((1L, true), (9L, false))) === Some(0.0))
    assert(a(Seq((5L, true), (5L, false), (5L, true))) === Some(0.5))
    assert(a(Seq((5L, true), (6L, true))) === None)
    intercept[IllegalArgumentException] {
      Stats.auc(Seq((0.5, true)).toDF("s", "y"), "s", "y")
    }
  }

  test("aucByGroup: each group's AUC equals the ungrouped auc on its " +
      "slice; degenerate groups report null") {
    val rows = Seq(
      ("g1", 3L, true), ("g1", 2L, true), ("g1", 1L, false),
      ("g1", 2L, false),
      ("g2", 1L, true), ("g2", 9L, false),
      ("g3", 4L, true), ("g3", 5L, true)) // no negatives
      .toDF("g", "s", "y")
    val got = Stats.auc(rows, "s", "y", Seq("g"))
      .as[(String, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    assert(got("g1")._4 === Some(0.875))
    assert(got("g2")._4 === Some(0.0))
    assert(got("g3")._4 === None)
    val single = Stats.auc(rows.filter($"g" === "g1"), "s", "y")
      .as[(Long, Long, Option[Double])].head()
    assert((got("g1")._2, got("g1")._3, got("g1")._4) === single)
  }

  test("mcnemar: discordant split drives z, concordant pairs ride " +
      "along, all-concordant is null, null pairs drop") {
    val pairs = Seq[(Option[Boolean], Option[Boolean])](
      (Some(true), Some(true)), (Some(false), Some(false)), // concordant
      (Some(true), Some(false)), (Some(true), Some(false)),
      (Some(true), Some(false)),                            // a_only = 3
      (Some(false), Some(true)),                            // b_only = 1
      (None, Some(true)))                                   // drops
      .toDF("a", "b")
    val got = Stats.mcnemar(pairs, "a", "b")
      .as[(Long, Long, Long, Long, Long, Option[Double])].head()
    assert(got._1 === 6L && got._2 === 1L && got._3 === 1L &&
      got._4 === 3L && got._5 === 1L)
    assert(math.abs(got._6.get - 2.0 / math.sqrt(4.0)) < 1e-12)
    val same = Seq((true, true), (false, false)).toDF("a", "b")
    assert(Stats.mcnemar(same, "a", "b")
      .as[(Long, Long, Long, Long, Long, Option[Double])].head()._6
      === None)
  }

  test("spearman: monotone = 1 (ties included), reversed = -1, " +
      "textbook 0.8 on one swap, constant side null") {
    def r(rows: Seq[(Long, Long)]): Option[Double] =
      Stats.spearman(rows.toDF("x", "y"), "x", "y")
        .as[(Long, Option[Double])].head()._2
    // sqrt rounding can land 1 ulp past the ideal ±1
    assert(math.abs(r(Seq((1L, 10L), (2L, 20L), (2L, 20L), (3L, 40L)))
      .get - 1.0) < 1e-12)
    assert(math.abs(r(Seq((1L, 30L), (2L, 20L), (3L, 10L)))
      .get + 1.0) < 1e-12)
    // classic: ranks (1,2,3,4) vs (1,3,2,4) → 1 - 6*2/(4*15) = 0.8
    val swapped = r(Seq((1L, 1L), (2L, 3L), (3L, 2L), (4L, 4L))).get
    assert(math.abs(swapped - 0.8) < 1e-12)
    assert(r(Seq((1L, 5L), (2L, 5L), (3L, 5L))) === None)
  }

  test("ksTest: hand D with the smallest breaking score, identical " +
      "samples 0, disjoint samples 1, empty side null") {
    def ks(r: Seq[Long], c: Seq[Long]) =
      Stats.ksTest(r.toDF("s"), c.toDF("s"), "s")
        .as[(Long, Long, Option[Double], Option[Long])].head()
    // F_ref jumps at 1,2,3; F_cur at 3,4,5 → max gap 2/3 first at s=2
    val g = ks(Seq(1L, 2L, 3L), Seq(3L, 4L, 5L))
    assert(g._1 === 3L && g._2 === 3L)
    assert(math.abs(g._3.get - 2.0 / 3) < 1e-12)
    assert(g._4 === Some(2L))
    val same = ks(Seq(1L, 2L, 2L), Seq(1L, 2L, 2L))
    assert(same._3 === Some(0.0))
    val disj = ks(Seq(1L, 2L), Seq(9L))
    assert(disj._3 === Some(1.0) && disj._4 === Some(2L))
    val empty = ks(Seq(1L), Seq.empty[Long])
    assert(empty._2 === 0L && empty._3 === None && empty._4 === None)
  }

  test("ksTestByGroup: each group's D equals ksTest on its slice; " +
      "one-sided groups report counts with null D") {
    val ref = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("b", 5L),
      ("gone", 7L)).toDF("g", "s")
    val cur = Seq(("a", 3L), ("a", 4L), ("a", 5L), ("b", 5L),
      ("new", 9L)).toDF("g", "s")
    val byG = Stats.ksTest(ref, cur, "s", Seq("g"))
      .as[(String, Long, Long, Option[Double], Option[Long])].collect()
      .map(r => r._1 -> r).toMap
    val aOnly = Stats.ksTest(ref.filter($"g" === "a").select($"s"),
        cur.filter($"g" === "a").select($"s"), "s")
      .as[(Long, Long, Option[Double], Option[Long])].head()
    assert((byG("a")._2, byG("a")._3, byG("a")._4, byG("a")._5)
      === aOnly)
    assert(byG("a")._4 === Some(2.0 / 3) && byG("a")._5 === Some(2L))
    assert(byG("b")._4 === Some(0.0)) // identical singleton samples
    assert(byG("gone") === (("gone", 1L, 0L, None, None)))
    assert(byG("new") === (("new", 0L, 1L, None, None)))
  }

  test("gini: uniform 0, maximal concentration (n-1)/n, hand value, " +
      "all-zero population null, byGroup matches per-slice") {
    def g(xs: Seq[Long]) = Stats.gini(xs.toDF("v"), "v")
      .as[(Long, Long, Option[Double])].head()
    assert(g(Seq(1L, 1L, 1L, 1L))._3 === Some(0.0))
    assert(g(Seq(0L, 0L, 0L, 4L))._3 === Some(0.75))
    val h = g(Seq(1L, 2L, 3L))
    assert(h._1 === 3L && h._2 === 6L)
    assert(math.abs(h._3.get - 2.0 / 9) < 1e-12)
    assert(g(Seq(0L, 0L))._3 === None)
    val byG = Stats.gini(
        Seq(("a", 1L), ("a", 2L), ("a", 3L), ("b", 5L), ("b", 5L))
          .toDF("g", "v"), "v", Seq("g"))
      .as[(String, Long, Long, Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    assert(math.abs(byG("a")._4.get - 2.0 / 9) < 1e-12)
    assert(byG("b")._4 === Some(0.0))
  }

  test("effectiveSampleSize: uniform weights = n, one-hot weights " +
      "= 1, zero mass null, negatives and NaN drop") {
    def ess(ws: Seq[Double]) =
      Stats.effectiveSampleSize(ws.toDF("w"), "w")
        .as[(Long, Option[Double], Option[Double], Option[Double])]
        .head()
    val u = ess(Seq(1.0, 1.0, 1.0, 1.0))
    assert(u._1 === 4L && u._3 === Some(4.0) && u._4 === Some(1.0))
    val one = ess(Seq(4.0, 0.0, 0.0, 0.0))
    assert(one._3 === Some(1.0) && one._4 === Some(0.25))
    assert(ess(Seq(0.0, 0.0))._3 === None)
    // a negative and a NaN weight drop; the rest still count
    val drop = ess(Seq(1.0, 1.0, -3.0, Double.NaN))
    assert(drop._1 === 2L && drop._3 === Some(2.0))
  }

  test("brierDecomposition: hand values satisfy the Murphy identity " +
      "on bin-constant forecasts; perfect certainty zeroes " +
      "brier/reliability; empty input null") {
    def brier(rows: Seq[(Double, Boolean)]) =
      Stats.brierDecomposition(rows.toDF("score", "label"), "score",
          "label", bins = 10)
        .as[(Long, Long, Option[Double], Option[Double],
          Option[Double], Option[Double])].head()
    val h = brier(Seq((0.8, true), (0.8, true), (0.8, false),
      (0.2, false)))
    assert(h._1 === 4L && h._2 === 2L)
    assert(math.abs(h._3.get - 0.19) < 1e-6)
    val rel = 0.75 * math.pow(0.8 - 2.0 / 3, 2) + 0.25 * 0.04
    val res = 0.75 * math.pow(2.0 / 3 - 0.5, 2) + 0.25 * 0.25
    assert(math.abs(h._4.get - rel) < 1e-6)
    assert(math.abs(h._5.get - res) < 1e-6)
    assert(h._6 === Some(0.25))
    // forecasts constant within bins: identity exact up to fx quanta
    assert(math.abs(h._3.get - (h._4.get - h._5.get + h._6.get))
      < 1e-6)
    val perfect = brier(Seq((1.0, true), (0.0, false)))
    assert(perfect._3 === Some(0.0) && perfect._4 === Some(0.0))
    assert(math.abs(perfect._5.get - 0.25) < 1e-9)
    assert(perfect._6 === Some(0.25))
    val empty = brier(Seq.empty)
    assert(empty._1 === 0L && empty._3 === None && empty._6 === None)
  }

  test("cohenKappaPairs: hand po/pe/kappa, common-items-only " +
      "restriction, constant identical raters null, duplicate rows " +
      "dedup") {
    // r1: A A B B, r2: A B B B over items 1-4; r3 shares only items
    // 1-2 with the others (pair stats must restrict to common items)
    val base = Seq(
      (1L, "r1", "A"), (2L, "r1", "A"), (3L, "r1", "B"), (4L, "r1", "B"),
      (1L, "r2", "A"), (2L, "r2", "B"), (3L, "r2", "B"), (4L, "r2", "B"),
      (1L, "r3", "A"), (2L, "r3", "A"))
    val got = Stats.cohenKappaPairs(
        (base ++ base.take(3)).toDF("item", "rater", "label"),
        "item", "rater", "label")
      .as[(String, String, Long, Long, Double, Double, Option[Double])]
      .collect().map(r => (r._1, r._2) -> r).toMap
    val p12 = got(("r1", "r2"))
    assert(p12._3 === 4L && p12._4 === 3L)
    assert(p12._5 === 0.75)
    assert(p12._6 === 0.5) // (2*1 + 2*3) / 16
    assert(math.abs(p12._7.get - 0.5) < 1e-12)
    // r1 vs r3: common items 1-2 only; r1 = A A, r3 = A A there
    val p13 = got(("r1", "r3"))
    assert(p13._3 === 2L && p13._4 === 2L)
    assert(p13._7 === None) // both constant on one label: pe = 1
    assert(got.size === 3)
  }

  test("chiSquaredDrift: hand 2x2k value, identical mix 0, novel " +
      "category counted, empty side null, single category df 0") {
    def chi(r: Seq[String], c: Seq[String]) =
      Stats.chiSquaredDrift(r.toDF("cat"), c.toDF("cat"), "cat")
        .as[(Long, Long, Long, Long, Option[Double], Option[Double])]
        .head()
    // ref AABB vs cur ABBB: chi2 = 16/48 + 16/80 = 8/15
    val h = chi(Seq("A", "A", "B", "B"), Seq("A", "B", "B", "B"))
    assert(h._1 === 4L && h._2 === 4L && h._3 === 2L && h._4 === 1L)
    assert(math.abs(h._5.get - 8.0 / 15) < 1e-8)
    assert(math.abs(h._6.get - math.sqrt((8.0 / 15) / 8)) < 1e-8)
    val same = chi(Seq("A", "B", "B"), Seq("A", "B", "B"))
    assert(same._5 === Some(0.0) && same._6 === Some(0.0))
    // a category only the current side ships still enters the table
    val novel = chi(Seq("A", "A"), Seq("A", "xx"))
    assert(novel._3 === 2L && novel._5.get > 0)
    val empty = chi(Seq("A"), Seq.empty[String])
    assert(empty._2 === 0L && empty._5 === None && empty._6 === None)
    val one = chi(Seq("A", "A"), Seq("A"))
    assert(one._4 === 0L && one._5 === Some(0.0) && one._6 === None)
  }

  test("chiSquaredDriftByGroup: each group equals the ungrouped " +
      "test on its slice; one-sided groups report null chi2") {
    val ref = Seq(("g1", "A"), ("g1", "A"), ("g1", "B"), ("g1", "B"),
      ("g2", "A"), ("gone", "A")).toDF("g", "cat")
    val cur = Seq(("g1", "A"), ("g1", "B"), ("g1", "B"), ("g1", "B"),
      ("g2", "A"), ("new", "B")).toDF("g", "cat")
    val byG = Stats.chiSquaredDrift(ref, cur, "cat", Seq("g"))
      .as[(String, Long, Long, Long, Long, Option[Double],
        Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    val g1 = Stats.chiSquaredDrift(
        ref.filter($"g" === "g1").select($"cat"),
        cur.filter($"g" === "g1").select($"cat"), "cat")
      .as[(Long, Long, Long, Long, Option[Double], Option[Double])]
      .head()
    assert((byG("g1")._2, byG("g1")._3, byG("g1")._4, byG("g1")._5,
      byG("g1")._6, byG("g1")._7) === g1)
    assert(math.abs(byG("g1")._6.get - 8.0 / 15) < 1e-8)
    assert(byG("g2")._6 === Some(0.0))
    assert(byG("gone")._6 === None && byG("new")._6 === None)
  }

  test("wasserstein1: pure shift moves W1 by the shift, hand value " +
      "on unequal sizes, identical 0, empty side null, negative " +
      "support exact") {
    def w1(r: Seq[Long], c: Seq[Long]) =
      Stats.wasserstein1(r.toDF("s"), c.toDF("s"), "s")
        .as[(Long, Long, Option[Double])].head()
    // a pure +7 shift of any sample moves every quantile by 7
    val shift = w1(Seq(1L, 2L, 5L, 5L), Seq(8L, 9L, 12L, 12L))
    assert(shift._1 === 4L && shift._2 === 4L)
    assert(math.abs(shift._3.get - 7.0) < 1e-12)
    // unequal sizes: ref {0}, cur {0, 10} → F−G = 1/2 on [0, 10)
    assert(math.abs(w1(Seq(0L), Seq(0L, 10L))._3.get - 5.0) < 1e-12)
    // hand check vs the probe pair: ref {0}, cur {10} → mass 1 moves 10
    assert(w1(Seq(0L), Seq(10L))._3 === Some(10.0))
    assert(w1(Seq(1L, 2L, 2L), Seq(1L, 2L, 2L))._3 === Some(0.0))
    assert(w1(Seq(1L), Seq.empty[Long])._3 === None)
    // negative support: the telescoped form never assumed s >= 0
    assert(w1(Seq(-10L), Seq(-3L))._3 === Some(7.0))
    assert(w1(Seq(-5L, 5L), Seq(0L, 0L))._3 === Some(5.0))
  }

  test("wasserstein1ByGroup: each group equals the ungrouped W1 on " +
      "its slice; one-sided groups report counts with null w1") {
    val ref = Seq(("a", 1L), ("a", 2L), ("a", 5L), ("b", 5L),
      ("gone", 7L)).toDF("g", "s")
    val cur = Seq(("a", 8L), ("a", 9L), ("a", 12L), ("b", 5L),
      ("new", 9L)).toDF("g", "s")
    val byG = Stats.wasserstein1(ref, cur, "s", Seq("g"))
      .as[(String, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    val aOnly = Stats.wasserstein1(
        ref.filter($"g" === "a").select($"s"),
        cur.filter($"g" === "a").select($"s"), "s")
      .as[(Long, Long, Option[Double])].head()
    assert((byG("a")._2, byG("a")._3, byG("a")._4) === aOnly)
    assert(math.abs(byG("a")._4.get - 7.0) < 1e-12) // pure +7 shift
    assert(byG("b")._4 === Some(0.0))
    assert(byG("gone") === (("gone", 1L, 0L, None)))
    assert(byG("new") === (("new", 0L, 1L, None)))
  }

  test("rankSumTest: hand z on a tie-free fixture, tie correction " +
      "engages, all-tied and one-class null") {
    // pos {2,3}, neg {1}: U = 2, n=3, no ties → var = 2/12·4 = 2/3,
    // z = (2 − 1)/√(2/3)
    val z1 = Stats.rankSumTest(
        Seq((2L, true), (3L, true), (1L, false)).toDF("s", "y"),
        "s", "y")
      .as[(Long, Long, Option[Double], Option[Double])].head()
    assert(z1._1 === 2L && z1._2 === 1L)
    assert(math.abs(z1._4.get - 1.0 / math.sqrt(2.0 / 3.0)) < 1e-12)
    // ties shrink the variance term: same U, tied extra pair
    val z2 = Stats.rankSumTest(
        Seq((2L, true), (2L, false), (3L, true), (1L, false))
          .toDF("s", "y"), "s", "y")
      .as[(Long, Long, Option[Double], Option[Double])].head()
    assert(z2._4.isDefined && z2._3.isDefined)
    // all observations tied: sigma = 0 → null z, auc = 0.5
    val tied = Stats.rankSumTest(
        Seq((5L, true), (5L, false), (5L, true)).toDF("s", "y"),
        "s", "y")
      .as[(Long, Long, Option[Double], Option[Double])].head()
    assert(tied._3 === Some(0.5) && tied._4 === None)
    assert(Stats.rankSumTest(Seq((1L, true)).toDF("s", "y"), "s", "y")
      .as[(Long, Long, Option[Double], Option[Double])].head()
      ._4 === None)
  }

  test("aucCi: deterministic, point estimate is the exact auc, " +
      "perfect separation collapses the interval to [1, 1]") {
    val mixed = (0L until 160L)
      .map(i => (i, (i * 13) % 20, (i * 7) % 11 < 5))
      .toDF("id", "s", "y")
    val a = Stats.aucCi(mixed, "id", "s", "y", b = 32)
      .as[(Long, Long, Int, Option[Double], Double, Double)].head()
    val b2 = Stats.aucCi(mixed, "id", "s", "y", b = 32)
      .as[(Long, Long, Int, Option[Double], Double, Double)].head()
    assert(a === b2)
    val point = Stats.auc(mixed, "s", "y")
      .as[(Long, Long, Option[Double])].head()
    assert((a._1, a._2, a._4) === point)
    assert(a._5 <= a._4.get && a._4.get <= a._6)
    // perfectly separated: every resample that keeps both classes
    // scores exactly 1.0
    val sep = (0L until 120L)
      .map(i => (i, if (i % 2 == 0) 100L + i else i % 40, i % 2 == 0))
      .toDF("id", "s", "y")
    val c = Stats.aucCi(sep, "id", "s", "y", b = 32)
      .as[(Long, Long, Int, Option[Double], Double, Double)].head()
    assert(c._4 === Some(1.0) && c._5 === 1.0 && c._6 === 1.0)
  }

  test("bootstrapCiClustered: singleton clusters reproduce the unit " +
      "bootstrap exactly; correlated clusters widen the interval") {
    val units = (0L until 200L)
      .map(i => (i, i % 20, if ((i * 7) % 11 < 6) 1.0 else 0.0))
      .toDF("id", "cluster", "x")
    // every unit its own cluster == bootstrapCi keyed on the id
    val single = Stats.bootstrapCiClustered(units, "id", "x", b = 32)
      .as[(Long, Int, Double, Double, Double)].head()
    val unit = Stats.bootstrapCi(units, "id", "x", b = 32)
      .as[(Long, Int, Double, Double, Double)].head()
    assert(single === unit)
    // perfectly correlated clusters (all units share the cluster's
    // value): unit resampling treats 10 copies as independent and
    // narrows; cluster resampling must stay wider
    val corr = (0L until 200L)
      .map(i => (i, i % 20, if (i % 20 < 9) 1.0 else 0.0))
      .toDF("id", "cluster", "x")
    val cl = Stats.bootstrapCiClustered(corr, "cluster", "x", b = 64)
      .as[(Long, Int, Double, Double, Double)].head()
    val un = Stats.bootstrapCi(corr, "id", "x", b = 64)
      .as[(Long, Int, Double, Double, Double)].head()
    assert(cl._5 - cl._4 > un._5 - un._4,
      s"clustered width ${cl._5 - cl._4} should exceed unit width " +
        s"${un._5 - un._4} on correlated clusters")
    assert(cl._3 === un._3) // same point mean
  }

  test("krippendorffAlphaOrdinal: equal to nominal on exact raters, " +
      "strictly higher on near-miss raters, textbook pairwise value, " +
      "vacuous data null") {
    def alpha(df: org.apache.spark.sql.DataFrame,
              ordinal: Boolean): Option[Double] =
      (if (ordinal) Stats.krippendorffAlphaOrdinal(df, "item", "cat")
       else Stats.krippendorffAlpha(df, "item", "cat"))
        .as[(Long, Long, Option[Double])].head()._3
    // exact raters: D_o = 0 under ANY kernel — both alphas are 1
    val perfect = Seq((1L, 1), (1L, 1), (2L, 5), (2L, 5))
      .toDF("item", "cat")
    assert(alpha(perfect, ordinal = true) === Some(1.0))
    assert(alpha(perfect, ordinal = false) ===
      alpha(perfect, ordinal = true))
    // near-miss raters on a 1-5 scale (always within ±1, items far
    // apart): nominal punishes each miss as random, squared-difference
    // forgives proportionally — ordinal alpha strictly higher
    val nearMiss = Seq((1L, 1), (1L, 2), (2L, 2), (2L, 1),
      (3L, 4), (3L, 5), (4L, 5), (4L, 4)).toDF("item", "cat")
    val ord = alpha(nearMiss, ordinal = true).get
    val nom = alpha(nearMiss, ordinal = false).get
    assert(ord > nom,
      s"ordinal $ord should exceed nominal $nom on near-miss raters")
    // hand-checked pairwise value: per item D_o term
    // 2(m·S2 − S1²)/(m−1) = 2(2·5−9)=2 each (×4 items) = 8;
    // marginals: two 1s,2s,4s,5s → S1=24, S2=92, n=8,
    // D_e = 2(8·92−576)=320; alpha = 1 − 7·8/320 = 0.825
    assert(math.abs(ord - 0.825) < 1e-9)
    // one category everywhere: expected disagreement 0 → null
    val mono = Seq((1L, 3), (1L, 3), (2L, 3), (2L, 3))
      .toDF("item", "cat")
    assert(alpha(mono, ordinal = true) === None)
    // sub-2-rating items drop from n_items/n_ratings
    val withSingleton = nearMiss.union(Seq((9L, 1)).toDF("item", "cat"))
    assert(Stats.krippendorffAlphaOrdinal(withSingleton, "item", "cat")
      .as[(Long, Long, Option[Double])].head()._1 === 4L)
    // counts form reproduces the row form (streamed-store pull)
    val counts = nearMiss.groupBy($"item", $"cat")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    assert(Stats.krippendorffAlphaOrdinalFromCounts(counts, "item",
        "cat", "n")
      .as[(Long, Long, Option[Double])].head()._3.get === ord)
  }

  test("bootstrapCi: constant data collapses the interval; nulls sit " +
      "out; bounds bracket the mean on mixed data; deterministic") {
    // constant column: every resample mean equals the value, so
    // lo = mean = hi exactly
    val const = (0L until 40L).map(i => (i, 0.25)).toDF("id", "x")
    val c = Stats.bootstrapCi(const, "id", "x", b = 32)
      .as[(Long, Int, Double, Double, Double)].head()
    assert(c === ((40L, 32, 0.25, 0.25, 0.25)))
    // mixed 0/1 data: n counts non-null units only, mean is the exact
    // win rate, and the percentile bounds bracket it
    val mixed = ((0L until 30L).map(i => (i, Some(if (i % 3 == 0) 1.0 else 0.0)))
      ++ Seq((97L, Option.empty[Double]))).toDF("id", "x")
    val m = Stats.bootstrapCi(mixed, "id", "x", b = 64)
      .as[(Long, Int, Double, Double, Double)].head()
    assert(m._1 === 30L && m._2 === 64)
    assert(math.abs(m._3 - 10.0 / 30.0) < 1e-9)
    assert(m._4 <= m._3 && m._3 <= m._5)
    assert(m._4 < m._5) // non-degenerate data → a real interval
    // hash-seeded, never rand(): bit-identical under repartitioning
    val again = Stats.bootstrapCi(mixed.repartition(7), "id", "x", b = 64)
      .as[(Long, Int, Double, Double, Double)].head()
    assert(again === m)
  }

  test("pairedDiffCi: constant gap collapses to a significant " +
      "interval; identical scores are insignificant; null pairs sit " +
      "out") {
    val gap = (0L until 30L)
      .map(i => (i, 0.6 + (i % 5) / 10.0, 0.1 + (i % 5) / 10.0))
      .toDF("id", "a", "b")
    val g = Stats.pairedDiffCi(gap, "id", "a", "b", b = 32)
      .as[(Long, Int, Double, Double, Double, Boolean)].head()
    assert(g === ((30L, 32, 0.5, 0.5, 0.5, true)))
    val same = (0L until 30L).map(i => (i, 0.4 + (i % 7) / 10.0))
      .map { case (i, x) => (i, x, x) }.toDF("id", "a", "b")
    val s0 = Stats.pairedDiffCi(same, "id", "a", "b", b = 32)
      .as[(Long, Int, Double, Double, Double, Boolean)].head()
    assert(s0._3 === 0.0 && !s0._6)
    val withNull = gap.unionByName(
      Seq((99L, Option.empty[Double], Option(0.5)))
        .toDF("id", "a", "b"))
    assert(Stats.pairedDiffCi(withNull, "id", "a", "b", b = 32)
      .as[(Long, Int, Double, Double, Double, Boolean)].head()._1 === 30L)
  }

  test("raterAgreement: leave-one-out majority, ties to the smaller " +
      "category, sole raters contribute nothing, duplicates collapse") {
    val ratings = Seq(
      // item 1: r1 votes a (duplicate b collapses to min a), r2 a,
      // r3 b — r1/r2 see an a-vs-b tie (tie → a, agree), r3 sees a
      // 2-0 consensus for a (disagree)
      (1L, "r1", "a"), (1L, "r1", "b"), (1L, "r2", "a"), (1L, "r3", "b"),
      // item 2: a sole rater — no consensus to compare against
      (2L, "r1", "z"),
      // item 3: unanimous
      (3L, "r1", "x"), (3L, "r2", "x")
    ).toDF("item", "rater", "cat")
    val out = Stats.raterAgreement(ratings, "item", "rater", "cat")
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out === Map(
      "r1" -> ((2L, 2L, 1.0)),
      "r2" -> ((2L, 2L, 1.0)),
      "r3" -> ((1L, 0L, 0.0))))
  }

  test("bootstrapCiByGroup: a single-group input reproduces the " +
      "ungrouped operator exactly; groups resample independently") {
    val vals = (0L until 40L).map(i => (i, if (i % 4 == 0) 1.0 else 0.0))
    val one = vals.map { case (i, x) => ("g", i, x) }
      .toDF("grp", "id", "x")
    val grouped = Stats.bootstrapCi(one, "id", "x", b = 32,
        groupCols = Seq("grp"))
      .select($"n", $"b", $"mean", $"lo", $"hi")
      .as[(Long, Int, Double, Double, Double)].head()
    val flat = Stats.bootstrapCi(vals.toDF("id", "x"), "id", "x", b = 32)
      .as[(Long, Int, Double, Double, Double)].head()
    assert(grouped === flat)
    // two groups with different rates get their own intervals, and
    // the clearly-separated rates yield non-overlapping intervals
    val two = ((0L until 60L).map(i => ("lo", i, if (i % 10 == 0) 1.0 else 0.0))
      ++ (100L until 160L).map(i => ("hi", i, if (i % 10 != 0) 1.0 else 0.0)))
      .toDF("grp", "id", "x")
    val byG = Stats.bootstrapCi(two, "id", "x", b = 64,
        groupCols = Seq("grp"))
      .select($"grp", $"n", $"mean", $"lo", $"hi")
      .as[(String, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(byG("lo")._2 === 60L && byG("hi")._2 === 60L)
    assert(math.abs(byG("lo")._3 - 0.1) < 1e-9)
    assert(math.abs(byG("hi")._3 - 0.9) < 1e-9)
    assert(byG("lo")._5 < byG("hi")._4) // hi's lower bound above lo's upper
  }

  test("btStrengthsFromCounts: null/zero-count rows drop up front — " +
      "one degenerate pair cannot poison the whole fit") {
    val real = Seq((1L, 2L, 2L), (2L, 3L, 1L), (3L, 1L, 1L))
    // items 8 and 9 never win anything and meet only through a
    // zero-count row: without the up-front drop their strengths hit 0
    // after iteration 1 and the n/(s_i+s_j) term divides by zero,
    // flowing Infinity/null through the global renormalization
    val poisoned = (real ++ Seq((8L, 9L, 0L), (9L, 8L, 0L)))
      .toDF("w", "l", "n")
    val clean = real.toDF("w", "l", "n")
    val fitP = Stats.btStrengthsFromCounts(poisoned, "w", "l", "n",
        iters = 2)
      .as[(Long, Long, Long, Double)].collect().toSet
    val fitC = Stats.btStrengthsFromCounts(clean, "w", "l", "n",
        iters = 2)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(fitP === fitC) // dropped rows leave no trace
    assert(fitP.forall { case (_, _, _, s) =>
      !s.isNaN && !s.isInfinite })
    assert(!fitP.exists(r => r._1 == 8L || r._1 == 9L))
    // null counts drop the same way
    val withNull = Stats.btStrengthsFromCounts(
      real.toDF("w", "l", "n").unionByName(
        Seq((8L, 9L)).toDF("w", "l")
          .withColumn("n",
            org.apache.spark.sql.functions.lit(null).cast("long"))),
      "w", "l", "n", iters = 2)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(withNull === fitC)
  }

  test("passAtK: hand-computed estimator, all-passed hits the exact-" +
      "zero factor, under-sampled problems drop") {
    val samples = Seq(
      (1L, true), (1L, true), (1L, false), (1L, false), (1L, false),
      (2L, true), (2L, true), (2L, true),
      (3L, true)) // n = 1 < k -> dropped
      .toDF("problem", "passed")
    val got = Stats.passAtK(samples, "problem", "passed", k = 2)
      .orderBy($"problem")
      .as[(Long, Long, Long, Double)].collect().toSeq
    // problem 1: 1 - C(3,2)/C(5,2) = 1 - 3/10 = 0.7
    // problem 2: all passed -> first factor exactly 0 -> 1.0
    assert(got.map(r => (r._1, r._2, r._3)) ===
      Seq((1L, 5L, 2L), (2L, 3L, 3L)))
    assert(math.abs(got(0)._4 - 0.7) < 1e-12)
    assert(got(1)._4 === 1.0)
  }

  test("majorityVote: modal answer wins, ties to the smaller answer, " +
      "correctness vs gold") {
    // p1: answers 2,2,3 gold 2 -> vote 2 (2 votes), correct
    // p2: answers 1,4 gold 4 -> tie of 1s -> vote 1, wrong
    // p3: answers 0 gold 0 -> vote 0, correct
    val s = Seq((1L, 2L, 2L), (1L, 2L, 2L), (1L, 3L, 2L),
      (2L, 1L, 4L), (2L, 4L, 4L), (3L, 0L, 0L))
      .toDF("problem", "answer", "gold")
    val got = Stats.majorityVote(s, "problem", "answer", "gold")
      .orderBy($"problem")
      .as[(Long, Long, Long, Long, Boolean)].collect().toSeq
    assert(got === Seq((1L, 3L, 2L, 2L, true), (2L, 2L, 1L, 1L, false),
      (3L, 1L, 0L, 1L, true)))
  }

  test("lengthBias: hand-computed counts, ties sit out, all-ties " +
      "yields null frac/z") {
    val pairs = Seq(("aaaa", "aa"), ("a", "bbb"), ("cc", "dd"),
      ("eeee", "e")).toDF("wt", "lt")
    val row = Stats.lengthBias(pairs, "wt", "lt")
      .as[(Long, Long, Long, Double, Double)].head()
    assert(row._1 === 4L && row._2 === 2L && row._3 === 1L)
    assert(math.abs(row._4 - 2.0 / 3) < 1e-12)
    assert(math.abs(row._5 - 1.0 / math.sqrt(3.0)) < 1e-12)
    val allTies = Stats.lengthBias(
        Seq(("xx", "yy"), ("a", "b")).toDF("wt", "lt"), "wt", "lt")
      .select("frac_longer_wins", "z").head()
    assert(allTies.isNullAt(0) && allTies.isNullAt(1))
    // a null text makes the pair unmeasurable: it sits out with the
    // ties instead of counting as "shorter won"
    val withNull = Stats.lengthBias(
        Seq((null.asInstanceOf[String], "xx"), ("aaaa", "b"))
          .toDF("wt", "lt"), "wt", "lt")
      .as[(Long, Long, Long, Double, Double)].head()
    assert(withNull._1 === 2L && withNull._2 === 1L && withNull._3 === 1L)
    assert(withNull._4 === 1.0)
  }

  test("ece: per-bin gaps and contributions; score 1.0 clamps into " +
      "the top bin") {
    val preds = Seq((0.95, true), (0.95, false), (0.15, false),
      (0.15, true)).toDF("score", "label")
    val got = Stats.ece(preds, "score", "label", bins = 10)
      .orderBy($"bin")
      .as[(Long, Long, Double, Double, Double, Double, Double)]
      .collect().toSeq
    assert(got.map(r => (r._1, r._2)) === Seq((1L, 2L), (9L, 2L)))
    val b1 = got(0); val b9 = got(1)
    assert(math.abs(b1._4 - 0.15) < 1e-9 && b1._5 === 0.5)
    assert(math.abs(b1._6 - 0.35) < 1e-9)
    assert(math.abs(b1._7 - 0.175) < 1e-9) // 0.5 x 0.35
    assert(math.abs(b9._4 - 0.95) < 1e-9 && b9._5 === 0.5)
    assert(math.abs(b9._6 - 0.45) < 1e-9)
    assert(math.abs(b9._7 - 0.225) < 1e-9)
    // scalar ECE = sum of contribs
    assert(math.abs(got.map(_._7).sum - 0.4) < 1e-9)
    val clamp = Stats.ece(Seq((1.0, true)).toDF("score", "label"),
        "score", "label", bins = 10)
      .select("bin").as[Long].head()
    assert(clamp === 9L)
  }

  test("fleissKappa: hand-computed two-item fixture, perfect-agreement " +
      "kappa 1, under-rated items dropped") {
    // item 1: raters said (a, a, b); item 2: (b, b, b);
    // item 3 has ONE rating -> dropped entirely (also from marginals)
    val r = Seq((1L, "a"), (1L, "a"), (1L, "b"),
      (2L, "b"), (2L, "b"), (2L, "b"), (3L, "c"))
      .toDF("item", "cat")
    val row = Stats.fleissKappa(r, "item", "cat")
      .as[(Long, Long, Double, Double, Double)].head()
    // P_1 = (4+1-3)/6 = 1/3, P_2 = (9-3)/6 = 1 -> p_bar = 2/3
    // p_a = 2/6, p_b = 4/6 -> P_e = 1/9 + 4/9 = 5/9
    // kappa = (2/3 - 5/9)/(1 - 5/9) = (1/9)/(4/9) = 0.25
    assert(row._1 === 2L && row._2 === 6L)
    assert(math.abs(row._3 - 2.0 / 3) < 1e-9)
    assert(math.abs(row._4 - 5.0 / 9) < 1e-9)
    assert(math.abs(row._5 - 0.25) < 1e-9)
    // unanimous ratings across two items, two categories: p_bar = 1,
    // P_e < 1 -> kappa = 1 exactly
    val perfect = Seq((1L, "a"), (1L, "a"), (2L, "b"), (2L, "b"))
      .toDF("item", "cat")
    val p = Stats.fleissKappa(perfect, "item", "cat")
      .as[(Long, Long, Double, Double, Double)].head()
    assert(p._3 === 1.0 && math.abs(p._5 - 1.0) < 1e-9)
    // degenerate single-category input: P_e = 1 -> kappa null
    val mono = Seq((1L, "a"), (1L, "a"), (2L, "a"), (2L, "a"))
      .toDF("item", "cat")
    assert(Stats.fleissKappa(mono, "item", "cat")
      .select("kappa").head().isNullAt(0))
    // EVERY item under-rated: one row, n_items = 0, the rest null —
    // the report never throws on an empty qualifying set
    val allDropped = Stats.fleissKappa(
        Seq((1L, "a"), (2L, "b")).toDF("item", "cat"), "item", "cat")
      .collect()
    assert(allDropped.length === 1)
    assert(allDropped.head.getLong(0) === 0L)
    assert((2 to 4).forall(allDropped.head.isNullAt))
  }

  test("empty inputs: every grouped/ungrouped statistic pins its " +
      "fully-empty output, with no keys and with one key") {
    val sc = Seq.empty[(String, Long, Boolean)].toDF("g", "s", "y")
    val sd = Seq.empty[(String, Double)].toDF("g", "score")
    val ct = Seq.empty[(String, String)].toDF("g", "cat")
    val bx = Seq.empty[(String, Long, Double)].toDF("g", "id", "x")
    // (statistic, kernel over groupCols, rows with no keys) — the
    // one-key side of every statistic returns no rows
    val cases: Seq[(String, Seq[String] => DataFrame, Seq[String])] = Seq(
      ("ksTest", Stats.ksTest(sc, sc, "s", _), Seq("[0,0,null,null]")),
      ("wasserstein1", Stats.wasserstein1(sc, sc, "s", _),
        Seq("[0,0,null]")),
      ("chiSquaredDrift", Stats.chiSquaredDrift(ct, ct, "cat", _),
        Seq("[0,0,0,0,null,null]")),
      ("gini", Stats.gini(sc, "s", _), Seq("[0,0,null]")),
      ("auc", Stats.auc(sc, "s", "y", _), Seq("[0,0,null]")),
      ("psi", gs => Stats.psi(sd, sd, "score", bins = 4, groupCols = gs),
        (0 until 4).map(b => s"[$b,0,0,0.25,0.25,0]")),
      ("bootstrapCi", gs =>
        Stats.bootstrapCi(bx, "id", "x", b = 8, groupCols = gs), Nil))
    for ((name, kernel, noKeys) <- cases) {
      def rows(gs: Seq[String]) =
        kernel(gs).collect().map(_.toString).sorted.toSeq
      assert(rows(Nil) === noKeys, name)
      assert(rows(Seq("g")) === Nil, name)
    }
  }

  // Parity witnesses: the two-pass bootstrap CIs that the one-pass
  // kernels replaced. Each computes its point estimate as a separate
  // plan (aucCi through the ungrouped `auc`, bootstrapCi through a
  // per-key count/sum) and joins it to the percentile over resamples
  // 0..b-1 only.
  private def twoPassWeights(units: DataFrame, b: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    val w = Stats.PoissonCdf32.zipWithIndex.foldRight(lit(8L)) {
      case ((t, k), rest) => when(col("__u") < t, lit(k.toLong))
        .otherwise(rest)
    }
    units.withColumn("__r", explode(sequence(lit(0), lit(b - 1))))
      .withColumn("__u", graft.functions.TextFns.hash32(
        concat(col("__r").cast("string"), lit(":"), col("__id"))))
      .withColumn("__w", w)
  }

  private def aucCiTwoPass(df: DataFrame, idCol: String,
                           scoreFxCol: String, labelCol: String,
                           b: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
    def d19(c: org.apache.spark.sql.Column) = c.cast(DecimalType(19, 0))
    val units = df
      .filter(col(scoreFxCol).isNotNull && col(labelCol).isNotNull)
      .select(col(idCol).cast("string").as("__id"),
        col(scoreFxCol).cast(LongType).as("__s"),
        col(labelCol).as("__y"))
    val wCounts = twoPassWeights(units, b)
      .groupBy(col("__r"), col("__s"))
      .agg(sum(when(col("__y"), col("__w")).otherwise(0L)).as("np"),
        sum(when(col("__y"), 0L).otherwise(col("__w"))).as("nn"))
    val perR = Stats.cumBelowByValue(wCounts, Seq("__r"), "__s",
        Seq("nn"))
      .groupBy(col("__r"))
      .agg(sum(col("np")).as("__p"), sum(col("nn")).as("__n"),
        sum(d19(col("np")) * (d19(col("cum_nn")) * 2 + d19(col("nn"))))
          .as("__m2"))
      .select(when(col("__p") > 0 && col("__n") > 0,
        col("__m2").cast(DoubleType) /
          (lit(2.0) * col("__p").cast(DoubleType) *
            col("__n").cast(DoubleType))).as("__a"))
    val ci = perR.agg(percentile(col("__a"), lit(0.025)).as("lo"),
      percentile(col("__a"), lit(0.975)).as("hi"))
    Stats.auc(units, "__s", "__y")
      .crossJoin(broadcast(ci))
      .select(col("n_pos"), col("n_neg"), lit(b).as("b"), col("auc"),
        col("lo"), col("hi"))
  }

  private def bootstrapCiTwoPass(df: DataFrame, idCol: String,
                                 valueCol: String, b: Int,
                                 groupCols: Seq[String]): DataFrame = {
    import graft.functions.Cols.{fxSum, fxVal}
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DoubleType
    val scale = 1e9
    if (groupCols.isEmpty)
      bootstrapCiTwoPass(df.withColumn("__bsg", lit(0)), idCol,
        valueCol, b, Seq("__bsg")).drop("__bsg")
    else {
      val keys = groupCols.map(col)
      val units = df.filter(col(valueCol).isNotNull)
        .select(keys ++ Seq(col(idCol).cast("string").as("__id"),
          col(valueCol).cast(DoubleType).as("__x")): _*)
      val pt = units.groupBy(keys: _*)
        .agg(count(lit(1)).as("n"), fxSum(col("__x"), scale).as("__sfx"))
      val ci = twoPassWeights(units, b)
        .groupBy(keys :+ col("__r"): _*)
        .agg(fxSum(col("__w").cast(DoubleType) * col("__x"), scale)
            .as("__mfx"),
          sum(col("__w")).as("__wn"))
        .select(keys :+ when(col("__wn") > 0,
            fxVal(col("__mfx"), scale) / col("__wn").cast(DoubleType))
          .as("__m"): _*)
        .groupBy(keys: _*)
        .agg(percentile(col("__m"), lit(0.025)).as("lo"),
          percentile(col("__m"), lit(0.975)).as("hi"))
      pt.join(ci, groupCols)
        .select(keys ++ Seq(col("n"), lit(b).as("b"),
          when(col("n") > 0,
            fxVal(col("__sfx"), scale) / col("n").cast(DoubleType))
            .as("mean"),
          col("lo"), col("hi")): _*)
    }
  }

  private def sameFrame(got: DataFrame, want: DataFrame,
                        clue: String): Unit = {
    assert(got.schema === want.schema, clue)
    // Row equality compares doubles bit-wise (0.0 and -0.0 differ)
    def rows(d: DataFrame) = d.collect().toSeq.sortBy(_.toString)
    assert(rows(got) === rows(want), clue)
  }

  test("aucCi and bootstrapCi: the one-pass point estimate (resample " +
      "-1) equals the two-pass witnesses, rows and schemas") {
    val ties = (0L until 90L)
      .map(i => (i, Option((i * 13) % 5), Option((i * 7) % 11 < 5)))
    val oneClass = (0L until 40L).map(i => (i, Option(i % 9), Option(true)))
    val nulls = ties.take(30) ++ Seq((200L, None, Some(true)),
      (201L, Some(3L), None), (202L, None, None))
    val empty = Seq.empty[(Long, Option[Long], Option[Boolean])]
    val aucCases = Seq("ties" -> ties, "one class" -> oneClass,
      "null score or label" -> nulls, "empty" -> empty)
    // value = the score as a double; the group key of the grouped
    // cases splits the ids, with one group whose values are all null
    // and one null key
    def vals(rows: Seq[(Long, Option[Long], Option[Boolean])]) =
      rows.map { case (i, s, _) =>
        (i, s.map(_ / 4.0), if (i % 3 == 0) "a" else "b") }
    val grouped = vals(ties) ++ Seq((300L, None, "allnull"),
      (301L, None, "allnull"), (302L, Some(0.5), null),
      (303L, Some(0.25), null))
    for (b <- Seq(8, 32)) {
      for ((name, rows) <- aucCases) {
        val df = rows.toDF("id", "s", "y")
        sameFrame(Stats.aucCi(df, "id", "s", "y", b),
          aucCiTwoPass(df, "id", "s", "y", b), s"aucCi $name b=$b")
        val v = vals(rows).toDF("id", "x", "g")
        sameFrame(Stats.bootstrapCi(v, "id", "x", b),
          bootstrapCiTwoPass(v, "id", "x", b, Nil),
          s"bootstrapCi $name b=$b")
        sameFrame(Stats.bootstrapCi(v, "id", "x", b, groupCols = Seq("g")),
          bootstrapCiTwoPass(v, "id", "x", b, Seq("g")),
          s"grouped bootstrapCi $name b=$b")
      }
      val g = grouped.toDF("id", "x", "g")
      sameFrame(Stats.bootstrapCi(g, "id", "x", b, groupCols = Seq("g")),
        bootstrapCiTwoPass(g, "id", "x", b, Seq("g")),
        s"grouped bootstrapCi, all-null group and null key, b=$b")
    }
  }

  test("aucCi plans one checkpoint and bootstrapCi plans no join: the " +
      "point estimate rides in the resample pass") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.execution.LogicalRDD
    val df = (0L until 60L)
      .map(i => (i, (i * 13) % 7, (i * 7) % 11 < 5, (i % 4).toDouble))
      .toDF("id", "s", "y", "x")
    // the grouped prefix sum's localCheckpoint (read by both of its
    // branches) is the only LogicalRDD: no ungrouped point-estimate
    // prefix sum (its checkpoint and its collected offsets frame)
    val rdds = Stats.aucCi(df, "id", "s", "y", b = 8)
      .queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id }
    assert(rdds.distinct.size === 1)
    for (gs <- Seq(Nil, Seq("y"))) {
      val plan = Stats.bootstrapCi(df, "id", "x", b = 8, groupCols = gs)
        .queryExecution.optimizedPlan
      assert(plan.collect { case j: Join => j }.isEmpty, s"$gs\n$plan")
    }
  }
}
