package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SketchSpec extends SparkSpec {
  import spark.implicits._

  private def distinctDf(n: Int, dupFactor: Int = 1) =
    (0 until n).flatMap(i => Seq.fill(dupFactor)(("g", s"value-$i")))
      .toDF("g", "v")

  test("estimate within 5% across cardinalities (4096 registers)") {
    for (n <- Seq(100, 1000, 5000, 40000)) {
      val est = Sketch.hllDistinct(distinctDf(n), col("v"), Seq("g"))
        .select("approx_distinct").as[Long].head()
      val relErr = math.abs(est - n).toDouble / n
      assert(relErr < 0.05, s"n=$n est=$est relErr=$relErr")
    }
  }

  test("duplicates do not move the estimate") {
    val once = Sketch.hllDistinct(distinctDf(2000), col("v"), Seq("g"))
      .select("approx_distinct").as[Long].head()
    val dup = Sketch.hllDistinct(distinctDf(2000, dupFactor = 5),
        col("v"), Seq("g"))
      .select("approx_distinct").as[Long].head()
    assert(once == dup)
  }

  test("merged shard registers equal the direct registers") {
    val df = distinctDf(8000)
      .withColumn("shard", pmod(crc32(col("v")), lit(7)))
    val direct = Sketch.hllRegisters(df, col("v"), Seq("g"))
      .orderBy("bucket").as[(String, Long, Int)].collect()
    val merged = Sketch.hllMerge(
        Sketch.hllRegisters(df, col("v"), Seq("g", "shard")), Seq("g"))
      .orderBy("bucket").as[(String, Long, Int)].collect()
    assert(direct.sameElements(merged))
  }

  test("register invariants: bucket in [0,4096), reg in [1,49]") {
    val regs = Sketch.hllRegisters(distinctDf(3000), col("v"), Seq("g"))
    val bad = regs.filter(col("bucket") < 0 || col("bucket") >= 4096 ||
      col("reg") < 1 || col("reg") > 49).count()
    assert(bad == 0)
    assert(regs.count() <= 4096)
  }

  test("cms never under-counts and stays within the epsilon bound") {
    // Zipf-ish corpus: token i appears (2000 / (i + 1)) times
    val rows = (0 until 400).flatMap(i =>
      Seq.fill(2000 / (i + 1))(s"tok$i"))
    val df = rows.toDF("v")
    val n = rows.size.toLong
    val sketch = Sketch.cmsSketch(df, col("v"), Seq.empty)
    val exact = df.groupBy(col("v").as("token"))
      .agg(count(lit(1)).as("exact_cnt"))
    val est = Sketch.cmsLookup(sketch, exact, "token", Seq.empty)
      .as[(String, Long, Long)].collect()
    assert(est.nonEmpty)
    // over-approximation, and additive error ≤ ~4·N/width in every
    // cell-collision worst case observed on this size
    est.foreach { case (t, ex, cms) =>
      assert(cms >= ex, s"$t under-counted: $cms < $ex")
      assert(cms - ex <= 4 * n / Sketch.CmsWidth,
        s"$t over-counted: $cms vs $ex (N=$n)")
    }
  }

  test("cms absent-token estimate is bounded by epsilon * N") {
    val df = (0 until 3000).map(i => s"present$i").toDF("v")
    val sketch = Sketch.cmsSketch(df, col("v"), Seq.empty)
    val ghost = Seq("never-seen-token").toDF("token")
    val est = Sketch.cmsLookup(sketch, ghost, "token", Seq.empty)
      .select("cms_count").as[Long].head()
    assert(est <= 3 * 3000 / Sketch.CmsWidth, s"ghost est=$est")
  }

  test("qsketch quantiles within 1% of exact percentiles") {
    // heavy-tailed integer metric: value = i^2 / 7 over 20k rows
    val vals = (1 to 20000).map(i => i.toLong * i / 7)
    val df = vals.map(("g", _)).toDF("g", "v")
    val sk = Sketch.qsketch(df, col("v"), Seq("g"))
    val got = Sketch.qsketchQuantiles(sk, Seq("g"), Seq(500, 900, 990))
      .as[(String, Int, Long)].collect()
      .map { case (_, p, v) => p -> v }.toMap
    val sorted = vals.sorted
    for ((p, est) <- got) {
      val exact = sorted((p * sorted.size + 999) / 1000 - 1)
      // bucket rounds DOWN to 3 sig digits: est <= exact, within 1%
      assert(est <= exact, s"p$p: $est > $exact")
      assert(est >= exact - exact / 100 - 1, s"p$p: $est vs $exact")
    }
  }

  test("qsketch merges across shards to the direct sketch") {
    val df = (1 to 8000).map(i => ("g", i.toLong * 37 % 5000, i % 6))
      .toDF("g", "v", "shard")
    val direct = Sketch.qsketch(df, col("v"), Seq("g"))
      .orderBy("qbucket").as[(String, Long, Long)].collect()
    val merged = Sketch.qsketchMerge(
        Sketch.qsketch(df, col("v"), Seq("g", "shard")), Seq("g"))
      .orderBy("qbucket").as[(String, Long, Long)].collect()
    assert(direct.sameElements(merged))
  }

  test("sigBucket: exact below 1000, 3-sig-digit floor above") {
    val got = Seq(0L, 7L, 999L, 1000L, 1234L, 99999L, 1234567L)
      .toDF("v").select(Sketch.sigBucket(col("v"))).as[Long].collect()
    assert(got.sameElements(
      Array(0L, 7L, 999L, 1000L, 1230L, 99900L, 1230000L)))
  }

  test("tableProfile: counts, nulls, distinct, min/max per column") {
    val df = Seq(
      (1L, "a", Some(1.0)),
      (2L, "b", Some(2.5)),
      (3L, "a", None),
      (4L, null.asInstanceOf[String], Some(2.5))
    ).toDF("id", "s", "x")
    val p = Sketch.tableProfile(df)
      .as[(String, Long, Long, String, String, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(p.keySet === Set("id", "s", "x"))
    val (_, nRows, nNulls, mn, mx, dist) = p("s")
    assert(nRows == 4 && nNulls == 1 && mn == "a" && mx == "b"
      && dist == 2)
    assert(p("id")._6 == 4 && p("id")._4 == "1" && p("id")._5 == "4")
    // doubles quantized to milli-units before rendering
    assert(p("x")._4 == "1000" && p("x")._5 == "2500" && p("x")._6 == 2)
  }

  test("tableProfile: an all-null column reports zero distinct") {
    val df = Seq((1L, null.asInstanceOf[String]),
      (2L, null.asInstanceOf[String])).toDF("id", "s")
    val row = Sketch.tableProfile(df).filter(col("col_name") === "s")
      .as[(String, Long, Long, String, String, Long)].head()
    assert(row._2 == 2 && row._3 == 2 && row._4 == null && row._6 == 0)
  }

  test("hll overlap estimate tracks the true intersection") {
    val rows = (0 until 5000).map(i => ("A", s"tok$i")) ++
      (3000 until 9000).map(i => ("B", s"tok$i")) // true overlap 2000
    val regs = Sketch.hllRegisters(rows.toDF("g", "v"), col("v"), Seq("g"))
    val est = Sketch.hllOverlap(regs, "g")
      .select("approx_overlap").as[Long].head()
    assert(math.abs(est - 2000.0) / 2000 < 0.2, s"overlap est=$est")
  }

  test("hll overlap of near-disjoint groups stays near zero") {
    val rows = (0 until 2000).map(i => ("A", s"left$i")) ++
      (0 until 2000).map(i => ("B", s"right$i"))
    val regs = Sketch.hllRegisters(rows.toDF("g", "v"), col("v"), Seq("g"))
    val out = Sketch.hllOverlap(regs, "g")
      .select("approx_overlap").as[Long].collect()
    // inclusion-exclusion noise sigma ~ sqrt(3) * 1.6% * 2000 = 55;
    // the clamp keeps it non-negative
    assert(out.isEmpty || (out.head >= 0 && out.head < 200),
      s"disjoint overlap ${out.toSeq}")
  }

  test("sketch results are partition-invariant") {
    // the cross-engine exactness claims rest on order-independence:
    // every sum/max is associative-commutative over exact integers
    val df = (0 until 6000).map(i => ("g", s"v${i % 700}")).toDF("g", "v")
    def allOf(d: org.apache.spark.sql.DataFrame) = {
      val hll = Sketch.hllDistinct(d, col("v"), Seq("g"))
        .as[(String, Long)].collect().toSeq.sorted
      val q = Sketch.qsketchQuantiles(
          Sketch.qsketch(d.withColumn("n", length(col("v"))),
            col("n"), Seq("g")), Seq("g"), Seq(500, 990))
        .as[(String, Int, Long)].collect().toSeq.sorted
      val cms = Sketch.cmsLookup(
          Sketch.cmsSketch(d, col("v"), Seq.empty),
          Seq("v1", "v250").toDF("token"), "token", Seq.empty)
        .as[(String, Long)].collect().toSeq.sorted
      (hll, q, cms)
    }
    assert(allOf(df.repartition(1)) === allOf(df.repartition(16)))
  }

  test("multi-group estimates are independent") {
    val df = ((0 until 500).map(i => ("a", s"x$i")) ++
      (0 until 3000).map(i => ("b", s"y$i"))).toDF("g", "v")
    val ests = Sketch.hllDistinct(df, col("v"), Seq("g"))
      .as[(String, Long)].collect().toMap
    assert(math.abs(ests("a") - 500).toDouble / 500 < 0.05)
    assert(math.abs(ests("b") - 3000).toDouble / 3000 < 0.05)
  }
}
