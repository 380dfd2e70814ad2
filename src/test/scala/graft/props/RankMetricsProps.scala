package graft.props

import graft.SparkSpec
import graft.operators.Stats
import org.scalacheck.{Gen, Prop, Properties, Test}

/** Property-based checks of the rank-statistic metrics against
  * independent in-memory models:
  *
  *  - [[Stats.auc]] vs the DEFINITIONAL pair count
  *    P(s⁺ > s⁻) + ½·P(s⁺ = s⁻) evaluated over every (pos, neg) pair
  *    — the O(n²) form the operator's rank-sum algebra avoids, so a
  *    tie-handling or prefix-sum error cannot reproduce it;
  *  - grouped [[Stats.auc]] vs [[Stats.auc]] per group slice;
  *  - [[Stats.spearman]] vs direct Pearson over tie-averaged ranks
  *    computed by in-memory sorting.
  *
  * Score domains are kept small (0..9) so ties are HEAVY — the edge
  * the closed forms have to get right.
  */
object RankMetricsProps extends Properties("rankMetrics") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5)

  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  private val scoredGen: Gen[Seq[(String, Long, Boolean)]] =
    Gen.sequence[Seq[(String, Long, Boolean)], (String, Long, Boolean)](
      (0 until 150).map(_ => for {
        g <- Gen.oneOf("a", "b", "c")
        s <- Gen.choose(0L, 9L)
        y <- Gen.oneOf(true, false)
      } yield (g, s, y)))

  private def modelAuc(rows: Seq[(Long, Boolean)]): Option[Double] = {
    val pos = rows.filter(_._2).map(_._1)
    val neg = rows.filterNot(_._2).map(_._1)
    if (pos.isEmpty || neg.isEmpty) None
    else {
      val num = (for { p <- pos; n <- neg } yield
        if (p > n) 2L else if (p == n) 1L else 0L).sum
      Some(num.toDouble / (2.0 * pos.size * neg.size))
    }
  }

  property("auc matches the definitional all-pairs count") =
    Prop.forAll(scoredGen) { rows =>
      val flat = rows.map(r => (r._2, r._3))
      val got = Stats.auc(flat.toDF("s", "y"), "s", "y")
        .as[(Long, Long, Option[Double])].head()
      val want = modelAuc(flat)
      val ok = (got._3, want) match {
        case (Some(g), Some(w)) => math.abs(g - w) < 1e-12
        case (a, b)             => a == b
      }
      Prop(ok) :| s"got=$got want=$want"
    }

  property("aucByGroup equals auc run on each group's slice") =
    Prop.forAll(scoredGen) { rows =>
      val byG = Stats.auc(rows.toDF("g", "s", "y"), "s", "y", Seq("g"))
        .as[(String, Long, Long, Option[Double])].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      val want = rows.groupBy(_._1).map { case (g, rs) =>
        val flat = rs.map(r => (r._2, r._3))
        val pos = flat.count(_._2).toLong
        g -> ((pos, flat.size - pos, modelAuc(flat)))
      }
      val ok = byG.keySet == want.keySet && byG.forall { case (g, got) =>
        val w = want(g)
        got._1 == w._1 && got._2 == w._2 && ((got._3, w._3) match {
          case (Some(a), Some(b)) => math.abs(a - b) < 1e-12
          case (a, b)             => a == b
        })
      }
      Prop(ok) :| s"got=$byG want=$want"
    }

  // ---- spearman vs in-memory tie-averaged rank Pearson ---------------

  private val pairsGen: Gen[Seq[(Long, Long)]] =
    Gen.sequence[Seq[(Long, Long)], (Long, Long)](
      (0 until 120).map(_ => for {
        x <- Gen.choose(0L, 9L)
        y <- Gen.choose(0L, 9L)
      } yield (x, y)))

  private def avgRanks(vs: Seq[Long]): Map[Long, Double] = {
    val sorted = vs.sorted.zipWithIndex.map { case (v, i) => (v, i + 1) }
    sorted.groupBy(_._1).map { case (v, rs) =>
      v -> rs.map(_._2.toDouble).sum / rs.size
    }
  }

  private def modelSpearman(rows: Seq[(Long, Long)]): Option[Double] = {
    val rx = avgRanks(rows.map(_._1))
    val ry = avgRanks(rows.map(_._2))
    val xs = rows.map(r => rx(r._1))
    val ys = rows.map(r => ry(r._2))
    val n = rows.size.toDouble
    val (mx, my) = (xs.sum / n, ys.sum / n)
    val cov = xs.zip(ys).map { case (a, b) => (a - mx) * (b - my) }.sum
    val vx = xs.map(a => (a - mx) * (a - mx)).sum
    val vy = ys.map(b => (b - my) * (b - my)).sum
    if (vx <= 0 || vy <= 0) None else Some(cov / math.sqrt(vx * vy))
  }

  property("spearman matches Pearson over in-memory tie-averaged ranks") =
    Prop.forAll(pairsGen) { rows =>
      val got = Stats.spearman(rows.toDF("x", "y"), "x", "y")
        .as[(Long, Option[Double])].head()
      val want = modelSpearman(rows)
      val ok = (got._2, want) match {
        case (Some(g), Some(w)) => math.abs(g - w) < 1e-9
        case (a, b)             => a == b
      }
      Prop(ok) :| s"got=$got want=$want"
    }
}
