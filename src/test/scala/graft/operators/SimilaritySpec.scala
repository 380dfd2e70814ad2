package graft.operators

import graft.SparkSpec
import graft.tables.Tables
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("bruteKnn: exact ranks on a hand-checkable corpus") {
    val embs = Seq(
      (0L, Seq(1.0f, 0.0f)),
      (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(0.5f, 0.5f)),
      (3L, Seq(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.bruteKnn(embs,
        embs.filter($"vec_id" === 0L), "vec_id", "embedding", k = 3)
      .select($"neighbor_id", $"rank").as[(Long, Int)].collect().toSeq
      .sortBy(_._2)
    assert(got == Seq((1L, 1), (2L, 2), (3L, 3)))
  }

  test("bruteKnn excludes self and caps at k") {
    val e = Tables.embeddings(spark, sf0001)
    val res = Similarity.bruteKnn(e, e.filter($"vec_id" < 5),
      "vec_id", "embedding", k = 5)
    val rows = res.collect()
    assert(rows.length == 25) // 5 queries × 5 neighbors
    assert(!rows.exists(r => r.getLong(0) == r.getLong(1)))
  }

  test("knnClassify: majority vote, ties to the smaller label") {
    // query 0: neighbors ranked 1,2,3 carry labels 7,7,3 -> 7 by count
    // query 10: neighbors carry labels 5,2,2 -> 2 by count
    // query 20: one neighbor of each label 4,8,9 -> tie of 1s -> 4
    val embs = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f), 0),
      (1L, Seq(0.99f, 0.1f, 0.0f), 7),
      (2L, Seq(0.98f, 0.15f, 0.0f), 7),
      (3L, Seq(0.9f, 0.3f, 0.0f), 3),
      (10L, Seq(0.0f, 1.0f, 0.0f), 0),
      (11L, Seq(0.0f, 0.99f, 0.1f), 5),
      (12L, Seq(0.0f, 0.98f, 0.15f), 2),
      (13L, Seq(0.0f, 0.9f, 0.3f), 2),
      (20L, Seq(0.0f, 0.0f, 1.0f), 0),
      (21L, Seq(0.1f, 0.0f, 0.99f), 9),
      (22L, Seq(0.15f, 0.0f, 0.98f), 8),
      (23L, Seq(0.3f, 0.0f, 0.9f), 4)
    ).toDF("vec_id", "embedding", "label")
    val qs = embs.filter($"vec_id" % 10 === 0)
    val got = Similarity.knnClassify(embs, qs, "vec_id", "embedding",
        "label", k = 3)
      .orderBy($"query_id")
      .as[(Long, Int, Long)].collect().toSeq
    assert(got == Seq((0L, 7, 2L), (10L, 2, 2L), (20L, 4, 1L)))
  }

  test("knnClassify agrees with a recomputed vote over bruteKnn") {
    val e = Tables.embeddings(spark, sf0001)
    val q = e.filter($"vec_id" < 15)
    val got = Similarity.knnClassify(e, q, "vec_id", "embedding",
        "label", k = 5)
      .as[(Long, Int, Long)].collect().toSet
    val knn = Similarity.bruteKnn(e, q, "vec_id", "embedding", k = 5)
      .join(e.select($"vec_id".as("neighbor_id"), $"label"), "neighbor_id")
      .select($"query_id", $"label").as[(Long, Int)].collect()
    val expect = knn.groupBy(_._1).map { case (qid, rows) =>
      val (lb, ct) = rows.groupBy(_._2).view.mapValues(_.size).toSeq
        .minBy { case (l, c) => (-c, l) }
      (qid, lb, ct.toLong)
    }.toSet
    assert(got == expect)
  }

  test("heap top-k agg matches the window formulation exactly") {
    val e = Tables.embeddings(spark, sf0001)
    val q = e.filter($"vec_id" < 20)
    val viaAgg = Similarity.bruteKnn(e, q, "vec_id", "embedding", 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3))).toSet
    // reference: window-function top-k over the same scored pairs
    import org.apache.spark.sql.expressions.Window
    val qd = q.select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val cd = e.select($"vec_id".as("neighbor_id"), $"embedding".as("cv"))
    val scored = cd.join(broadcast(qd), $"query_id" =!= $"neighbor_id")
      .withColumn("cosine",
        graft.functions.VectorFns.cosine($"qv", $"cv"))
    val viaWindow = scored.withColumn("rank", row_number().over(
        Window.partitionBy($"query_id")
          .orderBy($"cosine".desc, $"neighbor_id")))
      .filter($"rank" <= 7)
      .select($"query_id", $"neighbor_id", $"rank".cast("int"), $"cosine")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3))).toSet
    assert(viaAgg == viaWindow)
  }

  test("heap top-k is partition-invariant (map-side merge correctness)") {
    val e = Tables.embeddings(spark, sf0001)
    val q = e.filter($"vec_id" < 5)
    def run(parts: Int) =
      Similarity.bruteKnn(e.repartition(parts), q, "vec_id", "embedding", 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .toSet
    assert(run(1) == run(13))
  }

  test("ivfKnn: corpus partitions into cells; recall reasonable") {
    val e = Tables.embeddings(spark, sf0001)
    val q = e.filter($"vec_id" < 50)
    val brute = Similarity.bruteKnn(e, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfKnn(e, q, "vec_id", "embedding", 5,
        cells = 16, nProbe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(ivf.nonEmpty)
    val recall = (ivf intersect brute).size.toDouble / brute.size
    assert(recall > 0.4, s"recall=$recall")
  }

  test("ivfKnn: k-means refinement raises recall over raw seeding") {
    val e = Tables.embeddings(spark, sf0001)
    val q = e.filter($"vec_id" < 50)
    val brute = Similarity.bruteKnn(e, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recall(refineIters: Int) = {
      val got = Similarity.ivfKnn(e, q, "vec_id", "embedding", 5,
          cells = 16, nProbe = 4, refineIters = refineIters)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      (got intersect brute).size.toDouble / brute.size
    }
    val raw = recall(0)
    val refined = recall(1)
    // deterministic fixture: raw 0.62, one Lloyd iteration 0.664
    assert(refined > 0.5, s"refined recall=$refined")
    assert(refined >= raw, s"refined=$refined < raw=$raw")
  }

  test("knnAgainstIndex over ivfIndex(corpus) == ivfKnn(corpus) — a " +
      "full-coverage persisted index answers exactly like the one-shot") {
    val e = Tables.embeddings(spark, sf0001)
    val q = e.filter($"vec_id" < 10)
    val oneShot = Similarity.ivfKnn(e, q, "vec_id", "embedding",
        k = 5, cells = 16, nProbe = 4)
      .as[(Long, Long, Int, Double)].collect().toSet
    val ix = Similarity.ivfIndex(e, "vec_id", "embedding", cells = 16)
    val viaIndex = Similarity.knnAgainstIndex(ix, q, "vec_id",
        "embedding", k = 5, nProbe = 4)
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(viaIndex === oneShot)
  }

  test("ivfAppend under fixed centroids == indexing everything at " +
      "once (the codes-appended ingestion contract)") {
    val e = Tables.embeddings(spark, sf0001)
    val part1 = e.filter($"vec_id" < 250)
    val part2 = e.filter($"vec_id" >= 250)
    val ix0 = Similarity.ivfIndex(part1, "vec_id", "embedding",
      cells = 16)
    val grown = Similarity.IvfIndexFrames(ix0.centroids,
      ix0.postings.unionByName(
        Similarity.ivfAppend(ix0, part2, "vec_id", "embedding")))
    // the flattened reference: same centroids (seeds are the first 16
    // ids, all in part1), whole corpus filed in one pass
    val flat = Similarity.ivfIndex(e, "vec_id", "embedding", cells = 16)
    val q = e.filter($"vec_id" < 10)
    def run(ix: Similarity.IvfIndexFrames) =
      Similarity.knnAgainstIndex(ix, q, "vec_id", "embedding",
          k = 5, nProbe = 4)
        .as[(Long, Long, Int, Double)].collect().toSet
    assert(run(grown) === run(flat))
    // and the grown postings ARE the flat postings, row for row
    assert(grown.postings.select("neighbor_id", "cell")
        .as[(Long, Long)].collect().toSet ===
      flat.postings.select("neighbor_id", "cell")
        .as[(Long, Long)].collect().toSet)
  }

  test("ivfStats: counts cover every centroid (empty cells report 0), " +
      "fracs sum to 1, load_ratio is the uniform-relative load") {
    val e = Tables.embeddings(spark, sf0001)
    val ix = Similarity.ivfIndex(e, "vec_id", "embedding", cells = 16)
    val stats = Similarity.ivfStats(ix)
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(stats.size === 16) // one row per centroid
    val total = stats.map(_._2).sum
    assert(total === e.count())
    assert(math.abs(stats.map(_._3).sum - 1.0) < 1e-9)
    stats.foreach { case (_, n, frac, load) =>
      assert(math.abs(frac - n.toDouble / total) < 1e-12)
      assert(math.abs(load - n.toDouble * 16 / total) < 1e-12)
    }
    // an index whose postings lost a whole cell still reports it, at 0
    val firstCell = ix.postings.select(min($"cell")).head().getLong(0)
    val holed = Similarity.IvfIndexFrames(ix.centroids,
      ix.postings.filter($"cell" =!= firstCell))
    val zeroRow = Similarity.ivfStats(holed)
      .filter($"cell" === firstCell)
      .as[(Long, Long, Double, Double)].head()
    assert(zeroRow._2 === 0L && zeroRow._3 === 0.0 && zeroRow._4 === 0.0)
    // a fully-empty postings store reports 0.0 everywhere, never the
    // null a naive divide-by-zero would yield (alerts read these)
    val empty = Similarity.IvfIndexFrames(ix.centroids,
      ix.postings.filter(lit(false)))
    val er = Similarity.ivfStats(empty)
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(er.size === 16)
    assert(er.forall { case (_, n, f, l) => n === 0L && f === 0.0 && l === 0.0 })
  }

  test("ivfRebalance after a skewed append history == a fresh ivfIndex " +
      "over the union corpus (the explicit re-seed contract)") {
    val e = Tables.embeddings(spark, sf0001)
    // skewed history: seed the index from a narrow id slice, then
    // append everything else under those frozen centroids
    val resident = e.filter($"vec_id" < 40)
    val ix0 = Similarity.ivfIndex(resident, "vec_id", "embedding",
      cells = 8)
    val grown = Similarity.IvfIndexFrames(ix0.centroids,
      ix0.postings.unionByName(Similarity.ivfAppend(ix0,
        e.filter($"vec_id" >= 40), "vec_id", "embedding")))
    val rebalanced = Similarity.ivfRebalance(grown, cells = 16)
    val fresh = Similarity.ivfIndex(e, "vec_id", "embedding", cells = 16)
    assert(rebalanced.centroids.select("cell")
        .as[Long].collect().toSet ===
      fresh.centroids.select("cell").as[Long].collect().toSet)
    assert(rebalanced.postings.select("neighbor_id", "cell")
        .as[(Long, Long)].collect().toSet ===
      fresh.postings.select("neighbor_id", "cell")
        .as[(Long, Long)].collect().toSet)
    // the parity above IS the contract: rebalance ≡ fresh build, so
    // its cell balance is by definition the best a fresh seeding
    // gives (no monotone-skew assertion — on a near-uniform fixture
    // the 8→16-cell re-seed can report a higher max load_ratio while
    // still being the fresh-build optimum)
    // default cells derives from the index's OWN centroid count (8
    // here), never a fixed constant
    assert(Similarity.ivfRebalance(grown).centroids.count() === 8L)
  }

  test("knnAndAppend == knnAgainstIndex + ivfAppend (the fused " +
      "ingestion micro-batch contract)") {
    val e = Tables.embeddings(spark, sf0001)
    val resident = e.filter($"vec_id" % 8 =!= 0)
    val batch = e.filter($"vec_id" % 8 === 0 && $"vec_id" < 80)
    val ix = Similarity.ivfIndex(resident, "vec_id", "embedding",
      cells = 16)
    val (gotNbrs, gotApp) = Similarity.knnAndAppend(ix, batch,
        "vec_id", "embedding", k = 5, nProbe = 4) { (nbrs, app) =>
      (nbrs.as[(Long, Long, Int, Double)].collect().toSet,
        app.select("neighbor_id", "cell")
          .as[(Long, Long)].collect().toSet)
    }
    assert(gotNbrs ===
      Similarity.knnAgainstIndex(ix, batch, "vec_id", "embedding",
          k = 5, nProbe = 4)
        .as[(Long, Long, Int, Double)].collect().toSet)
    assert(gotApp ===
      Similarity.ivfAppend(ix, batch, "vec_id", "embedding")
        .select("neighbor_id", "cell")
        .as[(Long, Long)].collect().toSet)
  }

  test("annRecall: 1.0 when the probe covers every cell; bounded and " +
      "defaulting sanely at the default probe") {
    val e = Tables.embeddings(spark, sf0001)
    val q = e.filter($"vec_id" < 10)
    val exact = Similarity.bruteKnn(e, q, "vec_id", "embedding", k = 5)
    val full = Similarity.ivfKnn(e, q, "vec_id", "embedding", k = 5,
      cells = 16, nProbe = 16)
    val r1 = Similarity.annRecall(full, exact, k = 5)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(r1.size === 10)
    assert(r1.forall { case (_, ne, no, rec) =>
      ne === 5L && no === 5L && rec === 1.0 })
    val part = Similarity.ivfKnn(e, q, "vec_id", "embedding", k = 5,
      cells = 16, nProbe = 4)
    val r2 = Similarity.annRecall(part, exact, k = 5)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(r2.size === 10)
    assert(r2.forall { case (_, ne, no, rec) =>
      ne === 5L && no >= 0L && no <= 5L &&
        math.abs(rec - no.toDouble / 5) < 1e-12 })
    // a query with NO approx rows at all still reports, at recall 0
    val r3 = Similarity.annRecall(
        part.filter($"query_id" =!= 0L), exact, k = 5)
      .filter($"query_id" === 0L)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(r3 === Seq((0L, 5L, 0L, 0.0)))
  }

  test("lshKnn results are a subset of brute-force candidates with " +
    "reasonable recall on the real embeddings") {
    val e = Tables.embeddings(spark, sf0001)
    val q = e.filter($"vec_id" < 50)
    val brute = Similarity.bruteKnn(e, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshKnn(e, q, "vec_id", "embedding", 5,
        planes = 4, tables = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // every LSH hit is a true pair of vectors (sanity)
    assert(lsh.nonEmpty)
    val recall = (lsh intersect brute).size.toDouble / brute.size
    // OR-amplified: 8 tables × 4 planes recovers most top-5 neighbors
    assert(recall > 0.4, s"recall=$recall")
  }

  test("centroidScores: cosine to own-label centroid; null labels " +
    "dropped; far vectors flagged") {
    val emb = Seq(
      (1L, Array(1f, 0f), Option(0)),
      (2L, Array(1f, 0f), Option(0)),
      (3L, Array(-1f, 0.5f), Option(0)), // pulls against its label
      (4L, Array(0f, 1f), Option(1)),    // singleton label: cos = 1
      (5L, Array(0f, 2f), Option.empty[Int])
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.centroidScores(emb, "vec_id", "embedding",
        "label", threshold = 0.5)
      .orderBy($"vec_id")
      .as[(Long, Int, Double, Boolean)].collect()
    assert(out.map(_._1).toSeq === Seq(1L, 2L, 3L, 4L)) // id 5 dropped
    // label-0 centroid = (1/3, 1/6): ids 1,2 align, id 3 opposes
    assert(out(0)._3 > 0.5 && !out(0)._4)
    assert(out(1)._3 === out(0)._3)
    assert(out(2)._3 < 0 && out(2)._4)
    // a singleton label's vector IS its centroid (cos ≈ 1 within
    // the 1e-9 fixed-point quantum)
    assert(math.abs(out(3)._3 - 1.0) < 1e-6 && !out(3)._4)
  }

  test("embeddingDrift: unmoved group ~1, rotated group low, " +
      "one-sided groups report counts with a null cosine") {
    val ref = Seq(
      ("a", Array(1f, 0f)), ("a", Array(1f, 0.2f)),
      ("b", Array(0f, 1f)), ("b", Array(0.2f, 1f)),
      ("gone", Array(1f, 1f)))
      .toDF("grp", "embedding")
    val cur = Seq(
      ("a", Array(1f, 0.1f)), ("a", Array(1f, 0f)),   // unmoved
      ("b", Array(1f, 0f)), ("b", Array(1f, -0.1f)),  // rotated ~90°
      ("new", Array(0f, 1f)))
      .toDF("grp", "embedding")
    val got = Similarity.embeddingDrift(ref, cur, "grp", "embedding")
      .as[(String, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    assert(got("a")._4.get > 0.99)
    assert(got("b")._4.get < 0.3)
    assert(got("gone") === (("gone", 1L, 0L, None)))
    assert(got("new") === (("new", 0L, 1L, None)))
    // an alive-but-broken source (every vector null) still reports
    // its row count with a null cosine — it must not masquerade as a
    // vanished source (the pos = -1 sentinel carries raw row counts)
    val broken = Seq(("x", null.asInstanceOf[Array[Float]]),
      ("x", null.asInstanceOf[Array[Float]])).toDF("grp", "embedding")
    val got2 = Similarity.embeddingDrift(ref, broken, "grp", "embedding")
      .as[(String, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    assert(got2("x") === (("x", 0L, 2L, None)))
    assert(got2("a")._2 === 2L && got2("a")._3 === 0L)
  }

  test("mmrSelect: diversity penalty reorders a redundant shortlist") {
    // probe direction = (1,0). a is the best match, b is a near-copy
    // of a, c is orthogonal. Pure relevance ranks a,b,c; MMR must
    // demote the near-copy below the diverse item.
    val cands = Seq(
      (1L, Array(1f, 0f), 1.0),
      (2L, Array(0.999f, 0.02f), 0.98),
      (3L, Array(0f, 1f), 0.10)
    ).toDF("vec_id", "embedding", "rel")
    val out = Similarity.mmrSelect(cands, "vec_id", "embedding", "rel",
        k = 3, lambda = 0.5)
      .orderBy($"sel_rank")
      .as[(Int, Long, Double, Double, Double)].collect()
    assert(out.map(_._2).toSeq === Seq(1L, 3L, 2L))
    // first pick carries no penalty and rank-1 mmr = λ·rel
    assert(out(0)._4 === 0.0 && out(0)._5 === 0.5)
    // the near-copy's recorded penalty is its similarity to item 1
    assert(out(2)._4 > 0.99)
    // k > candidates truncates instead of failing
    assert(Similarity.mmrSelect(cands, "vec_id", "embedding", "rel",
      k = 10, lambda = 0.5).count() === 3)
    // shortlist contract is enforced
    val e = intercept[IllegalArgumentException] {
      Similarity.mmrSelect(cands, "vec_id", "embedding", "rel",
        k = 2, lambda = 0.5, maxCandidates = 2)
    }
    assert(e.getMessage.contains("shortlist"))
  }

  test("kmeansFixed: total assignment, bounded cells, deterministic") {
    val e = Tables.embeddings(spark, sf0001)
    val n = e.count()
    val got = Similarity.kmeansFixed(e, "vec_id", "embedding",
      k = 8, rounds = 2)
    val rows = got.as[(Long, Int, Double)].collect()
    assert(rows.length == n)                       // every vector assigned
    assert(rows.map(_._1).distinct.length == n)    // exactly once
    assert(rows.forall(r => r._2 >= 0 && r._2 < 8))
    assert(rows.map(_._2).distinct.length > 1)     // not one mega-cluster
    assert(rows.forall(r => r._3 >= -1.0001 && r._3 <= 1.0001))
    val again = Similarity.kmeansFixed(e, "vec_id", "embedding",
      k = 8, rounds = 2).as[(Long, Int, Double)].collect()
    assert(rows.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("kmeansFixed: a refinement round does not worsen the objective") {
    val e = Tables.embeddings(spark, sf0001)
    def meanCos(rounds: Int): Double =
      Similarity.kmeansFixed(e, "vec_id", "embedding", k = 8,
          rounds = rounds)
        .agg(avg($"centroid_cos")).head().getDouble(0)
    // Lloyd step: reassign-to-mean can only increase mean cohesion
    // (up to fixed-point quantization noise)
    assert(meanCos(2) >= meanCos(1) - 1e-6)
  }

  test("kmeansFixed: assignment is the argmax over final centroids") {
    // 2-d corpus with two obvious directions; k=2 must split them and
    // every vector must sit in its nearer final centroid's cell
    val embs = (0L until 20L).map { i =>
      if (i % 2 == 0) (i, Seq(1.0f, 0.02f * i)) else (i, Seq(0.02f * i, 1.0f))
    }.toDF("vec_id", "embedding")
    val got = Similarity.kmeansFixed(embs, "vec_id", "embedding",
      k = 2, rounds = 3).as[(Long, Int, Double)].collect()
    val byCell = got.groupBy(_._2)
    assert(byCell.size == 2)
    // even ids (x-heavy) share a cell, odd ids (y-heavy) the other
    val evenCells = got.filter(_._1 % 2 == 0).map(_._2).distinct
    val oddCells = got.filter(_._1 % 2 == 1).map(_._2).distinct
    assert(evenCells.length == 1 && oddCells.length == 1 &&
      evenCells.head != oddCells.head)
  }

  test("semanticMatches/Filter: drops corpus vectors near a probe, " +
      "keeps the far ones") {
    // probes = two orthogonal-ish base vectors; corpus = near-copies of
    // probe 0 (ids 100,101), plus vectors far from both (200, 201)
    def v(main: Int, eps: Double): Array[Float] = {
      val a = Array.fill(8)(0.0f); a(main) = 1.0f
      a(7) = eps.toFloat; a
    }
    val probes = Seq((0L, v(0, 0)), (1L, v(1, 0)))
      .toDF("vec_id", "embedding")
    val corpus = Seq(
      (100L, v(0, 0.05)), (101L, v(0, 0.1)),
      (200L, v(2, 0)), (201L, v(3, 0)))
      .toDF("vec_id", "embedding")
    val m = Similarity.semanticMatches(corpus, probes, "vec_id",
        "embedding", threshold = 0.9, planes = 2, tables = 4)
      .select("corpus_id").as[Long].collect().toSet
    assert(m.contains(100L) && m.contains(101L))
    assert(!m.contains(200L) && !m.contains(201L))
  }

  test("hardNegatives: positives and self never rank; the nearest " +
      "non-positive does") {
    val embs = Seq(
      (0L, Seq(1.0f, 0.0f)),
      (1L, Seq(0.99f, 0.01f)), // nearest, but a known positive
      (2L, Seq(0.9f, 0.1f)),   // hardest legal negative
      (3L, Seq(0.5f, 0.5f)),
      (4L, Seq(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val positives = Seq((0L, 1L)).toDF("q", "p")
    val got = Similarity.hardNegatives(embs,
        embs.filter($"vec_id" === 0L), "vec_id", "embedding",
        positives, "q", "p", k = 2)
      .select($"neighbor_id", $"rank").as[(Long, Int)]
      .collect().toSeq.sortBy(_._2)
    assert(got === Seq((2L, 1), (3L, 2)))
  }

  test("hardNegativesIvf: positives never rank, results stay within " +
      "the probed candidate set, recall vs brute is reasonable") {
    val e = Tables.embeddings(spark, sf0001)
    val q = e.filter($"vec_id" < 50)
    val positives = e.select($"vec_id".as("pos_doc"))
      .withColumn("query_id", pmod($"pos_doc", lit(10)))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").as[(Long, Long)]
        .collect().toSet
    val brute = pairs(Similarity.hardNegatives(e, q, "vec_id",
      "embedding", positives, "query_id", "pos_doc", k = 5))
    val ivf = pairs(Similarity.hardNegativesIvf(e, q, "vec_id",
      "embedding", positives, "query_id", "pos_doc", k = 5,
      cells = 16, nProbe = 4))
    // the exclusion holds: no emitted pair is a known positive
    assert(ivf.forall { case (qid, nid) => nid % 10 != qid })
    // every IVF hit is a pair the plain ivfKnn candidate set contains
    val ivfAll = pairs(Similarity.ivfKnn(e, q, "vec_id", "embedding",
      k = 200, cells = 16, nProbe = 4))
    assert(ivf.subsetOf(ivfAll))
    val recall = (ivf intersect brute).size.toDouble / brute.size
    assert(recall > 0.4, s"recall=$recall")
  }

  test("randomNegatives: exactly k positive-free ring draws per " +
      "query, deterministic and partition-invariant") {
    val docs = (0L until 200L).map(Tuple1(_)).toDF("doc_id")
    val queries = (0L until 10L).map(Tuple1(_)).toDF("doc_id")
    // positives: every doc with doc % 10 == query (includes self)
    val positives = docs.select($"doc_id".as("pos_doc"))
      .withColumn("query_id", pmod($"pos_doc", lit(10)))
    def run(c: org.apache.spark.sql.DataFrame) =
      Similarity.randomNegatives(c, "doc_id", queries, "doc_id",
          positives, "query_id", "pos_doc", k = 5)
        .as[(Long, Long, Int)].collect().sortBy(t => (t._1, t._3)).toSeq
    val got = run(docs)
    // k rows per query, ranks 1..k, no positive ever drawn
    assert(got.size === 50)
    got.groupBy(_._1).values.foreach { rows =>
      assert(rows.map(_._3).sorted === (1 to 5))
    }
    assert(got.forall { case (q, d, _) => d % 10 != q })
    // deterministic under repartitioning (the ring is bucketed — a
    // non-monotone bucket key would shuffle the global order)
    assert(run(docs.repartition(7)) === got)
    // windows are consecutive ring positions, so two queries with
    // different hashed starts draw different sets (not a constant)
    val sets = got.groupBy(_._1).values.map(_.map(_._2).toSet).toSeq
    assert(sets.distinct.size > 1)
  }

  test("meanPool averages per (group, dim), order-independently") {
    val embs = Seq(
      (0L, Seq(1.0f, 2.0f)), (0L, Seq(3.0f, 4.0f)),
      (1L, Seq(5.0f, 6.0f))
    ).toDF("grp", "embedding")
    val got = Similarity.meanPool(embs, "grp", "embedding")
      .as[(Long, Int, Double)].collect().toSet
    assert(got === Set((0L, 0, 2.0), (0L, 1, 3.0),
      (1L, 0, 5.0), (1L, 1, 6.0)))
  }
}
