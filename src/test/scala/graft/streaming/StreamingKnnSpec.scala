package graft.streaming

import graft.SparkSpec
import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.nio.file.Files

/** The incremental-ANN ingestion sink: batch-parity against the
  * one-shot operators, cross-batch index growth, replay idempotency,
  * and the postings-store maintenance merge.
  */
class StreamingKnnSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toString

  /** Deterministic non-zero 4-dim vector (period 11 in i). */
  private def tvec(i: Long): Array[Float] =
    Array.tabulate(4)(j => (((i * 7 + j * 3) % 11).toFloat / 11f) - 0.4f)

  /** A second value space disjoint from [[tvec]]'s, so batch vectors
    * are never exact duplicates of corpus vectors (duplicates lose
    * every cosine tie to the smaller corpus id, which would hide
    * cross-batch retrieval from the assertions below).
    */
  private def uvec(i: Long): Array[Float] =
    Array.tabulate(4)(j => (((i * 5 + j * 2) % 13).toFloat / 13f) - 0.3f)

  private def corpusDf: DataFrame =
    (0 until 40).map(i => (i.toLong, tvec(i.toLong)))
      .toDF("vec_id", "embedding")

  private def batchDf(from: Long, n: Int): DataFrame =
    (0 until n).map(r => (from + r, tvec(from + r)))
      .toDF("vec_id", "embedding")

  private def knnSet(df: DataFrame): Set[(Long, Long, Int)] =
    df.select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet

  test("streaming probe == one-shot ivfKnn for batch 1; batch 2 " +
      "retrieves against corpus + batch 1 (the grown index)") {
    implicit val sqlCtx = spark.sqlContext
    val cents = tmp("sknn_c"); val posts = tmp("sknn_p")
    val out = tmp("sknn_o"); val cp = tmp("sknn_ckpt")
    StreamingKnn.initIndex(corpusDf, "vec_id", "embedding", cents,
      posts, cells = 8)
    val src = MemoryStream[(Long, Array[Float])]
    val q = StreamingKnn.knnSink(src.toDF().toDF("vec_id", "embedding"),
        "vec_id", "embedding", cents, posts, out, cp,
        k = 3, nProbe = 8,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      .start()
    // batch 2 repeats batch 1's VECTORS under fresh ids: its nearest
    // neighbors must come from batch 1 (cosine 1.0, absent from the
    // corpus value space)
    try {
      src.addData((100L until 106L).map(i => (i, uvec(i))))
      q.processAllAvailable()
      src.addData((200L until 206L).map(i => (i, uvec(i - 100L))))
      q.processAllAvailable()
    } finally q.stop()
    val b1 = (0 until 6).map(r => (100L + r, uvec(100L + r)))
      .toDF("vec_id", "embedding")
    val b2 = (0 until 6).map(r => (200L + r, uvec(100L + r)))
      .toDF("vec_id", "embedding")
    assert(knnSet(spark.read.parquet(s"$out/batch=0")) ===
      knnSet(Similarity.ivfKnn(corpusDf, b1, "vec_id", "embedding",
        k = 3, cells = 8, nProbe = 8)))
    // batch 2's reference: the init index grown by batch 1's postings
    // under the FIXED centroids
    val ix0 = Similarity.ivfIndex(corpusDf, "vec_id", "embedding",
      cells = 8)
    val grown = Similarity.IvfIndexFrames(ix0.centroids,
      ix0.postings.unionByName(
        Similarity.ivfAppend(ix0, b1, "vec_id", "embedding")))
    assert(knnSet(spark.read.parquet(s"$out/batch=1")) ===
      knnSet(Similarity.knnAgainstIndex(grown, b2, "vec_id",
        "embedding", k = 3, nProbe = 8)))
    // and batch 2 DID see batch 1: its ids appear among the neighbors
    assert(knnSet(spark.read.parquet(s"$out/batch=1"))
      .exists { case (_, n, _) => n >= 100L && n < 106L })
  }

  test("a replayed batch rewrites its directories idempotently: no " +
      "double-append, no self-match, identical neighbor output") {
    val cents = tmp("sknn_rc"); val posts = tmp("sknn_rp")
    val out = tmp("sknn_ro")
    StreamingKnn.initIndex(corpusDf, "vec_id", "embedding", cents,
      posts, cells = 8)
    val b = batchDf(100L, 5)
    StreamingKnn.processBatch(b, 0L, "vec_id", "embedding", cents,
      posts, out, k = 3, nProbe = 8)
    val out1 = knnSet(spark.read.parquet(s"$out/batch=0"))
    assert(spark.read.parquet(posts).count() === 45) // 40 + 5
    // replay (at-least-once redelivery after a crash)
    StreamingKnn.processBatch(b, 0L, "vec_id", "embedding", cents,
      posts, out, k = 3, nProbe = 8)
    assert(knnSet(spark.read.parquet(s"$out/batch=0")) === out1)
    assert(spark.read.parquet(posts).count() === 45)
    // the replayed probe must not have matched the batch against its
    // own pre-crash postings: no neighbor from the batch's own ids
    assert(!out1.exists { case (_, n, _) => n >= 100L })
  }

  test("compactPostings merges batch directories in place; the index " +
      "the probe sees is unchanged") {
    val cents = tmp("sknn_cc"); val posts = tmp("sknn_cpst")
    val out = tmp("sknn_co")
    StreamingKnn.initIndex(corpusDf, "vec_id", "embedding", cents,
      posts, cells = 8)
    StreamingKnn.processBatch(batchDf(100L, 5), 0L, "vec_id",
      "embedding", cents, posts, out, k = 3, nProbe = 8)
    StreamingKnn.processBatch(batchDf(200L, 5), 1L, "vec_id",
      "embedding", cents, posts, out, k = 3, nProbe = 8)
    val before = StreamingKnn.readIndex(spark, cents, posts)
      .postings.select("neighbor_id", "cell")
      .as[(Long, Long)].collect().toSet
    StreamingKnn.compactPostings(spark, posts, upToBatch = 1L)
    val dirs = new java.io.File(posts).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
    assert(dirs.map(_.getName).toSeq === Seq("batch=-2"))
    assert(StreamingKnn.readIndex(spark, cents, posts)
      .postings.select("neighbor_id", "cell")
      .as[(Long, Long)].collect().toSet === before)
    // a post-merge probe answers exactly like the pre-merge index
    val b3 = batchDf(300L, 4)
    val viaStore = Similarity.knnAgainstIndex(
      StreamingKnn.readIndex(spark, cents, posts), b3, "vec_id",
      "embedding", k = 3, nProbe = 8)
    val ix0 = Similarity.ivfIndex(corpusDf, "vec_id", "embedding",
      cells = 8)
    val grown = Similarity.IvfIndexFrames(ix0.centroids,
      ix0.postings
        .unionByName(Similarity.ivfAppend(ix0, batchDf(100L, 5),
          "vec_id", "embedding"))
        .unionByName(Similarity.ivfAppend(ix0, batchDf(200L, 5),
          "vec_id", "embedding")))
    assert(knnSet(viaStore) === knnSet(Similarity.knnAgainstIndex(
      grown, b3, "vec_id", "embedding", k = 3, nProbe = 8)))
    // the Long.MaxValue boundary is rejected: -(MaxValue+1) would
    // overflow to the seed directory's id and the crashed-merge
    // cleanup branch would delete the store without merging
    intercept[IllegalArgumentException] {
      StreamingKnn.compactPostings(spark, posts, upToBatch = Long.MaxValue)
    }
    ()
  }

  test("maintenance loop: skew-grown streaming store → stats detect → " +
      "rebalance swap → probe parity with a fresh build over " +
      "everything ingested; uncommitted batch dirs survive re-filed") {
    val cents = tmp("sknn_mc"); val posts = tmp("sknn_mp")
    val out = tmp("sknn_mo")
    StreamingKnn.initIndex(corpusDf, "vec_id", "embedding", cents,
      posts, cells = 8)
    // three micro-batches of NEAR-CONSTANT vectors — every append
    // lands in the same Voronoi cell, the skew scenario months of
    // ingestion produce
    def skewVec(i: Long): Array[Float] =
      Array.tabulate(4)(j => 1.0f + (i % 7).toFloat / 1000f + j * 0.01f)
    def skewBatch(from: Long, n: Int): DataFrame =
      (0 until n).map(r => (from + r, skewVec(from + r)))
        .toDF("vec_id", "embedding")
    (0 to 2).foreach { b =>
      StreamingKnn.processBatch(skewBatch(100L * (b + 1), 20), b.toLong,
        "vec_id", "embedding", cents, posts, out, k = 3, nProbe = 8)
    }
    // stats over the live store detect the skew (60 of 100 vectors in
    // one cell → load_ratio 8 * 60/100 = 4.8 > the 4.0 budget)
    val worst = StreamingKnn.storeStats(spark, cents, posts)
      .agg(org.apache.spark.sql.functions.max($"load_ratio"))
      .head().getDouble(0)
    assert(worst > 4.0)
    // maintenance window: batches 0..1 committed, batch 2 may replay
    val swapped = StreamingKnn.maintainIndex(spark, cents, posts,
      upToBatch = 1L, maxLoadRatio = 4.0)
    assert(swapped)
    // the uncommitted batch keeps its own directory (re-filed), so a
    // replay's excludeBatch pruning still works across the swap
    val dirNames = new java.io.File(posts).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .map(_.getName).toSet
    assert(dirNames === Set("batch=-2", "batch=2"))
    // probe parity: the swapped store answers exactly like a fresh
    // ivfIndex over everything ever ingested
    val everything = corpusDf
      .unionByName(skewBatch(100L, 20)).unionByName(skewBatch(200L, 20))
      .unionByName(skewBatch(300L, 20))
    val b4 = batchDf(500L, 5)
    val viaStore = Similarity.knnAgainstIndex(
      StreamingKnn.readIndex(spark, cents, posts), b4, "vec_id",
      "embedding", k = 3, nProbe = 8)
    val fresh = Similarity.knnAgainstIndex(
      Similarity.ivfIndex(everything, "vec_id", "embedding", cells = 8),
      b4, "vec_id", "embedding", k = 3, nProbe = 8)
    assert(knnSet(viaStore) === knnSet(fresh))
    // replay safety ACROSS the swap: re-running batch 2 overwrites
    // its re-filed directory and converges to the identical store
    val beforeReplay = StreamingKnn.readIndex(spark, cents, posts)
      .postings.select("neighbor_id", "cell")
      .as[(Long, Long)].collect().toSet
    StreamingKnn.processBatch(skewBatch(300L, 20), 2L, "vec_id",
      "embedding", cents, posts, out, k = 3, nProbe = 8)
    assert(StreamingKnn.readIndex(spark, cents, posts)
      .postings.select("neighbor_id", "cell")
      .as[(Long, Long)].collect().toSet === beforeReplay)
    // and the replayed probe saw everything EXCEPT its own batch
    assert(!knnSet(spark.read.parquet(s"$out/batch=2"))
      .exists { case (_, n, _) => n >= 300L && n < 320L })
    // a balanced store does NOT swap
    assert(!StreamingKnn.maintainIndex(spark, cents, posts,
      upToBatch = 2L, maxLoadRatio = 1000.0))
  }

  test("rebalanceSwap deletes stale staging from a pre-commit crash " +
      "instead of resurrecting it") {
    val cents = tmp("sknn_sc"); val posts = tmp("sknn_sp")
    val out = tmp("sknn_so")
    StreamingKnn.initIndex(corpusDf, "vec_id", "embedding", cents,
      posts, cells = 8)
    StreamingKnn.processBatch(batchDf(100L, 5), 0L, "vec_id",
      "embedding", cents, posts, out, k = 3, nProbe = 8)
    StreamingKnn.processBatch(batchDf(200L, 5), 1L, "vec_id",
      "embedding", cents, posts, out, k = 3, nProbe = 8)
    // a prior rebalanceSwap(upToBatch=0) crashed BEFORE its commit
    // rename, leaving batch 1 staged under never-committed centroids
    // (poisoned here with an impossible cell id)
    (900L until 905L).map(i => (i, tvec(i), 999L))
      .toDF("neighbor_id", "cv", "cell")
      .write.parquet(s"$posts/.__rebal_b_1")
    // the re-run (now covering both batches) must discard that
    // staging, not publish it
    StreamingKnn.rebalanceSwap(spark, cents, posts, upToBatch = 1L)
    val dirs = new java.io.File(posts).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .map(_.getName).toSet
    assert(dirs === Set("batch=-2"))
    val store = StreamingKnn.readIndex(spark, cents, posts).postings
    assert(store.filter($"cell" === 999L).count() === 0L)
    assert(!store.select("neighbor_id").as[Long].collect()
      .exists(_ >= 900L))
    // and the swapped store still answers like a fresh build
    val everything = corpusDf.unionByName(batchDf(100L, 5))
      .unionByName(batchDf(200L, 5))
    val b3 = batchDf(300L, 4)
    assert(knnSet(Similarity.knnAgainstIndex(
        StreamingKnn.readIndex(spark, cents, posts), b3, "vec_id",
        "embedding", k = 3, nProbe = 8)) ===
      knnSet(Similarity.knnAgainstIndex(
        Similarity.ivfIndex(everything, "vec_id", "embedding", cells = 8),
        b3, "vec_id", "embedding", k = 3, nProbe = 8)))
  }

  test("rebalanceSwap re-run completes a crash AFTER the commit " +
      "marker: publish finishes from the staging, no recompute, same " +
      "store as an uninterrupted swap") {
    // two identical stores; one swaps uninterrupted, the other is
    // hand-placed into the post-commit crash state (commit marker +
    // consumed staging) and healed by a re-run
    def build(cents: String, posts: String, out: String): Unit = {
      StreamingKnn.initIndex(corpusDf, "vec_id", "embedding", cents,
        posts, cells = 8)
      StreamingKnn.processBatch(batchDf(100L, 5), 0L, "vec_id",
        "embedding", cents, posts, out, k = 3, nProbe = 8)
      StreamingKnn.processBatch(batchDf(200L, 5), 1L, "vec_id",
        "embedding", cents, posts, out, k = 3, nProbe = 8)
    }
    val (cA, pA, oA) = (tmp("sknn_ca"), tmp("sknn_pa"), tmp("sknn_oa"))
    val (cB, pB, oB) = (tmp("sknn_cb"), tmp("sknn_pb"), tmp("sknn_ob"))
    build(cA, pA, oA); build(cB, pB, oB)
    StreamingKnn.rebalanceSwap(spark, cA, pA, upToBatch = 0L)
    // store B: reconstruct the exact phase-A output (same public
    // ops), place the commit marker, but "crash" before ANY publish
    val all = spark.read.parquet(pB)
      .select($"neighbor_id", $"cv").dropDuplicates("neighbor_id")
    val ix = Similarity.ivfRebalance(Similarity.IvfIndexFrames(
      spark.read.parquet(cB), all))
    val cCommit = new java.io.File(new java.io.File(cB).getParent,
      "." + new java.io.File(cB).getName + "__rebal_commit").toString
    ix.centroids.write.mode("overwrite").parquet(cCommit)
    val cents = spark.read.parquet(cCommit)
    def refile(src: Seq[String], stage: String): Unit =
      Similarity.ivfAppend(
          Similarity.IvfIndexFrames(cents, cents.limit(0)),
          spark.read.parquet(src: _*)
            .select($"neighbor_id", $"cv").dropDuplicates("neighbor_id"),
          "neighbor_id", "cv")
        .write.mode("overwrite").parquet(s"$pB/.__rebal_$stage")
    refile(Seq(s"$pB/batch=${Long.MinValue}", s"$pB/batch=0"), "merged")
    refile(Seq(s"$pB/batch=1"), "b_1")
    // the re-run must complete the publish from the staging alone
    StreamingKnn.rebalanceSwap(spark, cB, pB, upToBatch = 0L)
    def state(c: String, p: String) = (
      spark.read.parquet(c).select($"cell", $"sv")
        .as[(Long, Seq[Float])].collect().toSet,
      StreamingKnn.readIndex(spark, c, p).postings
        .select($"neighbor_id", $"cell").as[(Long, Long)]
        .collect().toSet,
      new java.io.File(p).listFiles()
        .filter(f => f.getName.startsWith("batch=")).map(_.getName)
        .toSet)
    assert(state(cB, pB) === state(cA, pA))
    // no staging or marker survives either path
    assert(!new java.io.File(cCommit).exists())
    assert(new java.io.File(pB).listFiles()
      .forall(!_.getName.startsWith(".__rebal_")))
  }

  test("crashed-merge duplicate window: surviving sources stay hidden, " +
      "probe parity holds, re-running the merge cleans up") {
    val cents = tmp("sknn_dc"); val posts = tmp("sknn_dp")
    val out = tmp("sknn_do")
    StreamingKnn.initIndex(corpusDf, "vec_id", "embedding", cents,
      posts, cells = 8)
    StreamingKnn.processBatch(batchDf(100L, 5), 0L, "vec_id",
      "embedding", cents, posts, out, k = 3, nProbe = 8)
    val clean = StreamingKnn.readIndex(spark, cents, posts)
      .postings.select("neighbor_id", "cell")
      .as[(Long, Long)].collect().toSet
    val b3 = batchDf(300L, 4)
    val cleanKnn = knnSet(Similarity.knnAgainstIndex(
      StreamingKnn.readIndex(spark, cents, posts), b3, "vec_id",
      "embedding", k = 3, nProbe = 8))
    // simulate a merge that crashed between its publish rename and
    // its source deletes: the covered rows exist BOTH in the merge
    // target and in their surviving source directories
    spark.read.parquet(posts)
      .select($"neighbor_id", $"cv", $"cell")
      .write.parquet(s"$posts/batch=-1")
    // every store row is now on disk twice, yet the probe reads only
    // the effective directories: same index contents, and the top-k
    // heap sees no duplicate neighbor occupying two ranks
    val ix = StreamingKnn.readIndex(spark, cents, posts)
    assert(ix.postings.select("neighbor_id", "cell")
      .as[(Long, Long)].collect().toSet === clean)
    assert(ix.postings.groupBy("neighbor_id").count()
      .filter($"count" > 1).count() === 0L)
    assert(knnSet(Similarity.knnAgainstIndex(ix, b3, "vec_id",
      "embedding", k = 3, nProbe = 8)) === cleanKnn)
    // re-running the merge completes the crashed cleanup (deletes the
    // covered sources): only the merge target is left
    StreamingKnn.compactPostings(spark, posts, upToBatch = 0L)
    assert(new java.io.File(posts).listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).toSet ===
      Set("batch=-1"))
    assert(StreamingKnn.readIndex(spark, cents, posts)
      .postings.select("neighbor_id", "cell")
      .as[(Long, Long)].collect().toSet === clean)
  }
}
