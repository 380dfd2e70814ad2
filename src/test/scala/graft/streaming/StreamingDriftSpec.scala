package graft.streaming

import graft.SparkSpec
import graft.operators.Stats
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.nio.file.Files

/** Streamed PSI drift monitor: per-batch binCounts partials sum-merge
  * across micro-batches, the read equals the batch psi over the
  * replayed log BIT FOR BIT (shared binning + shared psiFromCounts),
  * replays cannot double-count, and compaction is view-equal.
  */
class StreamingDriftSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toString

  // deterministic score fixtures: reference ~uniform, current shifted
  // right so several low bins thin out and the smoothing is exercised
  private def refScores: Seq[Double] =
    (0 until 400).map(i => (i % 100) / 100.0)

  private def batchScores(b: Int): Seq[Double] =
    (0 until 150).map(i => ((i * 7 + b * 31) % 60 + 35) / 100.0)

  test("streamed PSI equals the batch psi over the replayed log, " +
      "term_fx for term_fx") {
    implicit val sqlCtx = spark.sqlContext
    val store = tmp("drift_store")
    val src = MemoryStream[Double]
    val q = StreamingDrift.driftSink(src.toDF().toDF("score"), store,
        "score", bins = 10, lo = 0.0, hi = 1.0)
      .option("checkpointLocation", tmp("drift_ckpt"))
      .start()
    try {
      (0 until 3).foreach { b =>
        src.addData(batchScores(b): _*)
        q.processAllAvailable()
      }
      val ref = refScores.toDF("score")
      val refCounts = Stats.binCounts(ref, "score", 10, 0.0, 1.0)
      val streamed = StreamingDrift.psiAgainstReference(
          spark, store, refCounts, bins = 10)
        .orderBy($"bin")
        .as[(Long, Long, Long, Double, Double, Long)].collect()
      val replayed = (0 until 3).flatMap(batchScores).toDF("score")
      val batch = Stats.psi(ref, replayed, "score", bins = 10)
        .orderBy($"bin")
        .as[(Long, Long, Long, Double, Double, Long)].collect()
      assert(streamed === batch)
      // the shift is visible: scalar PSI over the fixture is
      // investigate-level (> 0.25)
      assert(streamed.map(_._6).sum / 1e9 > 0.25)
    } finally q.stop()
  }

  test("streamed KS equals the batch ksTest over the replayed log; " +
      "replay and compaction cannot move it") {
    implicit val sqlCtx = spark.sqlContext
    val store = tmp("ks_store")
    // fixed-point scores (the engine convention): permille ints
    def fx(b: Int): Seq[Long] =
      (0 until 150).map(i => ((i * 7 + b * 31) % 60 + 35).toLong)
    val src = MemoryStream[Long]
    val q = StreamingDrift.ksSink(src.toDF().toDF("score_fx"), store,
        "score_fx")
      .option("checkpointLocation", tmp("ks_ckpt"))
      .start()
    try {
      (0 until 3).foreach { b =>
        src.addData(fx(b): _*)
        q.processAllAvailable()
      }
      val ref = (0 until 400).map(i => (i % 100).toLong)
        .toDF("score_fx")
      val refCounts = Stats.scoreCounts(ref, "score_fx")
      val streamed = StreamingDrift.ksAgainstReference(spark, store,
          refCounts)
        .as[(Long, Long, Option[Double], Option[Long])].head()
      val batch = Stats.ksTest(ref,
          (0 until 3).flatMap(fx).toDF("score_fx"), "score_fx")
        .as[(Long, Long, Option[Double], Option[Long])].head()
      assert(streamed === batch)
      assert(streamed._3.get > 0.2) // the shift is visible
      // replay: re-land batch 1's partial, nothing moves
      StreamingDrift.writeScoreCounts(fx(1).toDF("score_fx"), store,
        "score_fx", 1L)
      assert(StreamingDrift.ksAgainstReference(spark, store, refCounts)
        .as[(Long, Long, Option[Double], Option[Long])].head()
        === streamed)
      StreamingDrift.compactScoreCounts(spark, store)
      assert(StreamingDrift.ksAgainstReference(spark, store, refCounts)
        .as[(Long, Long, Option[Double], Option[Long])].head()
        === streamed)
      // the SAME store serves the W1 alarm, equal to the batch
      // wasserstein1 over the replayed log
      val w1s = StreamingDrift.w1AgainstReference(spark, store,
          refCounts)
        .as[(Long, Long, Option[Double])].head()
      val w1b = Stats.wasserstein1(ref,
          (0 until 3).flatMap(fx).toDF("score_fx"), "score_fx")
        .as[(Long, Long, Option[Double])].head()
      assert(w1s === w1b)
      assert(w1s._3.get > 0) // the shift moved mass
    } finally q.stop()
  }

  test("replayed batch overwrite cannot double-count; compaction " +
      "view-equal and bounds the store") {
    val store = tmp("drift_store2")
    val b0 = batchScores(0).toDF("score")
    val b1 = batchScores(1).toDF("score")
    StreamingDrift.writeBatch(b0, store, "score", 10, 0.0, 1.0, 0L)
    StreamingDrift.writeBatch(b1, store, "score", 10, 0.0, 1.0, 1L)
    val before = StreamingDrift.binnedCounts(spark, store)
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    // at-least-once: batch 1 lands again (crash before checkpoint)
    StreamingDrift.writeBatch(b1, store, "score", 10, 0.0, 1.0, 1L)
    val after = StreamingDrift.binnedCounts(spark, store)
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(after === before)
    // counts are the true histogram of both batches
    val want = Stats.binCounts(
        (batchScores(0) ++ batchScores(1)).toDF("score"),
        "score", 10, 0.0, 1.0)
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(after === want)
    // fold to <= bins rows; view unchanged; a pre-fold replay below
    // the watermark is ignored, never double-counted
    StreamingDrift.compactCounts(spark, store)
    val compacted = StreamingDrift.binnedCounts(spark, store)
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(compacted === before)
    assert(spark.read.parquet(store).count() <= 10)
    StreamingDrift.writeBatch(b1, store, "score", 10, 0.0, 1.0, 1L)
    val postReplay = StreamingDrift.binnedCounts(spark, store)
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(postReplay === before)
  }

  test("streamed categorical chi-squared equals the batch " +
      "chiSquaredDrift over the replayed log; replay and compaction " +
      "cannot move it") {
    implicit val sqlCtx = spark.sqlContext
    val store = tmp("cat_store")
    // current mix shifts toward one category and ships a novel one
    def cats(b: Int): Seq[String] =
      (0 until 120).map { i =>
        if (i % 5 == 0) "xx"
        else s"lang${(i * 7 + b * 31) % 3}"
      }
    val src = MemoryStream[String]
    val q = StreamingDrift.catSink(src.toDF().toDF("cat"), store,
        "cat")
      .option("checkpointLocation", tmp("cat_ckpt"))
      .start()
    try {
      (0 until 3).foreach { b =>
        src.addData(cats(b): _*)
        q.processAllAvailable()
      }
      val ref = (0 until 400).map(i => s"lang${i % 4}").toDF("cat")
      val refCounts = Stats.catCounts(ref, "cat")
      def snap() = StreamingDrift.chi2AgainstReference(spark, store,
          refCounts, "cat")
        .as[(Long, Long, Long, Long, Option[Double], Option[Double])]
        .head()
      val streamed = snap()
      val batch = Stats.chiSquaredDrift(ref,
          (0 until 3).flatMap(cats).toDF("cat"), "cat")
        .as[(Long, Long, Long, Long, Option[Double], Option[Double])]
        .head()
      assert(streamed === batch)
      assert(streamed._5.get > 0 && streamed._6.get > 0.1,
        s"the mix shift + novel category must alarm: $streamed")
      StreamingDrift.writeCatCounts(cats(1).toDF("cat"), store, "cat",
        1L)
      assert(snap() === streamed)
      StreamingDrift.compactCatCounts(spark, store, "cat")
      assert(snap() === streamed)
      assert(spark.read.parquet(store).count() <= 6)
    } finally q.stop()
  }

  test("per-source streamed categorical chi-squared equals the batch " +
      "chiSquaredDriftByGroup over the replayed log") {
    implicit val sqlCtx = spark.sqlContext
    val store = tmp("catsrc_store")
    // s1 keeps the reference mix; s0 ships a novel category
    def cats(b: Int): Seq[(String, String)] =
      (0 until 120).map { i =>
        val s = s"s${i % 2}"
        val c =
          if (i % 2 == 0 && i % 6 == 0) "xx"
          else s"lang${(i * 7 + b * 31) % 3}"
        (s, c)
      }
    val src = MemoryStream[(String, String)]
    val q = StreamingDrift.catSink(
        src.toDF().toDF("source", "cat"), store, "cat", Seq("source"))
      .option("checkpointLocation", tmp("catsrc_ckpt"))
      .start()
    try {
      (0 until 3).foreach { b =>
        src.addData(cats(b): _*)
        q.processAllAvailable()
      }
      val ref = (0 until 400).map(i => (s"s${i % 2}", s"lang${i % 3}"))
        .toDF("source", "cat")
      val refCounts = Stats.catCounts(ref, "cat", Seq("source"))
      def snap() = StreamingDrift.chi2AgainstReference(spark,
          store, refCounts, "cat", Seq("source"))
        .orderBy($"source")
        .as[(String, Long, Long, Long, Long, Option[Double],
          Option[Double])].collect()
      val streamed = snap()
      val batch = Stats.chiSquaredDrift(ref,
          (0 until 3).flatMap(cats).toDF("source", "cat"),
          "cat", Seq("source"))
        .orderBy($"source")
        .as[(String, Long, Long, Long, Long, Option[Double],
          Option[Double])].collect()
      assert(streamed === batch)
      val v = streamed.map(r => r._1 -> r._7.get).toMap
      assert(v("s0") > v("s1"),
        s"novel-category source must out-alarm the stable one: $v")
      // replay: nothing moves
      StreamingDrift.writeCatCounts(
        cats(1).toDF("source", "cat"), store, "cat", 1L, Seq("source"))
      assert(snap() === streamed)
      StreamingDrift.compactCatCounts(spark, store, "cat", Seq("source"))
      assert(snap() === streamed)
    } finally q.stop()
  }

  // per-source fixtures: sources s0/s1 stay on the reference
  // distribution, s2 drifts hard — the alarm the per-source monitor
  // exists to raise while the pooled distribution barely moves
  private def srcScores(b: Int): Seq[(String, Double)] =
    (0 until 240).map { i =>
      val s = s"s${i % 3}"
      val v =
        if (i % 3 == 2) ((i * 7 + b * 31) % 30 + 65) / 100.0
        else ((i * 7 + b * 31) % 100) / 100.0
      (s, v)
    }

  private def srcRef: Seq[(String, Double)] =
    (0 until 600).map(i => (s"s${i % 3}", (i % 100) / 100.0))

  test("per-source streamed PSI equals the batch psiByGroup over the " +
      "replayed log, (group, bin, term_fx) for (group, bin, term_fx); " +
      "replay and compaction cannot move it") {
    implicit val sqlCtx = spark.sqlContext
    val store = tmp("driftsrc_store")
    val src = MemoryStream[(String, Double)]
    val q = StreamingDrift.driftSink(
        src.toDF().toDF("source", "score"), store, "score",
        bins = 10, lo = 0.0, hi = 1.0, groupCols = Seq("source"))
      .option("checkpointLocation", tmp("driftsrc_ckpt"))
      .start()
    try {
      (0 until 3).foreach { b =>
        src.addData(srcScores(b): _*)
        q.processAllAvailable()
      }
      val ref = srcRef.toDF("source", "score")
      val refCounts = Stats.binCounts(ref, "score", 10, 0.0, 1.0,
        Seq("source"))
      def snap() = StreamingDrift.psiAgainstReference(
          spark, store, refCounts, bins = 10, groupCols = Seq("source"))
        .orderBy($"source", $"bin")
        .as[(String, Long, Long, Long, Double, Double, Long)].collect()
      val streamed = snap()
      val replayed = (0 until 3).flatMap(srcScores)
        .toDF("source", "score")
      val batch = Stats.psi(ref, replayed, "score", bins = 10,
          groupCols = Seq("source"))
        .orderBy($"source", $"bin")
        .as[(String, Long, Long, Long, Double, Double, Long)].collect()
      assert(streamed === batch)
      // the per-source alarm fires where it should: s2 is
      // investigate-level, the on-distribution sources are not
      val psi = streamed.groupBy(_._1).view
        .mapValues(_.map(_._7).sum / 1e9).toMap
      assert(psi("s2") > 0.25, s"drifted source under alarm: $psi")
      assert(psi("s0") < 0.1 && psi("s1") < 0.1,
        s"stable sources over alarm: $psi")
      // replay: re-land batch 1's partial, nothing moves
      StreamingDrift.writeBatch(srcScores(1).toDF("source", "score"),
        store, "score", 10, 0.0, 1.0, 1L, Seq("source"))
      assert(snap() === streamed)
      // compaction: view-equal, store bounded by |groups|*bins
      StreamingDrift.compactCounts(spark, store, Seq("source"))
      assert(snap() === streamed)
      assert(spark.read.parquet(store).count() <= 30)
    } finally q.stop()
  }

  test("per-source streamed KS equals the batch ksTestByGroup over " +
      "the replayed log; the drifted source alarms, the stable ones " +
      "do not") {
    implicit val sqlCtx = spark.sqlContext
    val store = tmp("kssrc_store")
    def fx(b: Int): Seq[(String, Long)] =
      srcScores(b).map { case (s, v) => (s, math.round(v * 100)) }
    val src = MemoryStream[(String, Long)]
    val q = StreamingDrift.ksSink(
        src.toDF().toDF("source", "score_fx"), store, "score_fx",
        Seq("source"))
      .option("checkpointLocation", tmp("kssrc_ckpt"))
      .start()
    try {
      (0 until 3).foreach { b =>
        src.addData(fx(b): _*)
        q.processAllAvailable()
      }
      val ref = srcRef.map { case (s, v) => (s, math.round(v * 100)) }
        .toDF("source", "score_fx")
      val refCounts = Stats.scoreCounts(ref, "score_fx", Seq("source"))
      def snap() = StreamingDrift.ksAgainstReference(
          spark, store, refCounts, Seq("source"))
        .orderBy($"source")
        .as[(String, Long, Long, Option[Double], Option[Long])]
        .collect()
      val streamed = snap()
      val batch = Stats.ksTest(ref,
          (0 until 3).flatMap(fx).toDF("source", "score_fx"),
          "score_fx", Seq("source"))
        .orderBy($"source")
        .as[(String, Long, Long, Option[Double], Option[Long])]
        .collect()
      assert(streamed === batch)
      val d = streamed.map(r => r._1 -> r._4.get).toMap
      assert(d("s2") > 0.2, s"drifted source under alarm: $d")
      assert(d("s0") < 0.1 && d("s1") < 0.1,
        s"stable sources over alarm: $d")
      // replay + compaction: nothing moves
      StreamingDrift.writeScoreCounts(
        fx(1).toDF("source", "score_fx"), store, "score_fx", 1L,
        Seq("source"))
      assert(snap() === streamed)
      StreamingDrift.compactScoreCounts(spark, store, Seq("source"))
      assert(snap() === streamed)
      // the SAME store serves the per-source W1 scorecard, equal to
      // the batch grouped wasserstein1 over the replayed log
      val w1s = StreamingDrift.w1AgainstReference(spark, store,
          refCounts, Seq("source"))
        .orderBy($"source")
        .as[(String, Long, Long, Option[Double])].collect()
      val w1b = Stats.wasserstein1(ref,
          (0 until 3).flatMap(fx).toDF("source", "score_fx"),
          "score_fx", Seq("source"))
        .orderBy($"source")
        .as[(String, Long, Long, Option[Double])].collect()
      assert(w1s === w1b)
      val w1 = w1s.map(r => r._1 -> r._4.get).toMap
      assert(w1("s2") > w1("s0") && w1("s2") > w1("s1"),
        s"drifted source should move the most mass: $w1")
    } finally q.stop()
  }
}
