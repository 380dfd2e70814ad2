package graft.streaming

import graft.SparkSpec
import graft.operators.Sketch
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

case class DauEvent(dt: String, mid: String)

/** Streaming approximate DAU on MemoryStream: per-micro-batch registers
  * append into the store, estimates max-merge across batches, replayed
  * batches cannot move the answer, and the result equals the batch HLL
  * over the union exactly (merge is lossless by construction).
  */
class StreamingSketchSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toString

  private def users(day: String, lo: Int, hi: Int): Seq[DauEvent] =
    (lo until hi).map(i => DauEvent(day, s"mid-$i"))

  test("cross-batch estimate equals the batch sketch over the union") {
    implicit val sqlCtx = spark.sqlContext
    val store = tmp("hll_store")
    val src = MemoryStream[DauEvent]
    val q = StreamingSketch.registerSink(src.toDF(), store,
        col("mid"), Seq("dt"))
      .option("checkpointLocation", tmp("hll_ckpt"))
      .start()
    try {
      // batch 1: 600 users on d1; batch 2: 400 repeats + 400 new on d1,
      // plus a second day; batch 3: pure replay-shaped duplicates
      src.addData(users("d1", 0, 600): _*)
      q.processAllAvailable()
      src.addData(users("d1", 200, 1000) ++ users("d2", 0, 300): _*)
      q.processAllAvailable()
      src.addData(users("d1", 0, 100): _*)
      q.processAllAvailable()

      val streamed = StreamingSketch.estimate(spark, store, Seq("dt"))
        .as[(String, Long)].collect().toMap
      val batch = Sketch.hllDistinct(
          (users("d1", 0, 1000) ++ users("d2", 0, 300)).toDF("dt", "mid"),
          col("mid"), Seq("dt"))
        .as[(String, Long)].collect().toMap
      assert(streamed === batch)
      assert(math.abs(streamed("d1") - 1000).toDouble / 1000 < 0.05)
      assert(math.abs(streamed("d2") - 300).toDouble / 300 < 0.05)
    } finally q.stop()
  }

  test("replayed batch append cannot move the estimate; compaction view-equal") {
    val store = tmp("hll_store2")
    val b1 = users("d1", 0, 500).toDF("dt", "mid")
    StreamingSketch.appendRegisters(b1, store, col("mid"), Seq("dt"), 0L)
    val before = StreamingSketch.estimate(spark, store, Seq("dt"))
      .as[(String, Long)].collect().toMap
    // at-least-once: the same micro-batch lands twice
    StreamingSketch.appendRegisters(b1, store, col("mid"), Seq("dt"), 0L)
    val after = StreamingSketch.estimate(spark, store, Seq("dt"))
      .as[(String, Long)].collect().toMap
    assert(before === after)
    // compaction bounds the store at one row per (group, bucket)
    StreamingSketch.compactRegisters(spark, store, Seq("dt"))
    val compacted = StreamingSketch.estimate(spark, store, Seq("dt"))
      .as[(String, Long)].collect().toMap
    assert(compacted === before)
    val rows = spark.read.parquet(store)
    assert(rows.count() ==
      rows.select("dt", "bucket").distinct().count())
  }

  test("register append after a crashed compaction swap keeps the " +
      "compacted history") {
    val store = tmp("hll_store_swap")
    StreamingSketch.appendRegisters(users("d1", 0, 500).toDF("dt", "mid"),
      store, col("mid"), Seq("dt"), 0L)
    val d1 = StreamingSketch.estimate(spark, store, Seq("dt"))
      .as[(String, Long)].collect().toMap
    // crash between compactRegisters' two renames: live missing,
    // completed staging dir present; the next batch appends first
    assert(new java.io.File(store)
      .renameTo(new java.io.File(store + ".__compact_tmp")))
    StreamingSketch.appendRegisters(users("d2", 0, 300).toDF("dt", "mid"),
      store, col("mid"), Seq("dt"), 1L)
    val got = StreamingSketch.estimate(spark, store, Seq("dt"))
      .as[(String, Long)].collect().toMap
    assert(got.keySet === Set("d1", "d2"))
    assert(got("d1") === d1("d1"))
    assert(math.abs(got("d2") - 300).toDouble / 300 < 0.05)
  }

  test("streaming cms: cross-batch counts equal batch-union; replay idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val store = tmp("cms_store")
    val src = MemoryStream[DauEvent]
    val q = StreamingSketch.cmsSink(src.toDF(), store,
        col("mid"), Seq("dt"))
      .option("checkpointLocation", tmp("cms_ckpt"))
      .start()
    try {
      src.addData(users("d1", 0, 50) ++ users("d1", 0, 50): _*) // ×2 each
      q.processAllAvailable()
      src.addData(users("d1", 0, 30): _*) // mid-0..29 now ×3
      q.processAllAvailable()
    } finally q.stop()
    val probes = Seq(("d1", "mid-0"), ("d1", "mid-40")).toDF("dt", "token")
    val got = StreamingSketch.cmsEstimate(spark, store, probes, "token",
        Seq("dt"))
      .as[(String, String, Long)].collect()
      .map { case (_, t, c) => t -> c }.toMap
    val batchGot = Sketch.cmsLookup(
        Sketch.cmsSketch(
          (users("d1", 0, 50) ++ users("d1", 0, 50) ++ users("d1", 0, 30))
            .toDF("dt", "mid"), col("mid"), Seq("dt")),
        probes, "token", Seq("dt"))
      .as[(String, String, Long)].collect()
      .map { case (_, t, c) => t -> c }.toMap
    assert(got === batchGot)
    assert(got("mid-0") >= 3 && got("mid-40") >= 2) // CMS never undercounts
    // at-least-once: batch 1 redelivered under the same id
    StreamingSketch.writeCmsBatch(users("d1", 0, 30).toDF("dt", "mid"),
      store, col("mid"), Seq("dt"), 1L)
    val replayed = StreamingSketch.cmsEstimate(spark, store, probes,
        "token", Seq("dt"))
      .as[(String, String, Long)].collect()
      .map { case (_, t, c) => t -> c }.toMap
    assert(replayed === got)
  }

  test("streaming qsketch: quantiles equal the batch sketch over the union") {
    val store = tmp("qs_store")
    val b1 = (1 to 4000).map(i => ("d1", i.toLong)).toDF("dt", "v")
    val b2 = (4001 to 5000).map(i => ("d1", i.toLong)).toDF("dt", "v")
    StreamingSketch.writeQsketchBatch(b1, store, col("v"), Seq("dt"), 0L)
    StreamingSketch.writeQsketchBatch(b2, store, col("v"), Seq("dt"), 1L)
    // replay of batch 1 — same path, same bytes, no double count
    StreamingSketch.writeQsketchBatch(b2, store, col("v"), Seq("dt"), 1L)
    val got = StreamingSketch.qsketchEstimate(spark, store, Seq("dt"),
        Seq(500, 900)).as[(String, Int, Long)].collect()
      .map { case (_, p, v) => p -> v }.toMap
    val direct = Sketch.qsketchQuantiles(
        Sketch.qsketch(b1.union(b2), col("v"), Seq("dt")),
        Seq("dt"), Seq(500, 900)).as[(String, Int, Long)].collect()
      .map { case (_, p, v) => p -> v }.toMap
    assert(got === direct)
    // sanity: p50 of 1..5000 bucketed to 3 sig digits = 2500
    assert(got(500) === 2500L)
  }

  test("store stays bounded: at most 4096 registers per group per batch") {
    val store = tmp("hll_store3")
    val big = (0 until 20000).map(i => DauEvent("d1", s"u$i"))
      .toDF("dt", "mid")
    StreamingSketch.appendRegisters(big, store, col("mid"), Seq("dt"), 0L)
    assert(spark.read.parquet(store).count() <= Sketch.NumRegisters)
  }
}
