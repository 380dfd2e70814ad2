package graft.streaming

import graft.SparkSpec
import graft.operators.Sketch
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

case class DauEvent(dt: String, mid: String)

/** Streaming approximate DAU on MemoryStream: per-micro-batch registers
  * land in their own batch directory, estimates max-merge across
  * batches, replayed batches leave one copy and cannot move the answer,
  * and the result equals the batch HLL over the union exactly (merge is
  * lossless by construction).
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
    StreamingSketch.writeRegisters(b1, store, col("mid"), Seq("dt"), 0L)
    val before = StreamingSketch.estimate(spark, store, Seq("dt"))
      .as[(String, Long)].collect().toMap
    val onDisk = spark.read.parquet(store).count()
    // at-least-once: the same micro-batch lands twice — one copy stays
    StreamingSketch.writeRegisters(b1, store, col("mid"), Seq("dt"), 0L)
    assert(spark.read.parquet(store).count() === onDisk)
    val after = StreamingSketch.estimate(spark, store, Seq("dt"))
      .as[(String, Long)].collect().toMap
    assert(before === after)
    // compaction bounds the store at one row per (group, bucket)
    StreamingSketch.writeRegisters(users("d1", 300, 900).toDF("dt", "mid"),
      store, col("mid"), Seq("dt"), 1L)
    val grown = StreamingSketch.estimate(spark, store, Seq("dt"))
      .as[(String, Long)].collect().toMap
    StreamingSketch.compactRegisters(spark, store, Seq("dt"))
    val compacted = StreamingSketch.estimate(spark, store, Seq("dt"))
      .as[(String, Long)].collect().toMap
    assert(compacted === grown)
    val rows = BatchDirs.readAll(spark, store)
    assert(rows.count() ==
      rows.select("dt", "bucket").distinct().count())
  }

  test("register append after a crashed compaction swap keeps the " +
      "compacted history") {
    val store = tmp("hll_store_swap")
    StreamingSketch.writeRegisters(users("d1", 0, 500).toDF("dt", "mid"),
      store, col("mid"), Seq("dt"), 0L)
    StreamingSketch.writeRegisters(users("d1", 250, 700).toDF("dt", "mid"),
      store, col("mid"), Seq("dt"), 1L)
    val d1 = StreamingSketch.estimate(spark, store, Seq("dt"))
      .as[(String, Long)].collect().toMap
    // the fold crashes after publishing its target, before deleting
    // the batch directories it covers; the next batch lands first
    FoldCrash.afterPublish(store)(
      StreamingSketch.compactRegisters(spark, store, Seq("dt")))
    StreamingSketch.writeRegisters(users("d2", 0, 300).toDF("dt", "mid"),
      store, col("mid"), Seq("dt"), 2L)
    val got = StreamingSketch.estimate(spark, store, Seq("dt"))
      .as[(String, Long)].collect().toMap
    assert(got.keySet === Set("d1", "d2"))
    assert(got("d1") === d1("d1"))
    assert(math.abs(got("d2") - 300).toDouble / 300 < 0.05)
    // the effective read skips the covered sources: the target's
    // registers plus batch 2's, nothing counted from batches 0 and 1
    val target = spark.read.parquet(s"$store/batch=-2").count()
    assert(BatchDirs.readAll(spark, store).count() ===
      target + spark.read.parquet(s"$store/batch=2").count())
  }

  test("store stays bounded: at most 4096 registers per group per batch") {
    val store = tmp("hll_store3")
    val big = (0 until 20000).map(i => DauEvent("d1", s"u$i"))
      .toDF("dt", "mid")
    StreamingSketch.writeRegisters(big, store, col("mid"), Seq("dt"), 0L)
    assert(BatchDirs.readAll(spark, store).count() <= Sketch.NumRegisters)
  }
}
