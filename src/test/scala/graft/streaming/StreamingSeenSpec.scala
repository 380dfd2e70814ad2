package graft.streaming

import graft.SparkSpec
import java.nio.file.Files

/** Seen-key gate: repeats across batches are dropped, replay of a
  * batch returns the IDENTICAL fresh set (not empty), compaction
  * preserves membership, and new keys still pass after a fold.
  */
class StreamingSeenSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("seen_store").toString

  private def gate(store: String, id: Long, urls: String*): Set[String] =
    StreamingSeen.unseenAndRecord(
        urls.toDF("url").withColumn("payload",
          org.apache.spark.sql.functions.length($"url")),
        "url", store, id)
      .select("url").as[String].collect().toSet

  test("cross-batch dedup with replay-stable emissions") {
    val store = tmp()
    assert(gate(store, 0L, "u/a", "u/b", "u/a") === Set("u/a", "u/b"))
    assert(gate(store, 1L, "u/b", "u/c") === Set("u/c"))
    // at-least-once replay of batch 1: same fresh set, NOT empty —
    // membership excludes the batch's own directory
    assert(gate(store, 1L, "u/b", "u/c") === Set("u/c"))
    assert(StreamingSeen.seenKeys(spark, store, "url")
      .as[String].collect().toSet === Set("u/a", "u/b", "u/c"))
    // fold to distinct keys; membership survives, new keys still pass
    StreamingSeen.compactSeen(spark, store, "url")
    assert(StreamingSeen.seenKeys(spark, store, "url")
      .as[String].collect().toSet === Set("u/a", "u/b", "u/c"))
    assert(gate(store, 2L, "u/c", "u/d") === Set("u/d"))
    assert(StreamingSeen.seenKeys(spark, store, "url")
      .as[String].collect().toSet ===
      Set("u/a", "u/b", "u/c", "u/d"))
  }

  test("membership survives a compaction crash between the swap renames") {
    val store = tmp()
    assert(gate(store, 0L, "u/a", "u/b") === Set("u/a", "u/b"))
    assert(gate(store, 1L, "u/b", "u/c") === Set("u/c"))
    // the fold swaps its staged target in by rename, then deletes the
    // directories it covers; it dies between the two, so the covered
    // directories sit on disk beside the target
    FoldCrash.afterPublish(store)(
      StreamingSeen.compactSeen(spark, store, "url"))
    assert(gate(store, 2L, "u/a", "u/d") === Set("u/d"))
    assert(StreamingSeen.seenKeys(spark, store, "url")
      .as[String].collect().toSet === Set("u/a", "u/b", "u/c", "u/d"))
    // the next fold finishes the cleanup: one target directory is left
    StreamingSeen.compactSeen(spark, store, "url")
    assert(new java.io.File(store).list()
      .count(_.startsWith("batch=")) === 1)
    assert(StreamingSeen.seenKeys(spark, store, "url")
      .as[String].collect().toSet === Set("u/a", "u/b", "u/c", "u/d"))
  }
}
