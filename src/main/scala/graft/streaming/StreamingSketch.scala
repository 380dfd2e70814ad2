package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}

import graft.operators.Sketch

/** Streaming distinct counting via the mergeable HLL sketch
  * ([[graft.operators.Sketch]]) — the approximate counterpart of the
  * reference's exact streaming DAU dedup (DauApp's per-day distinct
  * mid). Exact streaming distinct keeps one state row PER DISTINCT KEY
  * — at 100 TB cardinalities that state store is itself a big-data
  * problem. The register sink's state is ≤ 4096 rows per group FOREVER,
  * and the streaming query is stateless (each micro-batch aggregates
  * only itself), so there is no watermark, no state store, and no
  * eviction policy to tune.
  *
  * Storage contract (same append-only pattern as [[Sinks]], but with
  * MAX-merge instead of last-write-wins — the natural CRDT semantics of
  * HLL registers):
  *  - each micro-batch appends its OWN registers stamped with the batch
  *    id (O(batch) write, ≤ 4096 rows per touched group);
  *  - readers max-merge per (group, bucket) — [[estimate]];
  *  - a replayed batch re-appends rows that cannot move any max —
  *    idempotent under at-least-once delivery with no sequencing logic
  *    at all;
  *  - [[compactRegisters]] rewrites the store to one row per
  *    (group, bucket) to bound read amplification.
  */
object StreamingSketch {

  /** Directory-partition shadow of the first group column. The group
    * column itself stays a DATA column inside the files: a partitionBy
    * on the real column would round-trip its value through a directory
    * name, and Spark's read-side partition-type inference can re-type
    * it (string "2024-01-02" → DATE, "007" → 7), silently diverging
    * from the batch-path schema. Readers drop the shadow; per-day
    * pruning filters on it (string-typed, never inferred away).
    */
  private[graft] val PartCol = "__part"

  /** foreachBatch body: batch-local registers appended to the store,
    * directory-partitioned by the stringified first group column
    * ([[PartCol]] — per-day estimates prune to one partition).
    * `groupCols` must be non-empty — use a constant column for a
    * global count.
    */
  def appendRegisters(batch: DataFrame, storePath: String, value: Column,
                      groupCols: Seq[String], batchId: Long): Unit = {
    require(groupCols.nonEmpty,
      "groupCols must be non-empty (add a constant column for a global count)")
    Sinks.appendStore(
      Sketch.hllRegisters(batch, value, groupCols)
        .withColumn(Sinks.SeqCol, lit(batchId))
        .withColumn(PartCol, col(groupCols.head).cast("string")),
      storePath, PartCol)
  }

  /** Wire a stream into an HLL register store. */
  def registerSink(stream: DataFrame, storePath: String, value: Column,
                   groupCols: Seq[String]): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        appendRegisters(batch, storePath, value, groupCols, batchId)
    }

  /** Current approximate distinct count per group from the store. The
    * group columns come back with their exact written dtypes (they are
    * data columns; only the [[PartCol]] shadow rode the directory
    * names, and it is dropped here).
    */
  def estimate(spark: SparkSession, storePath: String,
               groupCols: Seq[String]): DataFrame =
    Sketch.hllEstimate(
      Sketch.hllMerge(Sinks.readStore(spark, storePath).drop(PartCol),
        groupCols),
      groupCols)

  /** Rewrite the store to one max-merged row per (group, bucket). */
  def compactRegisters(spark: SparkSession, storePath: String,
                       groupCols: Seq[String]): Unit =
    Sinks.swapRewrite(spark, storePath, PartCol)(store =>
      Sketch.hllMerge(store.drop(PartCol), groupCols)
        .withColumn(Sinks.SeqCol, lit(0L))
        .withColumn(PartCol, col(groupCols.head).cast("string")))

  // ---- sum-merged sketches (CMS counters, quantile buckets) -----------
  //
  // HLL registers max-merge, so blind re-appends are idempotent. The
  // count-based sketches SUM across shards — a replayed micro-batch
  // would double-count — so they are plain [[SumStore]] stores: each
  // batch overwrites its own partial, and readers sum the effective
  // partials (exactly Sketch.cmsMerge / qsketchMerge).

  private val CmsKeys = Seq("row", "cell")
  private val QsketchKeys = Seq("qbucket")
  private val Cnt = Seq("cnt")

  /** foreachBatch body: this batch's CMS counters, owned-by-path. */
  def writeCmsBatch(batch: DataFrame, storePath: String, value: Column,
                    groupCols: Seq[String], batchId: Long): Unit =
    SumStore.writeBatch(Sketch.cmsSketch(batch, value, groupCols),
      storePath, batchId)

  /** Wire a stream into a CMS counter store. */
  def cmsSink(stream: DataFrame, storePath: String, value: Column,
              groupCols: Seq[String]): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        writeCmsBatch(batch, storePath, value, groupCols, batchId)
    }

  /** Point-frequency estimates over everything landed so far. */
  def cmsEstimate(spark: SparkSession, storePath: String,
                  queries: DataFrame, queryCol: String,
                  groupCols: Seq[String]): DataFrame =
    Sketch.cmsLookup(
      SumStore.merged(spark, storePath, groupCols ++ CmsKeys, Cnt),
      queries, queryCol, groupCols)

  /** foreachBatch body: this batch's quantile buckets, owned-by-path. */
  def writeQsketchBatch(batch: DataFrame, storePath: String, value: Column,
                        groupCols: Seq[String], batchId: Long): Unit =
    SumStore.writeBatch(Sketch.qsketch(batch, value, groupCols),
      storePath, batchId)

  /** Permille quantiles over everything landed so far. */
  def qsketchEstimate(spark: SparkSession, storePath: String,
                      groupCols: Seq[String],
                      permilles: Seq[Int]): DataFrame =
    Sketch.qsketchQuantiles(
      SumStore.merged(spark, storePath, groupCols ++ QsketchKeys, Cnt),
      groupCols, permilles)
}
