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
  * Storage contract — a [[BatchDirs]] store with MAX-merge instead of
  * [[Sinks]]' last-write-wins (the natural CRDT semantics of HLL
  * registers):
  *  - each micro-batch overwrites its OWN batch directory with its
  *    registers (O(batch) write, ≤ 4096 rows per touched group), so
  *    a replayed batch leaves one copy on disk;
  *  - readers max-merge the effective directories per (group, bucket)
  *    — [[estimate]];
  *  - [[compactRegisters]] folds the store in place to one row per
  *    (group, bucket) to bound read amplification.
  */
object StreamingSketch {

  /** Directory-partition shadow of the first group column. The group
    * column itself stays a DATA column inside the files: a partitionBy
    * on the real column would round-trip its value through a directory
    * name, and Spark's read-side partition-type inference can re-type
    * it (string "2024-01-02" → DATE, "007" → 7), silently diverging
    * from the batch-path schema. Readers drop the shadow.
    */
  private val PartCol = "__part"

  private def withPart(registers: DataFrame, groupCols: Seq[String]) =
    registers.withColumn(PartCol, col(groupCols.head).cast("string"))

  /** foreachBatch body: batch-local registers written to the batch's
    * own directory, partitioned below it by the stringified first group
    * column ([[PartCol]]). `groupCols` must be non-empty — use a
    * constant column for a global count.
    */
  def writeRegisters(batch: DataFrame, storePath: String, value: Column,
                     groupCols: Seq[String], batchId: Long): Unit = {
    require(groupCols.nonEmpty,
      "groupCols must be non-empty (add a constant column for a global count)")
    BatchDirs.write(
      withPart(Sketch.hllRegisters(batch, value, groupCols), groupCols),
      storePath, batchId, Seq(PartCol))
  }

  /** Wire a stream into an HLL register store. */
  def registerSink(stream: DataFrame, storePath: String, value: Column,
                   groupCols: Seq[String]): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        writeRegisters(batch, storePath, value, groupCols, batchId)
    }

  /** Current approximate distinct count per group from the store's
    * effective directories. The group columns come back with their
    * exact written dtypes (they are data columns; only the [[PartCol]]
    * shadow rode the directory names, and it is dropped here).
    */
  def estimate(spark: SparkSession, storePath: String,
               groupCols: Seq[String]): DataFrame =
    Sketch.hllEstimate(
      Sketch.hllMerge(BatchDirs.readAll(spark, storePath).drop(PartCol),
        groupCols),
      groupCols)

  /** Fold the store in place to one max-merged row per (group, bucket).
    * Run with the writing stream stopped ([[BatchDirs.compactAll]]).
    */
  def compactRegisters(spark: SparkSession, storePath: String,
                       groupCols: Seq[String]): Unit =
    BatchDirs.compactAll(spark, storePath,
      store => withPart(Sketch.hllMerge(store.drop(PartCol), groupCols),
        groupCols),
      Seq(PartCol))
}
