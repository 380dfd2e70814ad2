package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Cross-batch SEEN-KEY gate — the exact-key companion of
  * [[StreamingNearDedup]]'s content gate and the membership store a
  * crawl frontier runs on (a URL fetched once must never re-enter the
  * work queue): each micro-batch's NEW keys are returned for
  * downstream work and recorded; later batches' repeats are dropped.
  *
  * Replay-STABLE emissions: a [[BatchDirs]] store. Membership is
  * checked against every effective directory EXCEPT the current
  * batch's own, and the fresh keys overwrite that owned directory —
  * so an at-least-once redelivery of batch N sees exactly the store
  * state N originally saw and returns the identical fresh set (a naive
  * check against the full store would return EMPTY on replay, because
  * N's own keys are already in it).
  *
  * [[compactSeen]] folds the store in place to distinct keys; like
  * [[SumStore.compact]] it must run in a maintenance window with the
  * stream stopped — after a fold, a replayed already-folded batch
  * would see its own keys in the merge target (checkpointed batches
  * never replay, so the window is the crash-recovery gap only).
  *
  * Scale shape: one `dropDuplicates` on the batch and one left_anti
  * equi-join against the store per batch — at crawl scale, bucket the
  * store by key to keep the store side shuffle-free.
  */
object StreamingSeen {

  /** foreachBatch body: the batch's previously-UNSEEN rows (first
    * occurrence per key inside the batch wins via dropDuplicates),
    * with their keys recorded owned-by-path. Returns the fresh rows
    * for downstream emission.
    */
  def unseenAndRecord(batch: DataFrame, keyCol: String,
                      storePath: String, batchId: Long): DataFrame = {
    require(batchId >= 0, s"batch ids are >= 0, got $batchId")
    val seen = BatchDirs.read(batch.sparkSession, storePath,
        Some(batchId))
      .map(_.select(col(keyCol)))
    val fresh0 = batch.dropDuplicates(keyCol)
    val fresh = seen.fold(fresh0)(s =>
      fresh0.join(s, Seq(keyCol), "left_anti"))
      .localCheckpoint() // the membership read must finish BEFORE the
                         // overwrite below rewrites this batch's dir
    BatchDirs.write(fresh.select(col(keyCol)), storePath, batchId)
    fresh
  }

  /** All keys ever recorded (distinct). */
  def seenKeys(spark: SparkSession, storePath: String,
               keyCol: String): DataFrame =
    BatchDirs.readAll(spark, storePath).select(col(keyCol)).distinct()

  /** Fold the store in place to distinct keys; maintenance window
    * only (see class doc).
    */
  def compactSeen(spark: SparkSession, storePath: String,
                  keyCol: String): Unit =
    BatchDirs.compactAll(spark, storePath,
      _.select(col(keyCol)).distinct())
}
