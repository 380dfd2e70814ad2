package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** SUM-merged [[BatchDirs]] store — the shared idempotency machinery
  * behind the streaming count stores ([[StreamingGraph]] degree
  * partials, [[StreamingManifest]] corpus-manifest partials, the
  * comparison, eval, rating, drift, scorer and quota stores). Counts
  * SUM across micro-batches, so a batch that landed twice would
  * double-count. Instead:
  *
  *  - each micro-batch's PARTIAL aggregate OVERWRITES its own batch
  *    directory (at-least-once redelivery rewrites identical bytes);
  *  - [[compact]] folds every effective directory into one summed
  *    merge target in place ([[BatchDirs.compactInPlace]]);
  *  - readers sum the effective directories only, so a batch replayed
  *    even AFTER a fold absorbed it re-creates a directory the
  *    effective set hides — ignored, never double-counted — and a fold
  *    that crashed before its source deletes counts nothing twice.
  *
  * Contract: each logical input row must reach the sink in exactly one
  * batch (upstream incremental dedup guarantees this for crawl/corpus
  * feeds); partials must share one schema of `keyCols ++ sumCols`.
  * [[compact]] folds up to the newest batch present, so it must run in
  * a maintenance window with the writing stream STOPPED: a batch still
  * in flight would land below the fold and be hidden.
  */
private[streaming] object SumStore {

  /** Land one micro-batch's partial aggregate, owned-by-path. */
  def writeBatch(partial: DataFrame, storePath: String,
                 batchId: Long): Unit = {
    require(batchId >= 0, s"batch ids are >= 0, got $batchId")
    BatchDirs.write(partial, storePath, batchId)
  }

  private def rollup(eff: DataFrame, keyCols: Seq[String],
                     sumCols: Seq[String]): DataFrame =
    eff.groupBy(keyCols.map(col): _*)
      .agg(sum(col(sumCols.head)).as(sumCols.head),
        sumCols.tail.map(c => sum(col(c)).as(c)): _*)

  /** Current per-key sums over everything landed so far. */
  def merged(spark: SparkSession, storePath: String,
             keyCols: Seq[String], sumCols: Seq[String]): DataFrame =
    rollup(BatchDirs.readAll(spark, storePath), keyCols, sumCols)

  /** [[merged]] minus one batch directory, `None` when nothing else
    * has landed — the replay-stable read for a foreachBatch body that
    * consults cumulative sums BEFORE overwriting its own partial (the
    * [[StreamingSeen.unseenAndRecord]] membership pattern applied to
    * sums): an at-least-once redelivery of batch N sees exactly the
    * totals N originally saw. Same fold caveat as the seen store: a
    * batch replayed AFTER a fold absorbed it would see its own
    * contribution (checkpointed batches never replay, so the window is
    * the crash-recovery gap only).
    */
  def mergedExcludingIfExists(spark: SparkSession, storePath: String,
                              keyCols: Seq[String], sumCols: Seq[String],
                              excludeBatch: Long): Option[DataFrame] =
    BatchDirs.read(spark, storePath, Some(excludeBatch))
      .map(rollup(_, keyCols, sumCols))

  /** Fold the store in place to one summed merge target covering the
    * newest batch present. Run from a maintenance window with the
    * writing stream STOPPED (see class doc); bounds read amplification
    * to |keys| + O(batches since last fold). Re-folding with no newer
    * partials only deletes hidden directories.
    */
  def compact(spark: SparkSession, storePath: String,
              keyCols: Seq[String], sumCols: Seq[String]): Unit =
    BatchDirs.compactAll(spark, storePath, rollup(_, keyCols, sumCols))
}
