package graft.streaming

import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.operators.Stats

/** Streaming scorer-quality monitor — AUC at LABEL-ARRIVAL time: as
  * human labels (or delayed ground truth) trickle in against the
  * quality classifier's scores, the store accumulates per-score
  * labeled counts and the reads answer "is the classifier still
  * separating keepers from rejects on CURRENT data" within a
  * micro-batch trigger, not at the next offline eval. The
  * [[graft.streaming.StreamingDrift]] monitors watch the score
  * DISTRIBUTION; this watches the score's DISCRIMINATION — a
  * classifier can drift while staying well-distributed, and vice
  * versa.
  *
  * Composition, not a new operator: each micro-batch's
  * [[Stats.labeledScoreCounts]] (the EXACT count table the batch
  * [[Stats.auc]] builds) lands as a [[SumStore]] partial, and the
  * reads feed the sum-merged counts to [[Stats.aucFromCounts]] /
  * [[Stats.rankSumTestFromCounts]] — so the streamed AUC and its
  * significance z are provably equal to the batch metrics over the
  * replayed label log (counts SUM-merge losslessly;
  * StreamingScorerSpec pins it).
  *
  * Replay safety and compaction are [[SumStore]]'s: partials
  * overwrite their own batch directory, re-delivery rewrites
  * identical bytes, and the effective-directory read ignores late
  * replays of folded batches.
  *
  * Scale shape: per batch ONE score-keyed map-side hash agg over the
  * micro-batch (≤ distinct scores rows written); the reads fold the
  * store to the distinct-score table and run the one bucketed
  * prefix-sum kernel, [[Stats.cumBelowByValue]] (keyed when the read
  * is grouped) — nothing keyed by corpus size, no state store.
  */
object StreamingScorer {

  /** foreachBatch body: this batch's labeled score counts. */
  def writeBatch(batch: DataFrame, storePath: String,
                 scoreFxCol: String, labelCol: String,
                 batchId: Long): Unit =
    SumStore.writeBatch(
      Stats.labeledScoreCounts(batch, scoreFxCol, labelCol),
      storePath, batchId)

  /** Wire a (fixed-point score, boolean label) stream into a labeled
    * score-count store.
    */
  def scorerSink(stream: DataFrame, storePath: String,
                 scoreFxCol: String,
                 labelCol: String): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        writeBatch(batch, storePath, scoreFxCol, labelCol, batchId)
    }

  /** Current sum-merged (s, np, nn) labeled counts over everything
    * landed.
    */
  def labeledCounts(spark: SparkSession, storePath: String): DataFrame =
    SumStore.merged(spark, storePath, Seq("s"), Seq("np", "nn"))

  /** Exact tie-aware AUC of everything landed — output as
    * [[Stats.auc]]: (n_pos, n_neg, auc).
    */
  def aucSnapshot(spark: SparkSession, storePath: String): DataFrame =
    Stats.aucFromCounts(labeledCounts(spark, storePath))

  /** Tie-corrected rank-sum significance of the landed separation —
    * output as [[Stats.rankSumTest]]: (n_pos, n_neg, auc, z).
    */
  def rankSumSnapshot(spark: SparkSession,
                      storePath: String): DataFrame =
    Stats.rankSumTestFromCounts(labeledCounts(spark, storePath))

  /** Fold the store to one row per distinct score — maintenance
    * window only ([[SumStore]] contract).
    */
  def compact(spark: SparkSession, storePath: String): Unit =
    SumStore.compact(spark, storePath, Seq("s"), Seq("np", "nn"))
}
