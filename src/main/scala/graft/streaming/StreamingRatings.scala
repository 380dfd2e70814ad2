package graft.streaming

import graft.operators.Stats
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Streaming annotation-log store — the label-QA ingestion shape
  * ([[StreamingEval]]'s sibling): individual ratings (item, rater,
  * category) arrive as annotators work, each micro-batch lands its
  * per-(item, rater, category) count partial in a [[SumStore]], and
  * the QA metrics run ON DEMAND over the merged store (a dashboard
  * pull, not a per-batch cost): Fleiss' κ for "is the label set
  * reliable" and the per-rater leave-one-out agreement for "which
  * rater drifts". Both are pure functions of the count table — the
  * reason [[Stats.fleissKappaFromCounts]] /
  * [[Stats.raterAgreementFromCounts]] exist — so the streamed
  * metrics equal the batch metrics over the full replayed rating log
  * (spec-pinned).
  *
  * Replay safety: the per-batch partial OVERWRITES its own
  * batch directory (the SumStore contract), so at-least-once
  * redelivery rewrites identical bytes instead of double-counting a
  * rating. [[compactCounts]] folds the partials; maintenance window
  * only, like every SumStore fold.
  *
  * Scale shape per batch: ONE map-side-combining hash agg keyed
  * (item, rater, category) over batch rows — the store grows by at
  * most the batch's distinct key count, and the metrics' cost is
  * store-sized, paid only on pull.
  */
object StreamingRatings {

  private val Keys = Seq("item", "rater", "cat")
  private val SumCols = Seq("n")

  /** foreachBatch body: land this batch's rating-count partial. */
  def recordBatch(batch: DataFrame, itemCol: String, raterCol: String,
                  categoryCol: String, storePath: String,
                  batchId: Long): Unit =
    SumStore.writeBatch(
      batch.groupBy(col(itemCol).as("item"), col(raterCol).as("rater"),
          col(categoryCol).as("cat"))
        .agg(count(lit(1)).as("n")),
      storePath, batchId)

  /** Wire an (item, rater, category) rating stream into the store. */
  def ratingsSink(stream: DataFrame, itemCol: String, raterCol: String,
                  categoryCol: String, storePath: String)
      : DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, bid: Long) =>
      recordBatch(batch, itemCol, raterCol, categoryCol, storePath, bid)
    }

  /** Current accumulated per-(item, rater, category) counts. */
  def counts(spark: SparkSession, storePath: String): DataFrame =
    SumStore.merged(spark, storePath, Keys, SumCols)

  /** Fleiss' κ over everything landed so far — row-identical to
    * [[Stats.fleissKappa]] over the full rating log (spec-pinned).
    * The rater dimension collapses first: κ is a function of the
    * per-(item, category) table.
    */
  def fleissKappa(spark: SparkSession, storePath: String): DataFrame =
    Stats.fleissKappaFromCounts(counts(spark, storePath),
      "item", "cat", "n")

  /** Krippendorff's alpha (nominal) over everything landed so far —
    * row-identical to [[Stats.krippendorffAlpha]] over the full
    * rating log (spec-pinned); the reliability pull for logs with
    * unequal rater counts, where κ's equal-rater framing strains.
    */
  def krippendorffAlpha(spark: SparkSession,
                        storePath: String): DataFrame =
    Stats.krippendorffAlphaFromCounts(counts(spark, storePath),
      "item", "cat", "n")

  /** Per-rater leave-one-out consensus agreement over everything
    * landed so far — row-identical to [[Stats.raterAgreement]] over
    * the full rating log (spec-pinned).
    */
  def raterAgreement(spark: SparkSession,
                     storePath: String): DataFrame =
    Stats.raterAgreementFromCounts(counts(spark, storePath),
      "item", "rater", "cat", "n")

  /** Krippendorff's alpha with the squared-difference (ordinal)
    * kernel over everything landed so far — row-identical to
    * [[Stats.krippendorffAlphaOrdinal]] over the full rating log
    * (spec-pinned); the pull for Likert-style ORDERED scores, where
    * the nominal form punishes a 4-vs-5 near-miss like a 1-vs-5 miss.
    */
  def krippendorffAlphaOrdinal(spark: SparkSession,
                               storePath: String): DataFrame =
    Stats.krippendorffAlphaOrdinalFromCounts(counts(spark, storePath),
      "item", "cat", "n")

  /** Per-item vote-distribution difficulty over everything landed so
    * far — row-identical to [[Stats.annotationEntropy]] over the
    * full rating log (spec-pinned): WHICH items are ambiguous, while
    * [[raterAgreement]] says which raters drift.
    */
  def itemDifficulty(spark: SparkSession,
                     storePath: String): DataFrame =
    Stats.annotationEntropyFromCounts(counts(spark, storePath),
      "item", "cat", "n")

  /** Fold the count store (see [[SumStore.compact]]). */
  def compactCounts(spark: SparkSession, storePath: String): Unit =
    SumStore.compact(spark, storePath, Keys, SumCols)
}
