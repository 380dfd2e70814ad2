package graft.streaming

import graft.operators.Stats
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Streaming eval-outcome store — the continuous-evaluation ingestion
  * shape ([[StreamingBt]]'s sibling): sample results (problem,
  * passed) arrive as eval jobs complete, each micro-batch lands its
  * per-problem (n, c) count partial in a [[SumStore]], and pass@k
  * runs ON DEMAND over the merged store (a dashboard pull, not a
  * per-batch cost). The Chen et al. estimator is a pure function of
  * the per-problem aggregates — the reason
  * [[Stats.passAtKFromCounts]] exists — so the streamed metric equals
  * the batch metric over the full replayed sample log.
  *
  * Replay safety: the per-batch partial OVERWRITES its own
  * batch directory (the SumStore contract), so at-least-once
  * redelivery rewrites identical bytes instead of double-counting a
  * sample. [[compactCounts]] folds the partials; maintenance window
  * only, like every SumStore fold.
  *
  * Scale shape per batch: ONE map-side-combining problem-keyed hash
  * agg over batch rows — the store grows by ≤ |problems| rows per
  * batch, and the metric's cost is store-sized, paid only on pull.
  */
object StreamingEval {

  private val Keys = Seq("problem")
  private val SumCols = Seq("n", "c")

  /** foreachBatch body: land this batch's per-problem counts — the
    * aggregation is [[Stats.passCounts]], the SAME definition the
    * batch metric runs, so the two paths cannot drift.
    */
  def recordBatch(batch: DataFrame, problemCol: String,
                  passedCol: String, storePath: String,
                  batchId: Long): Unit =
    SumStore.writeBatch(
      Stats.passCounts(batch, problemCol, passedCol)
        .withColumnRenamed(problemCol, "problem"),
      storePath, batchId)

  /** Wire a (problem, passed) sample stream into the count store. */
  def evalSink(stream: DataFrame, problemCol: String, passedCol: String,
               storePath: String): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, bid: Long) =>
      recordBatch(batch, problemCol, passedCol, storePath, bid)
    }

  /** Current accumulated per-problem (n, c) counts. */
  def counts(spark: SparkSession, storePath: String): DataFrame =
    SumStore.merged(spark, storePath, Keys, SumCols)

  /** pass@k over everything landed so far — row-identical to
    * [[Stats.passAtK]] over the full sample log (spec-pinned).
    */
  def passAtK(spark: SparkSession, storePath: String,
              k: Int): DataFrame =
    Stats.passAtKFromCounts(counts(spark, storePath),
      "problem", "n", "c", k)

  /** Fold the count store (see [[SumStore.compact]]). */
  def compactCounts(spark: SparkSession, storePath: String): Unit =
    SumStore.compact(spark, storePath, Keys, SumCols)
}
