package graft.streaming

import graft.operators.Stats
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Streaming twin of [[Stats.btStrengths]] — the RLHF comparison-log
  * ingestion shape: preference outcomes arrive continuously, each
  * micro-batch lands its DIRECTED (winner, loser) count partial in a
  * [[SumStore]], and the Bradley-Terry fit runs ON DEMAND over the
  * merged store (a dashboard/trainer pull, not a per-batch cost).
  * Because Hunter's MM fit is a pure function of the (wins, n_ij)
  * aggregates — the reason [[Stats.btStrengthsFromCounts]] exists —
  * fitting the merged store equals fitting the full replayed log, so
  * the streaming path loses nothing over batch: same strengths, same
  * oracle-checkable arithmetic.
  *
  * Replay safety: the per-batch partial OVERWRITES its own
  * batch directory (the SumStore contract), so at-least-once
  * redelivery rewrites identical bytes instead of double-counting a
  * comparison. [[compactCounts]] folds the partials; maintenance
  * window only, like every SumStore fold.
  *
  * Scale shape per batch: ONE map-side-combining (winner, loser) hash
  * agg over batch rows — the store grows by ≤ |distinct match-ups|
  * rows per batch, and the fit's cost is store-sized, paid only when
  * strengths are pulled.
  */
object StreamingBt {

  private val Keys = Seq("w", "l")
  private val SumCols = Seq("n")

  /** foreachBatch body: land this batch's directed outcome counts. */
  def recordBatch(batch: DataFrame, winnerCol: String, loserCol: String,
                  storePath: String, batchId: Long): Unit =
    SumStore.writeBatch(
      batch.groupBy(col(winnerCol).as("w"), col(loserCol).as("l"))
        .agg(count(lit(1)).as("n")),
      storePath, batchId)

  /** Wire a (winner, loser) outcome stream into the count store. */
  def btSink(stream: DataFrame, winnerCol: String, loserCol: String,
             storePath: String): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, bid: Long) =>
      recordBatch(batch, winnerCol, loserCol, storePath, bid)
    }

  /** Current accumulated directed counts. */
  def counts(spark: SparkSession, storePath: String): DataFrame =
    SumStore.merged(spark, storePath, Keys, SumCols)

  /** The MM fit over everything landed so far — row-identical to
    * [[Stats.btStrengths]] over the full log (spec-pinned).
    */
  def strengths(spark: SparkSession, storePath: String,
                iters: Int = 2, scale: Double = 1e9): DataFrame =
    Stats.btStrengthsFromCounts(counts(spark, storePath),
      "w", "l", "n", iters, scale)

  /** Fold the count store (see [[SumStore.compact]]). */
  def compactCounts(spark: SparkSession, storePath: String): Unit =
    SumStore.compact(spark, storePath, Keys, SumCols)
}
