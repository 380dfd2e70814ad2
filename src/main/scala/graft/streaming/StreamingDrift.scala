package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.operators.Stats

/** Streaming score-distribution drift monitor — PSI at INGEST time,
  * where drift detection actually pays (a batch
  * [[Stats.psi]] report over last week's landed data tells you a week
  * late that a source went bad; this sink tells you within a
  * micro-batch trigger). Composition, not a new operator: each
  * micro-batch's [[Stats.binCounts]] (the EXACT binning expression the
  * batch PSI uses) lands as a [[SumStore]] partial, and the reader
  * feeds the sum-merged counts plus a PINNED reference snapshot to
  * [[Stats.psiFromCounts]] — so the streamed PSI is provably equal,
  * bin for bin and term for term, to the batch `psi` over the
  * replayed log (StreamingDriftSpec pins it).
  *
  * Replay safety is [[SumStore]]'s: counts SUM across batches, so each
  * batch's partial OVERWRITES its own batch directory and an
  * at-least-once redelivery rewrites identical bytes — never
  * double-counts. [[compactCounts]] folds the store to ≤ `bins` rows
  * (same maintenance-window contract as every SumStore fold).
  *
  * The reference snapshot is the caller's to pin: run
  * [[Stats.binCounts]] once over the blessed reference corpus with the
  * SAME (bins, lo, hi) and persist it; comparing against a drifting
  * reference would define drift away.
  *
  * Every sink, read and fold takes `groupCols` (default none): the
  * keys are prepended to the store's key columns, so one store per
  * monitor answers "did SOURCE X go bad" — visible per source long
  * before it moves the pooled distribution (a 5 % source can collapse
  * entirely inside global noise) — under the same replay/compaction
  * contract, and the reads are the grouped batch kernels
  * ([[Stats.psi]] etc. with the same keys).
  *
  * Scale shape: per batch ONE bin-keyed map-side hash agg over the
  * micro-batch (≤ `bins` rows written); the read is a ≤
  * bins×batches-row store scan folded to `bins` rows plus
  * [[Stats.psiFromCounts]]'s spine join — nothing keyed by corpus
  * size anywhere, no state store at all (the parquet store IS the
  * state, CRDT-merged by summation).
  */
object StreamingDrift {

  /** foreachBatch body: this batch's (groupCols…, bin) counts,
    * owned-by-path.
    */
  def writeBatch(batch: DataFrame, storePath: String, scoreCol: String,
                 bins: Int, lo: Double, hi: Double, batchId: Long,
                 groupCols: Seq[String] = Nil): Unit =
    SumStore.writeBatch(
      Stats.binCounts(batch, scoreCol, bins, lo, hi, groupCols),
      storePath, batchId)

  /** Wire a score stream into a binned-count drift store. */
  def driftSink(stream: DataFrame, storePath: String, scoreCol: String,
                bins: Int = 10, lo: Double = 0.0, hi: Double = 1.0,
                groupCols: Seq[String] = Nil): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        writeBatch(batch, storePath, scoreCol, bins, lo, hi, batchId,
          groupCols)
    }

  /** Current sum-merged (groupCols…, bin, n) counts over everything
    * landed.
    */
  def binnedCounts(spark: SparkSession, storePath: String,
                   groupCols: Seq[String] = Nil): DataFrame =
    SumStore.merged(spark, storePath, groupCols :+ "bin", Seq("n"))

  /** The monitor's read: PSI of the landed distribution against the
    * pinned reference counts (a persisted [[Stats.binCounts]] over the
    * blessed corpus, same bins/range/keys). Same output schema and
    * fixed-point terms as the batch [[Stats.psi]]; the scalar PSI is
    * `sum(term_fx)/1e9` (per key when grouped).
    */
  def psiAgainstReference(spark: SparkSession, storePath: String,
                          refCounts: DataFrame, bins: Int,
                          groupCols: Seq[String] = Nil): DataFrame =
    Stats.psiFromCounts(refCounts,
      binnedCounts(spark, storePath, groupCols), bins, groupCols)

  /** Fold the store to one summed partition (≤ |keys|·`bins` rows) —
    * run from a maintenance window with the stream stopped
    * ([[SumStore]] contract).
    */
  def compactCounts(spark: SparkSession, storePath: String,
                    groupCols: Seq[String] = Nil): Unit =
    SumStore.compact(spark, storePath, groupCols :+ "bin", Seq("n"))

  // ---- exact (binning-free) KS drift over the same stream ----------
  //
  // The PSI store above bins; a shift smaller than a bin is invisible
  // to it. The KS store keeps per-DISTINCT-SCORE counts (scores are
  // fixed-point by engine convention, so the value space is bounded
  // by the quantization, not the corpus) and the read is the exact
  // [[Stats.ksTest]] against a pinned reference — same SumStore
  // replay/compaction contract, same provable streamed ≡ batch
  // equality (counts SUM-merge losslessly).

  /** foreachBatch body: this batch's per-score counts, owned-by-path.
    * `scoreFxCol` must be integral ([[Stats.scoreCounts]]).
    */
  def writeScoreCounts(batch: DataFrame, storePath: String,
                       scoreFxCol: String, batchId: Long,
                       groupCols: Seq[String] = Nil): Unit =
    SumStore.writeBatch(Stats.scoreCounts(batch, scoreFxCol, groupCols),
      storePath, batchId)

  /** Wire a fixed-point score stream into a per-score count store. */
  def ksSink(stream: DataFrame, storePath: String, scoreFxCol: String,
             groupCols: Seq[String] = Nil): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        writeScoreCounts(batch, storePath, scoreFxCol, batchId,
          groupCols)
    }

  /** Current sum-merged (groupCols…, s, n) score counts over
    * everything landed.
    */
  def scoreCounts(spark: SparkSession, storePath: String,
                  groupCols: Seq[String] = Nil): DataFrame =
    SumStore.merged(spark, storePath, groupCols :+ "s", Seq("n"))

  /** Exact KS of the landed distribution against pinned reference
    * counts (a persisted [[Stats.scoreCounts]]) — output as
    * [[Stats.ksTest]]: (groupCols…, n_ref, n_cur, d, ks_at).
    */
  def ksAgainstReference(spark: SparkSession, storePath: String,
                         refCounts: DataFrame,
                         groupCols: Seq[String] = Nil): DataFrame =
    Stats.ksTestFromCounts(refCounts,
      scoreCounts(spark, storePath, groupCols), groupCols)

  /** Fold the KS store to one row per (key, distinct score) —
    * maintenance window only ([[SumStore]] contract).
    */
  def compactScoreCounts(spark: SparkSession, storePath: String,
                         groupCols: Seq[String] = Nil): Unit =
    SumStore.compact(spark, storePath, groupCols :+ "s", Seq("n"))

  /** Exact 1-Wasserstein distance of the landed distribution against
    * pinned reference counts — a SECOND alarm off the SAME per-score
    * count store [[ksSink]] feeds (no new write path): KS flags the
    * worst local CDF gap, W1 the total mass moved. Output as
    * [[Stats.wasserstein1]]: (groupCols…, n_ref, n_cur, w1).
    */
  def w1AgainstReference(spark: SparkSession, storePath: String,
                         refCounts: DataFrame,
                         groupCols: Seq[String] = Nil): DataFrame =
    Stats.wasserstein1FromCounts(refCounts,
      scoreCounts(spark, storePath, groupCols), groupCols)

  // ---- CATEGORICAL drift (chi-squared) ------------------------------
  //
  // PSI/KS/W1 monitor an ORDERED score; language/source/license/format
  // have no order to cumulate. Same SumStore partial pattern over
  // per-category counts; the read is the exact two-sample chi-squared
  // homogeneity test against a pinned reference.

  /** foreachBatch body: this batch's per-category counts. */
  def writeCatCounts(batch: DataFrame, storePath: String,
                     catCol: String, batchId: Long,
                     groupCols: Seq[String] = Nil): Unit =
    SumStore.writeBatch(Stats.catCounts(batch, catCol, groupCols),
      storePath, batchId)

  /** Wire a categorical stream into a per-category count store. */
  def catSink(stream: DataFrame, storePath: String, catCol: String,
              groupCols: Seq[String] = Nil): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        writeCatCounts(batch, storePath, catCol, batchId, groupCols)
    }

  /** Current sum-merged (groupCols…, cat, n) counts over everything
    * landed.
    */
  def catCountsMerged(spark: SparkSession, storePath: String,
                      catCol: String,
                      groupCols: Seq[String] = Nil): DataFrame =
    SumStore.merged(spark, storePath, groupCols :+ catCol, Seq("n"))

  /** Chi-squared homogeneity of the landed categorical mix against
    * pinned reference counts (a persisted [[Stats.catCounts]]) —
    * output as [[Stats.chiSquaredDrift]]: (groupCols…, n_ref, n_cur,
    * n_cats, df, chi2, cramers_v).
    */
  def chi2AgainstReference(spark: SparkSession, storePath: String,
                           refCounts: DataFrame, catCol: String,
                           groupCols: Seq[String] = Nil): DataFrame =
    Stats.chiSquaredDriftFromCounts(refCounts,
      catCountsMerged(spark, storePath, catCol, groupCols), catCol,
      groupCols)

  /** Fold the categorical store to ≤ |keys|·|categories| rows —
    * maintenance window only ([[SumStore]] contract).
    */
  def compactCatCounts(spark: SparkSession, storePath: String,
                       catCol: String,
                       groupCols: Seq[String] = Nil): Unit =
    SumStore.compact(spark, storePath, groupCols :+ catCol, Seq("n"))
}
