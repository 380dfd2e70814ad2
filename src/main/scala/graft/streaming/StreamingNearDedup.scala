package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Ingest-time NEAR-duplicate suppression against a persisted, GROWING
  * MinHash index — the streaming twin of
  * [[graft.operators.Dedup.incrementalMinhashPairs]], and the
  * production shape for "never land a near-copy of anything we already
  * hold": each micro-batch computes signatures for its own docs only,
  * band-joins the index of everything landed so far, and appends the
  * survivors' signatures back — so batch N+1 automatically dedups
  * against batches 1..N without ever re-reading their text.
  *
  * Per-batch cost scales with the batch and the matched band buckets,
  * never the accumulated corpus; the index holds (did, sig, band)
  * rows — k longs + a band key per doc-band, no text. The banded
  * signatures are computed ONCE per micro-batch and feed all three
  * consumers (in-batch self-join, index band-join, index append) —
  * signature hashing is the dominant per-doc CPU cost, so recomputing
  * it per consumer would triple the steady-state gate cost at a 5 s
  * trigger.
  *
  * Replay safety: both the landed output and the index append are
  * [[BatchDirs]] stores, so a batch replayed after a crash rewrites
  * its own directories byte-identically instead of double-appending
  * (same idempotency-by-path contract as the keyed serving store's
  * `__seq`).
  */
object StreamingNearDedup {

  /** Empty-index schema — batch 1 runs before any index exists. */
  private val indexSchema = StructType(Seq(
    StructField("did", LongType),
    StructField("sig", ArrayType(LongType, containsNull = false)),
    StructField("band", StringType)))

  /** Current index contents. `excludeBatch` drops one batch
    * directory: a REPLAYED micro-batch must not see its own earlier,
    * pre-crash index append, or every one of its docs would self-match
    * and be dropped on the retry.
    */
  private[streaming] def readIndex(spark: SparkSession, path: String,
                                   excludeBatch: Option[Long] = None)
      : DataFrame =
    BatchDirs.read(spark, path, excludeBatch)
      .map(_.select(col("did"), col("sig"), col("band")))
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], indexSchema))

  /** Fraction of matching MinHash components — the LSH Jaccard
    * estimate shared with [[Dedup.minhashLshPairs]]. */
  private def estJaccard(a: Column, b: Column, k: Int): Column =
    size(filter(zip_with(a, b, (x, y) => x === y), m => m))
      .cast("double") / k

  /** One micro-batch of the gate: computes the batch's banded
    * signatures ONCE (materialized — they feed three consumers) and
    * returns (kept rows, the batch's banded signature frame). The
    * caller derives the index append by semi-joining the signatures
    * against the kept ids — yielding exactly what
    * [[Dedup.minhashIndex]] would emit for the kept docs, without a
    * second signature pass.
    *
    * Within-batch policy is greedy min-id: band-sharing pairs are
    * oriented id_a < id_b, so dropping every doc that appears as
    * `id_b` keeps exactly the smallest id of every within-batch
    * near-dup chain (deterministic, no cluster resolution needed at
    * batch sizes). Cross-batch, a doc is dropped if any band bucket it
    * shares with the index holds a signature within `threshold`.
    */
  private[streaming] def gateBatchParts(batch: DataFrame, index: DataFrame,
                                        idCol: String, textCol: String,
                                        n: Int, k: Int, bands: Int,
                                        threshold: Double)
      : (DataFrame, DataFrame) = {
    // one signature pass per batch; repartition(band) pre-partitions
    // both band joins, localCheckpoint stops the three consumers from
    // re-hashing (bounded: batch rows × bands, k longs each)
    val banded = Dedup.minhashIndex(batch, idCol, textCol, n, k, bands)
      .repartition(col("band"))
      .localCheckpoint()
    val inBatchDups = banded.as("a")
      .join(banded.as("b"), col("a.band") === col("b.band") &&
        col("a.did") < col("b.did"))
      .filter(estJaccard(col("a.sig"), col("b.sig"), k) >= threshold)
      .select(col("b.did").as(idCol)).distinct()
    // the whole batch joins the index (not just in-batch survivors):
    // docs dropped both ways are dropped once either way, and skipping
    // the survivor semi-join keeps the plan two joins wide
    val vsIndex = banded.as("nw")
      .join(index.as("ix"), col("nw.band") === col("ix.band"))
      .filter(estJaccard(col("nw.sig"), col("ix.sig"), k) >= threshold)
      .select(col("nw.did").as(idCol)).distinct()
    val kept = batch
      .join(inBatchDups, Seq(idCol), "left_anti")
      .join(vsIndex, Seq(idCol), "left_anti")
    (kept, banded)
  }

  /** [[gateBatchParts]] kept-rows view, for batch-parity testing. */
  private[streaming] def gateBatch(batch: DataFrame, index: DataFrame,
                                   idCol: String, textCol: String,
                                   n: Int, k: Int, bands: Int,
                                   threshold: Double): DataFrame =
    gateBatchParts(batch, index, idCol, textCol, n, k, bands,
      threshold)._1

  /** Merge the per-micro-batch index directories — the
    * [[BatchDirs.compactInPlace]] in-place maintenance merge (see its
    * scaladoc for the concurrency/crash-safety contract) with this
    * store's row shape.
    */
  def compactIndex(spark: SparkSession, indexPath: String,
                   upToBatch: Long): Unit =
    BatchDirs.compactInPlace(spark, indexPath, upToBatch,
      _.select(col("did"), col("sig"), col("band")))

  /** Attach the near-dedup gate to a streaming document frame.
    * Survivors land in the batch's own directory under `outPath`; their
    * banded signatures in its own directory under `indexPath`. `idCol`
    * must be a bigint (the index `did` key).
    */
  def nearDedupSink(docs: DataFrame, idCol: String, textCol: String,
                    indexPath: String, outPath: String,
                    checkpoint: String,
                    n: Int = 3, k: Int = 24, bands: Int = 6,
                    threshold: Double = 0.5,
                    trigger: Trigger = Trigger.ProcessingTime("5 seconds"))
      : DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        val spark = batch.sparkSession
        val (kept, banded) = gateBatchParts(batch,
          readIndex(spark, indexPath, excludeBatch = Some(bid)),
          idCol, textCol, n, k, bands, threshold)
        // kept feeds the landing write and the append's semi-join;
        // one materialization, bounded by the micro-batch
        val keptM = kept.localCheckpoint()
        BatchDirs.write(keptM, outPath, bid)
        BatchDirs.write(banded.join(keptM.select(col(idCol).as("did")),
          Seq("did"), "left_semi"), indexPath, bid)
      }
}
