package graft.streaming

import graft.operators.Corpus
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Ingest-time benchmark decontamination — the streaming twin of
  * [[graft.operators.Corpus.decontaminateAgainst]]: each micro-batch
  * shingles its OWN documents only and gates them against a PERSISTED
  * [[graft.operators.Corpus.evalGramIndex]] (the benchmark suite's
  * distinct n-grams, written once — the index is static, unlike the
  * near-dup index, so no append-back happens here). A training-data
  * ingest runs this right after the near-dup gate: eval contamination
  * is cheapest to stop before it ever lands.
  *
  * Per-batch cost scales with the batch and the matched grams, never
  * the benchmark corpus; the gram join is keyed by DISTINCT grams on
  * both sides, so a hot gram cannot explode it.
  *
  * Replay safety: survivors land in the batch's own [[BatchDirs]]
  * directory with overwrite — a replayed batch rewrites it
  * byte-identically (idempotency-by-path, same contract as the
  * near-dedup sink). The gate reads only the static index, so replays
  * need no self-match exclusion.
  */
object StreamingDecontaminate {

  /** One micro-batch of the gate, exposed for batch-parity testing:
    * keeps docs whose eval-gram `hit_frac` is at most `maxHitFrac`
    * (0.0 = drop on ANY benchmark n-gram overlap, the GPT-3/PaLM
    * policy). Docs with fewer than `n` tokens have no grams, cannot
    * be contaminated, and are KEPT.
    */
  private[streaming] def gateBatch(batch: DataFrame, gramIndex: DataFrame,
                                   idCol: String, textCol: String,
                                   n: Int, maxHitFrac: Double): DataFrame = {
    val bad = Corpus.decontaminateAgainst(batch, idCol, textCol,
        gramIndex, n, assumeDistinct = true)
      .filter(col("hit_frac") > maxHitFrac)
      .select(col(idCol))
    batch.join(bad, Seq(idCol), "left_anti")
  }

  /** Attach the decontamination gate to a streaming document frame.
    * `indexPath` must hold a persisted [[Corpus.evalGramIndex]] built
    * with the same `n`, and must exist when the sink is built: the
    * index is STATIC, so it is opened and cached ONCE here — unlike
    * the near-dup index, which grows and must be re-listed per batch,
    * re-scanning an unchanging multi-million-gram set every 5 s
    * trigger would be ~17k redundant index scans a day. The cache
    * lives for the query's lifetime; `spark.catalog.clearCache()` (or
    * `unpersist` on a re-read of the path) releases it after stop.
    */
  def decontaminateSink(docs: DataFrame, idCol: String, textCol: String,
                        indexPath: String, outPath: String,
                        checkpoint: String,
                        n: Int = 5, maxHitFrac: Double = 0.0,
                        trigger: Trigger =
                          Trigger.ProcessingTime("5 seconds"))
      : DataStreamWriter[Row] = {
    val idx = docs.sparkSession.read.parquet(indexPath).persist()
    docs.writeStream
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        BatchDirs.write(
          gateBatch(batch, idx, idCol, textCol, n, maxHitFrac),
          outPath, bid)
      }
  }
}
