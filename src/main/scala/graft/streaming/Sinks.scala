package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Serving-store sinks: the engine's replacement for the reference's
  * per-day Elasticsearch indexes with doc-id upsert (MyEsUtils.scala:
  * 69-79 — at-least-once delivery made effectively-once by keying).
  *
  * Storage contract — a [[BatchDirs]] store, O(batch) writes:
  *  - WRITERS own a directory: each micro-batch dedups itself per
  *    (pk, dt) with a deterministic winner, stamps the batch id into a
  *    `__seq` column, and OVERWRITES its own batch directory,
  *    dt-partitioned below it. A batch's write cost is O(batch rows) —
  *    never O(day) — and no other batch's files are ever rewritten.
  *  - READERS resolve: [[latest]] keeps the highest-`__seq` row per
  *    (pk, dt) over the effective directories — the ES doc-id upsert
  *    contract, resolved at read time (the same pattern as
  *    [[CdcSplit.latestDims]]).
  *  - Replay idempotency: a retried micro-batch rewrites its own
  *    directory, so the store holds one copy of it whatever the
  *    delivery count — exactly-once effect over at-least-once delivery.
  *  - [[compact]] folds the store in place to latest-only rows
  *    ([[BatchDirs.compactAll]]) so read amplification stays bounded
  *    under sustained writes. On a production lakehouse the whole
  *    contract is a Delta/Iceberg MERGE with truly atomic commits.
  */
object Sinks {

  /** Writer-stamped monotone sequence column (micro-batch id). */
  val SeqCol = "__seq"

  /** Deterministic in-batch winner per (pk, dt): order by the version
    * column (event time) descending when given, then by every remaining
    * column descending — so which duplicate "wins" never depends on
    * partition order (rows still tied are bit-identical).
    */
  private def winners(batch: DataFrame, pk: String, dtCol: String,
                      tsCol: Option[String]): DataFrame = {
    val tiebreak = batch.columns
      .filterNot(c => c == pk || c == dtCol || tsCol.contains(c))
      .map(col(_).desc)
    val w = Window.partitionBy(col(pk), col(dtCol))
      .orderBy(tsCol.map(col(_).desc).toSeq ++ tiebreak: _*)
    batch.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Write one micro-batch as a logical keyed upsert: deterministic
    * in-batch dedup per (pk, dt), then those rows stamped with
    * `batchId` overwrite the batch's own directory — readers resolve
    * last-write-wins via [[latest]]. O(batch) write cost; no other
    * batch's files are touched.
    */
  def upsertBatch(batch: DataFrame, path: String, pk: String,
                  dtCol: String = "dt", batchId: Long = 0L,
                  tsCol: Option[String] = None): Unit =
    BatchDirs.write(winners(batch, pk, dtCol, tsCol)
      .withColumn(SeqCol, lit(batchId)), path, batchId, Seq(dtCol))

  /** Current state of a keyed store: highest-`__seq` row per
    * (pk, dt). Tolerates a store written without `__seq` (a plain
    * root): its sequence reads as 0. The window is partitioned by the
    * key, so compaction is a keyed shuffle — no global ordering
    * anywhere. Ordering is fully deterministic: after `__seq`,
    * remaining columns break ties, so which image wins never depends
    * on partition order.
    */
  def latest(store: DataFrame, pk: String, dtCol: String = "dt"): DataFrame =
    latestKeepSeq(store, pk, dtCol).drop(SeqCol)

  private def latestKeepSeq(store: DataFrame, pk: String,
                            dtCol: String): DataFrame = {
    val s =
      if (store.columns.contains(SeqCol)) store
      else store.withColumn(SeqCol, lit(0L))
    val tiebreak = s.columns.toIndexedSeq
      .filterNot(c => c == pk || c == dtCol || c == SeqCol)
      .map(col(_).desc)
    val w = Window.partitionBy(col(pk), col(dtCol))
      .orderBy(col(SeqCol).desc +: tiebreak: _*)
    s.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Fold the store in place to latest-only rows (keeping each row's
    * winning `__seq` so later batches still merge correctly) — bounds
    * the read-side dedup work under sustained write volume. Run from a
    * maintenance window with the writing stream STOPPED
    * ([[BatchDirs.compactAll]]): a batch still being written would
    * land below the fold and be hidden.
    */
  def compact(spark: SparkSession, path: String, pk: String,
              dtCol: String = "dt"): Unit =
    BatchDirs.compactAll(spark, path, latestKeepSeq(_, pk, dtCol),
      Seq(dtCol))

  /** A serving store's effective rows: its data columns, `dt` and
    * `__seq` (the batch directories are not a column). Fails when the
    * store does not exist yet.
    */
  def readStore(spark: SparkSession, path: String): DataFrame =
    BatchDirs.readAll(spark, path)
}
