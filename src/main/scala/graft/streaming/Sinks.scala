package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import java.io.IOException

/** Serving-store sinks: the engine's replacement for the reference's
  * per-day Elasticsearch indexes with doc-id upsert (MyEsUtils.scala:
  * 69-79 — at-least-once delivery made effectively-once by keying).
  *
  * Storage contract (LSM-ish, O(batch) writes):
  *  - WRITERS append: each micro-batch dedups itself per (pk, dt) with a
  *    deterministic winner, stamps the batch id into a `__seq` column,
  *    and appends to the dt-partitioned parquet store. A batch's write
  *    cost is O(batch rows) — never O(day), and partitions the batch
  *    doesn't touch are never rewritten.
  *  - READERS compact: [[latest]] keeps the highest-`__seq` row per
  *    (pk, dt) — the ES doc-id upsert contract, resolved at read time
  *    (the same pattern as [[CdcSplit.latestDims]]).
  *  - Replay idempotency: a retried micro-batch re-appends the same
  *    winner rows under the same `__seq`, so ties are bit-identical
  *    rows and the read view is unchanged — exactly-once effect over
  *    at-least-once delivery.
  *  - [[compact]] periodically rewrites the store to latest-only so
  *    read amplification stays bounded under sustained writes. The
  *    rewrite stages into a sibling dir and swaps in by rename
  *    ([[swapRewrite]]) — crash-recoverable, and readers are exposed
  *    only to the two-rename window, not the write job. On a
  *    production lakehouse the whole contract is a Delta/Iceberg
  *    MERGE with truly atomic commits.
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
    * in-batch dedup per (pk, dt), then an APPEND of just those rows
    * stamped with `batchId` — readers resolve last-write-wins via
    * [[latest]]. O(batch) write cost; untouched day partitions are
    * never rewritten.
    */
  def upsertBatch(batch: DataFrame, path: String, pk: String,
                  dtCol: String = "dt", batchId: Long = 0L,
                  tsCol: Option[String] = None): Unit =
    appendStore(winners(batch, pk, dtCol, tsCol)
      .withColumn(SeqCol, lit(batchId)), path, dtCol)

  /** Append rows to a `partCol`-partitioned store, recovering a
    * crashed [[swapRewrite]] first: an append into a root the swap
    * moved aside would recreate the root, and the next recovery would
    * find the live path present and orphan the rewritten store in
    * `path.__compact_tmp`.
    */
  private[graft] def appendStore(rows: DataFrame, path: String,
                                 partCol: String): Unit = {
    val dst = new Path(path)
    recoverStore(
      dst.getFileSystem(rows.sparkSession.sessionState.newHadoopConf()),
      dst)
    rows.write.mode(SaveMode.Append).partitionBy(partCol).parquet(path)
  }

  /** Current state of an append-only keyed store: highest-`__seq` row
    * per (pk, dt). Tolerates stores (or individual files) written
    * without `__seq` — missing/null sequences read as 0. The window is
    * partitioned by the key, so compaction is a keyed shuffle — no
    * global ordering anywhere. Ordering is fully deterministic: after
    * `__seq`, remaining columns break ties (a replayed batch can
    * legitimately append a DIFFERENT row under the same `__seq` when
    * its enrichment re-read fresher dims — which image wins must not
    * depend on partition order).
    */
  def latest(store: DataFrame, pk: String, dtCol: String = "dt"): DataFrame =
    latestKeepSeq(store, pk, dtCol).drop(SeqCol)

  private def latestKeepSeq(store: DataFrame, pk: String,
                            dtCol: String): DataFrame = {
    val s =
      if (store.columns.contains(SeqCol))
        store.withColumn(SeqCol, coalesce(col(SeqCol), lit(0L)))
      else store.withColumn(SeqCol, lit(0L))
    val tiebreak = s.columns.toIndexedSeq
      .filterNot(c => c == pk || c == dtCol || c == SeqCol)
      .map(col(_).desc)
    val w = Window.partitionBy(col(pk), col(dtCol))
      .orderBy(col(SeqCol).desc +: tiebreak: _*)
    s.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Rewrite the store to latest-only rows (keeping each row's winning
    * `__seq` so later appends still merge correctly) — bounds the
    * read-side dedup work under sustained write volume. The rewrite is
    * staged in a sibling directory and swapped in by rename
    * ([[swapRewrite]]): a failure at any point leaves a complete store
    * recoverable on the next call, and the reader-visible gap is two
    * filesystem renames, not the whole write job. Run from a
    * maintenance schedule, not the hot write path.
    */
  def compact(spark: SparkSession, path: String, pk: String,
              dtCol: String = "dt"): Unit =
    swapRewrite(spark, path, dtCol)(latestKeepSeq(_, pk, dtCol))

  private val TmpSuffix = ".__compact_tmp"
  private val OldSuffix = ".__compact_old"

  /** Rewrite a parquet store through a staged swap. Protocol:
    *
    *  1. recover any prior crashed swap ([[recoverStore]]);
    *  2. write `build(store)` to `path.__compact_tmp` (the live store
    *     is untouched — a failed job changes nothing);
    *  3. rename live → `path.__compact_old`, tmp → live, drop old.
    *
    * The only window a reader can observe is between the two renames
    * (metadata ops, not data copies); a crash inside it leaves BOTH
    * the old and the compacted store on disk, and the next
    * [[recoverStore]] (run by every [[readStore]], append and rewrite)
    * swaps the completed tmp in. On HDFS-like stores rename is atomic;
    * a production lakehouse would use a table format with atomic
    * commits (Delta/Iceberg) instead, as the class doc notes.
    */
  private[graft] def swapRewrite(spark: SparkSession, path: String,
                                 partCol: String)
                                (build: DataFrame => DataFrame): Unit = {
    val dst = new Path(path)
    val fs = dst.getFileSystem(spark.sessionState.newHadoopConf())
    recoverStore(fs, dst)
    val tmp = new Path(path + TmpSuffix)
    val old = new Path(path + OldSuffix)
    fs.delete(tmp, true) // stale staging from a crash mid-write
    build(readStore(spark, path))
      .write.mode(SaveMode.Overwrite)
      .partitionBy(partCol)
      .parquet(tmp.toString)
    fs.delete(old, true)
    if (!fs.rename(dst, old))
      throw new IOException(s"compaction swap: cannot move $dst aside")
    if (!fs.rename(tmp, dst))
      throw new IOException(s"compaction swap: cannot move $tmp into place")
    fs.delete(old, true)
  }

  /** Heal a swap that crashed between its two renames: if the live
    * path is missing, prefer the completed staging dir (it only ever
    * replaces the live path after its write job succeeded), else fall
    * back to the set-aside previous store. No-op when the live path
    * exists.
    */
  private[streaming] def recoverStore(fs: FileSystem, dst: Path): Unit =
    if (!fs.exists(dst)) {
      val tmp = new Path(dst.toString + TmpSuffix)
      val old = new Path(dst.toString + OldSuffix)
      if (fs.exists(tmp)) {
        fs.rename(tmp, dst)
        fs.delete(old, true)
      } else if (fs.exists(old)) fs.rename(old, dst)
    }

  /** Read an append-only store with schema merging ON: a store whose
    * oldest files predate a column (e.g. `__seq`) must not lose that
    * column to single-footer schema inference — rows from old files
    * surface it as null, which [[latest]] treats as sequence 0.
    * Self-healing: a store mid-crashed-compaction-swap is recovered
    * before the read (an `exists` check per read otherwise).
    */
  def readStore(spark: SparkSession, path: String): DataFrame = {
    val dst = new Path(path)
    recoverStore(dst.getFileSystem(spark.sessionState.newHadoopConf()), dst)
    spark.read.option("mergeSchema", "true").parquet(path)
  }

  /** [[readStore]] for callers with a legitimate empty-store case
    * (first batch of a fresh stream): recovery runs first, then ONLY a
    * genuinely absent — or present-but-empty, the mkdir'd fresh root —
    * live path reads as None. Any other failure propagates — a
    * membership reader that swallowed a transient read error as
    * "empty" would silently re-emit every already-seen key.
    */
  private[graft] def readStoreIfExists(spark: SparkSession,
                                       path: String): Option[DataFrame] = {
    val dst = new Path(path)
    val fs = dst.getFileSystem(spark.sessionState.newHadoopConf())
    recoverStore(fs, dst)
    if (fs.exists(dst) && fs.listStatus(dst).nonEmpty)
      Some(spark.read.option("mergeSchema", "true").parquet(path))
    else None
  }

  /** Kafka sink (reference K1, MyKafkaUtils.scala:61-114): rows
    * serialized as JSON values; per-record topic routing via an
    * existing `topic` column (the CdcSplit fact branch) or a fixed
    * topic. The `topic` column is excluded from the payload ONLY when
    * it is being consumed for routing — under a fixed topic option a
    * data column that happens to be named `topic` still serializes.
    * Flush-before-commit, acks and idempotent produce are the sink's
    * own contract — none of the reference's hand-rolled producer
    * lifecycle survives.
    */
  def kafkaSink(df: DataFrame, servers: String, checkpoint: String,
                topic: Option[String] = None,
                trigger: Trigger = Trigger.ProcessingTime("5 seconds"))
      : DataStreamWriter[Row] = {
    val routing = topic.isEmpty && df.columns.contains("topic")
    val dataCols =
      (if (routing) df.columns.filter(_ != "topic") else df.columns)
        .toIndexedSeq.map(col)
    val payload =
      if (routing)
        df.select(col("topic"), to_json(struct(dataCols: _*)).as("value"))
      else
        df.select(to_json(struct(dataCols: _*)).as("value"))
    val w = payload.writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
    topic.fold(w)(t => w.option("topic", t))
  }
}
