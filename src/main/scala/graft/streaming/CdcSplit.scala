package graft.streaming

import graft.functions.Cols
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Maxwell-CDC splitter (reference F4/P6-P8, OdsBaseDbApp.scala:110-171):
  * decode the op type, route fact tables to per-table per-op topics and
  * dim tables to a keyed upsert store.
  *
  * The dim store is a [[BatchDirs]] store partitioned by `table` below
  * each batch directory: each micro-batch overwrites its own
  * directory with its [[dims]] rows, readers resolve the effective
  * directories through [[latestDims]], and [[compactDimStore]] folds
  * them in place.
  *
  * The reference holds the fact/dim table registries in Redis sets
  * re-read each batch; here they're plain parameters — a `foreachBatch`
  * caller can re-read its own config table per batch and pass fresh
  * sets, keeping the dynamic-registry behavior without external state.
  */
object CdcSplit {

  /** Maxwell envelope; `data` stays a raw JSON string because its
    * schema varies per table (SURVEY §1) — downstream consumers apply
    * their table's schema with from_json.
    */
  val envelope: StructType = StructType(Seq(
    StructField("database", StringType),
    StructField("table", StringType),
    StructField("type", StringType),
    StructField("ts", LongType),
    StructField("data", StringType)))

  /** Parse raw Maxwell JSON — one `json_tuple` so each record is parsed
    * once (five separate `get_json_object`s would re-parse per field).
    * `data` stays raw JSON text (its schema varies per table).
    */
  def parse(raw: DataFrame, valueCol: String = "value"): DataFrame =
    raw.select(json_tuple(col(valueCol),
        "database", "table", "type", "ts", "data")
        .as(Seq("database", "table", "type", "ts", "data")))
      .withColumn("ts", col("ts").cast(LongType))

  /** Op decode: insert/bootstrap-insert→I, update→U, delete→D, other
    * rows dropped (reference OdsBaseDbApp.scala:116-126).
    */
  def decoded(parsed: DataFrame): DataFrame =
    parsed.withColumn("op", Cols.decode3(col("type"),
        Seq("insert", "bootstrap-insert"), Seq("update"), Seq("delete")))
      .filter(col("op").isNotNull)

  /** Fact branch: rows for `factTables`, each with its synthesized
    * DWD_{TABLE}_{op} topic (reference :130-141) — ready for a Kafka
    * sink with a `topic` column, or any per-topic fan-out.
    */
  def facts(decodedDf: DataFrame, factTables: Set[String]): DataFrame =
    decodedDf.filter(col("table").isin(factTables.toSeq: _*))
      .withColumn("topic", Cols.topicName(col("table"), col("op")))

  /** Last-write-wins ordering for dim rows. Maxwell `ts` is
    * second-granularity, so same-second events tie on it — break ties
    * by arrival order when known (`__seq`, the writer's micro-batch id,
    * present on store reads), then op precedence (D > U > I: a
    * same-second update supersedes the insert it follows; a delete is
    * terminal), then the payload for full determinism. The residual
    * blind spot is same-second reordering WITHIN one batch (no offset
    * in the envelope), which the reference's Redis SET mis-orders
    * identically.
    */
  private def lwwOrder(hasSeq: Boolean): Seq[org.apache.spark.sql.Column] =
    Seq(col("ts").desc) ++
      (if (hasSeq) Seq(col("__seq").desc) else Nil) ++
      Seq(
        when(col("op") === "D", 3).when(col("op") === "U", 2)
          .otherwise(1).desc,
        col("data").desc)

  /** Dim branch: last-write-wins upsert set for `dimTables`, keyed by
    * (table, id) — id extracted from the row payload (reference
    * :144-163 keys Redis as DIM:{TABLE}:{id}). Within one batch the
    * latest (ts, op, data) wins deterministically; the caller writes
    * the batch's own dim-store directory, stamping the micro-batch id
    * so same-second updates arriving in DIFFERENT batches keep their
    * arrival order across the store.
    */
  def dims(decodedDf: DataFrame, dimTables: Set[String],
           batchId: Long = 0L): DataFrame = {
    val d = decodedDf.filter(col("table").isin(dimTables.toSeq: _*))
      .withColumn("id", get_json_object(col("data"), "$.id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("table"), col("id"))
      .orderBy(lwwOrder(hasSeq = false): _*)
    d.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("table"), col("id"), col("data"), col("op"), col("ts"))
      .withColumn("__seq", lit(batchId))
  }

  /** Latest surviving row per (table, id) of the dim store with
    * tombstones kept — the merge half of the last-write-wins contract
    * (shared by [[latestDims]] and [[compactDimStore]]).
    */
  private def latestWithTombstones(dimStore: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("table"), col("id"))
      .orderBy(lwwOrder(dimStore.columns.contains("__seq")): _*)
    dimStore.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** Read the dim store back as current state: latest row per
    * (table, id) — the read-side half of the last-write-wins contract
    * (writers own a directory per batch; readers resolve).
    */
  def latestDims(dimStore: DataFrame): DataFrame =
    latestWithTombstones(dimStore)
      .filter(col("op") =!= "D") // deleted dims are absent, not stale

  /** Maintenance job: fold the dim store in place to one row per
    * (table, id) so [[latestDims]]'s read-side dedup stays O(live keys)
    * under sustained CDC volume (the store otherwise gains a directory
    * per batch forever — the reference's Redis SET was O(1) per key).
    * Delete tombstones are KEPT: dropping them would let an older,
    * slower-arriving image of the same key win after compaction;
    * tombstone GC is a retention policy (age out rows older than the
    * max accepted CDC lateness), not part of correctness. Run with the
    * CDC stream stopped ([[BatchDirs.compactAll]]).
    */
  def compactDimStore(spark: org.apache.spark.sql.SparkSession,
                      path: String): Unit =
    BatchDirs.compactAll(spark, path, latestWithTombstones, Seq("table"))
}
