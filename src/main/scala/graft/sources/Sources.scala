package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stream sources (reference S1/S2, MyKafkaUtils.scala:19-55).
  *
  * Deployment note: the Kafka source requires the
  * `spark-sql-kafka-0-10` connector on the classpath (a separate
  * artifact from Spark core, submitted via `--packages` or bundled in
  * the application jar).
  *
  * Integration-coverage note: an in-process broker round-trip spec
  * (produce → readStream → split → Kafka write → assert) was scoped and
  * is ENV-BLOCKED in this build environment — the provided Spark
  * distribution ships neither `spark-sql-kafka-0-10` nor
  * `kafka-clients` (verified against /opt/spark/jars), and dependency
  * resolution is offline-only, so no broker can even be instantiated.
  * S1/S2/K1 therefore stay at compile+spec coverage: the option
  * plumbing here is asserted by SourcesSpec, and every transform
  * between source and sink is covered by MemoryStream pipelines
  * carrying the exact (key, value, topic, ...) shape this source
  * emits.
  *
  * The reference hand-manages consumer groups, offset seeding from
  * Redis (S2/S4) and per-batch offset capture (S3); Structured
  * Streaming subsumes all of it — `startingOffsets` seeds the very
  * first run, after which the checkpoint is the source of truth and
  * commits are atomic with sink state. Records surface as
  * (key, value, topic, partition, offset, timestamp); callers parse
  * `value` with their envelope schema.
  */
object Sources {

  /** Kafka subscription from latest offsets (reference S1: the default
    * `auto.offset.reset=latest` path).
    */
  def kafka(spark: SparkSession, servers: String, topic: String): DataFrame =
    kafkaFrom(spark, servers, topic, "latest")

  /** Kafka subscription with pinned starting offsets (reference S2:
    * Redis-seeded `Map[TopicPartition, Long]`). `startingOffsets` is
    * either "earliest"/"latest" or the JSON offset map
    * {"topic":{"0":1234}} — only honored on the first start; the
    * checkpoint governs afterwards (replacing S3/S4 entirely).
    */
  def kafkaFrom(spark: SparkSession, servers: String, topic: String,
                startingOffsets: String): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .load()
      .select(col("key").cast("string"), col("value").cast("string"),
        col("topic"), col("partition"), col("offset"), col("timestamp"))

  /** File-drop stream over JSON-lines (test/dev stand-in carrying the
    * same (value) shape as the Kafka source).
    */
  def jsonLines(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.format("text").load(dir)
      .select(col("value").cast("string"))
}
