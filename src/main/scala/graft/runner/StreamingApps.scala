package graft.runner

import graft.sources.Sources
import graft.streaming._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Runnable wiring of the four reference apps (OdsBaseLogApp,
  * OdsBaseDbApp, DwdDauApp, DwdOrderApp) on Structured Streaming —
  * Kafka in, Kafka/serving-table out, 5 s triggers, checkpoints.
  *
  * Each `main` takes [servers, checkpointRoot, outputRoot]. These need
  * a live Kafka broker, so CI covers the transform layers via
  * MemoryStream specs (see graft.streaming specs) and these mains stay
  * thin: source → transform (all tested) → sink.
  */
object StreamingApps {

  /** Read the dim store's effective directories fresh (per batch) —
    * empty frame with the right schema when the store doesn't exist yet
    * or is an empty root (cold start before the CDC app's first write),
    * so dependent apps start cleanly and pick up dims as they appear.
    * A listing, then one plan: no probe job.
    */
  private[runner] def dimOrEmpty(spark: SparkSession, storePath: String,
                                 table: String,
                                 fields: Seq[String]): DataFrame =
    BatchDirs.read(spark, storePath).map { store =>
      CdcSplit.latestDims(store)
        .filter(col("table") === table)
        .select(json_tuple(col("data"), fields: _*).as(fields))
    }.getOrElse(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(fields.map(f =>
        org.apache.spark.sql.types.StructField(f,
          org.apache.spark.sql.types.StringType)))))

  private def session(name: String): SparkSession = {
    val s = SparkSession.builder()
      .appName(name)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** ODS log splitter: one Kafka topic in → five DWD topics out, all
    * branches in one foreachBatch so the source is read once per
    * micro-batch and offsets commit atomically with the writes.
    *
    * The five branches are serialized per-branch and UNIONed into a
    * single Kafka write with a `topic` routing column — one producer
    * job per batch instead of five, so a mid-batch crash can duplicate
    * at most one write's worth of rows on replay (the reference's
    * at-least-once contract, OdsBaseLogApp.scala:203-211, with a
    * smaller duplication window).
    */
  object OdsLogApp {
    def main(args: Array[String]): Unit = {
      val Array(servers, ckpt, _) = args.padTo(3, "")
      val spark = session("graft-ods-log")
      val parsed = LogSplit.parse(
        Sources.kafka(spark, servers, "ODS_BASE_LOG"))
      val q = parsed.writeStream
        .trigger(Trigger.ProcessingTime("5 seconds"))
        .option("checkpointLocation", s"$ckpt/ods_log")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val cached = batch.persist()
          try routedPayload(cached)
            .write.format("kafka")
            .option("kafka.bootstrap.servers", servers)
            .save()
          finally { cached.unpersist(); () }
        }
        .start()
      q.awaitTermination()
    }
  }

  /** All five log-split branches as one (topic, value) frame: each
    * branch keeps its own JSON schema, the union carries the routing
    * column the Kafka sink consumes.
    */
  private[runner] def routedPayload(parsed: DataFrame): DataFrame =
    LogSplit.split(parsed).map { case (topic, branch) =>
      branch.select(lit(topic).as("topic"),
        to_json(struct(branch.columns.toIndexedSeq.map(col): _*)).as("value"))
    }.reduce(_ unionByName _)

  /** ODS CDC splitter: Maxwell topic in → per-table per-op fact topics
    * + dim-table upserts (a [[BatchDirs]] keyed store standing in for
    * Redis: each batch overwrites its own directory, so a replay leaves
    * one copy).
    */
  object OdsDbApp {
    def main(args: Array[String]): Unit = {
      val Array(servers, ckpt, out) = args.padTo(3, "")
      val spark = session("graft-ods-db")
      val factTables = Set("order_info", "order_detail")
      val dimTables = Set("user_info", "base_province")
      val decoded = CdcSplit.decoded(CdcSplit.parse(
        Sources.kafka(spark, servers, "ODS_BASE_DB")))
      val q = decoded.writeStream
        .trigger(Trigger.ProcessingTime("5 seconds"))
        .option("checkpointLocation", s"$ckpt/ods_db")
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          val cached = batch.persist()
          try {
            CdcSplit.facts(cached, factTables)
              .select(col("topic"),
                to_json(struct(col("table"), col("op"), col("ts"),
                  col("data"))).as("value"))
              .write.format("kafka")
              .option("kafka.bootstrap.servers", servers)
              .save()
            // batch id rides along as __seq: same-second CDC updates
            // landing in different batches keep their arrival order
            BatchDirs.write(CdcSplit.dims(cached, dimTables, bid),
              s"$out/dim_store", bid, Seq("table"))
          } finally { cached.unpersist(); () }
        }
        .start()
      q.awaitTermination()
    }
  }

  /** DWD DAU: page-log topic in → watermarked dedup (streaming state)
    * → per-batch dim enrichment → dt-partitioned keyed serving table.
    *
    * Dims are re-read INSIDE foreachBatch via `dimOrEmpty` (same
    * structure as [[DwdOrderApp]]): a static `spark.read.parquet`
    * outside the loop pins its file listing at plan time, so dims
    * CDC'd after app start would never appear — and a missing store
    * would crash startup. Per-batch reads mirror the reference's
    * per-batch Redis GETs (DwdDauApp.scala:149-165): every micro-batch
    * joins against fresh dims.
    */
  object DwdDauApp {
    def main(args: Array[String]): Unit = {
      val Array(servers, ckpt, out) = args.padTo(3, "")
      val spark = session("graft-dwd-dau")
      val pages = LogSplit.parse(
        Sources.kafka(spark, servers, "DWD_PAGE_LOG_TOPIC"))
      val deduped = DauPipeline.dedupDailyStreaming(
        DauPipeline.sessionStarts(LogSplit.pages(pages)))
      val q = deduped.writeStream
        .outputMode("append")
        .trigger(Trigger.ProcessingTime("5 seconds"))
        .option("checkpointLocation", s"$ckpt/dau")
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          val dimUser = dimOrEmpty(spark, s"$out/dim_store",
            "user_info", Seq("id", "gender", "birthday"))
          val dimProvince = dimOrEmpty(spark, s"$out/dim_store",
            "base_province",
            Seq("id", "name", "area_code", "iso_code", "iso_3166_2"))
          Sinks.upsertBatch(
            DauPipeline.enrich(batch, dimUser, dimProvince),
            s"$out/dau", "mid", "dt", bid, Some("event_ts"))
        }
        .start()
      q.awaitTermination()
    }
  }

  /** DWD order-wide: info + detail fact topics in → watermarked
    * stream-stream join → dt-partitioned keyed serving table.
    */
  object DwdOrderApp {
    def main(args: Array[String]): Unit = {
      val Array(servers, ckpt, out) = args.padTo(3, "")
      val spark = session("graft-dwd-order")
      def factStream(topic: String) =
        Sources.kafka(spark, servers, topic)
          .select(get_json_object(col("value"), "$.data").as("data"))
      val infoRaw = factStream("DWD_ORDER_INFO_I")
        .select(json_tuple(col("data"), "id", "user_id", "province_id",
            "total_amount", "create_time")
          .as(Seq("id", "user_id", "province_id", "total_amount",
            "create_time")))
        .select(col("id").cast("long").as("id"),
          col("user_id").cast("long").as("user_id"),
          col("province_id"),
          col("total_amount").cast("double").as("total_amount"),
          to_timestamp(col("create_time")).as("create_ts"))
      val info = infoRaw
      val detail = factStream("DWD_ORDER_DETAIL_I")
        .select(json_tuple(col("data"), "id", "order_id", "sku_id",
            "sku_name", "split_total_amount", "create_time")
          .as(Seq("id", "order_id", "sku_id", "sku_name",
            "split_total_amount", "create_time")))
        .select(col("id").cast("long").as("detail_id"),
          col("order_id").cast("long").as("order_id"),
          col("sku_id").cast("long").as("sku_id"),
          col("sku_name"),
          col("split_total_amount").cast("double")
            .as("split_total_amount"),
          to_timestamp(col("create_time")).as("create_ts"))
      // explicit projection: both join sides carry create_ts — keep
      // the info side's as THE event time and name every sink column
      val wide = OrderWidePipeline.orderWide(info, detail)
        .select(col("d.detail_id"), col("d.order_id"), col("d.sku_id"),
          col("d.sku_name"), col("d.split_total_amount"),
          col("i.user_id"), col("i.province_id"), col("i.total_amount"),
          col("i.create_ts").as("create_ts"),
          graft.functions.Cols.dt(col("i.create_ts")).as("dt"))
      val q = wide.writeStream
        .trigger(Trigger.ProcessingTime("5 seconds"))
        .option("checkpointLocation", s"$ckpt/order_wide")
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          val dimUser = dimOrEmpty(spark, s"$out/dim_store",
            "user_info", Seq("id", "gender", "birthday"))
          val dimProvince = dimOrEmpty(spark, s"$out/dim_store",
            "base_province",
            Seq("id", "name", "area_code", "iso_code", "iso_3166_2"))
          Sinks.upsertBatch(
            OrderWidePipeline.enrichInfo(batch, dimUser, dimProvince),
            s"$out/order_wide", "detail_id", "dt", bid,
            Some("create_ts"))
        }
        .start()
      q.awaitTermination()
    }
  }

  /** Offline maintenance entry point: fold a [[BatchDirs]] store in
    * place to latest-only rows, bounding the read-side dedup under
    * sustained write volume. `CompactionJob dim <path>` folds a
    * [[CdcSplit]] dim store (one row per (table, id), tombstones
    * kept); `CompactionJob serving <path> <pk>` folds a
    * [[Sinks.upsertBatch]] serving table (one row per (pk, dt)). Run
    * it with the writing stream stopped: a batch still being written
    * would land below the fold and be hidden.
    */
  object CompactionJob {
    private[graft] def run(spark: SparkSession,
                            args: Seq[String]): Unit = args match {
      case Seq("dim", path) =>
        CdcSplit.compactDimStore(spark, path)
      case Seq("serving", path, pk) =>
        Sinks.compact(spark, path, pk)
      case other => sys.error(
        s"usage: CompactionJob dim <path> | serving <path> <pk>; got $other")
    }

    def main(args: Array[String]): Unit = {
      val spark = session("graft-compaction")
      try run(spark, args.toSeq) finally spark.stop()
    }
  }
}
