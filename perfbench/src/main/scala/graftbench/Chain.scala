package graftbench

import graft.streaming._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** The ODS → DWD → serving-store chain on file drops.
  *
  * The runner's four apps (`graft.runner.StreamingApps`) need Kafka, so
  * this mirrors their glue with file drops in its place: ODS queries read
  * the generator's JSON drops and write each topic as a text file hop;
  * DWD queries read the hops and upsert into the serving store. Every
  * transform and the store write are the engine's own layer functions
  * (`LogSplit`, `CdcSplit`, `DauPipeline`, `OrderWidePipeline`,
  * `Sinks`). One difference from the runner: a 1 s ProcessingTime
  * trigger in place of 5 s, so a run holds several batches.
  */
final class Chain(spark: SparkSession, val root: String, tracer: Option[Tracer]) {
  import Chain._

  val inLog = s"$root/in_log"
  val inCdc = s"$root/in_cdc"
  private val hopLog = s"$root/hop_log"
  private val hopCdc = s"$root/hop_cdc"
  val dimStore = s"$root/dim_store"
  val dauDir = s"$root/dau"
  val owDir = s"$root/order_wide"
  private val ckpt = s"$root/ckpt"
  /** (query, batch id, epoch ms when its store write returned). */
  val visible = new ConcurrentLinkedQueue[(String, Long, Long)]()

  Harness.mkdirs(inLog, inCdc, s"$hopLog/topic=$PageTopic",
    s"$hopCdc/topic=$InfoTopic", s"$hopCdc/topic=$DetailTopic")

  private def span[T](name: String, group: String, parent: Long = 0L)
                     (body: Long => T): T =
    tracer.fold(body(0L))(_.span(name, parent, group)(body))

  private def text(dir: String): DataFrame = spark.readStream.text(dir)

  private def start(name: String, df: DataFrame)
                   (sink: (DataFrame, Long) => Unit): StreamingQuery =
    df.writeStream.queryName(name)
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .option("checkpointLocation", s"$ckpt/$name")
      .foreachBatch((b: DataFrame, bid: Long) => sink(b, bid))
      .start()

  /** The runner's `routedPayload`: all five log branches as one
    * (topic, value) frame, written in one job per batch.
    */
  private def routed(parsed: DataFrame): DataFrame =
    LogSplit.split(parsed).map { case (topic, b) =>
      b.select(lit(topic).as("topic"),
        to_json(struct(b.columns.toIndexedSeq.map(col): _*)).as("value"))
    }.reduce(_ unionByName _)

  private val odsLog = start("ods_log", LogSplit.parse(text(inLog))) { (b, bid) =>
    span("streaming.ods_log.batch", s"ods_log:$bid") { _ =>
      val cached = b.persist()
      try routed(cached).write.mode("append").partitionBy("topic").text(hopLog)
      finally cached.unpersist()
    }
  }

  private val odsCdc = start("ods_cdc",
      CdcSplit.decoded(CdcSplit.parse(text(inCdc)))) { (b, bid) =>
    span("streaming.ods_cdc.batch", s"ods_cdc:$bid") { _ =>
      val cached = b.persist()
      try {
        CdcSplit.facts(cached, FactTables)
          .select(col("topic"), to_json(struct(col("table"), col("op"),
            col("ts"), col("data"))).as("value"))
          .write.mode("append").partitionBy("topic").text(hopCdc)
        CdcSplit.dims(cached, DimTables, bid)
          .write.mode("append").partitionBy("table").parquet(dimStore)
      } finally cached.unpersist()
    }
  }

  /** One DWD micro-batch: a span over the batch, with the dim read and
    * the store write as child spans; records when the write returned.
    */
  private def dwdBatch(q: String, bid: Long)(write: (DataFrame, DataFrame) => Unit): Unit = {
    val group = s"$q:$bid"
    span(s"streaming.$q.batch", group) { id =>
      val (u, p) = span("streaming.dim_read", group, id)(_ => Chain.dims(spark, dimStore))
      span("streaming.sink.upsert", group, id)(_ => write(u, p))
    }
    visible.add((q, bid, System.currentTimeMillis()))
  }

  private val pages = text(s"$hopLog/topic=$PageTopic")
    .select(from_json(col("value"), PageSchema).as("p")).select("p.*")

  private val dwdDau = start("dwd_dau", DauPipeline.dedupDailyStreaming(
      DauPipeline.sessionStarts(pages))) { (b, bid) =>
    dwdBatch("dwd_dau", bid) { (u, p) =>
      Sinks.upsertBatch(DauPipeline.enrich(b, u, p), dauDir, "mid", "dt",
        bid, Some("event_ts"))
    }
  }

  private def fact(topic: String): DataFrame =
    text(s"$hopCdc/topic=$topic")
      .select(get_json_object(col("value"), "$.data").as("data"))

  private val dwdOrder = {
    val info = fact(InfoTopic)
      .select(json_tuple(col("data"), "id", "user_id", "province_id",
        "total_amount", "create_time")
        .as(Seq("id", "user_id", "province_id", "total_amount", "create_time")))
      .select(col("id").cast("long").as("id"),
        col("user_id").cast("long").as("user_id"), col("province_id"),
        col("total_amount").cast("double").as("total_amount"),
        to_timestamp(col("create_time")).as("create_ts"))
    val detail = fact(DetailTopic)
      .select(json_tuple(col("data"), "id", "order_id", "sku_id", "sku_name",
        "split_total_amount", "create_time")
        .as(Seq("id", "order_id", "sku_id", "sku_name", "split_total_amount",
          "create_time")))
      .select(col("id").cast("long").as("detail_id"),
        col("order_id").cast("long").as("order_id"),
        col("sku_id").cast("long").as("sku_id"), col("sku_name"),
        col("split_total_amount").cast("double").as("split_total_amount"),
        to_timestamp(col("create_time")).as("create_ts"))
    val wide = OrderWidePipeline.orderWide(info, detail)
      .select(col("d.detail_id"), col("d.order_id"), col("d.sku_id"),
        col("d.sku_name"), col("d.split_total_amount"), col("i.user_id"),
        col("i.province_id"), col("i.total_amount"),
        col("i.create_ts").as("create_ts"),
        graft.functions.Cols.dt(col("i.create_ts")).as("dt"))
    start("dwd_order", wide) { (b, bid) =>
      dwdBatch("dwd_order", bid) { (u, p) =>
        Sinks.upsertBatch(OrderWidePipeline.enrichInfo(b, u, p), owDir,
          "detail_id", "dt", bid, Some("create_ts"))
      }
    }
  }

  val queries: Seq[StreamingQuery] = Seq(odsLog, odsCdc, dwdDau, dwdOrder)

  /** Wait until everything dropped so far is in the serving store: each
    * query in chain order processes all input available to it.
    */
  def drain(): Unit = queries.foreach(_.processAllAvailable())

  def stop(): Unit = queries.foreach(_.stop())
}

object Chain {
  /** Micro-batch trigger interval. */
  val TriggerMs = 1000L
  val PageTopic = "DWD_PAGE_LOG_TOPIC"
  val InfoTopic = "DWD_ORDER_INFO_I"
  val DetailTopic = "DWD_ORDER_DETAIL_I"
  val FactTables = Set("order_info", "order_detail")
  val DimTables = Set("user_info", "base_province")
  val UserFields = Seq("id", "gender", "birthday")
  val ProvinceFields = Seq("id", "name", "area_code", "iso_code", "iso_3166_2")

  /** Schema of the page-log topic: what `LogSplit.pages` emits. */
  lazy val PageSchema: StructType = {
    val s = SparkSession.active
    LogSplit.pages(s.createDataFrame(
      s.sparkContext.emptyRDD[Row], LogSchema.envelope)).schema
  }

  /** The runner's `dimOrEmpty`: current dims from the CDC dim store, or
    * an empty frame before the first CDC batch has written it.
    */
  def dimOrEmpty(spark: SparkSession, store: String, table: String,
                 fields: Seq[String]): DataFrame =
    try
      CdcSplit.latestDims(Sinks.readStore(spark, store))
        .filter(col("table") === table)
        .select(json_tuple(col("data"), fields: _*).as(fields))
    catch {
      case e: Exception if e.getMessage != null &&
          (e.getMessage.contains("PATH_NOT_FOUND") ||
            e.getMessage.contains("Path does not exist")) =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
          StructType(fields.map(StructField(_, StringType))))
    }

  def dims(spark: SparkSession, store: String): (DataFrame, DataFrame) =
    (dimOrEmpty(spark, store, "user_info", UserFields),
      dimOrEmpty(spark, store, "base_province", ProvinceFields))

  /** Bootstrap the dim store from a Maxwell bootstrap-insert drop through
    * the CDC split's dim branch, as the ODS CDC query would write it.
    */
  def seedDims(spark: SparkSession, store: String, drop: String): Unit =
    CdcSplit.dims(CdcSplit.decoded(CdcSplit.parse(spark.read.text(drop))), DimTables)
      .write.mode("append").partitionBy("table").parquet(store)
}

