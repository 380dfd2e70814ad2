package graft.runner

import graft.SparkSpec
import graft.streaming.{BatchDirs, CdcSplit, DauPipeline, LogSplit, Page, Sinks}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The DwdDauApp wiring contract: dims are read INSIDE foreachBatch,
  * so a dim row CDC'd AFTER the DAU query starts enriches subsequent
  * batches (the reference's per-batch Redis GET behavior,
  * DwdDauApp.scala:149-165) — and a missing dim store must not crash
  * the app at cold start.
  */
class DauAppWiringSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toString

  test("dims CDC'd after stream start appear in later DAU batches") {
    implicit val sqlCtx = spark.sqlContext
    val root = tmp("dau_wiring")
    val store = s"$root/dim_store"
    val dauOut = s"$root/dau"
    val day0 = 1700000000000L
    val src = MemoryStream[Page]
    val deduped = DauPipeline.dedupDailyStreaming(
      DauPipeline.sessionStarts(src.toDF()))
    // exact foreachBatch body of StreamingApps.DwdDauApp
    val q = deduped.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        val dimUser = StreamingApps.dimOrEmpty(spark, store,
          "user_info", Seq("id", "gender", "birthday"))
        val dimProvince = StreamingApps.dimOrEmpty(spark, store,
          "base_province",
          Seq("id", "name", "area_code", "iso_code", "iso_3166_2"))
        Sinks.upsertBatch(
          DauPipeline.enrich(batch, dimUser, dimProvince),
          dauOut, "mid", "dt", bid, Some("event_ts"))
      }
      .start()
    try {
      // batch 1: dim store does not exist yet — cold start must not
      // crash, rows land unenriched
      src.addData(Page("m1", "1", "110000", null, day0))
      q.processAllAvailable()
      // dim CDC lands AFTER the query started (OdsDbApp's dim write)
      BatchDirs.write(CdcSplit.dims(CdcSplit.decoded(CdcSplit.parse(Seq(
          """{"database":"g","table":"user_info","type":"insert","ts":9,"data":{"id":"1","gender":"F","birthday":"1995-06-15"}}""",
          """{"database":"g","table":"base_province","type":"insert","ts":9,"data":{"id":"110000","name":"Beijing","area_code":"010","iso_code":"CN-11","iso_3166_2":"CN-BJ"}}"""
        ).toDF("value"))), Set("user_info", "base_province"), 0L),
        store, 0L, Seq("table"))
      // batch 2: same user from a new device — now enriched
      src.addData(Page("m2", "1", "110000", null, day0 + 60000))
      q.processAllAvailable()
      val got = Sinks.latest(Sinks.readStore(spark, dauOut), "mid")
        .select("mid", "user_gender", "province_name").collect()
        .map(r => r.getString(0) -> ((r.getString(1), r.getString(2))))
        .toMap
      assert(got("m1") == ((null, null))) // pre-CDC batch: no dims yet
      assert(got("m2") == (("F", "Beijing"))) // post-CDC batch: fresh dims
    } finally q.stop()
  }

  test("an empty, mkdir'd dim-store root reads as the empty dim frame") {
    val store = s"${tmp("dau_dim_empty")}/dim_store"
    assert(new java.io.File(store).mkdirs())
    val dims = StreamingApps.dimOrEmpty(spark, store, "user_info",
      Seq("id", "gender", "birthday"))
    assert(dims.columns.toSeq == Seq("id", "gender", "birthday"))
    assert(dims.count() == 0L)
  }

  test("a dim store whose only batch held no dim rows reads as the " +
      "empty dim frame") {
    val store = s"${tmp("dau_dim_nodims")}/dim_store"
    // OdsDbApp's dim write of a batch that carried only fact rows
    BatchDirs.write(CdcSplit.dims(CdcSplit.decoded(CdcSplit.parse(Seq(
        """{"database":"g","table":"order_info","type":"insert","ts":9,"data":{"id":"7","user_id":"1"}}"""
      ).toDF("value"))), Set("user_info", "base_province"), 0L),
      store, 0L, Seq("table"))
    val dims = StreamingApps.dimOrEmpty(spark, store, "user_info",
      Seq("id", "gender", "birthday"))
    assert(dims.columns.toSeq == Seq("id", "gender", "birthday"))
    assert(dims.count() == 0L)
  }

  test("a serving store made only of empty batches reads as absent") {
    val out = s"${tmp("dau_serve_empty")}/dau"
    val none = Seq.empty[(String, String, Long)].toDF("mid", "dt", "event_ts")
    Sinks.upsertBatch(none, out, "mid", "dt", 0L, Some("event_ts"))
    Sinks.upsertBatch(none, out, "mid", "dt", 1L, Some("event_ts"))
    assert(BatchDirs.read(spark, out).isEmpty)
    intercept[java.io.FileNotFoundException](Sinks.readStore(spark, out))
  }

  test("routedPayload unions all five branches into one (topic, value)") {
    val pageJson =
      """{"common":{"ar":"1","ba":"b","ch":"c","is_new":"1","md":"m",
        |"mid":"mid_1","os":"o","uid":"7","vc":"v"},
        |"page":{"during_time":1000,"item":"1","item_type":"sku_id",
        |"last_page_id":null,"page_id":"home","source_type":"s"},
        |"displays":[{"display_type":"promo","item":"5","item_type":"sku_id","order":1,"pos_id":2}],
        |"actions":[{"action_id":"fav","item":"5","item_type":"sku_id","ts":1700000000500}],
        |"ts":1700000000000}""".stripMargin.replaceAll("\n", "")
    val errJson =
      """{"common":{"ar":"1","ba":"b","ch":"c","is_new":"0","md":"m",
        |"mid":"mid_2","os":"o","uid":"8","vc":"v"},
        |"err":{"error_code":42,"msg":"boom"},"ts":1700000001000}"""
        .stripMargin.replaceAll("\n", "")
    val parsed = LogSplit.parse(Seq(pageJson, errJson).toDF("value"))
    val routed = StreamingApps.routedPayload(parsed)
    assert(routed.columns.toSeq == Seq("topic", "value"))
    val byTopic = routed.groupBy("topic").count()
      .as[(String, Long)].collect().toMap
    assert(byTopic == Map(
      "DWD_PAGE_LOG_TOPIC" -> 1L,
      "DWD_PAGE_DISPLAY_TOPIC" -> 1L,
      "DWD_PAGE_ACTION_TOPIC" -> 1L,
      "DWD_ERROR_LOG_TOPIC" -> 1L))
    // every payload row is real JSON carrying its branch's fields
    val page = routed.filter(col("topic") === "DWD_PAGE_LOG_TOPIC")
      .select(get_json_object(col("value"), "$.mid")).as[String].head()
    assert(page == "mid_1")
  }
}
