package graft.serve

import graft.SparkSpec
import graft.streaming.{DauPipeline, LogSplit, Sinks}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** End-to-end through the serving layer: raw log JSON → LogSplit →
  * DauPipeline (batch) → keyed dt-partitioned serving table →
  * QueryService endpoints.
  */
class QueryServiceSpec extends SparkSpec {
  import spark.implicits._

  private def logLine(mid: String, uid: String, lastPage: String,
                      ts: Long): String = {
    val lp = if (lastPage == null) "null" else s""""$lastPage""""
    s"""{"common":{"ar":"110000","ba":"b","ch":"c","is_new":"1","md":"m",
       |"mid":"$mid","os":"o","uid":"$uid","vc":"v"},
       |"page":{"during_time":1000,"item":"1","item_type":"sku_id",
       |"last_page_id":$lp,"page_id":"home","source_type":"s"},
       |"ts":$ts}""".stripMargin.replaceAll("\n", "")
  }

  // 2023-11-14 (day0) and 2023-11-15 (day1), UTC
  private val day0 = 1699920000000L
  private val day1 = day0 + 86400000L

  test("log → split → dau → serving table → dauRealtime/dauTotal") {
    val out = Files.createTempDirectory("dau_serve").toString + "/dau"
    val raw = Seq(
      logLine("m1", "1", null, day0 + 3600000),        // day0 hr 1
      logLine("m1", "1", null, day0 + 7200000),        // dup same day
      logLine("m2", "2", null, day0 + 7200000),        // day0 hr 2
      logLine("m1", "1", null, day1 + 3600000),        // day1 hr 1
      logLine("m3", "3", "home", day1)                 // not a session start
    ).toDF("value")
    val pages = LogSplit.pages(LogSplit.parse(raw))
    val dau = DauPipeline.dedupDaily(DauPipeline.sessionStarts(pages))
    Sinks.upsertBatch(dau.withColumn("pk",
      concat_ws("|", col("mid"), col("dt"))), out, "pk")

    assert(QueryService.dauTotal(spark, out, "2023-11-14") == 2L)
    assert(QueryService.dauTotal(spark, out, "2023-11-15") == 1L)

    val rt = QueryService.dauRealtime(spark, out, "2023-11-15")
      .as[(Int, Long, Long)].collect().toSeq
    // hr 1: today m1; yesterday m1 | hr 2: yesterday m2 only
    assert(rt == Seq((1, 1L, 1L), (2, 0L, 1L)))
  }

  private def orderWideFixture(): String = {
    val out = Files.createTempDirectory("ow_serve").toString + "/ow"
    val rows = Seq(
      (1L, "red widget deluxe", "F", 25, 10.0, "2024-01-05"),
      (2L, "red widget", "M", 31, 20.0, "2024-01-05"),
      (3L, "blue gadget", "F", 19, 30.0, "2024-01-05"),
      (4L, "red widget mini", "F", 28, 40.0, "2024-01-06"))
      .toDF("detail_id", "sku_name", "user_gender", "user_age",
        "split_total_amount", "dt")
    Sinks.upsertBatch(rows, out, "detail_id")
    out
  }

  test("statsByItem groups matched revenue by gender and age buckets") {
    val dir = orderWideFixture()
    val byGender = QueryService.statsByItem(spark, dir,
        "red widget", "2024-01-05", "gender")
      .as[(String, Double, Long)].collect().toSeq.sortBy(_._1)
    assert(byGender == Seq(("女", 10.0, 1L), ("男", 20.0, 1L)))
    val byAge = QueryService.statsByItem(spark, dir,
        "red widget", "2024-01-05", "age")
      .as[(String, Double, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(byAge == Map("20到29岁" -> ((10.0, 1L)), "30岁以上" -> ((20.0, 1L))))
  }

  test("detailByItem pages, totals and highlights") {
    val dir = orderWideFixture()
    val page = QueryService.detailByItem(spark, dir,
      "widget", "2024-01-05", pageNo = 1, pageSize = 1)
    val rows = page.select("detail_id", "sku_name", "total").collect()
    assert(rows.length == 1)
    assert(rows.head.getLong(0) == 1L) // ordered by detail_id
    assert(rows.head.getString(1) == "red <em>widget</em> deluxe")
    assert(rows.head.getLong(2) == 2L) // total matches, not page size
    val page2 = QueryService.detailByItem(spark, dir,
      "widget", "2024-01-05", pageNo = 2, pageSize = 1)
    assert(page2.select("detail_id").as[Long].collect().toSeq == Seq(2L))
  }
}
