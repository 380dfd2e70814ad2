package graft.serve

import graft.functions.Cols
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The publisher's three REST endpoints (reference
  * publisher/.../PublisherController.java + PublisherServiceImpl +
  * PublisherMapperImpl) as DataFrame query functions over the
  * dt-partitioned serving tables written by the pipelines — the same
  * plans run batch or against a live table.
  *
  * Every query filters on the `dt` partition column first, so the scan
  * prunes to one (or two) day-partitions — the access-pattern
  * equivalent of the reference's index-per-day, at any scale.
  *
  * Normalizations vs the reference, per SURVEY §7 (intended semantics,
  * not bugs): all dates are `yyyy-MM-dd`; `detailByItem` returns the
  * {total, page} result its code shape intends (the reference
  * `return null`s on the success path, PublisherMapperImpl.java:232);
  * pagination is ordered by a stable key instead of ES relevance.
  */
object QueryService {

  /** Serving tables are keyed stores with one directory per batch
    * ([[graft.streaming.Sinks.upsertBatch]]): every read scans the
    * effective directories and resolves last-write-wins per (pk, dt)
    * via [[graft.streaming.Sinks.latest]]. The dt filters below still
    * prune partitions — `dt` partitions each batch directory, and the
    * compaction window is partitioned by (pk, dt), so Catalyst pushes
    * partition-column predicates beneath it.
    */
  private def dauTable(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.Sinks.latest(
      graft.streaming.Sinks.readStore(spark, dir), "mid")

  private def orderWideTable(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.Sinks.latest(
      graft.streaming.Sinks.readStore(spark, dir), "detail_id")

  /** `dauRealtime` (PublisherMapperImpl.java:107-125): total DAU for
    * `date` + hourly today-vs-yesterday histogram. One row per hour:
    * (hr, dau_td, dau_yd), plus total via the accompanying count.
    */
  def dauRealtime(spark: SparkSession, dauDir: String,
                  date: String): DataFrame = {
    val yd = java.time.LocalDate.parse(date).minusDays(1).toString
    val dau = dauTable(spark, dauDir)
    def hourly(d: String) = dau.filter(col("dt") === d)
      .groupBy(col("hr")).agg(count(lit(1)).as("ct"))
    hourly(date).as("td")
      .join(hourly(yd).as("yd"), col("td.hr") === col("yd.hr"),
        "full_outer")
      .select(coalesce(col("td.hr"), col("yd.hr")).as("hr"),
        coalesce(col("td.ct"), lit(0L)).as("dau_td"),
        coalesce(col("yd.ct"), lit(0L)).as("dau_yd"))
      .orderBy(col("hr"))
  }

  /** Total deduped actives for one day (A1). */
  def dauTotal(spark: SparkSession, dauDir: String, date: String): Long =
    dauTable(spark, dauDir).filter(col("dt") === date).count()

  /** `statsByItem` (PublisherMapperImpl.java:136-176 + service
    * post-aggregation): revenue grouped by gender label or age bucket
    * for order rows whose item name matches all query tokens.
    * `field` ∈ {"gender", "age"} (reference `t` → typeToField).
    */
  def statsByItem(spark: SparkSession, orderWideDir: String,
                  itemName: String, date: String,
                  field: String): DataFrame = {
    val base = orderWideTable(spark, orderWideDir)
      .filter(col("dt") === date &&
        Cols.matchAnd(col("sku_name"), itemName))
    val grouped = field match {
      case "gender" =>
        base.groupBy(
          when(col("user_gender") === "F", "女").otherwise("男")
            .as("group_key"))
      case "age" =>
        base.groupBy(
          when(col("user_age") < 20, "20岁以下")
            .when(col("user_age") <= 29, "20到29岁")
            .otherwise("30岁以上").as("group_key"))
      case other =>
        throw new IllegalArgumentException(s"unknown field: $other")
    }
    grouped
      .agg(Cols.decSum(col("split_total_amount")).as("amount"),
        count(lit(1)).as("ct"))
      .orderBy(col("group_key"))
  }

  /** `detailByItem` (PublisherMapperImpl.java:181-233): paged matching
    * order rows with the matched tokens highlighted; result columns
    * include the page's rows and the stable total.
    *
    * Distributed shape: the page comes from `TakeOrderedAndProject`
    * (orderBy + limit) with `rn` rebuilt on the ≤ from+size survivors —
    * see [[graft.operators.Paging]]; the total is a scalar aggregate
    * broadcast onto the page. No global single-partition window at any
    * match-set size.
    */
  def detailByItem(spark: SparkSession, orderWideDir: String,
                   itemName: String, date: String,
                   pageNo: Int, pageSize: Int = 20): DataFrame = {
    val from = (pageNo - 1) * pageSize
    val base = orderWideTable(spark, orderWideDir)
      .filter(col("dt") === date &&
        Cols.matchAnd(col("sku_name"), itemName))
      .withColumn("sku_name", Cols.highlight(col("sku_name"), itemName))
    val total = base.agg(count(lit(1)).as("total"))
    graft.operators.Paging.paginate(base, Seq("detail_id"),
      from, pageSize)
      .crossJoin(broadcast(total))
      .orderBy(col("rn"))
  }

  /** Match count alone (the `total` of [[detailByItem]] without a
    * page) — the serving layer falls back to this when a requested
    * page is past the last row, where no page row carries the total.
    */
  def detailByItemTotal(spark: SparkSession, orderWideDir: String,
                        itemName: String, date: String): Long =
    orderWideTable(spark, orderWideDir)
      .filter(col("dt") === date &&
        Cols.matchAnd(col("sku_name"), itemName))
      .count()
}
