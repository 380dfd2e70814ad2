package graftbench

import graft.serve.QueryService
import graft.streaming.Sinks
import org.apache.spark.sql.{Row, SparkSession}

import java.io.File

/** Serving answers read back through `QueryService`, in the canonical
  * shapes the checks compare (the same shapes the generator derives
  * from `ServingMain`'s response bodies).
  */
object Answers {
  val Days = Seq("2024-03-09", "2024-03-10")
  /** Item tokens the final checks read back (two of the three sold). */
  val Brands = Seq("xiaomi", "apple")

  /** `/dauRealtime` body as an object: total plus today/yesterday hours. */
  def dauRealtime(spark: SparkSession, dauDir: String, td: String): Map[String, Any] = {
    val total = QueryService.dauTotal(spark, dauDir, td)
    val hours = QueryService.dauRealtime(spark, dauDir, td).collect()
    def hourMap(i: Int) = hours.map(r => r.getInt(0).toString -> r.getLong(i)).toMap
    Map("dauTotal" -> total, "dauTd" -> hourMap(1), "dauYd" -> hourMap(2))
  }

  /** `/statsByItem` body as sorted (name, value) pairs. */
  def statsByItem(spark: SparkSession, owDir: String, item: String,
                  date: String, t: String): Seq[Seq[Any]] =
    QueryService.statsByItem(spark, owDir, item, date, t).collect()
      .map(r => Seq(r.getString(0), r.getDouble(1))).toSeq
      .sortBy(_.head.toString)

  /** `/detailByItem` body: total plus the page's rows. */
  def detailByItem(spark: SparkSession, owDir: String, item: String,
                   date: String, pageNo: Int, pageSize: Int): Map[String, Any] = {
    val rows = QueryService.detailByItem(spark, owDir, item, date, pageNo,
      pageSize).collect()
    val total =
      if (rows.isEmpty) QueryService.detailByItemTotal(spark, owDir, item, date)
      else rows.head.getAs[Long]("total")
    Map("total" -> total, "detail" -> rows.toSeq.map(rowMap))
  }

  private def rowMap(r: Row): Map[String, Any] =
    r.schema.fieldNames.filter(_ != "total").map(f => f -> r.getAs[Any](f)).toMap

  /** Final answers of the ingest chain: DAU per day and hour; per item
    * token and day the revenue by buyer gender and the row count; and
    * for one token per day the `/detailByItem` total.
    */
  def ingest(spark: SparkSession, chain: Chain): Map[String, Any] = {
    val dau = dauRealtime(spark, chain.dauDir, Days(1))
    val items = for (b <- Brands; d <- Days) yield {
      val stats = QueryService.statsByItem(spark, chain.owDir, b, d, "gender")
        .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2)))
      s"$b|$d" -> Map(
        "by_gender" -> stats.map { case (k, (amt, _)) => k -> amt }.toMap,
        "ct" -> stats.map(_._2._2).sum,
        "detail_total" -> (if (b == Brands.head)
          QueryService.detailByItemTotal(spark, chain.owDir, b, d)
          else stats.map(_._2._2).sum))
    }
    Map("dau" -> dau, "items" -> items.toMap)
  }

  /** Files, bytes, rows and live rows of keyed stores. */
  def storeStats(spark: SparkSession, stores: Seq[(String, String)]): Map[String, Any] = {
    def files(dir: File): Seq[File] =
      Option(dir.listFiles).map(_.toSeq).getOrElse(Nil).flatMap { f =>
        if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      }
    val fs = stores.flatMap { case (d, _) => files(new File(d)) }
    val rows = stores.map { case (d, _) => Sinks.readStore(spark, d).count() }.sum
    val live = stores.map { case (d, pk) =>
      Sinks.latest(Sinks.readStore(spark, d), pk).count() }.sum
    Map("files" -> fs.size, "bytes" -> fs.map(_.length).sum,
      "rows" -> rows, "live_rows" -> live)
  }
}
