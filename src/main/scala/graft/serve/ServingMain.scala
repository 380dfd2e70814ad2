package graft.serve

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.Verify.jsonQuote
import org.apache.spark.sql.SparkSession

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets

/** The reference publisher's user-facing surface (PublisherController
  * .java:26-47) as a dependency-free HTTP main over the serving tables:
  *
  *   GET /dauRealtime?td=yyyy-MM-dd
  *   GET /statsByItem?itemName=...&date=yyyy-MM-dd&t=gender|age
  *   GET /detailByItem?date=yyyy-MM-dd&itemName=...&pageNo=N[&pageSize=M]
  *
  * Query logic lives entirely in [[QueryService]] (the same plans the
  * oracle gate checks); this layer only parses params and shapes JSON —
  * the JDK's built-in HttpServer stands in for Spring Boot, keeping the
  * engine a single artifact with zero web dependencies. Responses
  * mirror the reference's shapes: dauRealtime → {dauTotal, dauTd,
  * dauYd}; statsByItem → [{name, value}] pairs; detailByItem →
  * {total, detail} (the shape PublisherMapperImpl.java:221-223 intends
  * — the reference `return null`s on its success path, SURVEY §7).
  *
  * `main` args: [dauDir, orderWideDir, port(default 8070)].
  */
object ServingMain {

  def main(args: Array[String]): Unit = {
    if (args.length < 2 || args.length > 3) {
      System.err.println(
        "usage: ServingMain <dauDir> <orderWideDir> [port=8070]")
      sys.exit(2)
    }
    val (dauDir, owDir) = (args(0), args(1))
    val port = if (args.length == 3) args(2).toInt else 8070
    val spark = SparkSession.builder()
      .appName("graft-serving")
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER",
        s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val server = start(spark, dauDir, owDir, port)
    println(s"[serving] listening on port ${server.getAddress.getPort}")
    // the server runs on its own executor; park the main thread
    this.synchronized { this.wait() }
  }

  /** Start the server (port 0 = ephemeral, for tests). */
  def start(spark: SparkSession, dauDir: String, owDir: String,
            port: Int): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext("/dauRealtime", (ex: HttpExchange) =>
      respond(ex) { p => dauRealtimeJson(spark, dauDir, p("td")) })
    server.createContext("/statsByItem", (ex: HttpExchange) =>
      respond(ex) { p =>
        statsByItemJson(spark, owDir, p("itemName"), p("date"), p("t"))
      })
    server.createContext("/detailByItem", (ex: HttpExchange) =>
      respond(ex) { p =>
        detailByItemJson(spark, owDir, p("itemName"), p("date"),
          p.getOrElse("pageNo", "1").toInt,
          p.getOrElse("pageSize", "20").toInt)
      })
    server.start()
    server
  }

  // ---- response shaping ------------------------------------------------

  private[serve] def dauRealtimeJson(spark: SparkSession, dauDir: String,
                                     td: String): String = {
    val total = QueryService.dauTotal(spark, dauDir, td)
    val hours = QueryService.dauRealtime(spark, dauDir, td).collect()
    def hourMap(f: org.apache.spark.sql.Row => Long) =
      hours.map(r => s"\"${r.getInt(0)}\":${f(r)}").mkString("{", ",", "}")
    s"""{"dauTotal":$total,"dauTd":${hourMap(_.getLong(1))},""" +
      s""""dauYd":${hourMap(_.getLong(2))}}"""
  }

  private[serve] def statsByItemJson(spark: SparkSession, owDir: String,
                                     itemName: String, date: String,
                                     t: String): String = {
    // reference typeToField (PublisherServiceImpl.java:82-86)
    val field = t match {
      case "gender" | "age" => t
      case other => throw new IllegalArgumentException(s"t=$other")
    }
    QueryService.statsByItem(spark, owDir, itemName, date, field)
      .collect()
      .map(r => s"""{"name":${jsonQuote(r.getString(0))},""" +
        s""""value":${r.getDouble(1)}}""")
      .mkString("[", ",", "]")
  }

  private[serve] def detailByItemJson(spark: SparkSession, owDir: String,
                                      itemName: String, date: String,
                                      pageNo: Int, pageSize: Int): String = {
    // ONE job collects the page (total rides on every row); only a
    // page past the last row needs the separate count fallback —
    // total=0 there would misreport a non-empty match set
    val rows = QueryService.detailByItem(spark, owDir, itemName, date,
      pageNo, pageSize).collect()
    val total =
      if (rows.isEmpty)
        QueryService.detailByItemTotal(spark, owDir, itemName, date)
      else rows.head.getAs[Long]("total")
    val detail = rows.map(rowJson(_, skip = Set("total")))
      .mkString("[", ",", "]")
    s"""{"total":$total,"detail":$detail}"""
  }

  /** Generic Row → JSON object (serving tables carry strings, numerics,
    * dates); `skip` drops plumbing columns from the payload.
    */
  private def rowJson(r: org.apache.spark.sql.Row,
                      skip: Set[String]): String =
    r.schema.fields.iterator.filterNot(f => skip(f.name)).map { f =>
      val v = r.getAs[Any](f.name) match {
        case null => "null"
        case s: String => jsonQuote(s)
        case d: java.sql.Date => jsonQuote(d.toString)
        case t: java.sql.Timestamp => jsonQuote(t.toString)
        case other => other.toString
      }
      s"${jsonQuote(f.name)}:$v"
    }.mkString("{", ",", "}")

  // ---- plumbing --------------------------------------------------------

  private def respond(ex: HttpExchange)(
      body: Map[String, String] => String): Unit = {
    val (status, payload) =
      try (200, body(params(ex)))
      catch {
        // caller errors only: missing param (Map.apply →
        // NoSuchElementException), bad value (toInt / explicit
        // require → IllegalArgumentException). Their messages name the
        // offending parameter, which is exactly what a caller needs.
        case e @ (_: IllegalArgumentException | _: NoSuchElementException) =>
          (400, s"""{"error":${jsonQuote(String.valueOf(e.getMessage))}}""")
        // genuine server-side failures (missing store path, analysis
        // errors): 500, generic payload — internals go to the log, not
        // the caller. Fatals (OOM and friends) propagate.
        case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"[serving] ${ex.getRequestURI}: ${e.toString}")
          (500, """{"error":"internal server error"}""")
      }
    val bytes = payload.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type",
      "application/json; charset=utf-8")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def params(ex: HttpExchange): Map[String, String] = {
    val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    q.split("&").filter(_.contains("=")).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      URLDecoder.decode(k, "UTF-8") -> URLDecoder.decode(v, "UTF-8")
    }.toMap
  }
}
