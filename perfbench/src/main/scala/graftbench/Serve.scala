package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.serve.ServingMain
import graft.streaming.Sinks
import org.apache.spark.sql.SparkSession

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import scala.jdk.CollectionConverters._

/** The dashboard side: the request set, direct `QueryService` answers
  * and the traced per-endpoint probe.
  */
object Serve {
  import Harness._

  /** Request list written by the generator: (endpoint kind, path). */
  def requests(prep: String): Seq[(String, String)] =
    new ObjectMapper().readTree(new java.io.File(s"$prep/requests.json"))
      .elements().asScala.map(n => n.get(0).asText -> n.get(1).asText).toSeq

  /** The direct answer for one request path, straight from QueryService. */
  def direct(spark: SparkSession, dauDir: String, owDir: String,
             path: String): Any = {
    val uri = new URI("http://x" + path)
    val q = uri.getQuery.split("&").map { kv =>
      val Array(k, v) = kv.split("=", 2); k -> v }.toMap
    uri.getPath match {
      case "/dauRealtime" => Answers.dauRealtime(spark, dauDir, q("td"))
      case "/statsByItem" =>
        Answers.statsByItem(spark, owDir, q("itemName"), q("date"), q("t"))
      case "/detailByItem" =>
        Answers.detailByItem(spark, owDir, q("itemName"), q("date"),
          q("pageNo").toInt, q("pageSize").toInt)
    }
  }

  /** Traced probe, one request at a time, with nothing else running:
    * each request over HTTP, then straight into QueryService. The
    * server's handler thread does not inherit thread-locals, so its
    * engine work is attributed by window.
    */
  def probe(spark: SparkSession, t: Tracer, dauDir: String, owDir: String,
            reqs: Seq[(String, String)]): Map[String, Double] = {
    val server = ServingMain.start(spark, dauDir, owDir, 0)
    val port = server.getAddress.getPort
    val client = HttpClient.newHttpClient()
    try reqs.groupBy(_._1).toSeq.flatMap { case (kind, rs) =>
      var httpMs, directMs, codegenMs = 0.0
      rs.foreach { case (_, path) =>
        val (cg0, _) = Tracer.codegen()
        val (resp, s) = t.window(s"serve.$kind.http") {
          t.span(s"serve.$kind.http", group = path) { _ =>
            timed(client.send(HttpRequest.newBuilder(
              URI.create(s"http://127.0.0.1:$port$path")).build(),
              HttpResponse.BodyHandlers.ofString()))
          }
        }
        require(resp.statusCode == 200, s"$path -> ${resp.statusCode}")
        codegenMs += Tracer.codegen()._1 - cg0
        httpMs += s * 1000
        val (_, d) = t.window(s"serve.$kind.direct") {
          t.span(s"serve.$kind.direct", group = path)(_ => timed(direct(spark, dauDir, owDir, path)))
        }
        directMs += d * 1000
      }
      val n = rs.size.toDouble
      val c = t.counters(s"serve.$kind.http").snapshot
      val live = Sinks.latest(Sinks.readStore(spark,
        if (kind == "dau_realtime") dauDir else owDir),
        if (kind == "dau_realtime") "mid" else "detail_id").count().toDouble
      Seq(s"serve.$kind.http_ms" -> httpMs / n, s"serve.$kind.direct_ms" -> directMs / n,
        s"serve.$kind.jobs" -> c("jobs") / n, s"serve.$kind.tasks" -> c("tasks") / n,
        s"serve.$kind.plan_ms" -> c("plan_ms") / n,
        s"serve.$kind.codegen_ms" -> codegenMs / n,
        s"serve.$kind.files" -> c("files") / n,
        s"serve.$kind.rows_scanned_per_row" -> c("scan_rows") / n / math.max(live, 1.0))
    }.toMap finally server.stop(0)
  }
}
