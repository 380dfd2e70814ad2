package graftbench

import scala.jdk.CollectionConverters._

/** Per-layer figures of a traced phase, from the [[Tracer]]'s listener
  * counters, streaming progress and spans.
  */
object Layers {
  val StreamQueries = Seq("ods_log", "ods_cdc", "dwd_dau", "dwd_order")

  private def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Raw batch timeline per streaming query: (query, batch id, start
    * epoch ms, trigger ms, input rows).
    */
  def progress(t: Tracer): Seq[Seq[Any]] =
    t.progress.asScala.toSeq.map { p =>
      Seq(p.name, p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.getOrDefault("triggerExecution", 0L).longValue, p.numInputRows)
    }

  def streaming(t: Tracer): Map[String, Double] = {
    val byQuery = t.progress.asScala.toSeq.groupBy(_.name)
    val perQuery = StreamQueries.flatMap { q =>
      val all = byQuery.getOrElse(q, Nil)
      val busy = all.filter(_.numInputRows > 0)
      def d(p: org.apache.spark.sql.streaming.StreamingQueryProgress, ks: String*) =
        ks.map(k => p.durationMs.getOrDefault(k, 0L).doubleValue).sum
      Seq(s"streaming.$q.batch_ms" -> mean(busy.map(d(_, "triggerExecution"))),
        s"streaming.$q.planning_ms" -> mean(busy.map(d(_, "queryPlanning"))),
        s"streaming.$q.addbatch_ms" -> mean(busy.map(d(_, "addBatch"))),
        s"streaming.$q.commit_ms" -> mean(busy.map(d(_, "walCommit", "commitOffsets"))),
        s"streaming.$q.offset_ms" -> mean(busy.map(d(_, "latestOffset", "getBatch"))),
        s"streaming.$q.batches" -> all.size.toDouble)
    }
    val state = Seq("dwd_dau", "dwd_order").flatMap { q =>
      val all = byQuery.getOrElse(q, Nil)
      val last = all.sortBy(_.batchId).lastOption.map(_.stateOperators.toSeq).getOrElse(Nil)
      Seq(s"streaming.$q.state_rows" -> last.map(_.numRowsTotal).sum.toDouble,
        s"streaming.$q.state_bytes" -> last.map(_.memoryUsedBytes).sum.toDouble,
        s"streaming.$q.late_rows" ->
          all.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum.toDouble)
    }
    val spans = t.spanStats
    def spanMs(n: String) = spans.get(n).map(_._2).getOrElse(0.0)  // mean duration
    (perQuery ++ state ++ Seq(
      "streaming.sink.upsert_ms" -> spanMs("streaming.sink.upsert"),
      "streaming.dim_read_ms" -> spanMs("streaming.dim_read")) ++
      engine(t)).toMap
  }

  /** Per-query and layer totals of the traced batch_ops passes. */
  def operators(t: Tracer, order: Seq[String], passes: Int): Map[String, Double] = {
    val n = math.max(passes, 1).toDouble
    val perQuery = order.flatMap { q =>
      val c = t.counters(s"operators.$q").snapshot
      Seq(s"operators.$q.jobs" -> c("jobs") / n)
    }
    val cs = order.map(q => t.counters(s"operators.$q").snapshot)
    def total(k: String) = cs.map(_(k)).sum / n
    (perQuery ++ Seq(
      "operators.tasks" -> total("tasks"),
      "operators.task_s" -> total("task_ms") / 1000,
      "operators.plan_ms" -> total("plan_ms"),
      "operators.shuffle_bytes" -> total("shuffle_bytes"),
      "operators.spill_bytes" -> total("spill_bytes"),
      "tables.scan_bytes" -> total("scan_bytes"),
      "tables.files_read" -> total("files")) ++ engine(t)).toMap
  }

  /** Engine-wide totals over every scope (task time, for parallelism). */
  def engine(t: Tracer): Seq[(String, Double)] = {
    val all = t.scopeNames.map(t.counters(_).snapshot)
    Seq("spark.task_ms_total" -> all.map(_("task_ms")).sum.toDouble,
      "spark.jobs_total" -> all.map(_("jobs")).sum.toDouble)
  }
}
