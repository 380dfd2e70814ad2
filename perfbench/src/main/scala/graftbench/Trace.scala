package graftbench

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import scala.jdk.CollectionConverters._

/** Engine counters for one attribution scope (a layer call, a streaming
  * query, an endpoint), summed from Spark's public listener events.
  */
final class Counters {
  val jobs, tasks, taskMs, shuffleBytes, spillBytes, planMs, scanFiles,
      scanBytes, scanRows = new AtomicLong

  def add(delta: Map[String, Long]): Unit = {
    jobs.addAndGet(delta("jobs")); tasks.addAndGet(delta("tasks"))
    taskMs.addAndGet(delta("task_ms")); shuffleBytes.addAndGet(delta("shuffle_bytes"))
    spillBytes.addAndGet(delta("spill_bytes")); planMs.addAndGet(delta("plan_ms"))
    scanFiles.addAndGet(delta("files")); scanBytes.addAndGet(delta("scan_bytes"))
    scanRows.addAndGet(delta("scan_rows"))
  }

  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.get, "tasks" -> tasks.get, "task_ms" -> taskMs.get,
    "shuffle_bytes" -> shuffleBytes.get, "spill_bytes" -> spillBytes.get,
    "plan_ms" -> planMs.get, "files" -> scanFiles.get,
    "scan_bytes" -> scanBytes.get, "scan_rows" -> scanRows.get)
}

/** A span at a layer boundary: start, end and the span that caused it;
  * spans of one event batch or request share `group`.
  */
final case class Span(id: Long, name: String, parent: Long, group: String,
                      startNs: Long, endNs: Long)

/** The traced run's collector: one SparkListener, one
  * StreamingQueryListener and one QueryExecutionListener, plus the
  * benchmark's own spans around each layer call. Everything stays in
  * memory until [[dump]] writes it once at the end.
  *
  * Attribution: the caller names a scope in a thread-local Spark
  * property before a layer call; jobs carry it in their properties.
  * Streaming jobs are attributed to their query's name through the
  * query id Spark stamps on them. SQL executions (Catalyst phases, scan
  * metrics) arrive without either, as does work on threads that do not
  * inherit the property; [[window]] attributes those by time.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  val enabled = new AtomicBoolean(false)
  private val scopes = new ConcurrentHashMap[String, Counters]()
  private val stageScope = new ConcurrentHashMap[Int, String]()
  private val queryNames = new ConcurrentHashMap[String, String]()
  private val running = new AtomicLong
  private val events = new AtomicLong
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val spanIds = new AtomicLong

  def counters(scope: String): Counters =
    scopes.computeIfAbsent(scope, _ => new Counters)

  def scopeNames: Seq[String] = scopes.keySet.asScala.toSeq

  private def scopeOf(p: Properties): String =
    if (p == null) "other"
    else Option(p.getProperty(QueryIdKey)).map(id =>
        queryNames.getOrDefault(id, "stream"))
      .orElse(Option(p.getProperty(ScopeKey)))
      .getOrElse("other")

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (enabled.get) {
        events.incrementAndGet(); running.incrementAndGet()
        val s = scopeOf(e.properties)
        counters(s).jobs.incrementAndGet()
        e.stageIds.foreach(stageScope.put(_, s))
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (enabled.get) { events.incrementAndGet(); running.decrementAndGet() }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (enabled.get && e.taskMetrics != null) {
        events.incrementAndGet()
        val m = e.taskMetrics
        val c = counters(stageScope.getOrDefault(e.stageId, "other"))
        c.tasks.incrementAndGet()
        c.taskMs.addAndGet(m.executorRunTime)
        c.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten)
        c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      queryNames.put(e.id.toString, Option(e.name).getOrElse("stream"))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (enabled.get) progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private object scans extends AdaptiveSparkPlanHelper

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit =
      if (enabled.get) {
        events.incrementAndGet()
        val c = counters("other")
        c.planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
        scans.collectWithSubqueries(qe.executedPlan) {
          case p: SparkPlan if p.metrics.contains("numFiles") => p
        }.foreach { p =>
          def v(k: String) = p.metrics.get(k).map(_.value).getOrElse(0L)
          c.scanFiles.addAndGet(v("numFiles"))
          c.scanBytes.addAndGet(v("filesSize"))
          c.scanRows.addAndGet(v("numOutputRows"))
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(jobListener)
  spark.streams.addListener(streamListener)
  spark.listenerManager.register(qeListener)

  /** Run `body` with its jobs attributed to `scope` (on this thread). */
  def scoped[T](scope: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(ScopeKey)
    sc.setLocalProperty(ScopeKey, scope)
    try body finally sc.setLocalProperty(ScopeKey, prev)
  }

  /** [[scoped]], then credit the scope with the unscoped work done
    * meanwhile (SQL executions; jobs of threads without the property,
    * such as the HTTP server's). Only valid while nothing else runs.
    */
  def window[T](scope: String)(body: => T): T = {
    val other = counters("other")
    quiesce()
    val before = other.snapshot
    val r = scoped(scope)(body)
    quiesce()
    counters(scope).add(other.snapshot.map { case (k, v) => k -> (v - before(k)) })
    r
  }

  /** Record a span around `body`; the span id is passed to the body so
    * nested calls can name it as their parent.
    */
  def span[T](name: String, parent: Long = 0L, group: String = "")
             (body: Long => T): T = {
    val id = spanIds.incrementAndGet()
    val t0 = System.nanoTime()
    try body(id)
    finally if (enabled.get)
      spans.add(Span(id, name, parent, group, t0, System.nanoTime()))
  }

  /** Block until the listener bus has delivered everything so far: no
    * job running and no event for `quietMs`.
    */
  def quiesce(quietMs: Long = 150L, timeoutMs: Long = 10000L): Unit = {
    val end = System.currentTimeMillis() + timeoutMs
    var last = -1L
    var stableSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < end) {
      val n = events.get
      if (n != last || running.get > 0) {
        last = n; stableSince = System.currentTimeMillis()
      } else if (System.currentTimeMillis() - stableSince >= quietMs) return
      Thread.sleep(10)
    }
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq

  /** Mean duration and mean self time (duration minus the part of its
    * interval covered by child spans) per span name, in ms.
    */
  def spanStats: Map[String, (Int, Double, Double)] = {
    val all = allSpans
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      val durs = ss.map(s => (s.endNs - s.startNs) / 1e6)
      val selfs = ss.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil)
          .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs))))
        (s.endNs - s.startNs - covered) / 1e6
      }
      name -> (ss.size, durs.sum / ss.size, selfs.sum / ss.size)
    }
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var cur: Option[(Long, Long)] = None
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    total + cur.map { case (a, b) => b - a }.getOrElse(0L)
  }

  /** Write every span as one JSON line, then one summary line per span
    * name with its count, mean duration and mean self time.
    */
  def dump(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      allSpans.sortBy(_.startNs).foreach { s =>
        w.println(Json.obj(Seq("id" -> s.id, "name" -> s.name,
          "parent" -> s.parent, "group" -> s.group,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
      }
      spanStats.toSeq.sortBy(_._1).foreach { case (name, (n, dur, self)) =>
        w.println(Json.obj(Seq("summary" -> name, "count" -> n,
          "mean_ms" -> dur, "self_ms" -> self)))
      }
    } finally w.close()
  }
}

object Tracer {
  val ScopeKey = "graftbench.scope"
  val QueryIdKey = "sql.streaming.queryId"

  /** Janino compile time so far (ms) and compile count. The histogram
    * keeps every sample until 1028 compiles; past that the mean stands in.
    */
  def codegen(): (Double, Long) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    val n = h.getCount
    val total =
      if (n <= snap.size) snap.getValues.sum.toDouble else snap.getMean * n
    (total, n)
  }
}
