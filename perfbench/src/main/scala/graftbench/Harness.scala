package graftbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The engine side of the benchmark: one JVM per run.
  *
  * It drives the engine only through its public layer functions (see
  * the workload objects), waits for the separate generator process
  * through files in the run directory, and writes `harness.json` there
  * for `run.py`, which turns it into the reported metrics.
  *
  * Args, all required (run.py passes them): --workload W --dir RUN
  * --cores N --setups K --seconds S --phases P (P = 2 runs an untraced
  * then a traced measurement in the same JVM). Workload inputs, required
  * by the workloads that read them: --prep DIR (ingest: dims, warm-up
  * drops, dashboard requests), --tables DIR and --queries Q1,Q2
  * (batch_ops: input tables and query order).
  *
  * `--workload classlist` touches every workload's code paths once on
  * tiny inputs; the build runs it to record the JVM's class-data archive.
  */
object Harness {

  final case class Args(kv: Map[String, String]) {
    val workload: String = kv("workload")
    val dir: String = kv("dir")
    val cores: Int = kv("cores").toInt
    val setups: Int = kv("setups").toInt
    val seconds: Double = kv("seconds").toDouble
    val phases: Int = kv("phases").toInt
    def prep: String = kv("prep")
    def tables: String = kv("tables")
    def queries: Seq[String] = kv("queries").split(",").toSeq
  }

  /** Named results for run.py. */
  final class Out {
    private val fields = mutable.LinkedHashMap[String, Any]()
    def update(k: String, v: Any): Unit = synchronized { fields(k) = v }
    def apply(k: String): Any = synchronized { fields(k) }
    def write(path: String): Unit = synchronized {
      Files.write(Paths.get(path),
        Json.obj(fields).getBytes(StandardCharsets.UTF_8))
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(a.cores)
    val out = new Out
    out("session_s") = (System.currentTimeMillis() - jvmStart) / 1000.0
    out("cores") = a.cores
    val tracer =
      if (a.phases > 1 || a.workload == "classlist") Some(new Tracer(spark)) else None
    val heap = new RetainedHeap
    try {
      a.workload match {
        case "ingest" => Ingest.run(spark, a, out, tracer, heap)
        case "batch_ops" => BatchOps.run(spark, a, out, tracer, heap)
        case "classlist" => ClassList.run(spark, a)
        case other => sys.error(s"unknown workload $other")
      }
      out("heap_mb") = heap.mb
      out("gc_ms") = gcMs()
      tracer.foreach(_.dump(s"${a.dir}/trace.jsonl"))
      out("ok") = true
    } catch {
      case e: Throwable =>
        out("ok") = false
        out("error") = e.toString
        e.printStackTrace()
    } finally {
      out.write(s"${a.dir}/harness.json")
      SparkSession.getActiveSession.foreach(_.stop())
    }
    sys.exit(if (out("ok") == true) 0 else 1)
  }

  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .appName("graft-perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.sql.streaming.metricsEnabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum

  /** Retained heap: heap in use after full GCs at the end of a traced
    * run's measured phases, reported as `spark.heap_mb`. The
    * second GC runs after Spark's cleaner has dropped what the first one
    * made unreachable (broadcasts, shuffles, cached batches).
    */
  final class RetainedHeap {
    private var retained = 0L
    def afterFullGc(): Unit = {
      System.gc()
      Thread.sleep(500)
      System.gc()
      retained = math.max(retained, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    }
    def mb: Double = retained / 1048576.0
  }

  // ---- files shared with the generator ---------------------------------

  def mkdirs(paths: String*): Unit = paths.foreach(p => new File(p).mkdirs())

  def copy(from: String, to: String): Unit = {
    new File(to).getParentFile.mkdirs()
    Files.copy(Paths.get(from), Paths.get(to), StandardCopyOption.REPLACE_EXISTING)
  }

  /** Publish `content` at `path` atomically (write aside, rename). */
  def publish(path: String, content: String): Unit = {
    val f = new File(path)
    val tmp = new File(f.getParentFile, "." + f.getName)
    Files.write(tmp.toPath, content.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp.toPath, f.toPath, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Wait for the generator's end-of-phase file. */
  def awaitFile(path: String, timeoutS: Double): Unit = {
    val end = System.currentTimeMillis() + (timeoutS * 1000).toLong
    while (!new File(path).exists()) {
      if (System.currentTimeMillis() > end)
        sys.error(s"generator did not finish: $path")
      Thread.sleep(20)
    }
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
