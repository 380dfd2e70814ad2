package graftbench

import graft.streaming.Sinks
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** `ingest`: the ODS → DWD → serving-store chain under open-loop drops,
  * then one backlog burst.
  *
  * A traced run (`--phases 2`) measures an untraced phase, then a traced
  * one on the same chain (the generator continues one event stream, so
  * keys never repeat), probes the dashboard endpoints, and finally drains
  * a burst on a fresh one-core session: the single-core baseline.
  */
object Ingest {
  import Harness._

  def run(spark: SparkSession, a: Args, out: Out, tracer: Option[Tracer],
          heap: RetainedHeap): Unit = {
    val starts = (1 to a.setups).map { k =>
      val (chain, s) = timed(start(spark, s"${a.dir}/setup$k", a.prep, tracer))
      if (k < a.setups) chain.stop()
      (chain, s)
    }
    out("setups_s") = starts.map(_._2)
    val chain = starts.last._1
    out("warm_s") = timed(warm(chain, a.prep))._2
    val phases = (0 until a.phases).map { ph =>
      if (ph == 1) tracer.foreach(_.enabled.set(true))
      phase(chain, s"${a.dir}/p$ph", a)
    }
    if (tracer.nonEmpty) heap.afterFullGc()
    chain.stop()
    // layer figures cover the traced phase alone, not the read-back below
    val layers = tracer.map { t =>
      t.quiesce()
      t.enabled.set(false)
      Layers.streaming(t)
    }
    out("phases") = phases
    out("chain") = readBack(spark, chain, tracer.nonEmpty)
    out("answers") = Answers.ingest(spark, chain)
    tracer.foreach { t =>
      out("progress") = Layers.progress(t)
      t.enabled.set(true)
      out("layers") = layers.get ++
        Serve.probe(spark, t, chain.dauDir, chain.owDir, Serve.requests(a.prep))
      t.enabled.set(false)
      spark.stop()
      val one = session(1)
      // the JVM and its code caches are warm; the one-core chain is not
      val c1 = start(one, s"${a.dir}/one_core", a.prep, None)
      out("one_core_phase") = phase(c1, s"${a.dir}/p${a.phases}", a)
      c1.stop()
      out("one_core") = readBack(one, c1, stats = false)
    }
  }

  /** Set-up: bootstrap the dim store and start the four queries on fresh
    * directories.
    */
  def start(spark: SparkSession, root: String, prep: String,
            tracer: Option[Tracer]): Chain = {
    Chain.seedDims(spark, s"$root/dim_store", s"$prep/dims.json")
    new Chain(spark, root, tracer)
  }

  /** Warm-up: one small drop through the whole chain. */
  def warm(chain: Chain, prep: String): Unit = {
    copy(s"$prep/warm_cdc.json", s"${chain.inCdc}/a_warm.json")
    copy(s"$prep/warm_log.json", s"${chain.inLog}/a_warm.json")
    chain.drain()
  }

  /** One generator phase: hand it the drop directories, wait for its
    * last drop, then for the chain to serve everything.
    */
  private def phase(chain: Chain, dir: String, a: Args): Map[String, Any] = {
    mkdirs(dir)
    val gc0 = gcMs()
    val t0 = System.currentTimeMillis()
    publish(s"$dir/ready", Json.obj(Seq("log_dir" -> chain.inLog, "cdc_dir" -> chain.inCdc)))
    awaitFile(s"$dir/done", a.seconds * 4 + 60)
    chain.drain()
    Map("t0_ms" -> t0, "t1_ms" -> System.currentTimeMillis(), "gc_ms" -> (gcMs() - gc0))
  }

  /** When each key first became servable (the batch that first wrote
    * it), the time each batch's store write returned, and store stats.
    */
  private def readBack(spark: SparkSession, chain: Chain,
                       stats: Boolean): Map[String, Any] = {
    val dau = Sinks.readStore(spark, chain.dauDir)
      .groupBy("mid", "dt").agg(min(Sinks.SeqCol).as("seq"))
      .collect().map(r => s"${r.getString(0)}|${r.get(1)}" -> r.getLong(2))
    val ow = Sinks.readStore(spark, chain.owDir)
      .groupBy("detail_id").agg(min(Sinks.SeqCol).as("seq"))
      .collect().map(r => r.getLong(0).toString -> r.getLong(1))
    Map("dau_seq" -> dau.toMap, "ow_seq" -> ow.toMap,
      "batches" -> chain.visible.asScala.toSeq.map { case (q, b, ms) => Seq(q, b, ms) }) ++
      (if (stats) Map("store" -> Answers.storeStats(spark,
        Seq(chain.dauDir -> "mid", chain.owDir -> "detail_id"))) else Map.empty)
  }
}
