package graftbench

import graft.SparkEntry
import graft.tables.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}

/** `batch_ops`: a fixed slice of `SparkEntry.queries` through the noop
  * sink, in the order given (run.py shuffles it by seed).
  *
  * Set-up opens every input table through `Tables.load` (file listing
  * and schema), `--setups` times; run.py reports the median.
  *
  * The warm-up pass writes every output as parquet; those outputs are
  * checked against the DuckDB oracles after the JVM exits, outside any
  * timed region. The timed passes run the same plans on the same data
  * through the noop sink.
  */
object BatchOps {
  import Harness._

  def run(spark: SparkSession, a: Args, out: Out, tracer: Option[Tracer],
          heap: RetainedHeap): Unit = {
    val order = a.queries
    val queries = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    publish(s"${a.dir}/oracle_sql.json",
      Json.value(order.flatMap(q => oracles.get(q).map(q -> _)).toMap))
    out("setups_s") = (1 to a.setups).map(_ => timed(openTables(spark, a.tables))._2)
    val (_, warm) = timed(order.foreach { q =>
      queries(q)(spark, a.tables).write.mode("overwrite").parquet(s"${a.dir}/out/$q")
    })
    out("warm_s") = warm
    (0 until a.phases).foreach { ph =>
      val traced = ph == 1
      tracer.foreach(_.enabled.set(traced))
      val gc0 = gcMs()
      val t0 = System.nanoTime()
      val passes = scala.collection.mutable.ListBuffer[Seq[(String, Double, Double)]]()
      while (passes.size < 2 || (System.nanoTime() - t0) / 1e9 < a.seconds)
        passes += order.map { q =>
          val (cg0, _) = Tracer.codegen()
          def run() = timed(noop(queries(q)(spark, a.tables)))._2
          val s = tracer.filter(_ => traced).fold(run()) { t =>
            t.window(s"operators.$q")(t.span(s"operators.$q")(_ => run()))
          }
          (q, s, Tracer.codegen()._1 - cg0)
        }
      val wall = (System.nanoTime() - t0) / 1e9
      if (traced) heap.afterFullGc()
      tracer.filter(_ => traced).foreach(_.quiesce())
      out(s"p$ph") = Map[String, Any](
        "gc_ms" -> (gcMs() - gc0), "wall_s" -> wall,
        "passes" -> passes.toList.map(_.map { case (q, s, cg) => Seq(q, s, cg) }),
        "layers" -> tracer.filter(_ => traced)
          .map(Layers.operators(_, order, passes.size)).getOrElse(Map.empty))
    }
  }

  private def openTables(spark: SparkSession, dir: String): Unit =
    Tables.names.foreach(Tables.load(spark, dir, _))

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}
