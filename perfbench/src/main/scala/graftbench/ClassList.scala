package graftbench

import org.apache.spark.sql.SparkSession

/** One pass over every workload's code paths on tiny inputs, traced, so
  * the JVM's class-data archive recorded from this run holds the classes
  * the measured runs load.
  */
object ClassList {
  def run(spark: SparkSession, a: Harness.Args): Unit = {
    val tracer = new Tracer(spark)
    tracer.enabled.set(true)
    val chain = Ingest.start(spark, s"${a.dir}/ingest", a.prep, Some(tracer))
    Ingest.warm(chain, a.prep)
    chain.stop()
    Layers.streaming(tracer)
    Serve.probe(spark, tracer, chain.dauDir, chain.owDir, Serve.requests(a.prep))
    a.queries.foreach { q =>
      tracer.scoped(s"operators.$q") {
        graft.SparkEntry.queries(q)(spark, a.tables)
          .write.format("noop").mode("overwrite").save()
      }
    }
    tracer.quiesce()
    Layers.operators(tracer, a.queries, 1)
    tracer.dump(s"${a.dir}/trace.jsonl")
  }
}
