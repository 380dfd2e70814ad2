// Janino compile counter (dev-only): sbt console < tools/codegen_count.scala
//
// Per registry query, prints the Janino compiles (the count of Spark's
// CodegenMetrics compilation-time histogram) and the wall time of one
// pass through the noop sink:
//   alone        each query run twice in a row; `cold` is its first
//                pass, `warm` the repeat, which compiles only what the
//                class cache could not keep or key the same way
//   interleaved  the whole list run in turn, `rounds` times; each line
//                is one query's pass in a later round, after every
//                other query has filled the cache in between
// Queries come from SPARK_GRAFT_ONLY (comma-separated registry names,
// default: the four perfbench batch_ops queries), the data from
// SPARK_GRAFT_SF_DIR and the core count from SPARK_GRAFT_CPUS, the
// same variables graft.Bench reads.
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

val names = {
  sys.env.getOrElse("SPARK_GRAFT_ONLY",
    "ext_kn3_score,ext_hits,ext_auc_ci,q1_agg").split(",").map(_.trim).toSeq
}
val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "testdata/sf0.01")
val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
val rounds = 3

val s = {
  SparkSession.builder().master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false").getOrCreate()
}
s.sparkContext.setLogLevel("ERROR")
val reg = graft.SparkEntry.queries
val missing = names.filterNot(reg.contains)
require(missing.isEmpty, s"not registry queries: ${missing.mkString(",")}")

def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

def pass(tag: String, q: String): Long = {
  val c0 = compiles()
  val t0 = System.nanoTime()
  reg(q)(s, sfDir).write.format("noop").mode("overwrite").save()
  val ms = (System.nanoTime() - t0) / 1e6
  val n = compiles() - c0
  println(f"CODEGEN $tag%-16s $q%-28s compiles=$n%5d wall_ms=$ms%9.1f")
  n
}

names.foreach { q => pass("alone-cold", q); pass("alone-warm", q) }
(1 to rounds).foreach { r =>
  val n = names.map(q => pass(s"interleaved-$r", q)).sum
  println(s"CODEGEN interleaved-$r total compiles=$n")
}
sys.exit(0)
