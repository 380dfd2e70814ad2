package graft

import org.apache.spark.sql.SparkSession

/** Plan-audit tool: dump `explain("formatted")` for named queries (or
  * all) so pushdown (`PushedFilters`), broadcasts, and WholeStageCodegen
  * spans can be reviewed. AQE is off: with it on, every dump is the
  * initial `AdaptiveSparkPlan isFinalPlan=false`, which shows no
  * codegen spans. Usage:
  *   runMain graft.Explain <sfDir> [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.registry.map(_.name)
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"########## $n")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
