package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine query: a Spark plan builder over a scale-factor directory,
  * plus (when SQL-expressible) the exact DuckDB oracle the driver runs.
  * Column names and row order must match between the two — the driver's
  * compare sorts columns by name and hashes values.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(name: String, oracle: String)(
      fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, Some(oracle))
}
