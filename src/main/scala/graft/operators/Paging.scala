package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** Distributed offset pagination (reference detailByItem from/size,
  * publisher/.../PublisherMapperImpl.java:194-196) without the global
  * single-partition `row_number()` window.
  *
  * Shape: `orderBy(keys).limit(from + size)` plans as
  * `TakeOrderedAndProject` — each partition keeps its local top
  * (from + size) rows and only those merge — then `rn` is reconstructed
  * on the ≤ from+size survivors by a broadcast rank join (y ≤ x
  * lexicographic count). Total work per page is O(scan + (from+size)²)
  * with the quadratic term bounded by the page window (≤ 40² here),
  * independent of corpus size — the plan survives a 100× scale-up where
  * the global-window form funnels every matching row to one task.
  *
  * `keys` must be a deterministic total order (unique key columns) —
  * the same requirement the oracle's row_number ORDER BY already has.
  */
object Paging {

  /** y <= x over the keys, lexicographically, under the same NULLS
    * FIRST order `orderBy(col)` uses — a null key sorts before every
    * value and equals itself (`<=>`), so null-keyed rows rank first
    * instead of silently dropping out of the rank join.
    */
  private def lexLeq(ys: Seq[Column], xs: Seq[Column]): Column =
    ys.zip(xs).foldRight(lit(true)) { case ((y, x), rest) =>
      (y.isNull && x.isNotNull) || y < x || (y <=> x && rest)
    }

  /** Rows with row_number ∈ (from, from+size] under ORDER BY `keys`,
    * plus an `rn` column (int, 1-based) — identical output to the
    * window formulation, distributed plan.
    *
    * Requirement: rows that tie on `keys` must be identical in EVERY
    * column (i.e. `keys` orders the distinct rows totally). Identical
    * rows are handled: the tie group's g rows receive the g consecutive
    * ranks the window formulation would hand out — with identical
    * payloads, which copy gets which rank is unobservable.
    */
  def paginate(df: DataFrame, keys: Seq[String], from: Int,
               size: Int): DataFrame = {
    val outCols = df.columns.toSeq
    val top = df.orderBy(keys.map(col): _*).limit(from + size)
    // collapse identical rows; rank math runs on the distinct page rows.
    // Lazy localCheckpoint: both sides of the rank join read this ≤
    // (from+size)-row frame — materializing it once halves the scans
    // under the TakeOrderedAndProject instead of recomputing per side
    val grouped = top.groupBy(outCols.map(col): _*)
      .agg(count(lit(1)).as("__g"))
      .localCheckpoint(false)
    val ySide = grouped.select(
      keys.map(k => col(k).as(s"__y_$k")) :+ col("__g").as("__yg"): _*)
    val cond = lexLeq(keys.map(k => col(s"__y_$k")), keys.map(col))
    grouped.join(broadcast(ySide), cond)
      .groupBy((outCols :+ "__g").map(col): _*)
      .agg(sum(col("__yg")).as("__upto")) // rows ranked ≤ this group
      .select(outCols.map(col) :+
        explode(sequence(col("__upto") - col("__g") + 1, col("__upto")))
          .as("rn"): _*)
      .withColumn("rn", col("rn").cast(IntegerType))
      .filter(col("rn") > from)
  }
}
