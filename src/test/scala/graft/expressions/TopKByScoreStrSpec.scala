package graft.expressions

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.apache.spark.unsafe.types.UTF8String

/** Bit-parity of the bounded-heap top-k against the window formulation
  * it claims to match, for a string id and (where the id type decides
  * anything) a bigint id, plus the serde and byte-order paths the
  * oracle queries (ASCII tokens) never exercise.
  */
class TopKByScoreStrSpec extends SparkSpec {
  import spark.implicits._

  // rows, not tuples: Row equality holds NaN equal to NaN
  private def viaAgg(df: DataFrame, k: Int): Array[Row] =
    df.agg(TopKByScore(col("score").cast(DoubleType), col("id"), k).as("t"))
      .select(posexplode(col("t")).as(Seq("pos", "x")))
      .select(col("x.id"), col("x.score"))
      .collect()

  private def viaSort(df: DataFrame, k: Int): Array[Row] =
    df.orderBy(col("score").desc, col("id"))
      .select(col("id"), col("score"))
      .take(k)

  // Row equality holds 0.0 equal to -0.0; the score bits do not
  private def scoreBits(rows: Array[Row]): Seq[Long] =
    rows.toSeq.map(r => java.lang.Double.doubleToLongBits(r.getDouble(1)))

  test("matches ORDER BY score DESC, id over many partitions") {
    def mod37(id: Column => Column) = spark.range(500)
      .select(id(col("id") % 37).as("id"),
        (col("id") % 11).cast(DoubleType).as("score"))
      .repartition(8)
    // Spark sorts 0.0 = -0.0 and breaks the tie by id
    val signedZeros = Seq((5L, 0.0), (9L, 0.0), (1L, -0.0), (3L, -0.0))
    val cases = Seq(
      "string" -> mod37(n => concat(lit("tok"), n)),
      "bigint" -> mod37(identity),
      "string ±0.0" -> signedZeros.map { case (i, s) => (s"tok$i", s) }
        .toDF("id", "score").repartition(2),
      "bigint ±0.0" -> signedZeros.toDF("id", "score").repartition(2),
      "bigint NaN" -> Seq((4L, Double.NaN), (2L, 1.0), (7L, Double.NaN),
        (1L, Double.PositiveInfinity), (3L, Double.NegativeInfinity),
        (6L, 1.0)).toDF("id", "score").repartition(2))
    for ((name, df) <- cases; k <- Seq(3, 10)) withClue(s"$name k=$k: ") {
      assert(viaAgg(df, k) === viaSort(df, k))
      assert(scoreBits(viaAgg(df, k)) === scoreBits(viaSort(df, k)))
    }
  }

  test("ties on score break by id ascending; k > n returns all") {
    for ((df, a, b) <- Seq(
        (Seq(("b", 1.0), ("a", 1.0), ("c", 1.0)).toDF("id", "score"), "a", "b"),
        (Seq((2L, 1.0), (1L, 1.0), (3L, 1.0)).toDF("id", "score"), 1L, 2L))) {
      assert(viaAgg(df, 2) === Array(Row(a, 1.0), Row(b, 1.0)))
      assert(viaAgg(df, 99).length === 3)
    }
  }

  test("non-ASCII ids order by UTF-8 bytes (Spark's string order)") {
    // U+FF01 (ＡFULLWIDTH!) vs ASCII vs CJK: byte order != UTF-16 order
    // for supplementary chars; verify parity with Spark's own sort
    val df = Seq(("z", 1.0), ("中", 1.0), ("😀", 1.0),
      ("a", 1.0)).toDF("id", "score").repartition(3)
    assert(viaAgg(df, 3) === viaSort(df, 3))
  }

  test("serde roundtrip preserves buffer contents") {
    // ids offered with scores 2, 3, 1, 4: the last evicts the third
    for ((id, ids, want) <- Seq(
        (Literal("x"), Seq("beta", "日本語", "alpha", "gamma")
          .map(UTF8String.fromString), Seq("gamma", "日本語", "beta")),
        (Literal(0L), Seq(20L, 30L, 10L, 40L), Seq("40", "30", "20")))) {
      val e = TopKByScore(Literal(0.0), id, 3)
      val buf = e.createAggregationBuffer()
      ids.zip(Seq(2.0, 3.0, 1.0, 4.0)).foreach { case (i, s) => buf.offer(s, i) }
      val back = e.deserialize(e.serialize(buf))
      assert(back.sortedDesc.toSeq === buf.sortedDesc.toSeq)
      assert(back.sortedDesc.map(_._2.toString).toSeq === want)
    }
  }

  test("NaN scores rank first, like Spark's DESC ordering") {
    val df = Seq(("n", Double.NaN), ("h", 9.0), ("l", 1.0))
      .toDF("id", "score").repartition(2)
    assert(viaAgg(df, 2).map(_.get(0)) === viaSort(df, 2).map(_.get(0)))
    assert(viaAgg(df, 2).head.get(0) === "n")
  }
}
