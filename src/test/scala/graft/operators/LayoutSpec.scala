package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  /** Reference Morton interleave on the driver. */
  private def zRef(a: Long, b: Long, bits: Int): Long =
    (0 until bits).map { i =>
      (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))
    }.sum

  test("zValue2 matches the reference interleave on a value grid") {
    val pts = for (a <- 0L until 16L; b <- 0L until 16L) yield (a, b)
    val out = pts.toDF("a", "b")
      .select($"a", $"b", Layout.zValue2($"a", $"b", bits = 4).as("z"))
      .as[(Long, Long, Long)].collect()
    out.foreach { case (a, b, z) => assert(z === zRef(a, b, 4)) }
    // the interleave is a bijection on the grid
    assert(out.map(_._3).distinct.length === pts.length)
  }

  test("zValue2 masks out-of-range bits instead of corrupting order") {
    val out = Seq((1024L + 5L, 3L)).toDF("a", "b")
      .select(Layout.zValue2($"a", $"b", bits = 10).as("z"))
      .as[Long].head()
    assert(out === zRef(5L, 3L, 10)) // high bits of a ignored
  }

  test("zValue2 rejects bit widths that overflow a long") {
    intercept[IllegalArgumentException] {
      Layout.zValue2(lit(1L), lit(1L), bits = 32)
    }
  }
}
