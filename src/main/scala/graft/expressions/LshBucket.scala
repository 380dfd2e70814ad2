package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType}

/** Random-hyperplane LSH bucket id (see `lshBucketHof` in
  * CosineSimilaritySpec for the declarative reference): `planes` sign bits of deterministic-hyperplane dot
  * products, packed into a Long. `seed` selects the independent hash
  * table for OR-amplification.
  *
  * Bit-identical to the HOF formulation and the DuckDB oracle: the
  * hyperplane component for global plane g, dimension i is
  * `((g*2654435761 + i*40503) % 1000003) / 1000003.0 - 0.5` (exact
  * long arithmetic, one IEEE divide + subtract), and each plane's dot
  * product accumulates sequentially in double.
  */
object LshBucket {

  /** `bigint` bucket of an `array<float>` column. */
  def apply(vec: Column, planes: Int, seed: Int): Column =
    Kernel.call(this, LongType, Seq(Kernel.arg(vec, ArrayType(FloatType)),
      Kernel.param(planes), Kernel.param(seed)))

  def compute(x: ArrayData, planes: Int, seed: Int): Long = {
    val n = x.numElements()
    var bucket = 0L
    var j = 0
    while (j < planes) {
      val g = seed.toLong * planes + j
      var dot = 0.0
      var i = 0
      while (i < n) {
        val hp = ((g * 2654435761L + i * 40503L) % 1000003L).toDouble /
          1000003.0 - 0.5
        dot += x.getFloat(i).toDouble * hp
        i += 1
      }
      if (dot > 0) bucket += (1L << j)
      j += 1
    }
    bucket
  }
}
