package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType}

/** Count of agreeing positions between two `array<bigint>` MinHash
  * signatures — the per-candidate-pair kernel
  * of [[graft.operators.Dedup.minhashLshPairs]] /
  * `incrementalMinhashPairs`, where the declarative form
  * `size(filter(zip_with(a, b, ===), x => x))` crosses an interpreted
  * lambda boundary per signature component per PAIR (the candidate set
  * is bucket-size², so this kernel IS the estimate stage's cost).
  *
  * Semantics match the HOF chain exactly: `zip_with` null-pads the
  * shorter array and `filter` drops null predicate results, so a
  * position counts iff both elements are present (non-null) and equal;
  * length overhang contributes nothing. Null if either array is null.
  */
object SigAgreeCount {

  /** `int` agreement count of two `array<bigint>` signature columns. */
  def apply(a: Column, b: Column): Column =
    Kernel.call(this, IntegerType, Seq(
      Kernel.arg(a, ArrayType(LongType)), Kernel.arg(b, ArrayType(LongType))))

  def compute(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i))
        c += 1
      i += 1
    }
    c
  }
}
