package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}

/** 64-bit SimHash signature of a token array in ONE narrow pass — the
  * codegen replacement for the explode → xxhash64 → 64 conditional-sum
  * aggregates formulation: per row, each token is hashed once (the same
  * `XXH64` primitive Spark's `xxhash64` builtin uses, seed 42) and 64
  * local counters take ±1 per bit; signature bit b is set iff counter b
  * ends positive. Bit-identical to the aggregate form (verified in
  * DedupSpec), but the signature stage needs NO shuffle at all — at
  * 100 TB that deletes an explode of every (doc, token) pair plus a
  * hash-aggregate exchange from the dedup pipeline.
  *
  * Parity details matching the aggregate form exactly: a null ARRAY or
  * an EMPTY array yields null (the aggregate's groupBy sees no rows for
  * such a doc and drops it — callers filter `isNotNull`); a null
  * ELEMENT hashes to the seed (Spark's `xxhash64` of a null input
  * returns the seed unchanged, never null).
  */
object SimHash64 {

  /** `bigint` signature of an `array<string>` column (SQL `simhash64`). */
  def apply(toks: Column): Column =
    Kernel.call(this, LongType, Seq(Kernel.arg(toks, ArrayType(StringType))))

  /** Boxed return: null ⇔ empty input (the aggregate path's
    * doc-dropping semantics).
    */
  def compute(arr: ArrayData): java.lang.Long = {
    val n = arr.numElements()
    if (n == 0) return null
    val counters = new Array[Int](64)
    var i = 0
    while (i < n) {
      // xxhash64(null) = the seed, never null — match it exactly
      val m: Long =
        if (arr.isNullAt(i)) 42L
        else XXH64.hashUTF8String(arr.getUTF8String(i), 42L)
      var b = 0
      while (b < 64) {
        counters(b) += (if (((m >>> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (counters(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }
}
