package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}

/** `bits`-wide SimHash over a token array using the oracle-reproducible
  * md5-prefix hash — the shuffle-free codegen form of the explode →
  * md5-hash → N conditional-sum aggregates stage behind
  * [[graft.operators.Dedup.simhashPairs64Md5]] (which must stay
  * md5-based so the DuckDB oracle can reproduce it; the xxhash64
  * production form is [[SimHash64]]). Token hash: the 32-bit md5
  * prefix ([[MinHashSig.hash32]]) for `bits` <= 32, the 64-bit prefix
  * ([[MinHashSig.hash64]]) above that — a 32-bit hash has no entropy
  * in bits 32..63, so wider signatures need the wider prefix.
  * Duplicate tokens count once per occurrence, matching the exploded
  * aggregate. Null array or EMPTY array → null (the aggregate's
  * groupBy drops zero-token docs — callers filter `isNotNull`); null
  * elements hash as 0 (the aggregate's `otherwise(-1)` branch on a
  * null md5 hash).
  */
object SimHashMd5 {

  /** `bigint` signature of an `array<string>` column (SQL `simhash_md5`). */
  def apply(toks: Column, bits: Int): Column = {
    require(bits > 0 && bits <= 64, "bits must be in 1..64")
    Kernel.call(this, LongType,
      Seq(Kernel.arg(toks, ArrayType(StringType)), Kernel.param(bits)))
  }

  /** Boxed return: null ⇔ empty input. */
  def compute(arr: ArrayData, bits: Int): java.lang.Long = {
    val n = arr.numElements()
    if (n == 0) return null
    val counters = new Array[Int](bits)
    val wide = bits > 32
    var i = 0
    while (i < n) {
      val m: Long =
        if (arr.isNullAt(i)) 0L
        else if (wide) MinHashSig.hash64(arr.getUTF8String(i))
        else MinHashSig.hash32(arr.getUTF8String(i))
      var b = 0
      while (b < bits) {
        counters(b) += (if (((m >>> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < bits) {
      if (counters(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }
}
