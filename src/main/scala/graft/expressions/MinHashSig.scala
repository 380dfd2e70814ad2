package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** k-wide MinHash signature of a TOKEN array in ONE narrow pass — the
  * codegen replacement for the declarative chain
  * `shingles (interpreted HOFs) → array_distinct → explode → md5-prefix
  * hash → k min-aggregates`: per row, the distinct word `shingleN`-gram
  * shingles are built in one loop (no interpreted lambda per
  * element), each shingle is md5-hashed ONCE (the oracle-reproducible
  * `hash32`: first 8 hex chars of md5 as an unsigned 32-bit value), and
  * k universal-hash permutations `(2j+1)·m + 40503·(j+1) mod (2³¹−1)`
  * take running minimums in a local array.
  *
  * Signature values are bit-identical to the aggregate form
  * (parity-tested in DedupSpec); rows with fewer than `shingleN` tokens
  * yield NULL (the aggregate path drops such docs in its groupBy) —
  * callers filter `isNotNull`. Null token elements read as empty
  * strings (the [[WordShingles]] convention). Beyond
  * deleting the (doc, shingle) explode and its exchange, this also
  * removes the interpreted HOF shingle construction from the hot path —
  * measured ~4× on the signature stage.
  */
object MinHashSig {

  /** `array<bigint>` signature of an `array<string>` column (SQL
    * `minhash_sig`).
    */
  def apply(toks: Column, k: Int, shingleN: Int): Column = {
    require(k > 0, "k must be positive")
    require(shingleN > 0, "shingleN must be positive")
    Kernel.call(this, ArrayType(LongType, containsNull = false),
      Seq(Kernel.arg(toks, ArrayType(StringType)), Kernel.param(k),
        Kernel.param(shingleN)))
  }

  private val P = 2147483647L // 2^31 - 1, matches TextFns.P

  private val digests =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  /** Oracle-reproducible 32-bit hash: first 4 md5 digest bytes as an
    * unsigned big-endian int — exactly
    * `conv(substr(md5(s), 1, 8), 16, 10)`.
    */
  def hash32(s: UTF8String): Long = {
    val md = digests.get()
    md.reset()
    val d = md.digest(s.getBytes)
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** Oracle-reproducible 64-bit hash: first 8 md5 digest bytes as a
    * big-endian long. The high/low 32-bit halves are exactly
    * `conv(substr(md5(s), 1, 8), 16, 10)` and
    * `conv(substr(md5(s), 9, 8), 16, 10)` — a SQL oracle reproduces
    * any bit of this value from those two BIGINT-safe halves without
    * ever parsing a 64-bit unsigned literal.
    */
  def hash64(s: UTF8String): Long = {
    val md = digests.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h
  }

  /** Full per-row signature over distinct word n-gram shingles of the
    * token array — shingling delegated to
    * [[WordShingles.distinctShingles]] (ONE implementation of the
    * parity-critical convention). Returns null when the row produces no
    * shingles (fewer than `n` tokens).
    */
  def compute(arr: ArrayData, k: Int, n: Int): ArrayData = {
    val shingles = WordShingles.distinctShingles(arr, n)
    if (shingles.isEmpty) return null
    val sig = Array.fill(k)(P)
    val it = shingles.iterator()
    while (it.hasNext) {
      val m = hash32(it.next())
      var p = 0
      while (p < k) {
        val v = ((2L * p + 1) * m + 40503L * (p + 1)) % P
        if (v < sig(p)) sig(p) = v
        p += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }
}
