package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing fingerprint selection (the MOSS algorithm) in ONE tight
  * per-row loop — the codegen-boundary form of the declarative pipeline
  * in [[graft.operators.TextAnalysis.winnow]], which built the
  * (hash, pos) grid with a `transform` HOF (one INTERPRETED md5
  * evaluation per k-gram) and picked per-window minima with an
  * `aggregate(slice(...))` HOF (one array allocation plus w interpreted
  * lambda calls per window). Semantics are replicated exactly:
  *
  *  - grid: for 1-based char position i in [1, len−k+1], h(i) = the
  *    first 8 hex chars of md5(substr(text, i, k)) parsed as a long —
  *    byte-identical to `conv(substring(md5(...), 1, 8), 16, 10)`
  *    ([[MinHashSig.hash32]] of the substring by code point);
  *  - picks: per window of w consecutive grid entries, the RIGHTMOST
  *    minimal hash (ties advance right — the winnowing robustness
  *    rule), windows only where the grid has ≥ w entries;
  *  - dedup: repeated picks collapse, FIRST-occurrence order.
  *
  * Input is the (already lower-cased) text; output
  * array<struct<h bigint, pos bigint>> — empty when fewer than w
  * full windows exist, so `explode` drops the row exactly like the
  * declarative form.
  */
object WinnowFingerprints {

  /** `array<struct<h, pos>>` fingerprints of a string column. */
  def apply(text: Column, k: Int, w: Int): Column = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(w >= 1, s"w must be >= 1, got $w")
    Kernel.call(this, ArrayType(StructType(Seq(
      StructField("h", LongType, nullable = false),
      StructField("pos", LongType, nullable = false))),
      containsNull = false),
      Seq(Kernel.arg(text, StringType), Kernel.param(k), Kernel.param(w)))
  }

  def compute(t: UTF8String, k: Int, w: Int): ArrayData = {
    val n = t.numChars() - k + 1 // k-gram count
    if (n < w) return new GenericArrayData(Array.empty[Any])
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) {
      hs(i) = MinHashSig.hash32(t.substring(i, i + k))
      i += 1
    }
    // rightmost-min per window, dedup on (pos, h) in first-pick order:
    // pos in the high 32 bits, the 32-bit h in the low 32
    val seen = new java.util.HashSet[Long]()
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var j = 0
    while (j + w <= n) {
      var bi = j
      var x = j + 1
      while (x < j + w) {
        if (hs(x) <= hs(bi)) bi = x
        x += 1
      }
      if (seen.add((bi.toLong << 32) | hs(bi)))
        out += InternalRow(hs(bi), bi + 1L) // 1-based pos
      j += 1
    }
    new GenericArrayData(out.toArray)
  }
}
