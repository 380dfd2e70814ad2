package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-list stopword hit counts of a token array in ONE pass — the
  * round-1 "single-pass combined hit-counter": the declarative form
  * runs one interpreted `filter` higher-order function over the token
  * array PER LANGUAGE (5× per row for quality scoring, 5× again for
  * language-ID); this kernel looks each token up once in a
  * precompiled hash map of word→list-membership bitmask and bumps all
  * matching counters. Output: `array<long>` of hit counts, one per
  * input list, each exactly TextFnsSpec's declarative
  * `hitCount(toks, list)` (null tokens match nothing; a word on several
  * lists counts on each).
  *
  * `lists` is a plan-time constant (≤ 64 lists — bitmask-bound, far
  * above any language-ID roster).
  */
object StopwordHits {

  /** `array<bigint>` hit counts of an `array<string>` column. */
  def apply(toks: Column, lists: Seq[Seq[String]]): Column = {
    require(lists.nonEmpty && lists.size <= 64,
      "1..64 stopword lists supported")
    Kernel.call(StopwordLists(lists), ArrayType(LongType, containsNull = false),
      Seq(Kernel.arg(toks, ArrayType(StringType))))
  }
}

/** The prepared state of [[StopwordHits]]: equal lists make equal
  * kernels, so the plan shows (and dedups) one call per list set.
  */
final case class StopwordLists(lists: Seq[Seq[String]]) {

  override def toString: String = s"StopwordLists(${lists.size} lists)"

  /** word → bitmask of the lists containing it; built once per
    * deserialized instance.
    */
  @transient private lazy val masks: java.util.HashMap[UTF8String, java.lang.Long] = {
    val m = new java.util.HashMap[UTF8String, java.lang.Long]()
    lists.zipWithIndex.foreach { case (words, i) =>
      words.foreach { w =>
        val k = UTF8String.fromString(w)
        val prev = m.get(k)
        m.put(k, (if (prev == null) 0L else prev.longValue()) | (1L << i))
      }
    }
    m
  }

  def compute(arr: ArrayData): ArrayData = {
    val counts = new Array[Long](lists.size)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val mask = masks.get(arr.getUTF8String(i))
        if (mask != null) {
          var m = mask.longValue()
          while (m != 0L) {
            val b = java.lang.Long.numberOfTrailingZeros(m)
            counts(b) += 1L
            m &= m - 1L
          }
        }
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(counts)
  }
}
