package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Symbol counts of a BPE merge chain applied to a token array, in ONE
  * tight per-row loop — the fused form of the per-merge `replace`
  * chain in [[graft.operators.Corpus.bpeEncode]], which re-scanned and
  * re-allocated the whole unit-separator-wrapped document string once
  * per merge (plus a per-character regexp to build the wrapped string
  * in the first place). Semantics are replicated exactly, with one
  * KNOWN DIVERGENCE (below):
  *
  *  - a word's symbols start as its CODE POINTS (the
  *    `regexp_replace(.., "(\\S)", US + "$1" + US)` convention, U+001F
  *    unit separators — Java regex is code-point aware);
  *  - each merge (lhs, rhs), in step order, fuses adjacent symbol
  *    pairs LEFTMOST-NON-OVERLAPPING within a word: after a fuse the
  *    scan resumes AFTER the merged symbol, exactly where
  *    `replace(s, US+lhs+US + US+rhs+US, US+lhs+rhs+US)` resumes its
  *    search — the merged symbol can never be the LEFT element of
  *    another fuse in the same pass, and a fuse never re-examines
  *    earlier symbols;
  *  - merges never cross word boundaries (in the string form the
  *    inter-word space breaks the US-US adjacency);
  *  - null/empty tokens contribute no symbols (`array_join` skips
  *    nulls; an empty token wraps to nothing).
  *
  * KNOWN DIVERGENCE on a literal U+001F in the text: it is the chain's
  * own unit separator, yet it matched `\S` and was wrapped like any
  * character, so its separators ran into its neighbours' and the
  * chain's symbol counts came out wrong (the token "a␟␟b" counted 5
  * symbols). The kernel treats U+001F as one ordinary code-point
  * symbol (4 for that token), which merges may name like any other.
  * BpeCountsSpec pins the kernel's behaviour.
  *
  * Output `struct<n_sym bigint, n_bpe bigint>` — the symbol count
  * before and after the merges, which is everything every consumer of
  * the encode reads (the chain form only ever fed `length`
  * arithmetic). Null token array ⇒ null, like the chain on null text.
  */
object BpeCounts {

  /** `struct<n_sym, n_bpe>` of an `array<string>` column under the
    * merges `lhs(i) + rhs(i)`, applied in step order.
    */
  def apply(toks: Column, lhs: Seq[String], rhs: Seq[String]): Column = {
    require(lhs.length == rhs.length,
      s"lhs/rhs merge columns must align: ${lhs.length} vs ${rhs.length}")
    Kernel.call(BpeMerges(lhs, rhs), StructType(Seq(
      StructField("n_sym", LongType, nullable = false),
      StructField("n_bpe", LongType, nullable = false))),
      Seq(Kernel.arg(toks, ArrayType(StringType))))
  }
}

/** The prepared state of [[BpeCounts]]: the merge chain. */
final case class BpeMerges(lhs: Seq[String], rhs: Seq[String]) {

  override def toString: String = s"BpeMerges(${lhs.length} merges)"

  @transient private lazy val lhsArr: Array[String] = lhs.toArray
  @transient private lazy val rhsArr: Array[String] = rhs.toArray

  def compute(arr: ArrayData): InternalRow = {
    val merges = lhsArr.length
    var nSym = 0L
    var nBpe = 0L
    val total = arr.numElements()
    var t = 0
    while (t < total) {
      if (!arr.isNullAt(t)) {
        val tok = arr.getUTF8String(t).toString
        if (tok.nonEmpty) {
          // initial symbols: one per code point
          val syms = new Array[String](tok.codePointCount(0, tok.length))
          var ci = 0
          var si = 0
          while (ci < tok.length) {
            val cp = tok.codePointAt(ci)
            syms(si) = new String(Character.toChars(cp))
            si += 1
            ci += Character.charCount(cp)
          }
          nSym += syms.length
          var n = syms.length
          var mi = 0
          while (mi < merges && n > 1) {
            val l = lhsArr(mi)
            val r = rhsArr(mi)
            // leftmost-non-overlapping fuse pass, in place
            var rd = 0
            var wr = 0
            while (rd < n) {
              if (rd + 1 < n && syms(rd) == l && syms(rd + 1) == r) {
                syms(wr) = l + r
                rd += 2
              } else {
                syms(wr) = syms(rd)
                rd += 1
              }
              wr += 1
            }
            n = wr
            mi += 1
          }
          nBpe += n
        }
      }
      t += 1
    }
    InternalRow(nSym, nBpe)
  }
}
