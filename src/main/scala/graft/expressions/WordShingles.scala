package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** EVERY word n-gram of a token array, in order, WITH multiplicity —
  * the language-model sibling of [[WordShingles]] (whose distinctness
  * is right for shingle indexes but loses the occurrence counts an
  * n-gram LM is built on). Same conventions: tokens joined by single
  * spaces, null tokens read as empty strings, fewer than n tokens ⇒
  * empty array. Declarative mirror: `TextFns.shingles(...)` without
  * the array_distinct — the codegen form of the per-position
  * `transform`/`concat` HOF chain the KN scorers ran (measured >3× on
  * corpus-scale inputs, r14). KNOWN DIVERGENCE on null tokens (r15
  * advice note): a null element renders as an empty string here
  * ("a" null "b" → "a  b"), whereas `array_join(slice(...))` SKIPS
  * nulls ("a b") — latent only, since every current caller feeds
  * \s+-split tokens, which are never null; callers introducing
  * nullable token arrays must pre-coalesce.
  */
object WordGrams {

  private val SPACE = UTF8String.fromString(" ")

  /** `array<string>` of the word `n`-grams of an `array<string>` column. */
  def apply(toks: Column, n: Int): Column = {
    require(n > 0, "n must be positive")
    Kernel.call(this, ArrayType(StringType, containsNull = false),
      Seq(Kernel.arg(toks, ArrayType(StringType)), Kernel.param(n)))
  }

  def compute(arr: ArrayData, n: Int): ArrayData =
    new GenericArrayData(grams(arr, n))

  /** The n-grams in order (UTF8String elements). */
  private[expressions] def grams(arr: ArrayData, n: Int): Array[Any] = {
    val total = arr.numElements()
    if (total < n) return Array.empty[Any]
    val toks = new Array[UTF8String](total)
    var t = 0
    while (t < total) {
      toks(t) = if (arr.isNullAt(t)) UTF8String.EMPTY_UTF8
        else arr.getUTF8String(t)
      t += 1
    }
    val out = new Array[Any](total - n + 1)
    var i = 0
    while (i <= total - n) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) { parts(j) = toks(i + j); j += 1 }
      out(i) = UTF8String.concatWs(SPACE, parts: _*)
      i += 1
    }
    out
  }
}

/** EVERY character n-gram of a string, in order, WITH multiplicity —
  * the char-LM sibling of [[WordGrams]]: the codegen form of the
  * per-position `transform(sequence(...), i => substr(t, i, n))` HOF
  * (interpreted per element). Substrings are by character (code
  * point), the `substr` convention; fewer than n chars ⇒ empty array.
  */
object CharGrams {

  /** `array<string>` of the character `n`-grams of a string column. */
  def apply(text: Column, n: Int): Column = {
    require(n > 0, "n must be positive")
    Kernel.call(this, ArrayType(StringType, containsNull = false),
      Seq(Kernel.arg(text, StringType), Kernel.param(n)))
  }

  def compute(t: UTF8String, n: Int): ArrayData = {
    val len = t.numChars()
    if (len < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](len - n + 1)
    var i = 0
    while (i <= len - n) {
      out(i) = t.substring(i, i + n)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Distinct word n-gram shingles of a token array, built in one tight loop —
  * the codegen form of `array_distinct(TextFns.shingles(...))`, whose
  * `transform`/`slice`/`array_join` higher-order functions run as
  * interpreted lambdas per element (measured ~4× slower on corpus-scale
  * inputs; see MinHashSig). Shingle text is tokens joined by single
  * spaces (the `array_join(slice(toks, i, n), " ")` convention);
  * distinctness keeps FIRST-occurrence order; fewer than n tokens ⇒
  * empty array (explode then drops the row, matching the declarative
  * form). Null token elements read as empty strings.
  */
object WordShingles {

  /** `array<string>` of the distinct word `n`-gram shingles of an
    * `array<string>` column (SQL `word_shingles`).
    */
  def apply(toks: Column, n: Int): Column = {
    require(n > 0, "n must be positive")
    Kernel.call(this, ArrayType(StringType, containsNull = false),
      Seq(Kernel.arg(toks, ArrayType(StringType)), Kernel.param(n)))
  }

  /** THE shingle convention, in one place: distinct word n-grams of the
    * token array ([[WordGrams]]' grams), first-occurrence order. Shared
    * by [[WordShingles]] and [[MinHashSig]] so the parity-critical
    * convention cannot fork between the two kernels (the declarative
    * mirror is `array_distinct(TextFns.shingles(...))`, the oracle
    * mirror is ExtensionQueries' `shSql`).
    */
  def distinctShingles(arr: ArrayData,
                       n: Int): java.util.LinkedHashSet[UTF8String] = {
    val seen = new java.util.LinkedHashSet[UTF8String]()
    WordGrams.grams(arr, n).foreach(g => seen.add(g.asInstanceOf[UTF8String]))
    seen
  }

  def compute(arr: ArrayData, n: Int): ArrayData =
    new GenericArrayData(distinctShingles(arr, n).toArray)
}
