package graft.expressions

import java.text.Normalizer

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a native kernel — the
  * canonicalization pass every web-scale text pipeline runs before
  * hashing/dedup (a composed "é" and its decomposed twin are DIFFERENT
  * byte strings, so un-normalized corpora silently fail exact dedup,
  * fingerprinting and decontamination joins on visually identical
  * text).
  *
  * Spark has no built-in for this; the usual escape hatch is a Scala
  * UDF (per-row boxing, no codegen, a black box to Catalyst). This is
  * instead a `StaticInvoke` of [[compute]] — one static call inside
  * the surrounding WholeStageCodegen loop, with an
  * already-normalized fast path (`Normalizer.isNormalized`, true for
  * virtually all real text) that returns the input UTF8String without
  * allocating.
  *
  * Cross-engine: implements Unicode canonical composition per UAX #15,
  * same as DuckDB's `nfc_normalize` (utf8proc) — the oracle twin.
  */
object NfcNormalize {

  /** NFC form of a string column (SQL `nfc_normalize`); null only for
    * null input.
    */
  def apply(text: Column): Column =
    Kernel.call(this, StringType, Seq(Kernel.arg(text, StringType)),
      returnNullable = false)

  /** Returns the INPUT object when already NFC (no allocation) — the
    * overwhelmingly common case.
    */
  def compute(s: UTF8String): UTF8String = {
    val str = s.toString
    if (Normalizer.isNormalized(str, Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      Normalizer.normalize(str, Normalizer.Form.NFC))
  }
}
