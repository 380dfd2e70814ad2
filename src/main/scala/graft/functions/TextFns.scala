package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Text-pipeline column functions: tokenization, shingling, deterministic
  * integer hashing, MinHash signatures, SimHash — the scalar layer under
  * the dedup/similarity operators in [[graft.operators]].
  *
  * Everything is pure-`Column` (codegen-friendly, no UDFs). Hashing is
  * md5-prefix based so the DuckDB oracle can reproduce values exactly
  * (`conv(substr(md5(x),1,8),16,10)` ≡ DuckDB
  * `CAST('0x'||substr(md5(x),1,8) AS BIGINT)`).
  *
  * Scale note (100 TB): md5-as-int is the *oracle-reproducible* hash; on
  * a real cluster swap [[hash32]] for `xxhash64(...)` (one intrinsic,
  * no string md5) — the operators take the hash column as input, so the
  * swap is a one-line change at each call site.
  */
object TextFns {

  /** Lower-cased whitespace tokens. */
  def toks(text: Column): Column = split(lower(text), "\\s+")

  /** Canonical content normalization for identity decisions: lower-case,
    * trim, collapse whitespace. The ONE definition shared by batch
    * dedup, streaming dedup and fingerprinting — batch backfills and
    * live streams must agree on document identity.
    */
  def normText(text: Column): Column =
    regexp_replace(trim(lower(text)), "\\s+", " ")

  /** Word n-gram shingles ("a b c", n=2 → ["a b","b c"]) as strings.
    * Empty array when the doc has fewer than n tokens.
    */
  def shingles(text: Column, n: Int): Column =
    // codegen n-gram kernel (r14) — the transform/slice/array_join HOF
    // chain ran interpreted per element; coalesce keeps this function's
    // null-text contract (empty array, not null)
    coalesce(
      graft.expressions.WordGrams(toks(text), n),
      array().cast("array<string>"))

  /** Deterministic 32-bit non-negative hash of a string: first 8 hex
    * chars of md5 as a Long (0 .. 2^32-1). Oracle-reproducible.
    */
  def hash32(s: Column): Column =
    conv(substring(md5(s), 1, 8), 16, 10).cast(LongType)

  /** Deterministic 60-bit non-negative hash (first 15 hex chars of md5
    * as a Long) — the uniform-variate source for sketches and weighted
    * sampling. Oracle twin:
    * `CAST('0x'||substr(md5(x),1,15) AS BIGINT)`.
    */
  def hash60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast(LongType)

  /** LSH band signatures: group the k-wide signature into `bands` bands
    * of k/bands rows each; each band key is "bandIdx:v1,v2,..". Same band
    * key ⇔ candidate pair. Returns array of band-key strings.
    */
  def lshBands(sig: Column, k: Int, bands: Int): Column = {
    val rows = k / bands
    transform(sequence(lit(0), lit(bands - 1)), b =>
      concat_ws(":", b.cast("string"),
        array_join(slice(sig, b * rows + 1, lit(rows)), ",")))
  }

  /** Hamming distance between two small non-negative int hashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Unicode NFC canonicalization via the codegen
    * [[graft.expressions.NfcNormalize]] kernel (DuckDB oracle twin:
    * `nfc_normalize`). Run BEFORE content hashing — composed and
    * decomposed forms of the same text must dedup together.
    */
  def nfc(c: Column): Column =
    graft.expressions.NfcNormalize(c)
}
