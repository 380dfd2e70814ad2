package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Int8 quantization of an `array<float>` embedding — the
  * compressed-corpus write path of [[graft.operators.Quantize]], in
  * one tight primitive loop instead of three interpreted
  * higher-order-function passes (`transform` for max|x|, `transform`
  * for the quantized components, `aggregate` for each checksum; HOF
  * lambdas have no generated code, so every element crosses an
  * interpreted-eval boundary — measured ~2 s of pure lambda overhead on
  * a 2 000×64 corpus, which at a billion-vector corpus is the whole
  * job).
  *
  * Semantics are BIT-IDENTICAL to the declarative form (and the DuckDB
  * oracle): scale = 127/max|x| (1.0 when max is 0), q_i =
  * floor(x_i·scale + 0.5) — fixed-direction half-up, whose semantics
  * are identical in every engine (`round()`'s tie rule is not) — with
  * each float widened to double before the multiply. Emits a struct
  * so the derived statistics ride the same loop:
  *
  *   struct(qvec: array<tinyint>, scale: double,
  *          q_norm2: bigint, q_sum: bigint)
  *
  * q_norm2/q_sum are the Σq²/Σq integer checksums (exact int64 —
  * 64 dims × 127² ≪ 2⁶³). Null input array ⇒ null struct. A null
  * ELEMENT propagates exactly as the HOF chain would: max|x| skips
  * nulls (array_max semantics), the corresponding q_i is null, and
  * both checksums go null (aggregate over a null element).
  */
object Int8Quantize {

  val schema: StructType = StructType(Seq(
    StructField("qvec", ArrayType(ByteType, containsNull = true),
      nullable = false),
    StructField("scale", DoubleType, nullable = false),
    StructField("q_norm2", LongType, nullable = true),
    StructField("q_sum", LongType, nullable = true)))

  /** [[schema]] struct of an `array<float>` column (SQL `int8_quantize`). */
  def apply(vec: Column): Column =
    Kernel.call(this, schema, Seq(Kernel.arg(vec, ArrayType(FloatType))))

  def compute(arr: ArrayData): InternalRow = {
    val n = arr.numElements()
    // pass 1: max |x| over non-null elements (array_max skips nulls)
    var m = 0.0
    var hasNull = false
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) hasNull = true
      else {
        val ax = math.abs(arr.getFloat(i).toDouble)
        // Double.compare mirrors Spark's SQL ordering (NaN greatest),
        // keeping array_max parity even on pathological inputs
        if (java.lang.Double.compare(ax, m) > 0) m = ax
      }
      i += 1
    }
    val scale = if (java.lang.Double.compare(m, 0.0) > 0) 127.0 / m else 1.0
    // pass 2: quantize + integer checksums
    var norm2 = 0L
    var sum = 0L
    val out =
      if (!hasNull) {
        val q = new Array[Byte](n)
        i = 0
        while (i < n) {
          val v = math.floor(arr.getFloat(i).toDouble * scale + 0.5).toByte
          q(i) = v
          norm2 += v.toLong * v.toLong
          sum += v.toLong
          i += 1
        }
        UnsafeArrayData.fromPrimitiveArray(q)
      } else {
        // rare path: preserve per-element nulls like transform() would
        val q = new Array[Any](n)
        i = 0
        while (i < n) {
          if (!arr.isNullAt(i))
            q(i) = math.floor(arr.getFloat(i).toDouble * scale + 0.5).toByte
          i += 1
        }
        new GenericArrayData(q)
      }
    if (hasNull) InternalRow(out, scale, null, null)
    else InternalRow(out, scale, norm2, sum)
  }
}

/** Integer cosine between two `array<tinyint>` quantized vectors —
  * the [[graft.operators.Quantize.knnInt8]] hot path, evaluated per
  * (corpus row × broadcast query), where the
  * `aggregate(zip_with(...))` formulation pays the interpreted-lambda
  * tax per ELEMENT per PAIR.
  *
  * Numerics match the declarative form exactly: exact int64 dot and
  * norms (no float-order nondeterminism), one double division at the
  * end. Null when either input is null, lengths differ (zip_with
  * null-pad ⇒ null sum), any element is null, or either norm is zero
  * (Spark's non-ANSI divide-by-zero ⇒ null).
  */
object Int8Cosine {

  /** `double` cosine of two `array<tinyint>` columns (SQL `int8_cosine`). */
  def apply(a: Column, b: Column): Column =
    Kernel.call(this, DoubleType, Seq(
      Kernel.arg(a, ArrayType(ByteType)), Kernel.arg(b, ArrayType(ByteType))))

  /** Null-boxed Double result. */
  def compute(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0L
    var na = 0L
    var nb = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getByte(i).toLong
      val y = b.getByte(i).toLong
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0L || nb == 0L) null
    else java.lang.Double.valueOf(
      dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble)))
  }
}
