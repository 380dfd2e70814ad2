package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

/** Cosine similarity over two `array<float|double>` columns (float or
  * double independently per side: centroid tables are double for
  * oracle bit-parity, corpus vectors are float). The declarative
  * formulation (`aggregate`/`zip_with` higher-order functions) has no
  * generated code in Spark, so every vector element crosses an
  * interpreted lambda boundary; this kernel is one static call of a
  * tight primitive loop inside the surrounding WholeStageCodegen stage.
  *
  * Numerics are kept BIT-IDENTICAL to the declarative version
  * (`cosineHof` in CosineSimilaritySpec) and the DuckDB oracle: each
  * float widens to double, dot and both norms accumulate sequentially
  * left-to-right, result = dot / (sqrt(na) * sqrt(nb)). Null if either side is null or
  * lengths differ (the zip_with null-pad behavior).
  */
object CosineSimilarity {

  /** `double` cosine of two vector columns (SQL `cosine_similarity`). */
  def apply(a: Column, b: Column): Column =
    Kernel.call(this, DoubleType, FloatArrays.args(a, b))

  def compute(x: ArrayData, xd: Boolean,
              y: ArrayData, yd: Boolean): java.lang.Double = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = FloatArrays.elem(x, i, xd)
      val yi = FloatArrays.elem(y, i, yd)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}

/** Dot product (same sequential-fold contract; SQL `dot_product`). */
object DotProduct {

  def apply(a: Column, b: Column): Column =
    Kernel.call(this, DoubleType, FloatArrays.args(a, b))

  def compute(x: ArrayData, xd: Boolean,
              y: ArrayData, yd: Boolean): java.lang.Double = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var i = 0
    while (i < n) {
      dot += FloatArrays.elem(x, i, xd) * FloatArrays.elem(y, i, yd)
      i += 1
    }
    dot
  }
}

/** Float-or-double vector arguments, each widened to double per read. */
private[expressions] object FloatArrays {

  val types = Seq(ArrayType(FloatType), ArrayType(DoubleType))

  /** A vector column plus its is-double flag. */
  def arg(v: Column): Seq[Kernel.Arg] =
    Seq(Kernel.arg(v, types: _*), Kernel.isDoubleArray(v))

  def args(a: Column, b: Column): Seq[Kernel.Arg] = arg(a) ++ arg(b)

  @inline def elem(d: ArrayData, i: Int, isDouble: Boolean): Double =
    if (isDouble) d.getDouble(i) else d.getFloat(i).toDouble
}
