package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Johnson–Lindenstrauss projection: one narrow kernel call computing
  * all `outDim` outputs of the ±1 sign-matrix projection in a single
  * loop nest.
  *
  * This replaces the literal-folded formulation
  * (`array(sum-chain-of-±element_at, ...)`) whose tree was
  * outDim · inDim ≈ 4000 Catalyst nodes — analysis, optimization and
  * Janino compilation of that tree dominated small-batch latency, and
  * its generated code exceeded method-split thresholds. Here the plan
  * carries ONE call; the sign matrix rides along as a binary literal.
  *
  * Numerics are BIT-IDENTICAL to the chain it replaces (and to the
  * DuckDB oracle text built by `Projection.oracleDim`): per output dim
  * the signed terms accumulate left-to-right in ascending input-dim
  * order starting FROM the first term (not from 0.0, so a -0.0-only
  * row cannot flip sign bits), then one multiply by the exact
  * 1/√outDim scale. Inputs widen losslessly from float.
  *
  * Null contract: null input → null; an input shorter than `inDim` →
  * null (the element_at-beyond-length behavior of the old chain); a
  * null ELEMENT among the first `inDim` → null (the chain's null
  * propagation — never an undefined garbage read).
  */
object JlProject {

  /** `array<double>` projection of an `array<float|double>` column;
    * `signs(j * inDim + i)` is the sign of input dim i in output dim j.
    */
  def apply(vec: Column, inDim: Int, outDim: Int, scale: Double,
            signs: Array[Byte]): Column = {
    require(signs.length == inDim * outDim,
      s"sign matrix must be inDim*outDim = ${inDim * outDim}, got ${signs.length}")
    Kernel.call(this, ArrayType(DoubleType, containsNull = false),
      FloatArrays.arg(vec) ++ Seq(Kernel.param(inDim), Kernel.param(outDim),
        Kernel.param(scale), Kernel.param(signs)))
  }

  def compute(a: ArrayData, isDouble: Boolean, inDim: Int, outDim: Int,
              scale: Double, signs: Array[Byte]): ArrayData = {
    if (a.numElements() < inDim) return null
    val x = new Array[Double](inDim)
    var i = 0
    while (i < inDim) {
      if (a.isNullAt(i)) return null
      x(i) = FloatArrays.elem(a, i, isDouble)
      i += 1
    }
    val out = new Array[Double](outDim)
    var j = 0
    while (j < outDim) {
      val off = j * inDim
      var s = if (signs(off) > 0) x(0) else -x(0)
      i = 1
      while (i < inDim) {
        s += (if (signs(off + i) > 0) x(i) else -x(i))
        i += 1
      }
      out(j) = scale * s
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}
