package graft.operators

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Johnson–Lindenstrauss random projection for embedding compression
  * (Achlioptas 2003: ±1 sign matrices preserve pairwise distances).
  *
  * At 100 TB the embedding column IS the storage and scan cost: a
  * 64→16 projection cuts every downstream ANN scan, LSH bucket build
  * and cosine kernel 4× for a bounded distance distortion (σ ≈ √(2/k)
  * per pair). The projection itself is ONE narrow whole-stage-codegen
  * projection — no shuffle, no UDF, no matrix library: the sign matrix
  * is folded into the plan as literals.
  *
  * Determinism contract: signs come from md5("i:j") parity (computed
  * once at plan time — the same constants are embedded into the DuckDB
  * oracle text), the per-output sum is a left-associative IEEE double
  * chain in ascending input-dimension order (identical op order on
  * both engines ⇒ bit-identical doubles), and the 1/√k scale is
  * restricted to perfect-square `outDim` so it is an EXACT double
  * (k=16 → 0.25). Float32 inputs widen to double losslessly.
  */
object Projection {

  /** Deterministic ±1 sign for (input dim i, output dim j): parity of
    * the first hex nibble of md5("i:j").
    */
  def sign(i: Int, j: Int): Int = {
    val d = MessageDigest.getInstance("MD5")
      .digest(s"$i:$j".getBytes(StandardCharsets.UTF_8))
    if (((d(0) >> 4) & 1) == 0) 1 else -1
  }

  /** Exact double scale 1/√outDim; requires a perfect square. */
  def scaleOf(outDim: Int): Double = {
    val r = math.sqrt(outDim.toDouble)
    require(r == math.rint(r),
      s"outDim must be a perfect square for an exact 1/sqrt scale, got $outDim")
    1.0 / r
  }

  /** Project `vecCol` (array<float|double>, length `inDim`) down to
    * `outDim` dims. Output: input columns minus `vecCol`, plus
    * `projCol` array<double> of length `outDim`.
    *
    * Compiles to ONE kernel call
    * ([[graft.expressions.JlProject]]) rather than an
    * outDim·inDim-node literal chain — bit-identical numerics (same
    * sign constants, same left-to-right add order, same exact scale),
    * but constant plan size and one tight compiled loop nest.
    */
  def randomProject(df: DataFrame, vecCol: String, inDim: Int,
                    outDim: Int, projCol: String = "proj"): DataFrame = {
    val signs = Array.tabulate(outDim * inDim) { n =>
      sign(n % inDim, n / inDim).toByte
    }
    val projected = graft.expressions.JlProject(col(vecCol), inDim, outDim,
      scaleOf(outDim), signs)
    df.withColumn(projCol, projected).drop(vecCol)
  }

  /** DuckDB oracle expression for one projected output dim `j` over a
    * 1-indexed list column — the SAME sign constants and add order as
    * [[randomProject]], so the engines agree bit-for-bit.
    */
  def oracleDim(vecExpr: String, inDim: Int, outDim: Int, j: Int): String = {
    val chain = (0 until inDim).map { i =>
      val t = s"CAST($vecExpr[${i + 1}] AS DOUBLE)"
      if (i == 0) { if (sign(i, j) > 0) t else s"(- $t)" }
      else { if (sign(i, j) > 0) s"+ $t" else s"- $t" }
    }.mkString(" ")
    s"${scaleOf(outDim)} * ($chain)"
  }
}
