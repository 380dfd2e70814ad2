package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Embedding-vector column functions over `array<float>` columns.
  *
  * All folds are *sequential* (`aggregate` over the array, left-to-right)
  * in double precision, so results are bit-identical to the DuckDB
  * oracle's `list_sum(list_transform(...))` — and deterministic across
  * partitionings, which an unordered SUM over exploded elements would
  * not be. At 64-dim this also stays inside whole-stage codegen; no UDF,
  * no shuffle.
  */
object VectorFns {

  private def d(c: Column): Column = c.cast(DoubleType)

  /** Sequential-fold sum of a double array. */
  private def fsum(arr: Column): Column =
    aggregate(arr, lit(0.0), (acc, v) => acc + v)

  /** Dot product of two float vectors in double precision. */
  def dot(a: Column, b: Column): Column =
    fsum(zip_with(a, b, (x, y) => d(x) * d(y)))

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(fsum(transform(a, x => d(x) * d(x))))

  /** Cosine similarity. Declarative (HOF) formulation — kept as the
    * readable reference; [[cosineFast]] is the production path.
    */
  def cosineHof(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Cosine similarity via the generated-code kernel
    * [[graft.expressions.CosineSimilarity]] — bit-identical to
    * [[cosineHof]] (same sequential double folds), but compiled into
    * the surrounding WholeStageCodegen loop instead of crossing an
    * interpreted lambda per element.
    */
  def cosine(a: Column, b: Column): Column =
    graft.expressions.CosineSimilarity(a, b)

  /** Deterministic pseudo-random hyperplane component for plane `j`,
    * dimension `i` (0-based): integer LCG-style mix mapped into
    * [-0.5, 0.5). Reproducible in plain SQL on any engine.
    */
  def hyperplane(j: Int, i: Column): Column =
    (((lit(2654435761L) * j) + i * 40503L) % 1000003L)
      .cast(DoubleType) / 1000003.0 - 0.5

  /** Random-hyperplane LSH bucket id for a float vector: `planes` sign
    * bits packed into an int. Same bucket ⇔ ANN candidate. `seed`
    * selects an independent hash table (OR-amplification: check
    * candidates in ANY of several tables to recover recall lost to
    * AND-ing sign bits). Declarative reference; [[lshBucket]] is the
    * codegen'd production path.
    */
  def lshBucketHof(vec: Column, planes: Int, seed: Int = 0): Column =
    (0 until planes).map { j =>
      val dotJ = fsum(zip_with(vec,
        sequence(lit(0), size(vec) - 1),
        (x, i) => d(x) * hyperplane(seed * planes + j, i)))
      when(dotJ > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Codegen'd LSH bucket via [[graft.expressions.LshBucket]] —
    * bit-identical to [[lshBucketHof]].
    */
  def lshBucket(vec: Column, planes: Int, seed: Int = 0): Column =
    graft.expressions.LshBucket(vec, planes, seed)
}
