package graft.functions

import org.apache.spark.sql.Column

/** Embedding-vector column functions over `array<float>` columns.
  *
  * Both are generated-code kernels whose folds are *sequential*
  * (left-to-right) in double precision, so results are bit-identical to
  * the DuckDB oracle's `list_sum(list_transform(...))` — and
  * deterministic across partitionings, which an unordered SUM over
  * exploded elements would not be. No UDF, no shuffle. The declarative
  * higher-order-function forms they replace are kept as parity
  * references in `CosineSimilaritySpec`.
  */
object VectorFns {

  /** Cosine similarity via the generated-code kernel
    * [[graft.expressions.CosineSimilarity]] — bit-identical to the
    * sequential double folds of the declarative form, but compiled into
    * the surrounding WholeStageCodegen loop instead of crossing an
    * interpreted lambda per element.
    */
  def cosine(a: Column, b: Column): Column =
    graft.expressions.CosineSimilarity(a, b)

  /** Random-hyperplane LSH bucket id for a float vector: `planes` sign
    * bits packed into a long. Same bucket ⇔ ANN candidate. `seed`
    * selects an independent hash table (OR-amplification: check
    * candidates in ANY of several tables to recover recall lost to
    * AND-ing sign bits). Codegen'd via [[graft.expressions.LshBucket]].
    */
  def lshBucket(vec: Column, planes: Int, seed: Int = 0): Column =
    graft.expressions.LshBucket(vec, planes, seed)
}
