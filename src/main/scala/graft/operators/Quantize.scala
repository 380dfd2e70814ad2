package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Symmetric per-vector int8 quantization for embedding columns — the
  * standard memory/IO lever for vector search at corpus scale: a
  * 64-dim float32 embedding (256 B) becomes 64 int8s + one scale
  * (~72 B), a ~3.5× reduction in scan bytes and cache footprint, at a
  * bounded precision cost (|x − q/scale| ≤ 0.5/scale per component).
  *
  * Cosine over symmetric-quantized vectors needs NO dequantization:
  * the per-vector scales cancel in dot/(|a||b|), so [[knnInt8]] ranks
  * by integer-only arithmetic — exact int64 sums, one double division
  * at the end. That keeps the quantized path bit-deterministic (and
  * DuckDB-oracle-matchable) where float accumulation would not be.
  *
  * All transforms are pure-`Column` narrow passes; the only shuffle
  * anywhere is the top-k aggregation shared with [[Similarity]].
  */
object Quantize {

  /** Quantize `vecCol` (array<float>) to
    * (`qvec` array<tinyint>, `scale` double): q_i =
    * floor(x_i·scale + 0.5) (half-up, the same in every engine) with
    * scale = 127/max|x| — each component lands in [−127, 127].
    * All-zero vectors take scale 1 and quantize to zeros (cosine with
    * them is null in the float path and 0/0 → null here too).
    */
  def int8(embs: DataFrame, idCol: String, vecCol: String): DataFrame =
    int8Full(embs, idCol, vecCol).select(col(idCol), col("qvec"), col("scale"))

  /** [[int8]] plus the Σq²/Σq integer checksums, all from ONE codegen
    * pass over the vector ([[graft.expressions.Int8Quantize]] — the
    * declarative transform/aggregate chain runs interpreted lambdas per
    * element, which IS the job cost on a billion-vector corpus).
    * Emits (id, qvec, scale, q_norm2, q_sum).
    */
  def int8Full(embs: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val q = graft.expressions.Int8Quantize(col(vecCol))
    embs.select(col(idCol), q.as("__q"))
      .select(col(idCol), col("__q.qvec").as("qvec"),
        col("__q.scale").as("scale"), col("__q.q_norm2").as("q_norm2"),
        col("__q.q_sum").as("q_sum"))
  }

  /** Integer cosine between two int8 vectors: exact int64 dot and
    * norms (64 dims × 127² ≪ 2⁶³ — no overflow, no float-order
    * nondeterminism), one double division at the end. Null when either
    * norm is zero. Generated-code kernel ([[graft.expressions.Int8Cosine]])
    * — this runs per (corpus × query) pair in [[knnInt8]], where the
    * interpreted-lambda tax multiplies by the pair count.
    */
  def intCosine(qa: Column, qb: Column): Column =
    graft.expressions.Int8Cosine(qa, qb)

  /** Exact top-k under the QUANTIZED metric (the compressed-corpus
    * analogue of [[Similarity.bruteKnn]]): corpus and queries are
    * int8-quantized, every score is integer arithmetic, ranking ties
    * break by neighbor id. Output: (query_id, neighbor_id, rank, qcos).
    *
    * Same 100 TB shape as the float path — queries broadcast, corpus
    * never shuffles, map-side bounded-heap top-k — but the corpus scan
    * reads ~3.5× fewer bytes, which is the entire point at scale. A
    * production pipeline quantizes ONCE into a stored int8 column;
    * taking float input here keeps the operator self-contained.
    */
  def knnInt8(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = int8(queries, idCol, vecCol)
      .select(col(idCol).as("query_id"), col("qvec").as("qq"))
    val c = int8(
      corpus.repartition(corpus.sparkSession.sparkContext.defaultParallelism),
      idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("qvec").as("qc"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", intCosine(col("qq"), col("qc")))
    Similarity.topK(scored, k).withColumnRenamed("cosine", "qcos")
  }
}
