package graft.operators

import graft.SparkSpec
import graft.functions.VectorFns
import graft.tables.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DoubleType, LongType}
import org.apache.spark.sql.{Column, DataFrame}

/** Quantize.int8/knnInt8: reconstruction error bound, degenerate
  * vectors, and ranking fidelity vs the exact float path on real
  * fixture embeddings.
  */
class QuantizeSpec extends SparkSpec {
  import spark.implicits._

  /** The declarative mirror of [[Quantize.int8]] — the parity witness
    * the codegen expression is checked against: scale = 127/max|x|
    * (1 for an all-zero or empty vector), q = floor(x·scale + 0.5).
    */
  private def int8Declarative(embs: DataFrame, idCol: String,
                              vecCol: String): DataFrame = {
    val m = coalesce(array_max(transform(col(vecCol),
      x => abs(x.cast(DoubleType)))), lit(0d))
    val scale = when(m > 0d, lit(127d) / m).otherwise(lit(1d))
    embs.select(col(idCol),
      transform(col(vecCol), x =>
        floor(x.cast(DoubleType) * scale + 0.5d).cast(ByteType)).as("qvec"),
      scale.as("scale"))
  }

  /** Declarative mirror of [[Quantize.intCosine]] (parity witness). */
  private def intCosineDeclarative(qa: Column, qb: Column): Column = {
    def dot(x: Column, y: Column) =
      aggregate(zip_with(x, y, (a, b) => a.cast(LongType) * b.cast(LongType)),
        lit(0L), (acc, p) => acc + p)
    dot(qa, qb).cast(DoubleType) /
      (sqrt(dot(qa, qa).cast(DoubleType)) *
        sqrt(dot(qb, qb).cast(DoubleType)))
  }

  test("int8 reconstruction error is bounded by 0.5/scale per component") {
    val e = Tables.embeddings(spark, sf0001)
    val joined = Quantize.int8(e, "vec_id", "embedding")
      .join(e, "vec_id")
    val bad = joined.select(
        zip_with(col("embedding"), col("qvec"), (x, q) =>
          abs(x.cast("double") - q.cast("double") / col("scale")) >
            lit(0.5) / col("scale") + lit(1e-12)).as("viol"))
      .filter(exists(col("viol"), v => v)).count()
    assert(bad == 0)
    // and every component is inside the int8 envelope
    val overflow = joined.filter(exists(col("qvec"),
      q => abs(q.cast("int")) > 127)).count()
    assert(overflow == 0)
  }

  test("all-zero and empty vectors quantize to zeros with scale 1") {
    val df = Seq(
      (1L, Seq(0f, 0f, 0f)), (2L, Seq.empty[Float]))
      .toDF("vec_id", "embedding")
    val got = Quantize.int8(df, "vec_id", "embedding")
      .orderBy("vec_id")
      .select(col("qvec").cast("array<int>"), col("scale"))
      .as[(Seq[Int], Double)].collect()
    assert(got(0) == ((Seq(0, 0, 0), 1.0)))
    assert(got(1) == ((Seq.empty[Int], 1.0)))
  }

  test("quantized ranking tracks exact cosine ranking (recall@5 high)") {
    val e = Tables.embeddings(spark, sf0001)
    val queries = e.filter(col("vec_id") < 20)
    val exact = Similarity.bruteKnn(e, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val quant = Quantize.knnInt8(e, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val recall = (exact & quant).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall@5 = $recall")
  }

  test("quantized cosine approximates float cosine closely") {
    val e = Tables.embeddings(spark, sf0001).limit(50)
    val q8 = Quantize.int8(e, "vec_id", "embedding")
    val pairs = e.as("a").join(e.as("b"),
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"),
        VectorFns.cosine(col("a.embedding"), col("b.embedding")).as("fc"))
    val qpairs = q8.as("a").join(q8.as("b"),
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"),
        Quantize.intCosine(col("a.qvec"), col("b.qvec")).as("qc"))
    val maxErr = pairs.join(qpairs, Seq("ia", "ib"))
      .agg(max(abs(col("fc") - col("qc")))).head().getDouble(0)
    assert(maxErr < 0.02, s"max |float-int8| cosine error = $maxErr")
  }

  // ---- codegen ↔ declarative parity (the Int8Quantize/Int8Cosine
  // expressions must be bit-identical to the HOF chains they replace)

  test("Int8Quantize matches the declarative transform chain exactly") {
    val e = Tables.embeddings(spark, sf0001)
      // adversarial rows: empty, all-zero, single element, negatives
      .select(col("vec_id"), col("embedding"))
      .unionByName(Seq(
        (100001L, Seq.empty[Float]),
        (100002L, Seq(0f, 0f)),
        (100003L, Seq(-1.5f)),
        (100004L, Seq(0.1f, -127.3f, 64.2f))).toDF("vec_id", "embedding"))
    val fast = Quantize.int8(e, "vec_id", "embedding")
    val slow = int8Declarative(e, "vec_id", "embedding")
    val diff = fast.as("f").join(slow.as("s"), "vec_id")
      .filter(!(col("f.qvec") === col("s.qvec")) ||
        !(col("f.scale") === col("s.scale")))
      .count()
    assert(diff == 0)
    // checksum fields agree with declarative aggregates over qvec
    val bad = Quantize.int8Full(e, "vec_id", "embedding")
      .filter(
        !(col("q_norm2") === aggregate(col("qvec"), lit(0L),
          (a, x) => a + x.cast("long") * x.cast("long"))) ||
        !(col("q_sum") === aggregate(col("qvec"), lit(0L),
          (a, x) => a + x.cast("long"))))
      .count()
    assert(bad == 0)
  }

  test("Int8Cosine matches the declarative aggregate/zip_with form") {
    val q8 = Quantize.int8(Tables.embeddings(spark, sf0001).limit(40),
      "vec_id", "embedding")
    val pairs = q8.as("a").join(q8.as("b"),
        col("a.vec_id") < col("b.vec_id"))
      .select(
        Quantize.intCosine(col("a.qvec"), col("b.qvec")).as("fast"),
        intCosineDeclarative(col("a.qvec"), col("b.qvec"))
          .as("slow"))
    val n = pairs.count()
    assert(n > 0)
    // exact equality — both are int64 sums + one double division
    assert(pairs.filter(!(col("fast") === col("slow"))).count() == 0)
    // null contract: zero vector → null both ways; length mismatch → null
    val z = Seq((Seq(0.toByte, 0.toByte), Seq(1.toByte, 2.toByte)),
      (Seq(1.toByte), Seq(1.toByte, 2.toByte))).toDF("x", "y")
    val got = z.select(Quantize.intCosine(col("x"), col("y"))).collect()
    assert(got.forall(_.isNullAt(0)))
  }
}
