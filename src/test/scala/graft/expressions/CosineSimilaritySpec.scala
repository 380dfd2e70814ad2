package graft.expressions

import graft.SparkSpec
import graft.functions.VectorFns
import graft.tables.Tables
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

class CosineSimilaritySpec extends SparkSpec {
  import spark.implicits._

  // Declarative (higher-order-function) references for the kernels:
  // sequential double folds, the form the DuckDB oracle mirrors.
  private def d(c: Column): Column = c.cast(DoubleType)

  private def fsum(arr: Column): Column =
    aggregate(arr, lit(0.0), (acc, v) => acc + v)

  private def cosineHof(a: Column, b: Column): Column = {
    def norm(v: Column) = sqrt(fsum(transform(v, x => d(x) * d(x))))
    fsum(zip_with(a, b, (x, y) => d(x) * d(y))) / (norm(a) * norm(b))
  }

  /** Hyperplane component for plane `j`, dimension `i`: an integer
    * LCG-style mix mapped into [-0.5, 0.5).
    */
  private def hyperplane(j: Int, i: Column): Column =
    (((lit(2654435761L) * j) + i * 40503L) % 1000003L)
      .cast(DoubleType) / 1000003.0 - 0.5

  private def lshBucketHof(vec: Column, planes: Int, seed: Int): Column =
    (0 until planes).map { j =>
      val dotJ = fsum(zip_with(vec,
        sequence(lit(0), size(vec) - 1),
        (x, i) => d(x) * hyperplane(seed * planes + j, i)))
      when(dotJ > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  test("codegen cosine is BIT-identical to the HOF fold on real embeddings") {
    val e = Tables.embeddings(spark, sf0001).limit(100)
    val both = e.as("a").crossJoin(e.as("b"))
      .select(
        VectorFns.cosine($"a.embedding", $"b.embedding").as("fast"),
        cosineHof($"a.embedding", $"b.embedding").as("hof"))
    val diff = both.filter(
      !($"fast" === $"hof" || ($"fast".isNull && $"hof".isNull))).count()
    assert(diff == 0)
  }

  test("codegen cosine accepts double arrays per side, bit-equal to HOF") {
    val e = Tables.embeddings(spark, sf0001).limit(50)
      .withColumn("embd", col("embedding").cast("array<double>"))
    // float×double (the kmeans centroid shape) and double×double
    Seq(($"a.embedding", $"b.embd"), ($"a.embd", $"b.embd")).foreach {
      case (l, r) =>
        val diff = e.as("a").crossJoin(e.as("b"))
          .select(VectorFns.cosine(l, r).as("fast"),
            cosineHof(l, r).as("hof"))
          .filter(!($"fast" === $"hof")).count()
        assert(diff == 0)
    }
  }

  test("codegen lshBucket is identical to the HOF fold across seeds") {
    val e = Tables.embeddings(spark, sf0001)
    (0 until 4).foreach { seed =>
      val diff = e.select(
        VectorFns.lshBucket($"embedding", 6, seed).as("fast"),
        lshBucketHof($"embedding", 6, seed).as("hof"))
        .filter($"fast" =!= $"hof").count()
      assert(diff == 0, s"seed=$seed")
    }
  }

  test("null and length-mismatch semantics match zip_with null-pad") {
    val df = Seq(
      (Some(Seq(1.0f, 2.0f)), Some(Seq(1.0f, 2.0f))),
      (Some(Seq(1.0f, 2.0f)), Some(Seq(1.0f))),     // length mismatch
      (None, Some(Seq(1.0f, 2.0f))))                // null side
      .toDF("a", "b")
    val got = df.select(VectorFns.cosine($"a", $"b")).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(got(0).exists(v => math.abs(v - 1.0) < 1e-15))
    assert(got(1).isEmpty && got(2).isEmpty)
  }

  test("SQL registration through GraftExtensions") {
    // extensions apply at session BUILD time — getOrCreate must not find
    // an existing session, so clear active+default (the SparkContext is
    // reused) and restore afterwards
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    val withExt = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions).getOrCreate()
    try {
      val r = withExt.sql(
        "SELECT cosine_similarity(array(CAST(1 AS FLOAT), CAST(0 AS FLOAT))," +
          " array(CAST(1 AS FLOAT), CAST(0 AS FLOAT))) AS c," +
          " dot_product(array(CAST(2 AS FLOAT)), array(CAST(3 AS FLOAT))) AS d")
        .collect().head
      assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 6.0)
      val tk = withExt.sql(
        "SELECT top_k_by_score(s, i, 2) AS t FROM VALUES" +
          " (1.0D, 10L), (3.0D, 30L), (2.0D, 20L) AS v(s, i)")
        .selectExpr("t[0].id", "t[1].id").collect().head
      assert(tk.getLong(0) == 30L && tk.getLong(1) == 20L)
      val tks = withExt.sql(
        "SELECT top_k_by_score_str(s, i, 2) AS t FROM VALUES" +
          " (1.0D, 'x'), (3.0D, 'y'), (2.0D, 'z') AS v(s, i)")
        .selectExpr("t[0].id", "t[1].id").collect().head
      assert(tks.getString(0) == "y" && tks.getString(1) == "z")
      // signature/shingle expressions: deterministic, sane outputs
      val sh = withExt.sql(
        "SELECT simhash64(array('a', 'b')) AS s," +
          " minhash_sig(array('a', 'b'), 4, 1) AS m," +
          " simhash_md5(array('a', 'b'), 16) AS s16," +
          " word_shingles(array('a', 'b', 'c'), 2) AS ws")
        .collect().head
      assert(sh.getLong(0) != 0L)
      val mh = sh.getSeq[Long](1)
      assert(mh.length == 4 && mh.forall(v => v >= 0 && v < 2147483647L))
      assert(sh.getLong(2) >= 0L && sh.getLong(2) < (1L << 16))
      assert(sh.getSeq[String](3) == Seq("a b", "b c"))
      // z-order interleave: bit 0 of a → position 0, bit 0 of b → 1
      val zv = withExt.sql(
        "SELECT z_value(1L, 1L, 4) AS z1, z_value(3L, 0L, 4) AS z2")
        .collect().head
      assert(zv.getLong(0) == 3L) // ...0011
      assert(zv.getLong(1) == 5L) // a bits at even positions: 101
      // misuse fails analysis with the expected signature, not an
      // IndexOutOfBounds/NumberFormat from inside the builder
      def analysisError(q: String): String =
        intercept[org.apache.spark.sql.AnalysisException] {
          withExt.sql(q).collect()
        }.getMessage
      assert(analysisError("SELECT simhash_md5(array('a'))")
        .contains("simhash_md5"))                       // wrong arity
      assert(analysisError("SELECT word_shingles(array('a'), 2.5)")
        .contains("INT"))                               // non-int literal
      assert(analysisError(
        "SELECT minhash_sig(array('a'), cast(rand()*4 AS INT), 1)")
        .contains("foldable"))                          // non-literal k
      // a wrong argument type fails analysis too — never an implicit
      // cast (array(1.0) is array<decimal>, which could be cast to
      // array<tinyint>) and never a runtime ClassCastException
      Seq("cosine_similarity('a', 'b')",
        "dot_product(array('a'), array(CAST(1 AS FLOAT)))",
        "simhash64(1)",
        "simhash_md5(array(1), 16)",
        "word_shingles('a b c', 2)",
        "minhash_sig(array(1L), 4, 1)",
        "nfc_normalize(array('a'))",
        "int8_quantize(array(1.0D))",
        "int8_cosine(array(1.0), array(1.0))",
        "z_value(array(1), 1L, 4)",
        "top_k_by_score(1.0D, 1.0D, 2)").foreach { call =>
        withClue(call)(analysisError(s"SELECT $call"))
      }
    } finally {
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
      org.apache.spark.sql.SparkSession.setDefaultSession(spark)
    }
  }
}
