package graft.expressions

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Interpreted ⇄ generated parity for every scalar kernel: each one
  * runs over its edge-row frame once with no code generation at all
  * (`factoryMode=NO_CODEGEN`, whole-stage off — Catalyst evaluates the
  * kernel call by reflection) and once with generated code only
  * (`CODEGEN_ONLY`, whole-stage on), and the two runs must give the
  * same rows, doubles compared bit for bit. Frames come from an RDD,
  * not a local relation, so the optimizer cannot fold the kernel calls
  * into a local relation at planning time instead.
  */
class KernelParitySpec extends SparkSpec {

  private val arrStr = ArrayType(StringType)

  private def frame(schema: StructType, rows: Row*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  private def schema(cols: (String, DataType)*): StructType =
    StructType(StructField("id", IntegerType) +:
      cols.map { case (n, t) => StructField(n, t) })

  // null array, empty array, null element, fewer tokens than n
  // (n = 2 or 3 below), duplicates, non-ASCII
  private def toks: DataFrame = frame(schema("t" -> arrStr),
    Row(1, null), Row(2, Seq()), Row(3, Seq("a", null, "b")),
    Row(4, Seq("a")), Row(5, Seq("a", "b")),
    Row(6, Seq("x", "y", "z", "x", "y", "z")),
    Row(7, Seq("the", "der", "le", "é", "的", "the")))

  // null string, empty, fewer characters than n = 3, a surrogate
  // pair, a decomposed accent
  private def texts: DataFrame = frame(schema("s" -> StringType),
    Row(1, null), Row(2, ""), Row(3, "ab"), Row(4, "abcdefgh"),
    Row(5, "aaaaaaa"), Row(6, "a😀bćd"),
    Row(7, "étude étude"))

  private val floats = Seq[Seq[java.lang.Float]](null, Seq(),
    Seq(1f, null, 2f), Seq(1f, 2f, 3f, 4f), Seq(0f, 0f, 0f, 0f),
    Seq(1f, Float.NaN, 2f, 3f), Seq(-0.5f, 0.25f, 1e-3f, 7f),
    Seq(1f, 2f))

  /** Vector pairs: every float/double combination on each side, with
    * null, empty and null-element vectors, mismatched lengths, zero
    * vectors (0/0 = NaN) and NaN elements; `sub` for NearestCells.
    */
  private def vecs: DataFrame = {
    def dbl(v: Seq[java.lang.Float]): Seq[java.lang.Double] =
      if (v == null) null
      else v.map(x => if (x == null) null else java.lang.Double.valueOf(x.toDouble))
    val rows = for ((a, i) <- floats.zipWithIndex;
                    (b, j) <- floats.zipWithIndex)
      yield Row(i * floats.size + j, a, dbl(a), b, dbl(b),
        if (j == 0) null else Integer.valueOf(j % 2))
    frame(schema("f" -> ArrayType(FloatType), "d" -> ArrayType(DoubleType),
      "f2" -> ArrayType(FloatType), "d2" -> ArrayType(DoubleType),
      "sub" -> IntegerType), rows: _*)
  }

  private def sigs: DataFrame = frame(
    schema("a" -> ArrayType(LongType), "b" -> ArrayType(LongType)),
    Row(1, null, Seq(1L)), Row(2, Seq(), Seq()),
    Row(3, Seq(1L, null, 3L), Seq(1L, null, 3L)),
    Row(4, Seq(1L, 2L, 3L), Seq(1L, 9L)), Row(5, Seq(7L), Seq(8L)))

  private def bytes: DataFrame = {
    def b(xs: Any*): Seq[java.lang.Byte] = xs.map {
      case null => null
      case x: Int => java.lang.Byte.valueOf(x.toByte)
    }
    frame(schema("a" -> ArrayType(ByteType), "b" -> ArrayType(ByteType)),
      Row(1, null, b(1)), Row(2, b(), b()), Row(3, b(1, null), b(1, 2)),
      Row(4, b(1, 2, 3), b(1, 2)), Row(5, b(0, 0), b(1, 2)),
      Row(6, b(127, -127, 5), b(-3, 64, 0)))
  }

  private val cents: Seq[Seq[(Long, IndexedSeq[Double])]] = Seq(
    Seq(3L -> IndexedSeq(1.0, 0.0, 0.0, 0.0),
      5L -> IndexedSeq(1.0, 0.0, 0.0, 0.0), // exact tie with cell 3
      7L -> IndexedSeq(0.0, 1.0, 0.5, -2.0),
      9L -> IndexedSeq(0.6, 0.8)),           // mismatched length
    Seq(1L -> IndexedSeq(0.5, 0.5, 0.5, 0.5),
      2L -> IndexedSeq(-1.0, 2.0, 0.0, 1.0)))

  private val signs: Array[Byte] = Array.tabulate(16)(i =>
    if ((i * 7 + 3) % 5 < 2) -1.toByte else 1.toByte)

  private val cases: Seq[(String, () => DataFrame, Seq[Column])] = Seq(
    ("simhash64", () => toks, Seq(SimHash64(col("t")))),
    ("simhash_md5", () => toks,
      Seq(SimHashMd5(col("t"), 16), SimHashMd5(col("t"), 64))),
    ("word_shingles", () => toks, Seq(WordShingles(col("t"), 3))),
    ("word_grams", () => toks, Seq(WordGrams(col("t"), 2))),
    ("char_grams", () => texts, Seq(CharGrams(col("s"), 3))),
    ("minhash_sig", () => toks, Seq(MinHashSig(col("t"), 4, 2))),
    ("sig_agree_count", () => sigs, Seq(SigAgreeCount(col("a"), col("b")))),
    ("nfc_normalize", () => texts, Seq(NfcNormalize(col("s")))),
    ("int8_quantize", () => vecs.filter(col("id") % floats.size === 0),
      Seq(Int8Quantize(col("f")))),
    ("int8_cosine", () => bytes, Seq(Int8Cosine(col("a"), col("b")))),
    ("winnow_fingerprints", () => texts,
      Seq(WinnowFingerprints(col("s"), 3, 2))),
    ("cosine_similarity", () => vecs,
      for (a <- Seq("f", "d"); b <- Seq("f2", "d2"))
        yield CosineSimilarity(col(a), col(b))),
    ("dot_product", () => vecs,
      for (a <- Seq("f", "d"); b <- Seq("f2", "d2"))
        yield DotProduct(col(a), col(b))),
    ("lsh_bucket", () => vecs.filter(col("id") % floats.size === 0),
      Seq(LshBucket(col("f"), 6, 1), LshBucket(col("f"), 3, 0))),
    ("jl_project", () => vecs.filter(col("id") % floats.size === 0),
      Seq(JlProject(col("f"), 4, 4, 0.5, signs),
        JlProject(col("d"), 4, 4, 0.5, signs))),
    ("stopword_hits", () => toks, Seq(StopwordHits(col("t"),
      Seq(Seq("the", "a"), Seq("a", "der", "的"), Seq("zzz"))))),
    ("bpe_counts", () => toks.union(frame(schema("t" -> arrStr),
        Row(8, Seq("abab", "abc", "aaaa", "ca\u0301", "a😀b\u001f")))),
      Seq(BpeCounts(col("t"), Seq("a", "ab", "a", "c"),
        Seq("b", "ab", "a", "\u0301")))),
    ("nearest_cells", () => vecs,
      for (v <- Seq("f", "d"); bySq <- Seq(false, true))
        yield NearestCells.bySub(col("sub"), col(v), cents, 2, bySq)))

  private val modes = Seq(
    "interpreted" -> Map("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false"),
    "generated" -> Map("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.wholeStage" -> "true"))

  private def withConf[T](conf: Map[String, String])(body: => T): T = {
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally conf.keys.foreach(spark.conf.unset)
  }

  /** Rows by id, doubles and floats as raw bits so NaN and -0.0 count. */
  private def canon(v: Any): Any = v match {
    case d: Double => ("d", java.lang.Double.doubleToRawLongBits(d))
    case f: Float => ("f", java.lang.Float.floatToRawIntBits(f))
    case s: scala.collection.Seq[_] => s.map(canon).toList
    case r: Row => r.toSeq.map(canon).toList
    case other => other
  }

  /** The rows, or the root-cause class of the failure. */
  private def run(df: DataFrame): Either[String, Seq[Any]] =
    try Right(df.collect().map(canon).toSeq.sortBy(_.toString))
    catch {
      case e: Exception =>
        var c: Throwable = e
        while (c.getCause != null) c = c.getCause
        Left(c.getClass.getName)
    }

  for ((name, input, cols) <- cases) {
    test(s"interpreted == generated: $name") {
      val results = modes.map { case (mode, conf) =>
        withConf(conf) {
          val df = input().select(col("id") +: cols: _*)
          if (mode == "generated") {
            val plan = df.queryExecution.executedPlan
            assert(plan.exists {
              case w: WholeStageCodegenExec =>
                w.child.exists(_.isInstanceOf[ProjectExec])
              case _ => false
            }, s"$name did not compile into a whole-stage stage:\n$plan")
          }
          mode -> run(df)
        }
      }
      val (_, interpreted) = results.head
      val (_, generated) = results(1)
      assert(interpreted.isRight, s"$name failed interpreted: $interpreted")
      assert(interpreted.toOption.get.nonEmpty)
      assert(generated == interpreted)
    }
  }

  test("interpreted == generated: nearest_cells sub out of range") {
    val bad = vecs.filter(col("id") === floats.size + 3)
      .select(NearestCells.bySub(col("sub") + 5, col("f"), cents, 2, false))
    val failures = modes.map { case (_, conf) => withConf(conf)(run(bad)) }
    assert(failures.head == Left(classOf[IllegalArgumentException].getName))
    assert(failures(1) == failures.head)
  }
}
