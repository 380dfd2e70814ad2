package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextFnsSpec extends SparkSpec {
  import spark.implicits._

  test("shingles: n-grams with short-doc edge cases") {
    val df = Seq("a b c d", "a b", "a").toDF("t")
    val got = df.select(TextFns.shingles($"t", 3)).as[Seq[String]]
      .collect().toSeq
    assert(got == Seq(Seq("a b c", "b c d"), Seq(), Seq()))
  }

  test("hash32 equals md5-prefix reference value") {
    // md5("a") = 0cc175b9c0f1b6a831c399e269772661 → 0x0cc175b9 = 214005177
    val got = Seq("a").toDF("s").select(TextFns.hash32($"s"))
      .as[Long].head()
    assert(got == 214005177L)
  }

  test("minhash: identical docs share signatures; sig estimates jaccard") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "completely different words here with nothing shared at all")
    ).toDF("id", "t")
    val sigs = df.select($"id",
      TextFns.minhash(array_distinct(TextFns.shingles($"t", 3)), 24)
        .as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
    assert(sigs(1L).size == 24)
  }

  test("lshBands: identical signatures collide in every band") {
    val df = Seq((1L, "x y z w v u"), (2L, "x y z w v u")).toDF("id", "t")
    val bands = df.select($"id", explode(TextFns.lshBands(
        TextFns.minhash(array_distinct(TextFns.shingles($"t", 2)), 24),
        24, 6)).as("b"))
    val collisions = bands.groupBy("b").count().filter($"count" === 2).count()
    assert(collisions == 6)
  }

  test("StopwordHits matches per-language hitCount on the corpus") {
    val lists = graft.operators.TextAnalysis.stopwords
    val corpus = graft.tables.Tables.documents(spark,
        "/root/testdata/sf0.001")
      .select($"doc_id", $"text")
      .union(Seq((9001L, "the der le el 的 the"), (9002L, ""))
        .toDF("doc_id", "text")) // multi-list words + repeats + empty
    val onePass = corpus.select($"doc_id",
        graft.expressions.StopwordHits(TextFns.toks($"text"),
          lists.map(_._2)).as("h"))
      .as[(Long, Seq[Long])].collect().toMap
    val declarative = corpus.select($"doc_id" +:
        lists.map { case (_, words) =>
          TextFns.hitCount(TextFns.toks($"text"), words).cast("long")
        }: _*)
      .collect().map(r => r.getLong(0) ->
        (1 to lists.size).map(r.getLong(_)).toSeq).toMap
    assert(declarative.nonEmpty)
    declarative.foreach { case (id, hits) =>
      assert(onePass(id) == hits, s"doc $id")
    }
  }

  test("simhash16: equal text → 0 hamming; disjoint text differs") {
    val df = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),
      (3L, "zeta eta theta iota kappa lambda")
    ).toDF("id", "t")
    val sigs = df.select($"id", TextFns.simhash16(TextFns.toks($"t")))
      .as[(Long, Long)].collect().toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(3L) != sigs(1L))
    assert(sigs.values.forall(s => s >= 0 && s < 65536))
    val ham = Seq((sigs(1L), sigs(3L))).toDF("a", "b")
      .select(TextFns.hamming($"a", $"b")).as[Long].head()
    assert(ham > 0 && ham <= 16)
  }
}
