package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

class TextFnsSpec extends SparkSpec {
  import spark.implicits._

  private val P = 2147483647L // 2^31-1, Mersenne prime

  /** Declarative k-wide MinHash over an array of shingle strings: for
    * each j, min over shingles of `(2j+1)·hash32 + 40503·(j+1) mod P`
    * (the permutations of [[graft.expressions.MinHashSig]]). NULL-safe
    * on empty arrays (signature element = P).
    */
  private def minhash(shingleArr: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)), j =>
      coalesce(
        array_min(transform(shingleArr, s => (
          (j * 2 + 1) * TextFns.hash32(s) + (j + 1) * 40503L) % P)),
        lit(P)))

  /** Declarative count of the tokens found in `words` — the reference
    * for [[graft.expressions.StopwordHits]].
    */
  private def hitCount(tokArr: Column, words: Seq[String]): Column =
    size(filter(tokArr, t => t.isin(words.map(lit): _*)))

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
      minhash(array_distinct(TextFns.shingles($"t", 3)), 24)
        .as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
    assert(sigs(1L).size == 24)
    // the declarative form is the reference the MinHashSig kernel matches
    val kernel = df.select($"id",
        graft.expressions.MinHashSig(TextFns.toks($"t"), 24, 3).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(kernel == sigs)
  }

  test("lshBands: identical signatures collide in every band") {
    val df = Seq((1L, "x y z w v u"), (2L, "x y z w v u")).toDF("id", "t")
    val bands = df.select($"id", explode(TextFns.lshBands(
        minhash(array_distinct(TextFns.shingles($"t", 2)), 24),
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
          hitCount(TextFns.toks($"text"), words).cast("long")
        }: _*)
      .collect().map(r => r.getLong(0) ->
        (1 to lists.size).map(r.getLong(_)).toSeq).toMap
    assert(declarative.nonEmpty)
    declarative.foreach { case (id, hits) =>
      assert(onePass(id) == hits, s"doc $id")
    }
  }
}
