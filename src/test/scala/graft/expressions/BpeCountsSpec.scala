package graft.expressions

import graft.SparkSpec
import graft.functions.TextFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Pin of the fused [[BpeCounts]] kernel against the per-merge
  * `replace`-chain formulation it replaced in `Corpus.bpeEncode` (r15)
  * — the chain is rebuilt verbatim here and both forms must agree on
  * engineered edge inputs: cascading merges (a+b, then ab+c), repeated
  * overlapping pairs ("aaaa" under a+a — leftmost-non-overlapping),
  * merges whose output feeds a LATER merge but never the same pass,
  * multi-word boundaries, unicode (CJK + supplementary code points),
  * empty/whitespace-only/null text, and a word that collapses to one
  * symbol (further merges no-op).
  */
class BpeCountsSpec extends SparkSpec {
  import spark.implicits._

  /** The replaced formulation, verbatim from the r14 bpeEncode. */
  private def chainCounts(textCol: Column,
                          merges: Seq[(String, String)]): Column = {
    val US = "\u001f"
    val wrapped = regexp_replace(
      array_join(TextFns.toks(textCol), " "),
      "(\\S)", s"$US$$1$US")
    val encoded = merges.foldLeft(wrapped) { case (c, (l, r)) =>
      replace(c, lit(s"$US$l$US$US$r$US"), lit(s"$US$l$r$US"))
    }
    def nSyms(c: Column): Column =
      ((length(c) - length(replace(c, lit(US), lit("")))) / 2)
        .cast(LongType)
    struct(nSyms(wrapped).as("n_sym"), nSyms(encoded).as("n_bpe"))
  }

  private def kernelCounts(textCol: Column,
                           merges: Seq[(String, String)]): Column =
    BpeCounts(TextFns.toks(textCol), merges.map(_._1), merges.map(_._2))

  private def docs: DataFrame = Seq(
    (1L, "abab abc"),            // cascade: a+b=ab, ab+ab? etc.
    (2L, "aaaa aaa aa a"),       // overlapping same-symbol pairs
    (3L, "the cat sat on the mat"),
    (4L, "  leading and  trailing  "),
    (5L, ""),                    // empty
    (6L, "   "),                 // whitespace only
    (7L, "héllo wörld 你好 𝔘𝔫𝔦"),  // unicode incl. supplementary
    (8L, "ab"),                  // collapses to one symbol
    (9L, "ABAB AbC")             // toks lower-cases first
  ).toDF("id", "text")

  private val mergeSets: Seq[(String, Seq[(String, String)])] = Seq(
    "identity (no merges)" -> Seq.empty,
    "single" -> Seq("a" -> "b"),
    "same-symbol" -> Seq("a" -> "a", "aa" -> "aa"),
    "cascade" -> Seq("a" -> "b", "ab" -> "a", "aba" -> "b",
      "t" -> "h", "th" -> "e"),
    "unicode" -> Seq("你" -> "好", "h" -> "é", "w" -> "ö"),
    "late-dependency" -> Seq("c" -> "a", "a" -> "t", "ca" -> "t",
      "s" -> "at", "m" -> "at"))

  for ((name, ms) <- mergeSets) {
    test(s"BpeCounts == replace chain: $name") {
      val both = docs.select(col("id"),
        kernelCounts(col("text"), ms).as("k"),
        chainCounts(col("text"), ms).as("c"))
      val rows = both.collect()
      rows.foreach { r =>
        assert(r.getStruct(1) === r.getStruct(2),
          s"id=${r.getLong(0)} under $name: kernel=${r.getStruct(1)} " +
            s"chain=${r.getStruct(2)}")
      }
      assert(rows.length === 9)
    }
  }

  test("null text yields null COUNT FIELDS in both forms (the kernel " +
      "nulls the struct, the chain nulls each field — the extracted " +
      "n_sym/n_bpe columns bpeEncode emits are null either way)") {
    val d = Seq((1L, Option.empty[String]), (2L, Some("ok"))).toDF("id", "text")
    val ms = Seq("o" -> "k")
    val rows = d.select(col("id"),
        kernelCounts(col("text"), ms).getField("n_sym").as("ks"),
        kernelCounts(col("text"), ms).getField("n_bpe").as("kb"),
        chainCounts(col("text"), ms).getField("n_sym").as("cs"),
        chainCounts(col("text"), ms).getField("n_bpe").as("cb"))
      .orderBy(col("id")).collect()
    assert((1 to 4).forall(rows(0).isNullAt))
    assert(rows(1).getLong(1) === rows(1).getLong(3)) // n_sym agrees
    assert(rows(1).getLong(2) === rows(1).getLong(4)) // n_bpe agrees
    assert(rows(1).getLong(2) === 1L) // "ok" merges to one symbol
  }

  test("a literal U+001F is one ordinary symbol to the kernel (the " +
      "known divergence from the chain, whose separator it is)") {
    val US = "\u001f"
    val d = Seq((1L, s"a$US${US}b")).toDF("id", "text")
    def counts(ms: Seq[(String, String)]): (Long, Long) = {
      val r = d.select(kernelCounts(col("text"), ms).as("k"))
        .head().getStruct(0)
      (r.getLong(0), r.getLong(1))
    }
    assert(counts(Seq.empty) === ((4L, 4L)))
    // merges may name it, and it blocks a fuse of its neighbours
    assert(counts(Seq(US -> US)) === ((4L, 3L)))
    assert(counts(Seq("a" -> US, s"a$US" -> US)) === ((4L, 2L)))
    assert(counts(Seq("a" -> "b")) === ((4L, 4L)))
    // the replaced chain wrapped it like any \S and miscounted
    val chain = d.select(chainCounts(col("text"), Seq.empty).as("c"))
      .head().getStruct(0)
    assert(chain.getLong(0) === 5L)
  }

  test("bpeEncode end-to-end: kernel output matches hand counts and " +
      "keeps the (id, n_sym, n_bpe, ratio_ppm) contract") {
    val d = Seq((1L, "aa bb aa"), (2L, "xyz")).toDF("id", "text")
    val mt = Seq((1, "a", "a", "aa", 2L), (2, "b", "b", "bb", 1L))
      .toDF("step", "lhs", "rhs", "merged", "pair_count")
    val out = graft.operators.Corpus.bpeEncode(d, "id", "text", mt)
      .orderBy(col("id")).collect()
    // doc 1: 6 symbols → aa,bb,aa = 3; ratio 500000
    assert(out(0).getLong(1) === 6L && out(0).getLong(2) === 3L &&
      out(0).getLong(3) === 500000L)
    // doc 2: untouched by the merges
    assert(out(1).getLong(1) === 3L && out(1).getLong(2) === 3L &&
      out(1).getLong(3) === 1000000L)
  }
}
