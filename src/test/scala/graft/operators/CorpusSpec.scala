package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CorpusSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "apple banana apple"),
    (2L, "banana cherry"),
    (3L, "apple apple apple")).toDF("id", "text")

  test("tfidf: score = tf * N / df, ranked desc with token tiebreak") {
    val out = Corpus.tfidf(docs, "id", "text", topK = 2)
      .orderBy($"id", $"kw_rank")
      .as[(Long, String, Long, Long, Double, Int)].collect()
    // N=3; df: apple->2 docs, banana->2, cherry->1
    // doc1: apple tf=2 score=2*3/2=3.0; banana tf=1 score=1.5
    // doc2: cherry score=3.0; banana score=1.5
    // doc3: apple tf=3 score=4.5
    assert(out === Array(
      (1L, "apple", 2L, 2L, 3.0, 1), (1L, "banana", 1L, 2L, 1.5, 2),
      (2L, "cherry", 1L, 1L, 3.0, 1), (2L, "banana", 1L, 2L, 1.5, 2),
      (3L, "apple", 3L, 2L, 4.5, 1)))
  }

  test("tokenQuotaByGroupCounts: budgets meter the supplied count " +
      "column — whitespace vs BPE budgets admit different docs on a " +
      "code-heavy fixture") {
    // same source, two docs: code (one giant identifier chain — 2
    // whitespace tokens but 73 non-space characters) vs prose (12
    // one-letter words — 12 whitespace tokens, 12 characters). Hash
    // priority orders code (doc 4, h=2826958457) before prose (doc 3,
    // h=3972778110) — pinned below. A 2-whitespace-token budget sees
    // code as CHEAP and fills on it alone; a 80-char (BPE-proxy)
    // budget sees the same code as nearly the whole budget and the
    // prose doc still fits as the crossing doc — the budgeting UNIT
    // changes which docs a source ships.
    val prose = "a b c d e f g h i j k l"
    val code = "fooBarBazQuxVeryLongIdentifierChain(another_extremely" +
      "_long_name) secondTok"
    val df = Seq((3L, "s", prose), (4L, "s", code))
      .toDF("doc_id", "source", "text")
    val h = (i: Long) => graft.functions.TextFns.hash32(lit(i.toString))
    val order = df.select(h(3L).as("h3"), h(4L).as("h4")).head()
    assert(order.getLong(1) < order.getLong(0)) // code ranks first
    val ws = Corpus.tokenQuotaByGroup(df, "source", "doc_id", "text",
        tokenBudget = 2L)
      .select($"doc_id").as[Long].collect().toSet
    val counts = df.withColumn("n_chars",
      length(regexp_replace($"text", "\\s+", "")).cast("long"))
    val byChars = Corpus.tokenQuotaByGroupCounts(counts, "source",
        "doc_id", "n_chars", tokenBudget = 80L)
      .select($"doc_id").as[Long].collect().toSet
    assert(ws === Set(4L))           // code fills the 2-token budget
    assert(byChars === Set(4L, 3L))  // 73 chars + crossing prose doc
    assert(ws !== byChars)
    // the text form IS the counts form on the whitespace count column
    val viaCounts = Corpus.tokenQuotaByGroupCounts(
      df.withColumn("n_tokens",
        size(graft.functions.TextFns.toks($"text")).cast("long")),
      "source", "doc_id", "n_tokens", tokenBudget = 2L)
    assert(viaCounts.select($"doc_id", $"tok_rank", $"n_tokens",
        $"cum_tokens").as[(Long, Int, Long, Long)].collect().toSet ===
      Corpus.tokenQuotaByGroup(df, "source", "doc_id", "text",
          tokenBudget = 2L)
        .select($"doc_id", $"tok_rank", $"n_tokens", $"cum_tokens")
        .as[(Long, Int, Long, Long)].collect().toSet)
  }

  test("manifestCounts: token totals meter the supplied count column; " +
      "identity (shards, doc counts, fingerprints) is count-independent") {
    val df = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon"))
      .toDF("id", "text")
    val ws = Corpus.manifest(df, "id", "text", nShards = 4)
      .as[(Long, Long, Long, Long)].collect().toSet
    // the text form IS the counts form on the whitespace count
    val viaCounts = Corpus.manifestCounts(
      df.withColumn("n",
        size(graft.functions.TextFns.toks($"text")).cast("long")),
      "id", "text", "n", nShards = 4)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(viaCounts === ws)
    // a different unit changes ONLY n_tokens
    val doubled = Corpus.manifestCounts(
      df.withColumn("n",
        size(graft.functions.TextFns.toks($"text")).cast("long") * 2),
      "id", "text", "n", nShards = 4)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(doubled.map(r => (r._1, r._2, r._4)) ===
      ws.map(r => (r._1, r._2, r._4)))
    assert(doubled.map(r => r._1 -> r._3) ===
      ws.map(r => r._1 -> r._3 * 2))
  }

  test("sampleByHash: deterministic, and a filter of the input") {
    val big = spark.range(1000).withColumnRenamed("id", "k")
    val a = Corpus.sampleByHash(big, "k", 10).as[Long].collect().sorted
    val b = Corpus.sampleByHash(big, "k", 10).as[Long].collect().sorted
    assert(a === b)
    assert(a.length > 50 && a.length < 200) // ~10% of 1000
    // pct=100 keeps everything, pct=0 keeps nothing
    assert(Corpus.sampleByHash(big, "k", 100).count() === 1000)
    assert(Corpus.sampleByHash(big, "k", 0).count() === 0)
  }

  test("sampleStratified: per-stratum rate, default rate, null stratum") {
    val df = spark.range(900).select($"id".as("k"),
      when($"id" % 3 === 0, "en").when($"id" % 3 === 1, "zh").as("st"))
    val out = Corpus.sampleStratified(df, "k", "st",
      Map("en" -> 10, "zh" -> 100), defaultPct = 0)
    // each stratum's draw is exactly sampleByHash at its rate
    val en = out.filter($"st" === "en").select($"k").as[Long].collect().toSet
    val enRef = Corpus.sampleByHash(df.filter($"st" === "en"), "k", 10)
      .select($"k").as[Long].collect().toSet
    assert(en === enRef && en.nonEmpty)
    assert(out.filter($"st" === "zh").count() === 300) // 100%
    assert(out.filter($"st".isNull).count() === 0)     // default 0
    // null stratum follows defaultPct, deterministically
    val dflt = Corpus.sampleStratified(df, "k", "st",
      Map("en" -> 0, "zh" -> 0), defaultPct = 100)
    assert(dflt.count() === 300 && dflt.filter($"st".isNotNull).count() === 0)
    val e = intercept[IllegalArgumentException] {
      Corpus.sampleStratified(df, "k", "st", Map("en" -> 101))
    }
    assert(e.getMessage.contains("[0,100]"))
  }

  test("quotaByGroup: at most quota rows per group, ranks 1..quota") {
    val df = spark.range(100)
      .select(($"id" % 4).cast("string").as("g"), $"id")
    val out = Corpus.quotaByGroup(df, "g", "id", quota = 7)
    val byG = out.groupBy($"g").agg(count(lit(1)).as("n"),
      max($"mix_rank").as("mx")).as[(String, Long, Int)].collect()
    assert(byG.length === 4)
    byG.foreach { case (_, n, mx) => assert(n === 7 && mx === 7) }
    // deterministic across runs
    val again = Corpus.quotaByGroup(df, "g", "id", quota = 7)
    assert(out.orderBy($"g", $"mix_rank").collect() ===
      again.orderBy($"g", $"mix_rank").collect())
  }

  test("manifest: mergeable (union == elementwise shard sums), " +
      "content-sensitive, partition-invariant") {
    val a = Seq((1L, "alpha beta"), (2L, "gamma")).toDF("id", "text")
    val b = Seq((3L, "delta eps zeta")).toDF("id", "text")
    def m(df: org.apache.spark.sql.DataFrame) =
      Corpus.manifest(df, "id", "text", nShards = 4)
        .as[(Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val (ma, mb, mu) = (m(a), m(b), m(a.unionByName(b)))
    val summed = (ma.keySet ++ mb.keySet).map { s =>
      val (d1, t1, f1) = ma.getOrElse(s, (0L, 0L, 0L))
      val (d2, t2, f2) = mb.getOrElse(s, (0L, 0L, 0L))
      s -> ((d1 + d2, t1 + t2, f1 + f2))
    }.toMap
    assert(mu === summed)
    // one changed byte moves exactly its shard's fingerprint
    val a2 = Seq((1L, "alpha betA"), (2L, "gamma")).toDF("id", "text")
    assert(m(a2) !== ma)
    // partition-order invariance
    assert(m(a.repartition(7)) === ma)
  }

  test("tokenQuotaByGroup: greedy fill keeps the budget-crossing doc " +
      "and drops the rest, per group independently") {
    val df = spark.range(40)
      .select(($"id" % 2).cast("string").as("g"), $"id",
        // every doc is exactly 5 tokens
        lit("t1 t2 t3 t4 t5").as("text"))
    val out = Corpus.tokenQuotaByGroup(df, "g", "id", "text",
      tokenBudget = 12L)
    val byG = out.groupBy($"g").agg(count(lit(1)).as("n"),
        max($"cum_tokens").as("mx"))
      .as[(String, Long, Long)].collect().toSeq.sortBy(_._1)
    // 5+5=10 < 12 → third doc crosses (cum 15) and is kept; 4th drops
    assert(byG === Seq(("0", 3L, 15L), ("1", 3L, 15L)))
    // ranks are the window ranks 1..3 and survive deterministically
    assert(out.select(max($"tok_rank")).head.getInt(0) === 3)
    val again = Corpus.tokenQuotaByGroup(df, "g", "id", "text", 12L)
    assert(out.orderBy($"g", $"tok_rank").collect() ===
      again.orderBy($"g", $"tok_rank").collect())
  }

  test("capPerKey: matches the per-key window top-k with id tiebreak") {
    import org.apache.spark.sql.expressions.Window
    // score = id % 5 → heavy ties inside every key: the id tiebreak
    // (smaller wins) is what's actually under test
    val df = spark.range(1, 41)
      .select(($"id" % 3).cast("string").as("src"), $"id",
        ($"id" % 5).cast("double").as("score"))
    val got = Corpus.capPerKey(df, "src", "id", "score", k = 4)
      .as[(String, Long, Double, Int)].collect().toSeq
      .sortBy(r => (r._1, r._4))
    val w = Window.partitionBy($"src").orderBy($"score".desc, $"id")
    val want = df
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter($"rank" <= 4)
      .as[(String, Long, Double, Int)].collect().toSeq
      .sortBy(r => (r._1, r._4))
    assert(got === want)
    // cap larger than any group passes everything through
    assert(Corpus.capPerKey(df, "src", "id", "score", k = 100)
      .count() === 40)
  }

  test("gateByGroupQuantile: each group keeps its own top half") {
    val df = Seq(
      ("en", 1L, 0.9), ("en", 2L, 0.5), ("en", 3L, 0.1),
      ("de", 4L, 0.09), ("de", 5L, 0.05), ("de", 6L, 0.01)
    ).toDF("lang", "id", "score")
    val kept = Corpus.gateByGroupQuantile(df, "lang", "score", 0.5)
      .select($"id").as[Long].collect().toSet
    // en median 0.5, de median 0.05: low-scoring 'de' keeps ITS top
    // half — a global 0.5 cutoff would have kept only {1, 2}
    assert(kept == Set(1L, 2L, 4L, 5L))
    assert(Corpus.gateByGroupQuantile(df, "lang", "score", 0.0)
      .count() === 6)
    intercept[IllegalArgumentException] {
      Corpus.gateByGroupQuantile(df, "lang", "score", 1.5)
    }
    // the null group (unidentified language) gates against ITS OWN
    // threshold, not silently deleted by a null-unsafe join
    val withNull = df.union(Seq((null: String, 7L, 0.8),
      (null: String, 8L, 0.2)).toDF("lang", "id", "score"))
    val keptN = Corpus.gateByGroupQuantile(withNull, "lang", "score", 0.5)
      .select($"id").as[Long].collect().toSet
    assert(keptN == Set(1L, 2L, 4L, 5L, 7L))
    // the sketch-state production path: on odd-sized groups the 0.5
    // quantile is a data value, so approx and exact cutoffs coincide
    val keptA = Corpus
      .gateByGroupQuantile(df, "lang", "score", 0.5, approx = true)
      .select($"id").as[Long].collect().toSet
    assert(keptA == kept)
  }

  test("snapshotDiff: four change classes; formatting edits ignored") {
    val prev = Seq((1L, "a b c"), (2L, "d e f"), (3L, "g h i"),
      (5L, "gone soon")).toDF("id", "text")
    val cur = Seq((1L, "a b c"), (2L, "d e CHANGED"),
      (3L, "G  h I"), (4L, "new doc")).toDF("id", "text")
    val got = Corpus.snapshotDiff(prev, cur, "id", "text")
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "unchanged", // case/whitespace-only edit is NOT a change
      4L -> "added", 5L -> "removed"))
    // null text is a PRESENT row (presence flag, not hash nullability):
    // null→text is changed, null→null unchanged — never added/removed
    val p2 = Seq((1L, null: String), (2L, null: String))
      .toDF("id", "text")
    val c2 = Seq((1L, "now filled"), (2L, null: String))
      .toDF("id", "text")
    val got2 = Corpus.snapshotDiff(p2, c2, "id", "text")
      .as[(Long, String)].collect().toMap
    assert(got2 == Map(1L -> "changed", 2L -> "unchanged"))
  }

  test("capPerKey rejects a non-integral id column") {
    val df = Seq(("s1", "urlA", 0.5)).toDF("src", "url", "score")
    val e = intercept[IllegalArgumentException] {
      Corpus.capPerKey(df, "src", "url", "score", 3)
    }
    assert(e.getMessage.contains("integral idCol"))
  }

  test("spanDuplication: shared span counted, unique span not") {
    val d = Seq(
      (1L, "a b c d e"),   // spans(2): "a b","b c","c d","d e"
      (2L, "x y a b z"),   // shares "a b"
      (3L, "q")            // too short: absent
    ).toDF("id", "text")
    val out = Corpus.spanDuplication(d, "id", "text", n = 2)
      .orderBy($"id")
      .as[(Long, Long, Long, Double)].collect()
    assert(out === Array(
      (1L, 4L, 1L, 0.25),
      (2L, 4L, 1L, 0.25)))
  }

  test("spanDuplication: within-doc repeat is not cross-doc duplication") {
    val d = Seq((1L, "a b a b")).toDF("id", "text") // "a b" twice, 1 doc
    val out = Corpus.spanDuplication(d, "id", "text", n = 2)
      .as[(Long, Long, Long, Double)].collect()
    assert(out === Array((1L, 3L, 0L, 0.0)))
  }

  test("cleanLines: word-count rule, terminal rule, doc-level gate") {
    val d = Seq(
      (1L, "this line has five words.\nshort\nanother long enough line here."),
      (2L, "only one good line in this doc.\nno\nway"),
      (3L, "nothing survives\nhere")).toDF("id", "text")
    // minWords=4 only
    val basic = Corpus.cleanLines(d, "id", "text", minWords = 4)
      .orderBy($"id").as[(Long, String, Long, Long)].collect()
    assert(basic === Array(
      (1L, "this line has five words.\nanother long enough line here.",
        3L, 2L),
      (2L, "only one good line in this doc.", 3L, 1L),
      (3L, "", 2L, 0L)))
    // minLines=2 drops docs 2 and 3
    assert(Corpus.cleanLines(d, "id", "text", minWords = 4, minLines = 2)
      .select($"id").as[Long].collect() === Array(1L))
    // requireTerminal: unpunctuated long lines go too
    val term = Seq((9L, "four words but unterminated\nfour words with period."))
      .toDF("id", "text")
    val t = Corpus.cleanLines(term, "id", "text", minWords = 3,
        requireTerminal = true)
      .as[(Long, String, Long, Long)].collect()
    assert(t === Array((9L, "four words with period.", 2L, 1L)))
    // blank / whitespace-only lines never pass the word-count rule
    val blank = Seq((5L, "a good line here\n   \nanother good line here"))
      .toDF("id", "text")
    assert(Corpus.cleanLines(blank, "id", "text", minWords = 2)
      .select($"n_kept").as[Long].head() === 2L)
  }

  test("dropBoilerplateLines: cross-doc frequent lines removed everywhere") {
    val d = Seq(
      (1L, "unique opening one\nCOOKIE BANNER\nunique body one"),
      (2L, "unique opening two\n  COOKIE BANNER  \nunique body two"),
      (3L, "COOKIE BANNER\nunique story three"),
      (4L, "no banner at all here")).toDF("id", "text")
    val out = Corpus.dropBoilerplateLines(d, "id", "text", maxDocFreq = 2)
      .orderBy($"id").as[(Long, String, Long, Long)].collect()
    // banner in 3 docs > 2 -> removed from all (indent variant too);
    // every other line is unique -> kept, original order, trimmed
    assert(out === Array(
      (1L, "unique opening one\nunique body one", 3L, 1L),
      (2L, "unique opening two\nunique body two", 3L, 1L),
      (3L, "unique story three", 2L, 1L),
      (4L, "no banner at all here", 1L, 0L)))
    // threshold at the observed frequency keeps the line
    val kept = Corpus.dropBoilerplateLines(d, "id", "text", maxDocFreq = 3)
      .agg(sum($"n_removed")).as[Long].head()
    assert(kept === 0L)
    // within-doc repeats count each position, but doc-frequency is
    // distinct-doc based: 2 docs <= maxDocFreq=2 -> kept
    val rep = Seq(
      (1L, "dup line\ndup line\nmiddle"),
      (2L, "dup line\nend")).toDF("id", "text")
    val r = Corpus.dropBoilerplateLines(rep, "id", "text", maxDocFreq = 2)
      .orderBy($"id").as[(Long, String, Long, Long)].collect()
    assert(r === Array(
      (1L, "dup line\ndup line\nmiddle", 3L, 0L),
      (2L, "dup line\nend", 2L, 0L)))
  }

  test("selectByBudget: band-desc id-asc prefix fill, exact boundary") {
    // scores 0..3 over 4 bands of width 1; 3 tokens per doc
    val d = Seq(
      (1L, 3, "a b c"), (2L, 3, "d e f"),       // band 3, first in
      (3L, 2, "g h i"),                          // band 2
      (4L, 0, "j k l"), (5L, 1, "m n o")).toDF("id", "score", "text")
    val out = Corpus.selectByBudget(d, "id", "score", "text",
        budget = 9L, bands = 4)
      .orderBy($"id")
      .as[(Long, Long, Long, Long, Long, Boolean)].collect()
    // order: 1, 2 (band 3), 3 (band 2), 5 (band 1), 4 (band 0);
    // cum 3, 6, 9, 12, 15 -> kept = 1, 2, 3
    assert(out === Array(
      (1L, 3L, 3L, 3L, 3L, true),
      (2L, 3L, 3L, 3L, 6L, true),
      (3L, 2L, 2L, 3L, 9L, true),
      (4L, 0L, 0L, 3L, 15L, false),
      (5L, 1L, 1L, 3L, 12L, false)))
    // budget >= total keeps everything; budget 0 keeps nothing
    assert(Corpus.selectByBudget(d, "id", "score", "text", 15L, 4)
      .filter($"kept").count() === 5)
    assert(Corpus.selectByBudget(d, "id", "score", "text", 0L, 4)
      .filter($"kept").count() === 0)
    // raising the budget only ever adds docs (prefix monotonicity)
    val k9 = Corpus.selectByBudget(d, "id", "score", "text", 9L, 4)
      .filter($"kept").select($"id").as[Long].collect().toSet
    val k12 = Corpus.selectByBudget(d, "id", "score", "text", 12L, 4)
      .filter($"kept").select($"id").as[Long].collect().toSet
    assert(k9.subsetOf(k12) && (k12 -- k9) == Set(5L))
    // partition invariance: same result from any input layout
    val re = Corpus.selectByBudget(d.repartition(7), "id", "score",
        "text", 9L, 4)
      .orderBy($"id")
      .as[(Long, Long, Long, Long, Long, Boolean)].collect()
    assert(re === out)
    // cross-chunk driver-offset stitching: ids 5000 apart span five of
    // the auto grid's chunks (4096 wide at this range), so bands split
    // across chunks and must reproduce the single-chunk result
    val chunk = math.max(4096L,
      math.ceil(20001.0 / ((1 << 20) / 4)).toLong)
    assert((1L to 5L).map(i => i * 5000L / chunk).distinct.size > 1)
    val cc = Corpus.selectByBudget(d.withColumn("id", $"id" * 5000L),
        "id", "score", "text", 9L, 4)
      .orderBy($"id")
      .as[(Long, Long, Long, Long, Long, Boolean)].collect()
    assert(cc === out.map(r => r.copy(_1 = r._1 * 5000L)))
    val e = intercept[IllegalArgumentException] {
      Corpus.selectByBudget(d.withColumn("score", $"score".cast("double")),
        "id", "score", "text", 9L, 4)
    }
    assert(e.getMessage.contains("integral"))
    // null scores are rejected with a clear message, not an NPE
    val n = intercept[IllegalArgumentException] {
      Corpus.selectByBudget(
        Seq((1L, Some(3), "a b"), (2L, None, "c d"))
          .toDF("id", "score", "text"),
        "id", "score", "text", 9L, 4)
    }
    assert(n.getMessage.contains("non-null"))
  }

  test("lmScore: add-one unigram NLL matches the hand computation") {
    // counts: a=2, b=2, c=1; N=5, V=3 → p(a)=p(b)=3/8, p(c)=2/8
    val d = Seq((1L, "a a b"), (2L, "b c")).toDF("id", "text")
    val out = Corpus.lmScore(d, "id", "text").orderBy($"id")
      .as[(Long, Long, Double, Double)].collect()
    def q(x: Double) = math.floor(x * 1e6 + 0.5).toLong
    val tAB = -math.log(3.0 / 8.0)
    val tC = -math.log(2.0 / 8.0)
    val nll1 = (q(tAB) * 3).toDouble / 1e6           // a, a, b
    val nll2 = (q(tAB) + q(tC)).toDouble / 1e6       // b, c
    assert(out === Array((1L, 3L, nll1, nll1 / 3.0),
      (2L, 2L, nll2, nll2 / 2.0)))
    // rarer tokens score strictly worse (higher NLL per token)
    assert(out(1)._4 > out(0)._4)
  }

  test("zipfFit: matches the in-memory least squares over the head") {
    // counts: a=4, b=3, c=2, d=1 → top-3 ranks (a,1) (b,2) (c,3)
    val d = Seq((1L, "a a a a b b b c c d")).toDF("id", "text")
    val out = Corpus.zipfFit(d, "text", k = 3)
      .as[(Long, Double, Double)].head()
    def q(x: Double) = math.floor(x * 1e9 + 0.5).toLong
    val pts = Seq((1L, 4L), (2L, 3L), (3L, 2L)).map { case (rn, ct) =>
      (math.log(rn.toDouble), math.log(ct.toDouble))
    }
    val n = 3.0
    val sx = pts.map(p => q(p._1)).sum.toDouble / 1e9
    val sy = pts.map(p => q(p._2)).sum.toDouble / 1e9
    val sxy = pts.map(p => q(p._1 * p._2)).sum.toDouble / 1e9
    val sxx = pts.map(p => q(p._1 * p._1)).sum.toDouble / 1e9
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert(out === ((3L, slope, (sy - slope * sx) / n)))
    // a 4:3:2 head is sub-Zipf but still decreasing: slope < 0
    assert(out._2 < 0)
  }

  test("vocabTopK: matches sort-based global top-k") {
    val expected = docs
      .select(explode(split(lower($"text"), "\\s+")).as("token"))
      .groupBy($"token").agg(count(lit(1)).as("ct"))
      .orderBy($"ct".desc, $"token")
      .as[(String, Long)].collect()
    val out = Corpus.vocabTopK(docs, "text", k = 2)
      .select($"token", $"ct").as[(String, Long)].collect()
    assert(out === expected.take(2))
    assert(Corpus.vocabTopK(docs, "text", k = 100).count() === 3)
  }

  test("removeStopwords: scrubs and counts") {
    val d = Seq((1L, "the apple and the pear")).toDF("id", "text")
    val out = Corpus.removeStopwords(d, "id", "text", Seq("the", "and"))
      .as[(Long, String, Long)].collect()
    assert(out === Array((1L, "apple pear", 3L)))
  }

  test("decontaminate: flags overlap grams, counts distinct hits once") {
    val eval = Seq((100L, "w x y z")).toDF("id", "text") // grams: "w x","x y","y z"
    val train = Seq(
      (1L, "a b w x y c"), // grams incl "w x","x y" → 2 hits of 5
      (2L, "p q r s"),     // no overlap
      (3L, "w x w x"),     // distinct grams: "w x","x w" → 1 hit of 2
      (4L, "solo")         // < n tokens: absent
    ).toDF("id", "text")
    val out = Corpus.decontaminate(train, eval, "id", "text", n = 2)
      .orderBy($"id")
      .as[(Long, Long, Long, Double, Boolean)].collect()
    assert(out === Array(
      (1L, 5L, 2L, 0.4, true),
      (2L, 3L, 0L, 0.0, false),
      (3L, 2L, 1L, 0.5, true)))
  }

  test("decontaminate: clean corpus against itself-free eval is clean") {
    val train = Seq((1L, "a b c"), (2L, "d e f")).toDF("id", "text")
    val eval = Seq((9L, "x y z")).toDF("id", "text")
    val out = Corpus.decontaminate(train, eval, "id", "text", n = 2)
    assert(out.filter($"contaminated").count() === 0)
    assert(out.count() === 2)
  }

  test("removeDuplicateSpans: global first occurrence wins, docs reassemble") {
    val d = Seq(
      (1L, "a b c d"),     // blocks(2): "a b","c d"
      (2L, "c d a b x"),   // "c d","a b" dup → removed; tail "x" kept
      (3L, "a b a b")      // within-doc repeat: first survives only
    ).toDF("id", "text")
    val out = Corpus.removeDuplicateSpans(d, "id", "text", n = 2)
      .orderBy($"id")
      .as[(Long, String, Long, Long)].collect()
    assert(out === Array(
      (1L, "a b c d", 2L, 0L),
      (2L, "x", 3L, 2L),
      (3L, "", 2L, 2L))) // both its blocks are later occurrences
  }

  test("removeDuplicateSpans: unique corpus passes through unchanged") {
    val d = Seq((1L, "p q r"), (2L, "s t u")).toDF("id", "text")
    val out = Corpus.removeDuplicateSpans(d, "id", "text", n = 3)
      .orderBy($"id").as[(Long, String, Long, Long)].collect()
    assert(out === Array((1L, "p q r", 1L, 0L), (2L, "s t u", 1L, 0L)))
  }

  test("removeDuplicatedSpans: positional frame catches any alignment, " +
      "winner doc keeps the passage, covered tokens go") {
    val d = Seq(
      (1L, "u1 sa sb sc u2"),       // global first 'sa sb sc' → kept
      (2L, "v1 v2 sa sb sc v3"),    // same passage, OTHER offset → cut
      (3L, "w1 sa sb sc w2 sa sb sc w3"), // cross-doc AND in-doc repeat
      (4L, "x1 x2")                 // < n tokens: passes through
    ).toDF("id", "text")
    val out = Corpus.removeDuplicatedSpans(d, "id", "text", n = 3)
      .orderBy($"id")
      .as[(Long, String, Long, Long, Long)].collect()
    assert(out === Array(
      (1L, "u1 sa sb sc u2", 5L, 0L, 0L),
      // marked at p=3 only; tokens 3-5 covered
      (2L, "v1 v2 v3", 6L, 3L, 1L),
      // both passage copies are later than doc 1's: p=2 and p=6 marked,
      // covered tokens 2-4 and 6-8
      (3L, "w1 w2 w3", 9L, 6L, 2L),
      (4L, "x1 x2", 2L, 0L, 0L)))
  }

  test("removeDuplicatedSpans: a fully-duplicated doc empties; " +
      "re-running on the output removes nothing") {
    val d = Seq(
      (1L, "a b c d"),
      (2L, "a b c d")  // every position duplicates doc 1's
    ).toDF("id", "text")
    val out = Corpus.removeDuplicatedSpans(d, "id", "text", n = 2)
      .orderBy($"id").as[(Long, String, Long, Long, Long)].collect()
    assert(out === Array(
      (1L, "a b c d", 4L, 0L, 0L),
      (2L, "", 4L, 4L, 3L))) // 3 marked 2-gram positions cover all 4
    val again = Corpus.removeDuplicatedSpans(
        out.map(r => (r._1, r._2)).toSeq.toDF("id", "text"),
        "id", "text", n = 2)
      .orderBy($"id").as[(Long, String, Long, Long, Long)].collect()
    assert(again.map(r => (r._1, r._2, r._4, r._5)) ===
      Array((1L, "a b c d", 0L, 0L), (2L, "", 0L, 0L)))
  }

  test("curriculumOrder: round-robin interleave by rank then group, " +
      "exhausted groups drop out, positions are a permutation") {
    // A: scores 9, 8, 7; B: scores 9, 5 → A1 B1 A2 B2 A3
    val d = Seq(
      (1L, "A", 9.0), (2L, "A", 8.0), (3L, "A", 7.0),
      (4L, "B", 9.0), (5L, "B", 5.0)).toDF("id", "grp", "score")
    val got = Corpus.curriculumOrder(d, "grp", "id", "score")
      .select("id", "grp_rank", "global_pos")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got === Map(
      1L -> ((1L, 0L)), 4L -> ((1L, 1L)),
      2L -> ((2L, 2L)), 5L -> ((2L, 3L)),
      3L -> ((3L, 4L))))
    // permutation + equals a literal global sort, at a larger scale
    val big = (0L until 300L)
      .map(i => (i, s"g${i % 7}", (i * 13 % 17).toDouble))
      .toDF("id", "grp", "score")
    val rows = Corpus.curriculumOrder(big, "grp", "id", "score")
      .select("id", "grp", "grp_rank", "global_pos")
      .as[(Long, String, Long, Long)].collect()
    assert(rows.map(_._4).sorted === (0L until 300L).toArray)
    val byPos = rows.sortBy(_._4).map(r => (r._3, r._2)).toSeq
    assert(byPos === rows.sortBy(r => (r._3, r._2)).map(r => (r._3, r._2)).toSeq)
  }

  test("curriculumOrder at the 4096-group gate boundary: positions " +
      "match a literal global sort and codegen does not fall back") {
    // the r9 closed form compiled one least+when term PER GROUP into a
    // single projection — a ~4096-term Add tree that blows Janino's
    // 64 KB method limit and silently drops to interpreted eval. The
    // bucketed prefix-sum form must (a) stay exact at the gate
    // boundary and (b) keep every generated method compilable —
    // enforced by disabling the silent fallback so a Janino failure
    // THROWS instead of degrading.
    val nGroups = 4096
    // skewed sizes: group g0 carries 300 rows, the rest 1 — exercises
    // width > 1 bucketing AND the same-rank wave across all groups
    val rows = (0 until nGroups).flatMap { g =>
      val n = if (g == 0) 300 else 1
      (0 until n).map(k =>
        (g.toLong * 1000 + k, f"g$g%04d", (k * 7 % 13).toDouble))
    }
    val d = rows.toDF("id", "grp", "score").repartition(8)
    val prevFallback = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val got = Corpus.curriculumOrder(d, "grp", "id", "score")
        .select("id", "grp", "grp_rank", "global_pos")
        .as[(Long, String, Long, Long)].collect()
      assert(got.map(_._4).sorted === (0L until rows.size.toLong).toArray)
      // global_pos is the index under ORDER BY (grp_rank, grp)
      val byPos = got.sortBy(_._4).map(r => (r._3, r._2)).toSeq
      assert(byPos === got.sortBy(r => (r._3, r._2))
        .map(r => (r._3, r._2)).toSeq)
      // the giant per-group projection is gone: the optimized plan is
      // group-count-independent (the old form serialized ~4096 terms
      // here)
      val plan = Corpus.curriculumOrder(d, "grp", "id", "score")
        .queryExecution.optimizedPlan.toString
      assert(plan.length < 100000, s"projection blew up: ${plan.length}")
      assert(!plan.contains("least("), "per-group closed form resurfaced")
    } finally
      spark.conf.set("spark.sql.codegen.fallback", prevFallback)
  }

  test("noveltyScores: first doc owns its grams, copies score zero, " +
      "partial overlap in between") {
    val d = Seq(
      (1L, "a b c d"),      // grams {a b c, b c d} — both novel
      (2L, "a b c d"),      // exact copy — novelty 0
      (3L, "x y z a b c"),  // {x y z, y z a, z a b, a b c}: 3 of 4 novel
      (4L, "q"))            // < 3 tokens: no grams, no row
      .toDF("id", "text")
    val got = Corpus.noveltyScores(d, "id", "text", n = 3)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) === ((2L, 2L, 1.0)))
    assert(got(2L) === ((2L, 0L, 0.0)))
    assert(got(3L) === ((4L, 3L, 0.75)))
    assert(!got.contains(4L))
  }

  test("sourceTokenKl: the corpus-matching source scores 0, a skewed " +
      "source scores > 0, and KL is partition-invariant") {
    // source A: tokens {x, y} evenly; source B: only x — corpus is
    // 3x : 1y, so KL(A) > 0 and KL(B) > 0, with B more skewed than
    // the blend in the opposite direction
    val d = Seq((1L, "A", "x y"), (2L, "A", "x y"), (3L, "B", "x x"),
      (4L, "B", "x x")).toDF("id", "src", "text")
    val got = Corpus.sourceTokenKl(d, "src", "text")
      .as[(String, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // hand numbers: N=8, global x=6 (q=.75), y=2 (q=.25)
    // A: p(x)=p(y)=.5 → .5 ln(.5/.75) + .5 ln(.5/.25)
    val klA = 0.5 * math.log(0.5 / 0.75) + 0.5 * math.log(0.5 / 0.25)
    val klB = 1.0 * math.log(1.0 / 0.75)
    assert(got("A")._1 == 4L && math.abs(got("A")._2 - klA) < 1e-6)
    assert(got("B")._1 == 4L && math.abs(got("B")._2 - klB) < 1e-6)
    // a source that IS the corpus distribution scores exactly 0
    val uni = Seq((1L, "A", "x y"), (2L, "B", "x y"))
      .toDF("id", "src", "text")
    Corpus.sourceTokenKl(uni, "src", "text")
      .as[(String, Long, Double)].collect()
      .foreach(r => assert(r._3 == 0.0, s"expected exact 0 for $r"))
    def run(p: Int) = Corpus.sourceTokenKl(
        d.repartition(p), "src", "text")
      .as[(String, Long, Double)].collect().sortBy(_._1).toSeq
    assert(run(1) === run(16)) // bit-identical (fx sums)
  }

  test("mixtureWeights: weights ∝ 1/tokens, sum to ~1, uniform when " +
      "sources are balanced") {
    val d = Seq((1L, "A", "a b c d e f"), (2L, "B", "a b c"),
      (3L, "C", "a b c")).toDF("id", "src", "text")
    val got = Corpus.mixtureWeights(d, "src", "text")
      .as[(String, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got("A")._1 == 6L && got("B")._1 == 3L)
    // B and C tie; A has 2x the tokens → half the weight
    assert(math.abs(got("B")._2 - got("C")._2) < 1e-12)
    assert(math.abs(got("A")._2 * 2 - got("B")._2) < 1e-9)
    assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-9)
  }

  test("packBoundaries: per-sequence piece offsets tile the sequence, " +
      "doc open/close flags mark true document edges") {
    val d = Seq(
      (1L, "a1 a2 a3"),             // 3 tokens
      (2L, "b1 b2 b3 b4"),          // 4: splits across seq 0/1
      (3L, "c1 c2 c3 c4 c5 c6"))    // 6: splits across seq 1/2
      .toDF("id", "text")
    val got = Corpus.packBoundaries(
        Corpus.packSequences(d, "id", "text", seqLen = 5), "id")
      .as[(Long, Int, Long, Long, Long, Boolean, Boolean, Int)]
      .collect().sortBy(t => (t._1, t._2)).toSeq
    assert(got === Seq(
      (0L, 0, 1L, 0L, 3L, true, true, 2),
      (0L, 1, 2L, 3L, 5L, true, false, 2),
      (1L, 0, 2L, 0L, 2L, false, true, 2),
      (1L, 1, 3L, 2L, 5L, true, false, 2),
      (2L, 0, 3L, 0L, 3L, false, true, 1)))
    // cu_seqlens contract: within a sequence, pieces tile [0, end):
    // first starts at 0, each next starts where the previous ended
    got.groupBy(_._1).values.foreach { pieces =>
      val s = pieces.sortBy(_._2)
      assert(s.head._4 === 0L)
      s.sliding(2).foreach {
        case Seq(a, b) => assert(b._4 === a._5)
        case _ => ()
      }
    }
  }

  test("chunk: sliding windows with overlap, every token covered") {
    val d = Seq((1L, (1 to 11).map(i => s"t$i").mkString(" "))) // 11 tokens
      .toDF("id", "text")
    val out = Corpus.chunk(d, "id", "text", maxTokens = 5, overlap = 2)
      .orderBy($"chunk_idx")
      .as[(Long, Int, String, Long)].collect()
    // stride 3: ceil((11-2)/3)=3 chunks at starts 1, 4, 7 → last is
    // t7..t11 (5 tokens, clipped at the end)
    assert(out === Array(
      (1L, 0, "t1 t2 t3 t4 t5", 5L),
      (1L, 1, "t4 t5 t6 t7 t8", 5L),
      (1L, 2, "t7 t8 t9 t10 t11", 5L)))
    // consecutive chunks share exactly `overlap` tokens
    assert(out(0)._3.split(" ").takeRight(2) === out(1)._3.split(" ").take(2))
  }

  test("chunk: short doc yields one whole chunk") {
    val d = Seq((1L, "a b c")).toDF("id", "text")
    val out = Corpus.chunk(d, "id", "text", maxTokens = 10, overlap = 3)
      .as[(Long, Int, String, Long)].collect()
    assert(out === Array((1L, 0, "a b c", 3L)))
  }

  test("assignSplits: deterministic, ratios sum, every row labeled") {
    val big = spark.range(1000).withColumnRenamed("id", "k")
    val out = Corpus.assignSplits(big, "k",
      Seq("train" -> 80, "val" -> 10, "test" -> 10))
    val counts = out.groupBy($"split").count()
      .as[(String, Long)].collect().toMap
    assert(counts.values.sum === 1000L)
    assert(counts("train") > 700 && counts("train") < 900)
    assert(counts("val") > 50 && counts("val") < 180)
    // re-run assigns identically (hash-keyed, not rand)
    val again = Corpus.assignSplits(big, "k",
      Seq("train" -> 80, "val" -> 10, "test" -> 10))
    assert(out.orderBy($"k").collect() === again.orderBy($"k").collect())
  }

  test("packSequences: pieces tile sequences exactly, docs split at cuts") {
    // 3+4+5 = 12 tokens, seqLen 5 → seqs: [a1 a2 a3 b1 b2][b3 b4 c1 c2 c3][c4 c5]
    val d = Seq(
      (1L, "a1 a2 a3"), (2L, "b1 b2 b3 b4"), (3L, "c1 c2 c3 c4 c5"))
      .toDF("id", "text")
    val out = Corpus.packSequences(d, "id", "text", seqLen = 5)
      .orderBy($"seq_id", $"seq_tok_start")
      .as[(Long, Long, Long, Long, Long, String)].collect()
    assert(out === Array(
      (1L, 0L, 1L, 1L, 3L, "a1 a2 a3"),
      (2L, 0L, 1L, 4L, 2L, "b1 b2"),
      (2L, 1L, 3L, 1L, 2L, "b3 b4"),
      (3L, 1L, 1L, 3L, 3L, "c1 c2 c3"),
      (3L, 2L, 4L, 1L, 2L, "c4 c5")))
  }

  test("packSequences: reassembled stream equals concatenated corpus") {
    // ids 1000 apart: the 39001-wide range spreads the docs over ten
    // of the auto grid's 4096-wide buckets, so sequences cross buckets
    val docs = (1L to 40L)
      .map(i => (i * 1000L, (1 to (i % 7 + 1).toInt)
        .map(j => s"w${i}_$j").mkString(" ")))
      .toDF("id", "text")
    assert((1L to 40L).map(i => i * 1000L / 4096L).distinct.size > 1)
    val L = 11
    val pieces = Corpus.packSequences(docs, "id", "text", seqLen = L)
      .orderBy($"seq_id", $"seq_tok_start")
      .as[(Long, Long, Long, Long, Long, String)].collect()
    // every sequence except the last is exactly L tokens, tiled with
    // no gaps or overlaps
    val bySeq = pieces.groupBy(_._2).toSeq.sortBy(_._1)
    bySeq.init.foreach { case (_, ps) => assert(ps.map(_._5).sum === L) }
    bySeq.foreach { case (_, ps) =>
      val sorted = ps.sortBy(_._4)
      assert(sorted.head._4 === 1L)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b._4 === a._4 + a._5)
        case _           => ()
      }
    }
    // and the concatenation in (seq, pos) order is the corpus in id order
    val stream = pieces.flatMap(_._6.split(" ")).toSeq
    val corpus = docs.orderBy($"id").as[(Long, String)].collect()
      .flatMap(_._2.split(" ")).toSeq
    assert(stream === corpus)
  }

  test("packSequences: auto bucket sizing packs a sparse ~1e12 id range") {
    // ids spread over a trillion-wide range: the old fixed-4096 grid
    // would imply ~2.4e8 candidate buckets; auto-sizing derives the
    // grid from the observed range, so the totals collect stays at
    // ≤ min(|docs|, 2^20) rows and the pack still orders globally by id
    val docs = (0 until 50)
      .map(i => (i * 20000000037L, s"t${i}_a t${i}_b t${i}_c"))
      .toDF("id", "text")
    val pieces = Corpus.packSequences(docs, "id", "text", seqLen = 7)
      .orderBy($"seq_id", $"seq_tok_start")
      .as[(Long, Long, Long, Long, Long, String)].collect()
    val stream = pieces.flatMap(_._6.split(" ")).toSeq
    val corpus = docs.orderBy($"id").as[(Long, String)].collect()
      .flatMap(_._2.split(" ")).toSeq
    assert(stream === corpus)
    // every full sequence is exactly seqLen tokens
    pieces.groupBy(_._2).toSeq.sortBy(_._1).init
      .foreach { case (_, ps) => assert(ps.map(_._5).sum === 7L) }
  }

  test("neymanAllocation: labels follow n*sigma, zero-variance " +
      "groups get 0, floor never overspends the budget") {
    // A: high variance (0/100), B: same size, zero variance,
    // C: half the rows of A at the same variance → half A's weight
    val rows = Seq.fill(20)(("A", 0L)) ++ Seq.fill(20)(("A", 100L)) ++
      Seq.fill(40)(("B", 50L)) ++
      Seq.fill(10)(("C", 0L)) ++ Seq.fill(10)(("C", 100L))
    val got = Corpus.neymanAllocation(rows.toDF("g", "x"), "g", "x",
        k = 90)
      .as[(String, Long, Double, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("B")._4 === 0L)       // sigma = 0 → no labels
    assert(got("A")._3 === 50.0 && got("C")._3 === 50.0)
    // weights 40·50 : 0 : 20·50 = 2 : 0 : 1 → 60 and 30 of 90
    assert(got("A")._4 === 60L && got("C")._4 === 30L)
    assert(got.values.map(_._4).sum <= 90L)
  }

  test("sourceTokenJs: symmetric twins score equal, bounded by ln2, " +
      "a blend-identical source scores ~0") {
    // A and B hold identical disjoint-from-each-other vocabularies:
    // by symmetry their JS from the blend is equal and strictly
    // inside (0, ln 2)
    val d = Seq(("A", "x x y"), ("A", "y"), ("B", "p p q"), ("B", "q"))
      .toDF("src", "text")
    val js = Corpus.sourceTokenJs(d, "src", "text")
      .as[(String, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(math.abs(js("A") - js("B")) < 1e-9)
    assert(js("A") > 0.0 && js("A") < 0.6931471805599453)
    // one source whose distribution IS the blend: JS ~ 0 (exact up to
    // the 1e-9 term quantization)
    val same = Seq(("A", "x y"), ("B", "x y")).toDF("src", "text")
    val js2 = Corpus.sourceTokenJs(same, "src", "text")
      .as[(String, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(math.abs(js2("A")) < 1e-8 && math.abs(js2("B")) < 1e-8)
  }

  test("tokenizerFertility: group sums reconcile with bpeEncode, " +
      "fertility is the exact ppm ratio") {
    val d = Seq((1L, "A", "aa bb"), (2L, "A", "cc"), (3L, "B", "dd ee"))
      .toDF("id", "src", "text")
    val mt = Corpus.bpeTrain(d, "text", merges = 1)
    val got = Corpus.tokenizerFertility(d, "src", "id", "text", mt)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    val enc = Corpus.bpeEncode(d, "id", "text", mt)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(got("A")._2 === 2L && got("A")._3 === 3L)
    assert(got("A")._4 === enc(1L) + enc(2L))
    assert(got("A")._5 === got("A")._4 * 1000000L / got("A")._3)
    assert(got("B")._3 === 2L && got("B")._4 === enc(3L))
  }

  test("packSequencesCounts: layout equals packSequences on the same " +
      "counts; BPE counts diverge from whitespace on code-heavy text " +
      "while tiling invariants hold") {
    // parity: feeding the counts variant the whitespace token counts
    // must reproduce packSequences' layout exactly (minus piece_text)
    val d = Seq(
      (1L, "a1 a2 a3"), (2L, "b1 b2 b3 b4"), (3L, "c1 c2 c3 c4 c5"))
      .toDF("id", "text")
    val viaText = Corpus.packSequences(d, "id", "text", seqLen = 5)
      .select($"id", $"seq_id", $"doc_tok_start", $"seq_tok_start",
        $"piece_len")
      .orderBy($"seq_id", $"seq_tok_start").collect()
    val viaCounts = Corpus.packSequencesCounts(
        d.withColumn("n", org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.split($"text", " "))),
        "id", "n", seqLen = 5)
      .orderBy($"seq_id", $"seq_tok_start").collect()
    assert(viaCounts === viaText)

    // divergence: a code-heavy doc is ONE whitespace token but many
    // tokenizer tokens — whitespace packing calls it 1 token and
    // never splits it; tokenizer-true packing cuts where the real
    // token stream crosses seqLen
    val code = Seq(
      (1L, "df.groupBy(col(\"k\")).agg(sum(col(\"v\")).as(\"s\"))", 18L),
      (2L, "x=1", 3L),
      (3L, "val y = x + 1", 6L))
      .toDF("id", "text", "n_tok")
    val ws = Corpus.packSequences(code, "id", "text", seqLen = 8)
      .as[(Long, Long, Long, Long, Long, String)].collect()
    // whitespace: doc 1 contributes ONE 1-token piece
    assert(ws.filter(_._1 == 1L).map(_._5).toSeq === Seq(1L))
    val bpe = Corpus.packSequencesCounts(code, "id", "n_tok", seqLen = 8)
      .orderBy($"seq_id", $"seq_tok_start")
      .as[(Long, Long, Long, Long, Long)].collect()
    // tokenizer-true: doc 1 is 18 tokens → split across 3 sequences
    assert(bpe.filter(_._1 == 1L).map(_._5).toSeq === Seq(8L, 8L, 2L))
    // tiling invariants on the counts layout: full sequences sum to
    // exactly seqLen, pieces abut with no gaps or overlaps
    val bySeq = bpe.groupBy(_._2).toSeq.sortBy(_._1)
    bySeq.init.foreach { case (_, ps) => assert(ps.map(_._5).sum === 8L) }
    bySeq.foreach { case (_, ps) =>
      val sorted = ps.sortBy(_._4)
      assert(sorted.head._4 === 1L)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b._4 === a._4 + a._5)
        case _           => ()
      }
    }
    // and packBoundaries composes unchanged over the counts layout
    val cu = Corpus.packBoundaries(
        Corpus.packSequencesCounts(code, "id", "n_tok", seqLen = 8), "id")
      .as[(Long, Int, Long, Long, Long, Boolean, Boolean, Int)]
      .collect().sortBy(t => (t._1, t._2)).toSeq
    cu.groupBy(_._1).values.foreach { pieces =>
      val s = pieces.sortBy(_._2)
      assert(s.head._4 === 0L)
      s.sliding(2).foreach {
        case Seq(a, b) => assert(b._4 === a._5)
        case _ => ()
      }
    }
    // doc 1 (18 tokens over 3 seqs): opens as a doc start, closes as
    // a doc end, middles are neither
    val doc1 = cu.filter(_._3 == 1L).sortBy(_._1)
    assert(doc1.head._6 && !doc1.head._7)
    assert(doc1.last._7 && !doc1.last._6)
  }

  test("packSequences rejects a non-integral id column") {
    val d = Seq(("10", "a b"), ("9", "c d")).toDF("id", "text")
    val e = intercept[IllegalArgumentException] {
      Corpus.packSequences(d, "id", "text", seqLen = 4)
    }
    assert(e.getMessage.contains("integral id column"))
  }

  test("assignSplits: rejects percents that do not sum to 100") {
    intercept[IllegalArgumentException] {
      Corpus.assignSplits(spark.range(1).toDF("k"), "k",
        Seq("train" -> 80, "val" -> 10))
    }
  }

  test("rareTokenStats: positions counted, rarity by doc frequency") {
    val d = Seq(
      (1L, "common common rare1"), // common df=3, rare1 df=1
      (2L, "common rare2"),
      (3L, "common")).toDF("id", "text")
    val out = Corpus.rareTokenStats(d, "id", "text", dfMax = 1)
      .orderBy($"id")
      .as[(Long, Long, Long, Double, Long)].collect()
    assert(out === Array(
      (1L, 3L, 1L, 1.0 / 3.0, 1L), // 3 positions, rare1 rare, min_df 1
      (2L, 2L, 1L, 0.5, 1L),
      (3L, 1L, 0L, 0.0, 3L)))
  }

  test("importanceFilter: target-only doc kept, off-target doc dropped") {
    // "alpha" and "bravo" hash to distinct buckets (35 and 30 of 64).
    // Target = doc 1. bucket(alpha): n_tgt=2 n_raw=2; totals 4/2 →
    // w_alpha = (2*4*1e6)/(2*2) = 2e6; w_bravo = 0.
    val d = Seq((1L, "alpha alpha", true), (2L, "bravo bravo", false))
      .toDF("id", "text", "tgt")
    val out = Corpus.importanceFilter(d, "id", "text", $"tgt")
      .orderBy($"id")
      .as[(Long, Long, Long, Boolean)].collect()
    assert(out === Array(
      (1L, 2L, 4000000L, true), // 2 tokens x w=2e6 > 2e6 → kept
      (2L, 2L, 0L, false)))
  }

  test("importanceFilter: empty target keeps nothing, never divides by 0") {
    val d = Seq((1L, "alpha bravo")).toDF("id", "text")
    val out = Corpus.importanceFilter(d, "id", "text", lit(false))
      .as[(Long, Long, Long, Boolean)].collect()
    assert(out === Array((1L, 2L, 0L, false)))
  }

  test("bpeTrain: learns the classic low/lower/newest merges in order") {
    // vocab: low×3, lower×2, newest×1
    // r1 pairs: (l,o)=5 ties (o,w)=5 → lex picks (l,o)   → "lo"
    // r2: (lo,w)=5                                        → "low"
    // r3: (low,e)=2 ties (e,r)=2 → lex picks (e,r)        → "er"
    // r4: (low,er)=2                                      → "lower"
    val d = Seq("low low low", "lower lower", "newest").toDF("text")
    val out = Corpus.bpeTrain(d, "text", merges = 4)
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1)
    assert(out === Array(
      (1, "l", "o", "lo", 5L),
      (2, "lo", "w", "low", 5L),
      (3, "e", "r", "er", 2L),
      (4, "low", "er", "lower", 2L)))
  }

  test("bpeTrain: merges leftmost-non-overlapping and stops when dry") {
    // "aaa": r1 (a,a)=4 (two positions x two words), merge → [aa, a]
    // r2 (aa,a)=2 → "aaa"; r3 has no pairs left → early stop
    val d = Seq("aaa aaa").toDF("text")
    val out = Corpus.bpeTrain(d, "text", merges = 5)
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1)
    assert(out === Array(
      (1, "a", "a", "aa", 4L),
      (2, "aa", "a", "aaa", 2L)))
  }

  test("bpeEncode: compression under the learned merges, per document") {
    val d = Seq((1L, "low low low"), (2L, "lower lower"),
      (3L, "newest")).toDF("id", "text")
    val mt = Corpus.bpeTrain(d, "text", merges = 4) // lo, low, er, lower
    val out = Corpus.bpeEncode(d, "id", "text", mt)
      .orderBy($"id").as[(Long, Long, Long, Long)].collect()
    assert(out === Array(
      (1L, 9L, 3L, 333333L),   // 3x"low" → one symbol each
      (2L, 10L, 2L, 200000L),  // 2x"lower" → one symbol each
      (3L, 6L, 6L, 1000000L))) // no merge applies to "newest"
  }

  test("temperatureMix: α=0.5 shares flatten the source distribution") {
    // s1: 9 tokens, s2: 16 → sqrt 3 / 4 → q 3000 / 4000 (tot 7000)
    val d = Seq(
      ("s1", Seq.fill(9)("t").mkString(" ")),
      ("s2", Seq.fill(16)("t").mkString(" "))).toDF("source", "text")
    val out = Corpus.temperatureMix(d, "source", "text")
      .orderBy($"source")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(out === Array(
      // cur = n*1e6/25; tgt = q*1e6/7000; boost = tgt*1e6/cur
      ("s1", 9L, 360000L, 428571L, 1190475L),
      ("s2", 16L, 640000L, 571428L, 892856L)))
    // temperature pulls shares toward uniform, preserving order
    assert(out(0)._4 > out(0)._3 && out(1)._4 < out(1)._3)
  }

  test("shardAssign: per-shard positions and exclusive token offsets") {
    val d = (1L to 40L).map(i => (i, i * 10)).toDF("id", "n_toks")
    val out = Corpus.shardAssign(d, "id", "n_toks", shards = 4)
      .select($"id", $"n_toks", $"shard", $"pos", $"tok_offset")
      .as[(Long, Long, Long, Int, Long)].collect()
    assert(out.length === 40)
    assert(out.map(_._3).distinct.sorted.forall(s => s >= 0 && s < 4))
    out.groupBy(_._3).foreach { case (_, rows) =>
      val inOrder = rows.sortBy(_._4)
      // positions are 1..n dense within the shard
      assert(inOrder.map(_._4).toSeq === (1 to rows.length))
      // offset = running sum of the PRECEDING docs' token counts
      assert(inOrder.head._5 === 0L)
      inOrder.sliding(2).foreach { w =>
        if (w.length == 2) assert(w(1)._5 === w(0)._5 + w(0)._2)
      }
    }
    // determinism: a second run yields the identical layout
    val again = Corpus.shardAssign(d, "id", "n_toks", shards = 4)
      .select($"id", $"n_toks", $"shard", $"pos", $"tok_offset")
      .as[(Long, Long, Long, Int, Long)].collect()
    assert(out.sortBy(_._1).toSeq === again.sortBy(_._1).toSeq)
  }

  test("ngramNovelty: unique docs score 1e6 ppm, copies zero, mixes exact") {
    val d = Seq(
      (1L, "alpha beta gamma delta"),   // all 2 trigrams unique -> 1e6
      (2L, "one two three four five"),  // shares all grams with doc 3
      (3L, "one two three four five"),
      (4L, "one two three zulu yankee"),// "one two three" shared -> 2/3
      (5L, "too short")                 // < 3 tokens: no grams, omitted
    ).toDF("doc_id", "text")
    val got = Corpus.ngramNovelty(d, "doc_id", "text", 3)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(!got.contains(5L))
    assert(got(1L) == ((1L, 2L, 2L, 1000000L)))
    assert(got(2L)._4 == 0L && got(3L)._4 == 0L)
    assert(got(4L) == ((4L, 3L, 2L, 666666L))) // 2 of 3 novel, floor ppm
  }

  test("sampleWeighted: weight-proportional, prefix-stable, deterministic") {
    // 500 heavy (w=20) + 500 light (w=1): heavy mass is 20/21 of the
    // total, so a k=300 draw should be overwhelmingly heavy
    val d = ((0 until 500).map(i => (i.toLong, 20L)) ++
      (500 until 1000).map(i => (i.toLong, 1L))).toDF("id", "w")
    val k300 = Corpus.sampleWeighted(d, "id", "w", 300)
      .select("id").as[Long].collect().toSet
    assert(k300.size == 300)
    val heavy = k300.count(_ < 500)
    assert(heavy > 250, s"heavy=$heavy of 300 (mass share 95%)")
    // prefix property: the 300-draw is contained in the 400-draw
    val k400 = Corpus.sampleWeighted(d, "id", "w", 400)
      .select("id").as[Long].collect().toSet
    assert(k300.subsetOf(k400))
    // partition invariance
    val repart = Corpus.sampleWeighted(d.repartition(16), "id", "w", 300)
      .select("id").as[Long].collect().toSet
    assert(repart === k300)
  }

  test("sampleWeighted: zero/null weights carry no mass; k >= n keeps all") {
    val d = Seq[(Long, java.lang.Long)]((1L, 5L), (2L, 0L), (3L, 5L),
      (4L, null)).toDF("id", "w")
    val got = Corpus.sampleWeighted(d, "id", "w", 10)
      .select("id").as[Long].collect().toSet
    assert(got === Set(1L, 3L))
  }

  test("epochShuffle: reproducible, epochs permute independently") {
    val d = (0L until 100L).toDF("id")
    def run(p: Int) = Corpus.epochShuffle(d.repartition(p), "id",
        epochs = 2, shards = 4)
      .select("id", "epoch", "shard", "pos")
      .as[(Long, Int, Int, Int)].collect().sortBy(t => (t._2, t._3, t._4))
      .toSeq
    val a = run(1)
    assert(a === run(16)) // deterministic under partitioning
    // every (doc, epoch) appears exactly once
    assert(a.size === 200 && a.map(t => (t._1, t._2)).toSet.size === 200)
    // epoch orders differ: the doc sequence of epoch 0 != epoch 1
    val order0 = a.filter(_._2 === 0).sortBy(t => (t._3, t._4)).map(_._1)
    val order1 = a.filter(_._2 === 1).sortBy(t => (t._3, t._4)).map(_._1)
    assert(order0 !== order1)
    // positions are dense from 1 within each (epoch, shard)
    a.groupBy(t => (t._2, t._3)).values.foreach { g =>
      assert(g.map(_._4).sorted === (1 to g.size).toSeq)
    }
  }

  test("contaminationReport pairs docs with leaked eval items") {
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely different content with no overlap at all here"),
      (3L, "quick brown fox jumps over the lazy dog again")
    ).toDF("doc_id", "text")
    val eval = Seq(
      (100L, "quick brown fox jumps over the lazy dog"),
      (200L, "nothing shared with anything in the training corpus")
    ).toDF("eval_id", "text")
    val got = Corpus.contaminationReport(train, eval, "doc_id",
        "eval_id", "text", n = 5, maxGramDocFreq = 1000)
      .select("doc_id", "eval_id", "n_shared", "eval_n_grams")
      .as[(Long, Long, Long, Long)].collect().toSet
    // eval 100 has 4 distinct 5-grams; docs 1 and 3 contain them
    assert(got.map(t => (t._1, t._2)) === Set((1L, 100L), (3L, 100L)))
    assert(got.forall(_._4 === 4L))
    assert(got.forall(t => t._3 >= 3L && t._3 <= 4L))
  }

  test("contaminationReport stopgram guard drops over-frequent grams") {
    // the same gram in every train doc: with the guard at 2 the gram
    // is a stopgram and no pair survives
    val train = (0L until 5L)
      .map(i => (i, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val eval = Seq((9L, "alpha beta gamma delta epsilon"))
      .toDF("eval_id", "text")
    val guarded = Corpus.contaminationReport(train, eval, "doc_id",
      "eval_id", "text", n = 5, maxGramDocFreq = 2)
    assert(guarded.count() === 0)
    val open = Corpus.contaminationReport(train, eval, "doc_id",
      "eval_id", "text", n = 5, maxGramDocFreq = 5)
    assert(open.count() === 5)
  }
}
