package graft.operators

import graft.SparkSpec
import graft.functions.TextFns
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  /** Declarative reference for [[Dedup.minhashSigs]]: explode the
    * distinct shingles → hash once → k min-aggregates in one hash-agg.
    */
  private def minhashSigsAgg(docs: DataFrame, idCol: String,
                             textCol: String, n: Int, k: Int): DataFrame = {
    val P = 2147483647L
    val hashed = docs.select(col(idCol).as("did"),
        explode(graft.expressions.WordShingles(
          TextFns.toks(col(textCol)), n)).as("sh"))
      .select(col("did"), TextFns.hash32(col("sh")).as("m"))
    val minAggs = (0 until k).map(j =>
      min((lit(2L * j + 1) * col("m") + lit(40503L * (j + 1))) % P)
        .as(s"mh$j"))
    hashed.groupBy("did")
      .agg(minAggs.head, minAggs.tail: _*)
      .select(col("did"),
        array((0 until k).map(j => col(s"mh$j")): _*).as("sig"))
  }

  /** Declarative reference for [[Dedup.simhash64Sigs]]: explode →
    * xxhash64 once → 64 conditional sums in one hash-agg.
    */
  private def simhash64SigsAgg(docs: DataFrame, idCol: String,
                               textCol: String): DataFrame = {
    val hashed = docs.select(col(idCol).as("did"),
        explode(TextFns.toks(col(textCol))).as("t"))
      .select(col("did"), xxhash64(col("t")).as("m"))
    // bitwiseAND, not shiftright+mod: m is signed and bit 63 matters
    val bitAggs = (0 until 64).map(b =>
      sum(when(col("m").bitwiseAND(lit(1L << b)) =!= 0, 1L)
        .otherwise(-1L)).as(s"b$b"))
    hashed.groupBy("did")
      .agg(bitAggs.head, bitAggs.tail: _*)
      .select(col("did"),
        (0 until 64).map(b =>
          when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("sig"))
  }

  // 1↔2 exact dup (mod case/space), 3≈4 near-dup (one token edited),
  // 5 unrelated.
  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "The quick  brown fox jumps over the LAZY dog"),
    (3L, "pack my box with five dozen liquor jugs tonight friend"),
    (4L, "pack my box with five dozen liquor jugs tonight buddy"),
    (5L, "sphinx of black quartz judge my vow again and again")
  ).toDF("doc_id", "text")

  test("exact: case/whitespace-normalized duplicates group together") {
    val groups = Dedup.exact(docs, "doc_id", "text")
      .as[(String, Long, Long)].collect()
    assert(groups.length == 4) // 1+2 merged
    val dupGroup = groups.filter(_._3 == 2L)
    assert(dupGroup.length == 1 && dupGroup.head._2 == 1L) // canonical=min
  }

  test("exactSurvivors: min-id row per content group, payload intact") {
    val withExtra = docs.withColumn("extra",
      concat(lit("x"), col("doc_id")))
    val got = Dedup.exactSurvivors(withExtra, "doc_id", "text")
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    // identical to "exact() then keep canonical ids" — one shuffle form
    val canonIds = Dedup.exact(withExtra, "doc_id", "text")
      .select(col("canonical_id")).as[Long].collect().toSet
    assert(got.map(_._1).toSet == canonIds)
    assert(got.map(_._1) == Seq(1L, 3L, 4L, 5L)) // 2 deduped into 1
    // the surviving row carries ITS OWN payload, not a mixed one
    got.foreach { case (id, _, extra) => assert(extra == s"x$id") }
  }

  test("jaccardPairs finds near-dups through the shingle index") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .as[(Long, Long, Double)].collect().toSeq
    val ids = pairs.map(p => (p._1, p._2)).toSet
    assert(ids.contains((3L, 4L)))
    assert(ids.contains((1L, 2L)))   // identical after lowering = 1.0
    assert(!ids.exists(p => p._1 == 5L || p._2 == 5L))
    val j34 = pairs.find(p => (p._1, p._2) == (3L, 4L)).get._3
    assert(j34 == 7.0 / 9.0) // 7 shared of (8+8-7) distinct shingles
  }

  test("maxShingleFreq drops hot shingles from the index (skew guard)") {
    // every doc shares the hot 3-gram "x y z"; without the guard all
    // pairs become candidates through it
    val hot = Seq(
      (1L, "x y z alpha beta gamma"),
      (2L, "x y z delta epsilon zeta"),
      (3L, "x y z eta theta iota")
    ).toDF("doc_id", "text")
    val unguarded = Dedup.jaccardPairs(hot, "doc_id", "text", 3, 0.01)
    val guarded = Dedup.jaccardPairs(hot, "doc_id", "text", 3, 0.01,
      maxShingleFreq = 2)
    assert(unguarded.count() == 3) // all 3 pairs meet via "x y z"
    assert(guarded.count() == 0)   // hot shingle removed → no candidates
  }

  test("jaccardPairs is partition-invariant") {
    val base = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .collect().toSet
    val repart = Dedup.jaccardPairs(docs.repartition(7), "doc_id", "text",
      3, 0.5).collect().toSet
    assert(base == repart)
  }

  test("minhashLshPairs surfaces the same high-sim pairs") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        n = 3, k = 24, bands = 6, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    val ids = pairs.map(p => (p._1, p._2)).toSet
    assert(ids.contains((1L, 2L)))
    assert(ids.contains((3L, 4L)))
    val est12 = pairs.find(p => (p._1, p._2) == (1L, 2L)).get._3
    assert(est12 == 1.0) // identical shingle sets → identical signatures
  }

  test("incrementalMinhashPairs: batch vs index yields cross pairs only") {
    // "old" corpus holds 2,3,4 (3↔4 near-dup INSIDE it); batch is 1,5
    val old = docs.filter(col("doc_id").isin(2L, 3L, 4L))
    val batch = docs.filter(col("doc_id").isin(1L, 5L))
    val index = Dedup.minhashIndex(old, "doc_id", "text",
      n = 3, k = 24, bands = 6)
    val got = Dedup.incrementalMinhashPairs(batch, "doc_id", "text",
        index, n = 3, k = 24, bands = 6, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSeq
    // the one cross pair is the 1↔2 exact dup; the old×old 3↔4 pair
    // must NOT be re-reported, nor anything for unrelated 5
    assert(got.map(p => (p._1, p._2)) == Seq((1L, 2L)))
    // estimate identical to the in-corpus path over the full corpus
    val full = Dedup.minhashLshPairs(docs, "doc_id", "text",
        n = 3, k = 24, bands = 6, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
      .find(p => (p._1, p._2) == (1L, 2L)).get
    assert(got.head._3 == full._3)
  }

  test("clusters: chains collapse to min-id components; singletons kept") {
    val nodes = (1L to 7L).map(Tuple1(_)).toDF("doc_id")
    // chain 1-2-3 (transitive through 2), pair 5-6, singletons 4,7
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val got = Dedup.clusters(nodes, "doc_id", pairs)
      .select("doc_id", "cluster_id")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L))
    // canonical filter = deduplicated corpus
    val kept = got.filter { case (id, c) => id == c }.keySet
    assert(kept == Set(1L, 4L, 5L, 7L))
  }

  test("clusters ignores pair ids absent from docs (stale pair sets)") {
    val nodes = Seq(10L, 11L).map(Tuple1(_)).toDF("doc_id")
    // id 5 is not in docs (pairs computed before an upstream filter):
    // it must neither label doc 10's cluster nor link 10 and 11
    val stale = Seq((5L, 10L), (5L, 11L)).toDF("id_a", "id_b")
    val got = Dedup.clusters(nodes, "doc_id", stale)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(10L -> 10L, 11L -> 11L))
    // the documented canonical filter keeps every doc
    assert(got.count { case (id, c) => id == c } == 2)
  }

  test("editDistancePairs: LSH candidates verified at character level") {
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta thet"), // 1 deletion
      (3L, "totally unrelated words nothing shared here at all")
    ).toDF("doc_id", "text")
    val got = Dedup.editDistancePairs(d, "doc_id", "text",
        n = 3, k = 24, bands = 6, threshold = 0.3, minNormSim = 0.9)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got.map(p => (p._1, p._2)) == Seq((1L, 2L)))
    assert(got.head._3 == 1L) // exactly one character edit
    val maxLen = "alpha beta gamma delta epsilon zeta eta theta".length
    assert(got.head._4 == 1.0 - 1.0 / maxLen)
  }

  test("editDistancePairs: minNormSim filters candidate pairs") {
    // near in shingle space but many character edits: threshold passes
    // LSH, the verify step drops it at a strict minNormSim
    val d = Seq(
      (1L, "one two three four five six seven eight nine ten"),
      (2L, "one two three four five six seven eight nine TEN EXTRA TAIL")
    ).toDF("doc_id", "text")
    val loose = Dedup.editDistancePairs(d, "doc_id", "text",
      n = 3, k = 24, bands = 6, threshold = 0.3, minNormSim = 0.0)
    val strict = Dedup.editDistancePairs(d, "doc_id", "text",
      n = 3, k = 24, bands = 6, threshold = 0.3, minNormSim = 0.95)
    assert(loose.count() == 1 && strict.count() == 0)
  }

  test("clusters: driver union-find path matches the distributed loop") {
    // deterministic random-ish graph: 60 nodes, 45 edges incl. chains,
    // cliques, self-pairs and a stale endpoint (99 not in docs)
    val nodes = (1L to 60L).map(Tuple1(_)).toDF("doc_id")
    val rnd = new scala.util.Random(7)
    val edges = Seq((99L, 3L), (7L, 7L)) ++
      (1 to 43).map(_ => (rnd.nextInt(60) + 1L, rnd.nextInt(60) + 1L))
    val pairs = edges.toDF("id_a", "id_b")
    val fast = Dedup.clusters(nodes, "doc_id", pairs)
      .as[(Long, Long)].collect().toMap
    val loop = Dedup.clusters(nodes, "doc_id", pairs,
        maxDriverPairs = -1L) // force the distributed propagation path
      .as[(Long, Long)].collect().toMap
    assert(fast == loop)
    assert(fast.size == 60)
    // stale endpoint 99 must not appear as any cluster label
    assert(!fast.values.exists(_ == 99L))
  }

  test("clusters distributed path ignores stale pair ids too") {
    val nodes = Seq(10L, 11L).map(Tuple1(_)).toDF("doc_id")
    val stale = Seq((5L, 10L), (5L, 11L)).toDF("id_a", "id_b")
    val got = Dedup.clusters(nodes, "doc_id", stale, maxDriverPairs = -1L)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(10L -> 10L, 11L -> 11L))
  }

  test("clusters resolves the real corpus's minhash pairs") {
    val docs = graft.tables.Tables.documents(spark, sf0001)
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      n = 3, k = 24, bands = 6, threshold = 0.5)
    val cl = Dedup.clusters(docs, "doc_id", pairs)
    val total = cl.count()
    val canonical = cl.filter($"doc_id" === $"cluster_id").count()
    assert(total == 500)
    assert(canonical < total)           // some dups removed
    assert(canonical > total / 2)       // but not everything collapsed
  }

  test("minhash estimate tracks true jaccard on the real corpus") {
    val docs = graft.tables.Tables.documents(spark, sf0001)
    val est = Dedup.minhashLshPairs(docs, "doc_id", "text",
        n = 3, k = 24, bands = 6, threshold = 0.3)
      .as[(Long, Long, Double)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    val truth = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.0)
      .as[(Long, Long, Double)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    val errs = est.toSeq.map { case (pair, e) =>
      math.abs(e - truth.getOrElse(pair, 0.0))
    }
    assert(est.nonEmpty)
    val mae = errs.sum / errs.size
    assert(mae < 0.15, s"mean abs error $mae over ${errs.size} pairs")
  }

  test("WordShingles matches array_distinct(TextFns.shingles) as a set") {
    val corpus = graft.tables.Tables.documents(spark,
        "/root/testdata/sf0.001")
      .select($"doc_id", $"text")
      .union(Seq((9001L, "a b"), (9002L, "x y z x y z")).toDF(
        "doc_id", "text")) // shorter-than-n + repeated-window docs
    val expr = corpus.select($"doc_id",
        graft.expressions.WordShingles(TextFns.toks($"text"), 3).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    val decl = corpus.select($"doc_id",
        array_distinct(TextFns.shingles($"text", 3)).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    assert(decl.nonEmpty && decl.keySet == expr.keySet)
    decl.foreach { case (id, sh) =>
      assert(expr(id).toSet == sh.toSet, s"doc $id")
      assert(expr(id).length == expr(id).toSet.size) // distinct
    }
  }

  test("SigAgreeCount matches size(filter(zip_with(===))) exactly") {
    val rows = Seq(
      (Seq(1L, 2L, 3L), Seq(1L, 9L, 3L)),   // partial agreement
      (Seq(1L, 2L), Seq(1L, 2L)),            // full agreement
      (Seq.empty[Long], Seq.empty[Long]),    // empty
      (Seq(1L, 2L, 3L), Seq(1L, 2L)),        // length mismatch: overhang
      (Seq(7L), Seq(8L))                      // no agreement
    ).toDF("a", "b")
    val got = rows.select(
        graft.expressions.SigAgreeCount($"a", $"b").as("fast"),
        size(filter(zip_with($"a", $"b", (x, y) => x === y),
          p => p)).as("slow"))
      .as[(Int, Int)].collect()
    got.foreach { case (fast, slow) => assert(fast == slow) }
  }

  test("MinHashSig expression is bit-identical to the aggregate form") {
    val corpus = graft.tables.Tables.documents(spark,
        "/root/testdata/sf0.001")
      .select($"doc_id", $"text")
      .union(Seq((9001L, "one two three"), (9002L, "x"),
        (9003L, null)).toDF(
        "doc_id", "text")) // 9002/9003: sub-n tokens + null → dropped
    val expr = Dedup.minhashSigs(corpus, "doc_id", "text", n = 3, k = 8)
      .as[(Long, Seq[Long])].collect().toMap
    val agg = minhashSigsAgg(corpus, "doc_id", "text", n = 3, k = 8)
      .as[(Long, Seq[Long])].collect().toMap
    assert(agg.nonEmpty)
    assert(expr.keySet == agg.keySet) // same doc-dropping semantics
    agg.foreach { case (id, sig) => assert(expr(id) == sig, s"doc $id") }
  }

  test("SimHash64 expression is bit-identical to the aggregate form") {
    // the shuffle-free codegen path vs the explode+64-sum-aggs
    // declarative reference, over real corpus text incl. edge docs —
    // including a NULL-text doc, which both paths must DROP
    val corpus = graft.tables.Tables.documents(spark,
        "/root/testdata/sf0.001")
      .select($"doc_id", $"text")
      .union(Seq((9001L, "one"), (9002L, "a a a b"),
        (9003L, ""), (9004L, null)).toDF("doc_id", "text"))
    val expr = Dedup.simhash64Sigs(corpus, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    val agg = simhash64SigsAgg(corpus, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(agg.nonEmpty)
    assert(expr.keySet == agg.keySet) // same doc-dropping semantics
    agg.foreach { case (id, sig) =>
      assert(expr(id) == sig, s"doc $id: expr=${expr(id)} agg=$sig")
    }
  }

  test("simhashPairs64 banding finds exactly the brute-force pairs") {
    // property-style: a seeded corpus of perturbed near-duplicates;
    // ground truth = all-pairs Hamming over the signatures themselves,
    // so the assertion isolates the BANDING (pigeonhole completeness
    // for radius ≤ 7 over 8 bands), not the hash quality
    val rnd = new scala.util.Random(42)
    val vocab = (0 until 300).map(i => s"w$i")
    val docs = (for {
      cluster <- 0 until 12
      base = Array.fill(25)(vocab(rnd.nextInt(vocab.size)))
      variant <- 0 until 3
    } yield {
      val toks = base.clone()
      (0 until variant).foreach { _ =>
        toks(rnd.nextInt(toks.length)) = vocab(rnd.nextInt(vocab.size))
      }
      (cluster * 3L + variant, toks.mkString(" "))
    }).toSeq
    val df = docs.toDF("doc_id", "text")
    val sigs = Dedup.simhash64Sigs(df, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    val ids = docs.map(_._1)
    val expected = (for {
      a <- ids; b <- ids if a < b
      h = java.lang.Long.bitCount(sigs(a) ^ sigs(b)) if h <= 7
    } yield (a, b, h)).toSet
    val got = Dedup.simhashPairs64(df, "doc_id", "text", 7)
      .as[(Long, Long, Int)].collect().toSet
    assert(expected.nonEmpty)   // fixture genuinely exercises the radius
    assert(got == expected)     // complete AND no false extras

    // the md5-prefix twin runs the SAME banding plan over different
    // signatures — same completeness property, and the signatures
    // must genuinely differ from xxhash64's (different hash family)
    val md5Sigs = Dedup.simhash64Md5Sigs(df, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(md5Sigs.keySet == sigs.keySet)
    assert(md5Sigs.exists { case (id, s) => sigs(id) != s })
    val md5Expected = (for {
      a <- ids; b <- ids if a < b
      h = java.lang.Long.bitCount(md5Sigs(a) ^ md5Sigs(b)) if h <= 7
    } yield (a, b, h)).toSet
    val md5Got = Dedup.simhashPairs64Md5(df, "doc_id", "text", 7)
      .as[(Long, Long, Int)].collect().toSet
    assert(md5Expected.nonEmpty)
    assert(md5Got == md5Expected)
  }

  test("SimHashMd5 at 64 bits uses the wide md5 prefix (hi half live)") {
    // with the 32-bit prefix, bits 32..63 would always be zero; the
    // 64-bit form must populate the high half for some real docs
    val corpus = graft.tables.Tables.documents(spark, sf0001)
    val sigs = Dedup.simhash64Md5Sigs(corpus, "doc_id", "text")
      .as[(Long, Long)].collect()
    assert(sigs.nonEmpty)
    assert(sigs.exists { case (_, s) => (s >>> 32) != 0L })
  }

  test("embeddingPairs: OR-amplification raises recall, no duplicates") {
    val embs = graft.tables.Tables.embeddings(spark, sf0001)
    def run(tables: Int) = Dedup.embeddingPairs(embs, "vec_id",
        "embedding", threshold = 0.3, planes = 6, tables = tables)
      .as[(Long, Long, Double)].collect()
    val one = run(1).map(p => (p._1, p._2)).toSet
    val fourRows = run(4)
    val four = fourRows.map(p => (p._1, p._2)).toSet
    assert(one.subsetOf(four))      // OR-amplification only adds pairs
    assert(four.size > one.size)    // and does add some on this corpus
    assert(fourRows.length == four.size) // deduped across tables
  }

  test("embeddingPairs: only same-bucket pairs, cosine thresholded") {
    val embs = Seq(
      (1L, Seq(1.0f, 0.2f, 0.1f, 0.0f)),
      (2L, Seq(1.0f, 0.21f, 0.1f, 0.0f)),  // ≈ v1
      (3L, Seq(-1.0f, 0.0f, 0.3f, 0.9f))   // far away
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingPairs(embs, "vec_id", "embedding",
        threshold = 0.99, planes = 4)
      .as[(Long, Long, Double)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
    assert(pairs.head._3 > 0.999)
  }

  test("containmentPairs: embedded doc scores 1.0 where jaccard is small") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"), // long doc
      (2L, "a b c d"),             // fully embedded prefix
      (3L, "x y z w")              // unrelated
    ).toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs, "doc_id", "text",
        n = 2, threshold = 0.9)
      .as[(Long, Long, Long, Long, Long, Double, Double)].collect()
    // doc2's 3 bigrams all inside doc1's 9 → cont_b = 1.0, but
    // jaccard = 3/9 would miss at any threshold ≥ 0.5
    assert(out.map(r => (r._1, r._2)).toSeq === Seq((1L, 2L)))
    val p = out.head
    assert(p._3 === 3L && p._4 === 9L && p._5 === 3L)
    assert(p._7 === 1.0 && math.abs(p._6 - 3.0 / 9.0) < 1e-15)
    assert(Dedup.jaccardPairs(docs, "doc_id", "text", 2, 0.5).isEmpty)
  }

  test("selectCanonical: best score wins, ties to lowest id") {
    val clustered = Seq(
      (1L, 10L, 0.3), (2L, 10L, 0.9), (3L, 10L, 0.9), // tie at 0.9
      (7L, 70L, 0.1)                                  // singleton
    ).toDF("doc_id", "cluster_id", "quality")
    val out = Dedup.selectCanonical(clustered, "doc_id", "quality")
      .orderBy($"doc_id")
      .as[(Long, Long, Long, Boolean)].collect()
    assert(out === Array(
      (1L, 10L, 2L, false),
      (2L, 10L, 2L, true), // 0.9 tie broken to the LOWER id
      (3L, 10L, 2L, false),
      (7L, 70L, 7L, true)))
  }

  test("semanticPrune: reps always kept, near-rep members dropped") {
    val embs = Seq(
      (1L, Seq(1.0f, 0.2f, 0.1f, 0.0f)),
      (2L, Seq(1.0f, 0.21f, 0.1f, 0.0f)), // ≈ v1 → same cell, dropped
      (3L, Seq(-1.0f, 0.0f, 0.3f, 0.9f))  // far → own cell, kept
    ).toDF("vec_id", "embedding")
    val out = Dedup.semanticPrune(embs, "vec_id", "embedding",
        planes = 4, tau = 0.99)
      .orderBy($"vec_id")
      .as[(Long, Long, Long, Double, Boolean)].collect()
    val byId = out.map(r => r._1 -> r).toMap
    assert(out.length === 3)             // every vector scored
    assert(byId(1L)._3 === 1L && byId(1L)._5)  // rep of its cell, kept
    assert(!byId(2L)._5)                 // cos>tau to rep 1 → dropped
    assert(byId(3L)._5)                  // own cell rep → kept
    // reps score 1.0 against themselves (up to fp), members their cos
    assert(math.abs(byId(1L)._4 - 1.0) < 1e-12)
  }

  test("semanticPrune: raising tau to 1+ keeps everything") {
    val embs = graft.tables.Tables.embeddings(spark, sf0001)
    val out = Dedup.semanticPrune(embs, "vec_id", "embedding",
      planes = 6, tau = 1.5)
    assert(out.filter(!$"kept").count() === 0)
    assert(out.count() === embs.count())
  }

  test("sourceOverlap: shared normalized contents per source pair") {
    val d = Seq(
      ("s1", "Doc X"), ("s2", "  doc   x "), // same normalized content
      ("s1", "doc y"), ("s3", "doc y"),
      ("s1", "doc y"),                       // dup row — distinct collapses
      ("s1", "only here")
    ).toDF("src", "text")
    val out = Dedup.sourceOverlap(d, "text", "src")
      .orderBy($"src_a", $"src_b")
      .as[(String, String, Long)].collect()
    assert(out === Array(("s1", "s2", 1L), ("s1", "s3", 1L)))
  }

  test("sourceOverlap: the everywhere-blob is capped out of the join") {
    val blob = (1 to 3).map(i => (s"s$i", "same everywhere"))
    val pair = Seq(("s1", "shared"), ("s2", "shared"))
    val out = Dedup.sourceOverlap((blob ++ pair).toDF("src", "text"),
        "text", "src", maxSourcesPerHash = 2)
      .as[(String, String, Long)].collect()
    // the 3-source blob exceeds the cap; only the 2-source pair counts
    assert(out === Array(("s1", "s2", 1L)))
  }

  test("dropContained: subsets drop into their fullest absorber, " +
      "equal sets keep the smaller id, chains are non-transitive") {
    val d = Seq(
      (1L, "w1 w2 w3 w4"),                   // ⊂ 2 and ⊂ 6
      (2L, "w1 w2 w3 w4 w5 w6"),             // ⊂ 6
      (6L, "w1 w2 w3 w4 w5 w6 w7 w8"),       // chain top: kept
      (3L, "u1 u2 u3 u4"),                   // = 4 (mutual): kept
      (4L, "u1 u2 u3 u4"),                   // absorbed by 3 (min id)
      (5L, "z1 z2 z3 z4 z5"))                // unrelated: kept
      .toDF("id", "text")
    val got = Dedup.dropContained(d, "id", "text", n = 3,
        threshold = 0.6)
      .as[(Long, Boolean, Long)].collect().sortBy(_._1).toSeq
    assert(got === Seq(
      (1L, false, 6L), // best absorber = biggest at equal containment
      (2L, false, 6L),
      (3L, true, -1L),
      (4L, false, 3L),
      (5L, true, -1L),
      (6L, true, -1L)))
  }

  test("dedupParagraphs: first (doc, position) keeps each paragraph, " +
      "later copies are cut, docs reassemble in order") {
    val d = Seq(
      (1L, "alpha one\n\nshared footer\n\nbeta two"),
      (2L, "SHARED   footer\n\ngamma three"), // normText-equal copy
      (3L, "shared footer"),                  // nothing left
      (4L, " \n\n  "))                        // only blanks: no row
      .toDF("id", "text")
    val got = Dedup.dedupParagraphs(d, "id", "text")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) === ((3L, 3L, "alpha one\n\nshared footer\n\nbeta two")))
    assert(got(2L) === ((2L, 1L, "gamma three")))
    assert(got(3L) === ((1L, 0L, "")))
    assert(!got.contains(4L))
    // a repeat INSIDE one doc also dedups (position order wins)
    val e = Seq((7L, "p\n\nq\n\np")).toDF("id", "text")
    val one = Dedup.dedupParagraphs(e, "id", "text")
      .as[(Long, Long, Long, String)].head()
    assert(one === ((7L, 3L, 2L, "p\n\nq")))
  }

  test("clusterSplits: near-duplicate pairs never straddle a split; " +
      "membership keys only on cluster_id") {
    val docs = (0L until 40L).map(i => (i, s"text $i")).toDF("id", "text")
    val pairs = (0L until 20L).map(i => (2 * i, 2 * i + 1))
      .toDF("id_a", "id_b")
    val got = Dedup.clusterSplits(docs, "id", pairs,
        Seq("train" -> 80, "val" -> 10, "test" -> 10))
      .select("id", "cluster_id", "split")
      .as[(Long, Long, String)].collect()
    // one split per cluster, by construction of the cluster-id hash
    got.groupBy(_._2).values.foreach { members =>
      assert(members.map(_._3).distinct.size === 1,
        s"cluster ${members.head._2} straddles: $members")
    }
    // the paired docs share clusters AND splits
    val byId = got.map(r => r._1 -> ((r._2, r._3))).toMap
    (0L until 20L).foreach { i =>
      assert(byId(2 * i) === byId(2 * i + 1))
    }
  }
}
