package graft.props

import graft.SparkSpec
import graft.functions.Cols
import graft.operators.Dedup
import graft.streaming.DauPipeline
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}

/** Property-based invariants (SURVEY §5.3): dedup idempotency,
  * partition invariance, age-derivation equivalence with
  * java.time.Period, match-AND monotonicity. Each property evaluates a
  * whole generated batch in one Spark job to keep runtime sane.
  */
object EngineProps extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  private val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps",
    "zeta", "eta", "theta", "iota", "kappa")
  private val doc = Gen.chooseNum(3, 12)
    .flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
  private val docs = Gen.chooseNum(2, 12).flatMap(n =>
    Gen.listOfN(n, doc)).map(_.zipWithIndex.map { case (t, i) =>
    (i.toLong, t) })

  property("dedupDaily is idempotent (reprocessing changes nothing)") =
    Prop.forAll(Gen.listOfN(20,
      Gen.zip(Gen.oneOf("m1", "m2", "m3"), Gen.chooseNum(0L, 3L),
        Gen.chooseNum(0L, 86399999L)))) { rows =>
      val df = rows.map { case (mid, day, off) =>
        (mid, 1700000000000L - 1600000000L + day * 86400000L + off)
      }.toDF("mid", "ts")
      val once = DauPipeline.dedupDaily(df)
      val twice = DauPipeline.dedupDaily(once)
      once.count() == twice.count() &&
        once.select("mid", "dt").collect().toSet ==
          twice.select("mid", "dt").collect().toSet
    }

  property("exact dedup groups sum to input size, any partitioning") =
    Prop.forAll(docs, Gen.chooseNum(1, 7)) { (ds, parts) =>
      val df = ds.toDF("doc_id", "text").repartition(parts)
      val groups = Dedup.exact(df, "doc_id", "text")
      groups.agg(sum("group_size")).as[Long].head() == ds.size
    }

  property("jaccardPairs is partition-invariant and within (0,1]") =
    Prop.forAll(docs, Gen.chooseNum(1, 5)) { (ds, parts) =>
      val df = ds.toDF("doc_id", "text")
      val a = Dedup.jaccardPairs(df, "doc_id", "text", 2, 0.1)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val b = Dedup.jaccardPairs(df.repartition(parts), "doc_id", "text",
        2, 0.1).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      a.toSet == b.toSet && a.forall(p => p._3 > 0 && p._3 <= 1.0)
    }

  // birth <= asOf: the reference only ever derives age from a past
  // birthday; for negative spans Period.getYears and the SQL formula
  // deliberately diverge (documented precondition of Cols.ageYears)
  property("ageYears equals java.time.Period.getYears for birth <= asOf") =
    Prop.forAll(Gen.listOfN(25,
      Gen.chooseNum(0L, 20000L).flatMap(a =>
        Gen.chooseNum(0L, a + 10000L).map(b => (a, b))))) { pairs =>
      val rows = pairs.map { case (a, b) =>
        (java.time.LocalDate.ofEpochDay(a + 10000).toString,
          java.time.LocalDate.ofEpochDay(b).toString)
      }
      val got = rows.toDF("asof", "birth")
        .select(Cols.ageYears(to_date(col("asof")), to_date(col("birth")))
          .cast("int"))
        .as[Int].collect().toSeq
      val expect = rows.map { case (a, b) =>
        java.time.Period.between(java.time.LocalDate.parse(b),
          java.time.LocalDate.parse(a)).getYears
      }
      got == expect
    }

  property("matchAnd is monotone: adding query tokens only narrows") =
    Prop.forAll(docs, Gen.listOfN(2, word)) { (ds, qs) =>
      val df = ds.toDF("doc_id", "text")
      val narrow = df.filter(Cols.matchAnd(col("text"), qs.mkString(" ")))
        .select("doc_id").as[Long].collect().toSet
      val wide = df.filter(Cols.matchAnd(col("text"), qs.head))
        .select("doc_id").as[Long].collect().toSet
      narrow.subsetOf(wide)
    }

  // multi-line docs: 1-5 lines of 1-8 words — the tiny vocabulary
  // makes short lines repeat across docs, exercising the boilerplate
  // path's cross-doc counting
  private val mlDoc = Gen.chooseNum(1, 5).flatMap(n =>
    Gen.listOfN(n, Gen.chooseNum(1, 8)
      .flatMap(w => Gen.listOfN(w, word)).map(_.mkString(" "))))
    .map(_.mkString("\n"))
  private val mlDocs = Gen.chooseNum(2, 10).flatMap(n =>
    Gen.listOfN(n, mlDoc)).map(_.zipWithIndex.map { case (t, i) =>
    (i.toLong, t) })

  property("cleanLines is idempotent at fixed rules") =
    Prop.forAll(mlDocs, Gen.chooseNum(1, 4)) { (ds, minW) =>
      import graft.operators.Corpus
      val df = ds.toDF("doc_id", "text")
      def run(d: org.apache.spark.sql.DataFrame) =
        Corpus.cleanLines(d, "doc_id", "text", minWords = minW)
      val once = run(df)
      val twice = run(once.select(col("doc_id"),
        col("clean_text").as("text")))
      def m(d: org.apache.spark.sql.DataFrame) = d
        .select("doc_id", "clean_text", "n_kept").collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
      m(once) == m(twice)
    }

  property("boilerplate removal drops exactly the >maxDocFreq lines") =
    Prop.forAll(mlDocs, Gen.chooseNum(1, 3)) { (ds, thr) =>
      import graft.operators.Corpus
      val lines = ds.map { case (id, t) =>
        (id, t.split("\n", -1).map(_.trim).toSeq) }
      val docFreq = lines
        .flatMap { case (id, ls) => ls.distinct.map(l => (l, id)) }
        .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
      val expected = lines.map { case (id, ls) =>
        id -> ((ls.filter(l => docFreq(l) <= thr).mkString("\n"),
          ls.length.toLong,
          ls.count(l => docFreq(l) > thr).toLong))
      }.toMap
      val got = Corpus.dropBoilerplateLines(ds.toDF("doc_id", "text"),
          "doc_id", "text", maxDocFreq = thr)
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
      got == expected
    }

  // ids `stride` apart (≥ 4096) always span more than one of the
  // auto grid's chunks/buckets: the ≤ 11 × 10^6 id range keeps the
  // auto width at its 4096 floor
  private val stride = Gen.chooseNum(4096L, 1000000L)

  private def autoWidth(ids: Seq[Long], slots: Int): Long =
    math.max(4096L,
      math.ceil((ids.max - ids.min + 1).toDouble / slots).toLong)

  property("selectByBudget matches the in-memory greedy fill") =
    Prop.forAll(docs, Gen.chooseNum(0L, 60L), Gen.chooseNum(1, 4),
      stride) { (ds, budget, bands, step) =>
      import graft.operators.Corpus
      val scored = ds.map { case (i, t) =>
        (i * step, (i * 7 % 11), t.split(" ").length.toLong) }
      val df = ds.map { case (i, t) => (i * step, t, (i * 7 % 11).toInt) }
        .toDF("doc_id", "text", "score")
      val chunk = autoWidth(scored.map(_._1), (1 << 20) / bands)
      val (lo, hi) = (scored.map(_._2).min, scored.map(_._2).max)
      var cum = 0L
      val expected = scored
        .map { case (id, s, n) =>
          (id, s, ((s - lo) * bands) / (hi - lo + 1), n) }
        .sortBy { case (id, _, b, _) => (-b, id) }
        .map { case (id, s, b, n) =>
          cum += n; (id, s, b, n, cum, cum <= budget) }
        .toSet
      val got = Corpus.selectByBudget(df, "doc_id", "score", "text",
          budget, bands)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getBoolean(5))).toSet
      scored.map(_._1 / chunk).distinct.size > 1 && got == expected
    }

  property("lmScore matches the in-memory unigram NLL, any partitioning") =
    Prop.forAll(docs, Gen.chooseNum(1, 5)) { (ds, parts) =>
      import graft.operators.Corpus
      val counts = ds.flatMap(_._2.split(" ")).groupBy(identity)
        .map { case (t, o) => t -> o.size.toLong }
      val n = counts.values.sum
      val v = counts.size.toLong
      def q(x: Double) = math.floor(x * 1e6 + 0.5).toLong
      val expected = ds.map { case (id, t) =>
        val toks = t.split(" ")
        val nll = toks.map(tok => q(-math.log(
          (counts(tok) + 1).toDouble / (n + v).toDouble))).sum
          .toDouble / 1e6
        (id, toks.length.toLong, nll, nll / toks.length)
      }.toSet
      val got = Corpus.lmScore(
          ds.toDF("doc_id", "text").repartition(parts), "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3))).toSet
      got == expected
    }

  property("packSequences reassembles the corpus for any shape") =
    Prop.forAll(docs, Gen.chooseNum(2, 17), stride) {
      (ds, seqLen, step) =>
        import graft.operators.Corpus
        val spread = ds.map { case (i, t) => (i * step, t) }
        val width = autoWidth(spread.map(_._1), 1 << 20)
        val pieces = Corpus.packSequences(spread.toDF("doc_id", "text"),
            "doc_id", "text", seqLen)
          .orderBy(col("seq_id"), col("seq_tok_start"))
          .select("piece_text", "piece_len", "seq_id")
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        val stream = pieces.flatMap(_._1.split(" ")).toSeq
        val corpus = ds.sortBy(_._1).flatMap(_._2.split(" "))
        val fullSeqs = pieces.groupBy(_._3).view
          .mapValues(_.map(_._2).sum).toMap
        spread.map(_._1 / width).distinct.size > 1 &&
          stream == corpus &&
          fullSeqs.filter(_._1 < fullSeqs.keys.max)
            .values.forall(_ == seqLen.toLong)
    }

  // the auto bucket width follows the id range, so scaling every id
  // moves the bucket grid under the docs; the packing output is a
  // pure function of (corpus in id order, seqLen) — the two-level
  // prefix sum must erase the bucketing entirely
  property("packSequences layout is invariant under scaling the ids") =
    Prop.forAll(docs, Gen.chooseNum(2, 17),
      Gen.chooseNum(1000L, 1000000000L)) { (ds, seqLen, k) =>
        import graft.operators.Corpus
        def rows(scale: Long) = Corpus.packSequences(
            ds.map { case (i, t) => (i * scale, t) }.toDF("doc_id", "text"),
            "doc_id", "text", seqLen)
          .select("doc_id", "seq_id", "doc_tok_start", "seq_tok_start",
            "piece_len", "piece_text")
          .collect().map(r => (r.getLong(0) / scale) +: r.toSeq.tail)
          .toSet
        rows(k) == rows(1)
    }

  property("parseDims is total: arbitrary bytes never throw") =
    Prop.forAll(Gen.listOf(Gen.chooseNum(-128, 127).map(_.toByte))) {
      bytes =>
        import graft.operators.Multimodal
        Multimodal.parseDims(bytes.toArray) match {
          case Some((w, h)) => w >= 0 && h >= 0
          case None         => true
        }
    }

  property("relevance: exactly the token-bearing rows score, " +
    "partition-invariant") =
    Prop.forAll(docs, word, Gen.chooseNum(1, 5)) { (ds, q, parts) =>
      import graft.operators.Relevance
      val df = ds.toDF("doc_id", "text")
      val a = Relevance.scored(df, "text", q)
        .select("doc_id", "score").collect()
        .map(r => r.getLong(0) -> r.getDouble(1))
      val b = Relevance.scored(df.repartition(parts), "text", q)
        .select("doc_id", "score").collect()
        .map(r => r.getLong(0) -> r.getDouble(1))
      val expected = ds.filter(_._2.split(" ").contains(q)).map(_._1)
      a.toSet == b.toSet &&                       // partition-invariant
        a.map(_._1).toSet == expected.toSet &&    // OR-match row set
        a.forall(_._2 > 0)                        // matches score > 0
    }

  property("cjkPieces: bigrams chain over every unsegmented run") =
    Prop.forAll(Gen.chooseNum(1, 8).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('小', '米', '手', '机', '平', '板')))
      .map(_.mkString)) { run =>
      val pieces = Cols.cjkPieces(run)
      if (run.length == 1) pieces == Seq(run)
      else
        pieces.length == run.length - 1 &&
          pieces.forall(_.length == 2) &&
          pieces.zip(pieces.tail).forall { case (a, b) =>
            a(1) == b(0) // consecutive bigrams overlap by one char
          } && pieces.map(_(0)).mkString + pieces.last(1) == run
    }

  property("scd2 versions partition each key's timeline") =
    Prop.forAll(Gen.chooseNum(1, 20).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.oneOf("u", "v"), Gen.oneOf("a", "b", "c"))))) { evs =>
      import graft.operators.Temporal
      val rows = evs.zipWithIndex.map { case ((k, st), i) =>
        (k, i.toLong, i.toLong * 10, st)
      }
      val out = Temporal.scd2(rows.toDF("k", "ord", "ts", "state"),
          "k", "ord", "ts", Seq("state"))
        .select("k", "valid_from", "valid_to", "version")
        .collect()
        .map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getInt(3)))
      out.groupBy(_._1).forall { case (_, vs) =>
        val sorted = vs.sortBy(_._4)
        sorted.map(_._4).toSeq == (1 to vs.length) && // dense versions
          sorted.init.zip(sorted.tail).forall { case (a, b) =>
            a._3.contains(b._2) // valid_to chains to next valid_from
          } && sorted.last._3.isEmpty // exactly one open version
      }
    }

  // serving store: for ANY batch sequence, the read view equals the
  // sequential last-write-wins model — and re-delivering any batch
  // under its original id leaves one copy of it (replay safety)
  property("Sinks.latest equals sequential last-write-wins upserts") =
    Prop.forAll(
      Gen.chooseNum(1, 4).flatMap(n => Gen.listOfN(n,
        Gen.chooseNum(1, 5).flatMap(m => Gen.listOfN(m,
          Gen.zip(Gen.oneOf("k1", "k2", "k3"),
            Gen.oneOf("2024-01-05", "2024-01-06"),
            Gen.chooseNum(0, 99))))))) { batches =>
      import graft.streaming.Sinks
      val out = java.nio.file.Files
        .createTempDirectory("sink_prop").toString
      val model = scala.collection.mutable.Map[(String, String), Int]()
      batches.zipWithIndex.foreach { case (rows, i) =>
        Sinks.upsertBatch(rows.toDF("pk", "dt", "v"), out, "pk",
          batchId = i.toLong, tsCol = Some("v"))
        // in-batch winner: max v per (pk, dt) — the tsCol ordering
        rows.groupBy(r => (r._1, r._2)).foreach { case (k, dups) =>
          model(k) = dups.map(_._3).max
        }
      }
      // replay the last batch under its original id
      Sinks.upsertBatch(batches.last.toDF("pk", "dt", "v"), out, "pk",
        batchId = (batches.size - 1).toLong, tsCol = Some("v"))
      val store = Sinks.readStore(spark, out)
      val got = Sinks.latest(store, "pk")
        .select("pk", "dt", "v").collect()
        .map(r => (r.getString(0), r.get(1).toString) -> r.getInt(2))
        .toMap
      got == model.toMap &&
        store.count() == batches.map(_.map(r => (r._1, r._2)).distinct.size).sum
    }

  // Incremental ingestion is LOSSLESS for any corpus split: the
  // full-corpus LSH pairs are exactly old-only pairs ∪ new-only pairs
  // ∪ (oriented) batch-vs-index pairs — band membership of a pair
  // doesn't depend on which split its docs arrived in, so batching a
  // corpus neither loses nor invents a near-dup pair.
  property("incremental minhash pairs complete the full-corpus pairs") =
    Prop.forAll(docs, Gen.oneOf(0L, 1L)) { (ds, parity) =>
      val df = ds.toDF("doc_id", "text")
      val oldDf = df.filter(col("doc_id") % 2 === parity)
      val newDf = df.filter(col("doc_id") % 2 =!= parity)
      val (n, k, b, t) = (2, 12, 4, 0.3)
      def pairs(d: org.apache.spark.sql.DataFrame) =
        Dedup.minhashLshPairs(d, "doc_id", "text", n, k, b, t)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val idx = Dedup.minhashIndex(oldDf, "doc_id", "text", n, k, b)
      val inc = Dedup.incrementalMinhashPairs(newDf, "doc_id", "text",
          idx, n, k, b, t)
        .collect()
        .map(r => (math.min(r.getLong(0), r.getLong(1)),
          math.max(r.getLong(0), r.getLong(1)), r.getDouble(2))).toSet
      pairs(df) == (pairs(oldDf) ++ pairs(newDf) ++ inc)
    }

  property("shardAssign layout is partition-invariant and lossless") =
    Prop.forAll(docs, Gen.chooseNum(1, 7)) { (ds, parts) =>
      val df = ds.map { case (i, t) => (i, t.split(" ").length.toLong) }
        .toDF("doc_id", "n_toks")
      def layout(d: org.apache.spark.sql.DataFrame) =
        graft.operators.Corpus.shardAssign(d, "doc_id", "n_toks", 3)
          .collect()
          .map(r => (r.getLong(0), r.getLong(2), r.getInt(3),
            r.getLong(4))).toSet
      val a = layout(df)
      a == layout(df.repartition(parts)) && a.size == ds.size
    }

  property("importanceFilter scores are partition-invariant; " +
    "all-target keeps everything scored at exactly scale per token") =
    Prop.forAll(docs, Gen.chooseNum(1, 5)) { (ds, parts) =>
      val df = ds.toDF("doc_id", "text")
      def run(d: org.apache.spark.sql.DataFrame) =
        graft.operators.Corpus.importanceFilter(d, "doc_id", "text",
            lit(true))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val a = run(df)
      // target == corpus → every bucket ratio is exactly 1.0 → each
      // token contributes exactly `scale`, and kept is false (not >)
      a == run(df.repartition(parts)) &&
        a.forall { case (_, nt, aff) => aff == nt * 1000000L }
    }

  property("bpeEncode conserves symbols: n_sym is the char count and " +
    "n_bpe never exceeds it, any partitioning") =
    Prop.forAll(docs, Gen.chooseNum(1, 4), Gen.chooseNum(1, 4)) {
      (ds, merges, parts) =>
        val df = ds.toDF("doc_id", "text").repartition(parts)
        val mt = graft.operators.Corpus.bpeTrain(df, "text", merges)
        val enc = graft.operators.Corpus
          .bpeEncode(df, "doc_id", "text", mt)
          .collect()
          .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
        ds.forall { case (id, t) =>
          val chars = t.split("\\s+").filter(_.nonEmpty).map(_.length).sum
          val (nSym, nBpe) = enc(id)
          nSym == chars && nBpe <= nSym && (nBpe >= 1) == (nSym >= 1)
        }
    }
}
