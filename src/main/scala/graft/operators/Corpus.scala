package graft.operators

import graft.expressions.TopKByScore
import graft.functions.{Par, TextFns}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ByteType, DoubleType, IntegerType, LongType, ShortType}
import org.apache.spark.sql.{Column, DataFrame}

/** Corpus-level curation operators a training-data pipeline runs after
  * per-document scoring: keyword extraction (TF-IDF), deterministic
  * sampling and source mixing, cross-document span duplication, global
  * vocabulary statistics, and stopword scrubbing.
  *
  * Scale shapes (the 100 TB audit per operator):
  *  - `tfidf`: explode + two hash-aggs + ONE shuffle join keyed by
  *    token (document frequency cannot be broadcast — the vocabulary
  *    of a web corpus is billions of keys) + a window partitioned by
  *    doc. No global sort, no driver state.
  *  - `sampleByHash` / `quotaBySource`: sampling must be DETERMINISTIC
  *    at scale (re-runs, backfills and audits must agree), so both key
  *    off a content-independent md5 of the id, never `rand()`. The
  *    sample is a narrow filter; the quota is a window partitioned by
  *    source (bounded by quota x sources output).
  *  - `spanDuplication`: the C4/RefinedWeb duplicate-passage metric —
  *    explode n-gram positions, count distinct docs per gram via a
  *    distinct-pairs agg, join back by gram. Two shuffles keyed by
  *    gram, both hash-aggs with map-side partials; never all-pairs.
  *  - `vocabTopK`: global Zipf head via the bounded-heap map-side
  *    [[graft.expressions.TopKByScore]] aggregate — each partition
  *    ships <= K candidates, so shuffle volume is partitions x K
  *    regardless of vocabulary size.
  *  - `removeStopwords`: pure-Column narrow pass, no shuffle.
  */
object Corpus {

  /** Distinct word n-gram shingles via the codegen
    * [[graft.expressions.WordShingles]] kernel — semantically
    * `array_distinct(TextFns.shingles(c, n))`, but the declarative HOF
    * chain (transform/slice/array_join) runs interpreted per element
    * and dominates the scan on corpus-scale text (see Dedup.shingled).
    */
  private def distinctShingles(c: Column, n: Int): Column =
    graft.expressions.WordShingles(TextFns.toks(c), n)

  /** Top-`topK` keywords per document by TF-IDF-style score.
    *
    * Score = tf * N / df (inverse collection frequency, linear form):
    * tf * N is an exact integer product and the single division is the
    * one rounding step — bit-identical across engines, unlike a
    * log-based idf (`ln` is not required to be correctly rounded, so
    * Spark/JVM and a SQL oracle may round differently).
    * Emits (id, token, tf, df, score, kw_rank), kw_rank 1..topK by
    * (score desc, token asc).
    *
    * (r15 A/B note: a bounded-heap rewrite of the per-doc rank — the
    * shared TopKByScore aggregate with the (token, tf, df) payload
    * NUL-encoded in a string heap id — measured 0.92× at bench scale and
    * was REVERTED: per-doc groups are small, so the window sort is
    * cheap, while the TypedImperativeAggregate pays object
    * aggregation + buffer serialization per partial. The heap form
    * pays once per-doc token counts are large enough that sorting
    * every scored row dominates — revisit against a profile, not by
    * default.)
    */
  def tfidf(docs: DataFrame, idCol: String, textCol: String,
            topK: Int): DataFrame = {
    val tf = Par.fanOut(docs)
      .select(col(idCol), explode(TextFns.toks(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    // (id, token) is unique in tf, so df = row count per token
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("__n"))
    val score = (col("tf") * col("__n")).cast(DoubleType) /
      col("df").cast(DoubleType)
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("token"))
    tf.join(df, "token")
      .crossJoin(broadcast(n))
      .withColumn("score", score)
      .withColumn("kw_rank", row_number().over(w).cast(IntegerType))
      .filter(col("kw_rank") <= topK)
      .select(col(idCol), col("token"), col("tf"), col("df"),
        col("score"), col("kw_rank"))
  }

  /** Deterministic ~`pct`% sample: keep rows where
    * md5-hash(id) mod 100 < pct. Reproducible across runs/engines
    * (audits and backfills see the same sample), uniform in
    * expectation, and a narrow filter — no shuffle, no rand().
    */
  def sampleByHash(df: DataFrame, idCol: String, pct: Int): DataFrame =
    df.filter(TextFns.hash32(col(idCol).cast("string")) % 100 < pct)

  /** Stratified deterministic sampling (mixture control): each stratum
    * keeps its own percentage — the knob a training-data recipe turns
    * to up-weight low-resource languages or down-weight a crawl dump
    * ("30% of en, 100% of zh, 5% of everything else"). Strata not in
    * `rates` fall to `defaultPct`; a null stratum value falls to
    * `defaultPct` too. Same md5-keyed determinism as [[sampleByHash]]
    * (re-runs, backfills and audits agree; content-independent), and
    * the same scale shape: one narrow filter, no shuffle, no per-group
    * state — the rate lookup is a compiled when-chain, not a join.
    */
  def sampleStratified(df: DataFrame, idCol: String, strataCol: String,
                       rates: Map[String, Int],
                       defaultPct: Int = 0): DataFrame = {
    require((rates.values.toSeq :+ defaultPct).forall(p => p >= 0 && p <= 100),
      s"every rate must be in [0,100], got $rates default=$defaultPct")
    // sorted for a deterministic plan (Map iteration order is not)
    val pct = rates.toSeq.sortBy(_._1).foldLeft(lit(defaultPct)) {
      case (acc, (stratum, p)) =>
        when(col(strataCol) === stratum, lit(p)).otherwise(acc)
    }
    df.filter(TextFns.hash32(col(idCol).cast("string")) % 100 < pct)
  }

  /** Deterministic weighted sampling WITHOUT replacement (the
    * exponential-race form of priority sampling, Efraimidis & Spirakis
    * 2006): keep the `k` rows with the smallest e_i = −ln(u_i)/w_i,
    * where u_i is a deterministic md5 uniform of the id — inclusion
    * probability ∝ weight (quality-weighted corpus subsets: "the k
    * docs drawn by quality mass", not "top k by score"). Reproducible
    * across runs, partitionings and engines: u is exact
    * (60-bit md5 + 1)/2⁶⁰, ln(u) is fx-quantized to 1e-12
    * ([[graft.functions.Cols.fxTerm]] semantics), and the priority is
    * two correctly-rounded IEEE divisions of exact values — identical
    * text on the oracle side ⇒ identical selection. Rows with
    * non-positive or null weight are excluded (they carry no mass).
    *
    * Prefix property (tested): the k-selection is a subset of the
    * (k+m)-selection, so enlarging a sample never resamples.
    *
    * Scale shape: selection runs through the
    * [[graft.expressions.TopKByScore]] bounded heap — map-side ≤ k
    * candidates per partition, shuffle ≤ partitions × k, NO global
    * sort — then a broadcast semi-join of the ≤ k winning ids.
    *
    * PRECONDITION: `idCol` values must be unique (one row per id).
    * Duplicate ids share a single priority draw (their weight mass is
    * NOT summed) and the final left-semi join returns EVERY row
    * carrying a winning id, so the result can exceed k rows.
    * Pre-aggregate to one row per id before calling.
    */
  def sampleWeighted(df: DataFrame, idCol: String, weightCol: String,
                     k: Int): DataFrame = {
    val idType = df.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType)
      .contains(idType),
      s"sampleWeighted needs an integral idCol, got ${idType.simpleString}")
    val u = (TextFns.hash60(col(idCol).cast("string")) + 1L)
      .cast(DoubleType) / lit((1L << 60).toDouble)
    val lnFx = floor(log(u) * 1e12 + 0.5).cast(LongType)
    val e = (-lnFx).cast(DoubleType) / lit(1e12) /
      col(weightCol).cast(DoubleType)
    val topk = TopKByScore(-e, col(idCol).cast(LongType), k)
    val winners = df
      .filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .agg(topk.as("__topk"))
      .select(explode(col("__topk")).as("__t"))
      .select(col("__t.id").cast(idType).as(idCol))
    df.join(broadcast(winners), Seq(idCol), "left_semi")
  }

  /** Deterministic per-group quota (source mixing): keep at most
    * `quota` rows per `groupCol`, chosen by hash order (a reproducible
    * pseudo-random draw, not head-of-file order which would bias
    * toward early rows). Adds `mix_rank` (1-based within group).
    */
  def quotaByGroup(df: DataFrame, groupCol: String, idCol: String,
                   quota: Int): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
      .orderBy(TextFns.hash32(col(idCol).cast("string")), col(idCol))
    df.withColumn("mix_rank", row_number().over(w).cast(IntegerType))
      .filter(col("mix_rank") <= quota)
  }

  /** Token-budgeted per-group selection — the token-weighted analog of
    * [[quotaByGroup]]: mixture recipes budget their SOURCES in tokens,
    * not rows (a source of long documents must not get `quota`× more
    * tokens than a source of short ones). Within each group, rows rank
    * by the same deterministic md5 priority and survive while the
    * group's RUNNING token count has not yet reached `tokenBudget` —
    * the row that crosses the budget is kept (greedy fill), everything
    * after it drops. Survivors carry `tok_rank`, `n_tokens` and the
    * inclusive `cum_tokens`.
    *
    * Scale shape: one narrow token-count projection, then ONE
    * hash-partitioned window per group ([[quotaByGroup]]'s argument) —
    * rank and running sum share the single sort.
    */
  def tokenQuotaByGroup(df: DataFrame, groupCol: String, idCol: String,
                        textCol: String, tokenBudget: Long): DataFrame =
    tokenQuotaByGroupCounts(
      df.withColumn("n_tokens",
        size(TextFns.toks(col(textCol))).cast("long")),
      groupCol, idCol, "n_tokens", tokenBudget)

  /** [[tokenQuotaByGroup]] over a PRE-COMPUTED per-row token count
    * column — the tokenizer-true form: the text variant meters
    * whitespace tokens, but a training run consumes TOKENIZER tokens,
    * and budgeting the wrong unit silently re-weights the mixture
    * toward whatever the whitespace heuristic undercounts (code,
    * CJK, URLs). Feed it [[bpeEncode]]'s `n_bpe` (join the encode
    * frame onto the corpus, then budget on that column) and the
    * quota meters what the trainer actually pays. Same ordering,
    * window and greedy-fill semantics; `nTokensCol` re-emits
    * (cast to long) as `n_tokens` alongside `tok_rank` /
    * `cum_tokens`.
    */
  def tokenQuotaByGroupCounts(df: DataFrame, groupCol: String,
                              idCol: String, nTokensCol: String,
                              tokenBudget: Long): DataFrame = {
    require(tokenBudget >= 0, s"tokenBudget must be >= 0, got $tokenBudget")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(TextFns.hash32(col(idCol).cast("string")), col(idCol))
    df.withColumn("n_tokens", col(nTokensCol).cast("long"))
      .withColumn("tok_rank", row_number().over(w).cast(IntegerType))
      .withColumn("cum_tokens", sum(col("n_tokens"))
        .over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .filter(col("cum_tokens") - col("n_tokens") < tokenBudget)
  }

  /** Curriculum interleave ordering — the trainer-facing data-order
    * artifact: rank each group's (source's) documents by `scoreCol`
    * descending (best first — quality-annealed curriculum; pass a
    * hash for a plain balanced interleave) and emit a GLOBAL
    * `global_pos` that round-robins the groups rank-by-rank (all the
    * rank-1 docs in group order, then rank-2, ...; exhausted groups
    * drop out) — so consuming in `global_pos` order anneals quality
    * while never letting one source run consecutively.
    *
    * The interesting part at 100 TB: `global_pos` is the index the
    * row would have under a global ORDER BY (grp_rank, group) — but
    * computed WITHOUT any global sort, via a bucketed prefix sum:
    * ranks are cut into ≤ `maxGroups` contiguous ranges (`__bucket =
    * (grp_rank−1) div width`), the per-bucket row counts collect
    * driver-side (bounded by construction) and turn into per-bucket
    * START OFFSETS, and one hash-partitioned window per bucket gives
    * the within-bucket position — `global_pos = offset(bucket) +
    * row_number − 1`. Bucket sizes are balanced: each group
    * contributes at most `width` rows per bucket, so with the group
    * count require-gated ≤ `maxGroups` (groups are data SOURCES —
    * bounded by construction, the PQ codebook convention) a bucket
    * holds ≤ N/maxGroups + maxGroups rows regardless of group-size
    * skew. Total cost: TWO hash-partitioned windows (per-group rank,
    * per-bucket position) + one broadcast join of ≤ maxGroups offset
    * rows — no global window, and every projection is a handful of
    * codegen-friendly terms (the previous closed form compiled one
    * `least+when` term PER GROUP into a single projection, which blows
    * Janino's 64 KB method limit and silently drops to interpreted
    * eval near the gate).
    *
    * Ties in `scoreCol` break by ascending `idCol`, so the order is
    * total and partition-invariant. Eager note: the ranked frame is
    * locally checkpointed (its job also observes the max rank and the
    * group count) and the bucket counts collect at call time; the
    * checkpoint runs the rank window once across them and the final
    * plan.
    */
  def curriculumOrder(df: DataFrame, groupCol: String, idCol: String,
                      scoreCol: String,
                      maxGroups: Int = 4096): DataFrame = {
    require(maxGroups >= 1, s"maxGroups must be >= 1, got $maxGroups")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(scoreCol).desc, col(idCol))
    // groups counted as rank-1 rows with a non-null key: equal to
    // countDistinct (which `observe` rejects), as grp_rank is a
    // row_number per group
    val (ranked, head) = Par.checkpointObserving(
      df.withColumn("grp_rank", row_number().over(w).cast("long")),
      max(col("grp_rank")),
      count(when(col("grp_rank") === 1L && col(groupCol).isNotNull, 1)))
    if (head.isNullAt(0)) // empty input: no positions to assign
      return ranked.withColumn("global_pos", lit(0L))
    val maxN = head.getLong(0)
    val nGroups = head.getLong(1)
    require(nGroups <= maxGroups,
      s"curriculumOrder saw $nGroups groups; bucket balance is argued " +
        s"for ≤ $maxGroups (group by SOURCE, not by key)")
    val width = math.max(1L, (maxN + maxGroups - 1) / maxGroups)
    val bucketed = ranked.withColumn("__bucket",
      expr(s"(grp_rank - 1L) div ${width}L"))
    // ≤ maxGroups buckets by construction of width — driver-bounded
    val sizes = bucketed.groupBy(col("__bucket"))
      .agg(count(lit(1)).as("__n")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val offsets = sizes.scanLeft((0L, 0L)) {
      case ((_, acc), (b, n)) => (b, acc + n)
    }.init.zip(sizes).map { case ((_, off), (b, _)) => (b, off) }
    val spark = df.sparkSession
    import spark.implicits._
    val offsetsDf = offsets.toSeq.toDF("__bucket", "__offset")
    val wb = Window.partitionBy(col("__bucket"))
      .orderBy(col("grp_rank"), col(groupCol))
    bucketed.join(broadcast(offsetsDf), Seq("__bucket"))
      .withColumn("global_pos",
        col("__offset") + row_number().over(wb).cast("long") - 1L)
      .drop("__bucket", "__offset")
  }

  /** Content-addressed corpus manifest — the reproducibility artifact
    * a dataset release ships: per deterministic shard, the doc count,
    * token total and an order-independent content fingerprint
    * (Σ of 32-bit md5-prefix hashes over `id|text`, exact BIGINT — two
    * corpora are byte-identical iff every shard row matches). Rows are
    * MERGEABLE: the manifest of a union is the element-wise sum of the
    * parts' manifests (same shard grid), so shard-built manifests roll
    * up without touching the data again.
    *
    * Scale shape: one narrow hash projection + ONE hash aggregation
    * keyed by shard — map-side combining, no window, no sort. Overflow
    * headroom: 2^32-max hashes × 2^21 docs per shard still fit BIGINT
    * with 10 bits to spare; beyond that, shard finer.
    */
  def manifest(df: DataFrame, idCol: String, textCol: String,
               nShards: Int): DataFrame =
    manifestCounts(
      df.withColumn("__mct",
        size(TextFns.toks(col(textCol))).cast("long")),
      idCol, textCol, "__mct", nShards)

  /** [[manifest]] with a PRE-COMPUTED per-doc token count column —
    * the tokenizer-true release artifact: a manifest's `n_tokens`
    * totals are what downstream recipes budget against, and a
    * whitespace count misstates what the trainer consumes on code /
    * CJK / URL-heavy shards. Feed it [[bpeEncode]]'s `n_bpe` (the
    * [[tokenQuotaByGroupCounts]] composition) and the shard totals
    * meter tokenizer tokens; the content fingerprint still hashes
    * `id|text`, so identity stays count-independent.
    */
  def manifestCounts(df: DataFrame, idCol: String, textCol: String,
                     nTokensCol: String, nShards: Int): DataFrame = {
    require(nShards >= 1 && nShards <= (1 << 20),
      s"nShards must be in [1, 2^20], got $nShards")
    val h = TextFns.hash32(
      concat(col(idCol).cast("string"), lit("|"), col(textCol)))
    df.select(pmod(TextFns.hash32(col(idCol).cast("string")),
          lit(nShards.toLong)).as("shard"),
        h.as("__h"),
        col(nTokensCol).cast("long").as("__nt"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__nt")).as("n_tokens"),
        sum(col("__h")).as("content_fp"))
  }

  /** C4-style LINE-level cleaning (reference scope: the quality gates a
    * web-scale training pipeline runs before document scoring; the C4
    * dataset's rules are the public canon): split each doc on newline,
    * keep lines with at least `minWords` whitespace-delimited words
    * (and, when `requireTerminal`, a sentence-terminal `.!?"'` ending),
    * drop docs retaining fewer than `minLines` lines. Emits
    * (id, clean_text, n_lines, n_kept) for surviving docs.
    *
    * Scale shape: one narrow projection — the split, the per-line
    * filter and the re-join all run inside a single whole-stage-codegen
    * pass over the row; no explode, no shuffle, no state. The doc-level
    * `minLines` gate is a plain filter on the computed column. This is
    * the operator to run FIRST at 100 TB: it is free (scan-bound) and
    * shrinks everything downstream.
    */
  def cleanLines(docs: DataFrame, idCol: String, textCol: String,
                 minWords: Int, minLines: Int = 0,
                 requireTerminal: Boolean = false): DataFrame = {
    require(minWords >= 1, s"minWords must be >= 1, got $minWords")
    // CRLF-tolerant line split + any-whitespace word split (tabs
    // count as delimiters — same \s+ definition as TextFns.toks);
    // web text is exactly where this operator runs first
    val keepLine = (l: Column) => {
      val t = trim(l)
      val wc = when(t === "", 0).otherwise(size(split(t, "\\s+")))
      val terminal =
        if (requireTerminal) t.rlike("[.!?\"']$") else lit(true)
      wc >= minWords && terminal
    }
    val kept = filter(split(col(textCol), "\r?\n"), keepLine)
    docs.select(col(idCol),
        array_join(kept, "\n").as("clean_text"),
        size(split(col(textCol), "\r?\n")).cast(LongType).as("n_lines"),
        size(kept).cast(LongType).as("n_kept"))
      .filter(col("n_kept") >= minLines)
  }

  /** Corpus-global boilerplate-line removal (RefinedWeb/CCNet shape):
    * a line occurring in more than `maxDocFreq` DISTINCT documents is
    * boilerplate (navigation, cookie banners, footers) and is removed
    * from EVERY document — unlike [[removeDuplicateSpans]], which keeps
    * a first occurrence. Lines are trimmed before comparison AND in the
    * output (indent variants of a nav bar are the same line); a
    * trimmed-empty line is a line value like any other, so corpora
    * where most docs contain blank separators will drop them — the
    * intended reading of "this exact line is everywhere". Emits
    * (id, clean_text, n_lines, n_removed) with surviving lines
    * re-joined in original order.
    *
    * Scale shape: explode lines (narrow), distinct (doc, line) pairs
    * then count per line — two shuffles keyed by line text, both
    * hash-aggs with map-side partials (a banner repeated 10^9 times
    * combines inside each task; a per-line window would sort all its
    * occurrences on one task) — one join back by line, one shuffle by
    * doc for ordered re-assembly via array_sort over (pos, line)
    * structs. Never order-dependent collect_list output, never a pair
    * join. At 100 TB, key the agg/join on xxhash64(line) if shuffle
    * bytes dominate.
    */
  def dropBoilerplateLines(docs: DataFrame, idCol: String,
                           textCol: String, maxDocFreq: Int): DataFrame = {
    require(maxDocFreq >= 1, s"maxDocFreq must be >= 1, got $maxDocFreq")
    val pos = Par.fanOut(docs).select(col(idCol),
        posexplode(split(col(textCol), "\r?\n")).as(Seq("li", "raw")))
      .select(col(idCol), col("li"), trim(col("raw")).as("line"))
    val lineDocs = pos.select(col(idCol), col("line")).distinct()
      .groupBy(col("line")).agg(count(lit(1)).as("line_docs"))
    pos.join(lineDocs, "line")
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(
              when(col("line_docs") <= maxDocFreq,
                struct(col("li"), col("line"))))),
            s => s.getField("line")),
          "\n").as("clean_text"),
        count(lit(1)).as("n_lines"),
        sum(when(col("line_docs") > maxDocFreq, 1L).otherwise(0L))
          .as("n_removed"))
  }

  /** Per-document n-gram novelty — the data-selection complement of
    * [[spanDuplication]]: instead of measuring which SPANS are shared,
    * score each document by the fraction of its distinct n-grams that
    * appear in NO other document (`novelty_ppm`, exact integer parts
    * per million — division-order-free, bit-identical cross-engine).
    * High-novelty docs carry information the rest of the corpus
    * doesn't; near-zero novelty marks template/boilerplate mass that
    * survives exact dedup. Documents shorter than `n` tokens carry no
    * grams and are omitted.
    *
    * Scale shape (the tfidf audit applies): distinct-gram explode →
    * ONE gram-keyed hash-agg for document frequency (map-side
    * combined; grams are distinct per doc so `count(*)` IS the doc
    * frequency — no count-distinct) → gram-keyed join back → doc-keyed
    * agg. The gram vocabulary is never broadcast or collected.
    */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String,
                   n: Int): DataFrame = {
    val grams = Par.fanOut(docs).select(col(idCol),
      // codegen distinct-shingle kernel (first-occurrence order, the
      // array_distinct(shingles) convention — r14)
      explode(graft.expressions.WordShingles(TextFns.toks(col(textCol)), n))
        .as("gram"))
    val dfreq = grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("__df"))
    grams.join(dfreq, "gram")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
           sum(when(col("__df") === 1L, 1L).otherwise(0L)).as("novel"))
      .withColumn("novelty_ppm",
        expr("CAST(novel * 1000000 div n_grams AS BIGINT)"))
  }

  /** Cross-document span duplication (the duplicate-passage metric):
    * for each doc, the fraction of its word `n`-gram POSITIONS whose
    * n-gram also appears in at least one OTHER document. Emits
    * (id, n_spans, n_dup_spans, dup_frac); docs with fewer than `n`
    * tokens have no spans and are absent (same contract as the
    * other shinglers).
    */
  def spanDuplication(docs: DataFrame, idCol: String, textCol: String,
                      n: Int): DataFrame = {
    val toks = TextFns.toks(col(textCol))
    val grams = transform(
      sequence(lit(1), size(toks) - (n - 1)),
      i => array_join(slice(toks, i, lit(n)), " "))
    val positions = Par.fanOut(docs)
      .select(col(idCol), explode(when(size(toks) >= n, grams)).as("gram"))
    // distinct docs per gram: distinct pairs first (hash agg), then
    // count — both shuffles keyed by gram, map-side combined
    val docsPerGram = positions.select(col(idCol), col("gram")).distinct()
      .groupBy(col("gram")).agg(count(lit(1)).as("n_docs"))
    positions.join(docsPerGram, "gram")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
      .withColumn("dup_frac",
        col("n_dup_spans").cast(DoubleType) / col("n_spans").cast(DoubleType))
  }

  /** Cross-document duplicated-SPAN removal (ExactSubstr-style — the
    * rewrite step [[spanDuplication]] only measures): every word
    * `n`-gram POSITION whose gram text occurs anywhere else in the
    * corpus — another document OR another position of the same one —
    * is removed except the gram's single global FIRST occurrence
    * (deterministic min-(id, position) winner), and each document is
    * re-assembled from the tokens no removed span covers. Emits one
    * row per doc: (id, clean_text, n_tokens, n_removed_tokens,
    * n_removed_spans); docs shorter than `n` tokens carry no spans and
    * pass through re-joined. Unlike [[removeDuplicateSpans]]'s
    * disjoint fixed blocks, the positional frame catches duplicated
    * passages at ANY alignment — the dedup real pretraining pipelines
    * run after measuring (Lee et al. 2022's ExactSubstr, at n-gram
    * rather than suffix-array granularity).
    *
    * Scale shape: three corpus-sized shuffles, all keyed — positional
    * grams to a gram-keyed MIN aggregate (map-side combined; a
    * boilerplate gram repeated 10^8 times reduces inside each task)
    * and back via one gram equi-join; removed positions explode ×n
    * (only DUPLICATED positions pay this) into a (id, token-index)
    * equi-join against the exploded tokens; one doc-keyed agg
    * re-assembles (array_sort over collected structs — never
    * order-dependent collect_list). No pair join, no window, nothing
    * driver-side. At 100 TB, key the gram agg/join on
    * xxhash64(gram) and keep text only for collision verification if
    * shuffle bytes dominate.
    */
  def removeDuplicatedSpans(docs: DataFrame, idCol: String,
                            textCol: String, n: Int): DataFrame = {
    require(n >= 1, s"span length must be >= 1, got $n")
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val toksC = TextFns.toks(col(textCol))
    // base/grams/marked each feed TWO consumers below — persist them
    // (the pageRankFrom/decontaminateBloom convention) so the corpus
    // tokenize scan and the gram-keyed election shuffle run once, not
    // once per downstream subtree
    val base = Par.fanOut(docs).select(col(idCol), toksC.as("__t"))
      .persist(MEMORY_AND_DISK)
    val grams = base.select(col(idCol),
        // codegen n-gram kernel (r14): the transform/slice/array_join
        // HOF ran interpreted per element; < n tokens ⇒ empty array,
        // which posexplode drops like the unguarded when() it replaces
        posexplode(graft.expressions.WordGrams(col("__t"), n))
          .as(Seq("__p0", "gram")))
      .select(col(idCol), (col("__p0") + 1).cast("long").as("p"),
        col("gram"))
      .persist(MEMORY_AND_DISK)
    // struct ordering = (id, p) lexicographic: the global first
    val firsts = grams.groupBy(col("gram"))
      .agg(min(struct(col(idCol), col("p"))).as("__first"))
    val marked = grams.join(firsts, "gram")
      .filter(struct(col(idCol), col("p")) =!= col("__first"))
      .select(col(idCol), col("p"))
      .persist(MEMORY_AND_DISK)
    val markCounts = marked.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_removed_spans"))
    val removedTok = marked
      .select(col(idCol),
        explode(sequence(col("p"), col("p") + (n - 1))).as("ti"))
      .distinct()
      .withColumn("__rm", lit(true))
    val tokens = base.select(col(idCol),
        posexplode(col("__t")).as(Seq("__i", "tok")))
      .select(col(idCol), (col("__i") + 1).cast("long").as("ti"),
        col("tok"))
    tokens.join(removedTok, Seq(idCol, "ti"), "left_outer")
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(
              when(col("__rm").isNull, struct(col("ti"), col("tok"))))),
            s => s.getField("tok")),
          " ").as("clean_text"),
        count(lit(1)).as("n_tokens"),
        sum(when(col("__rm").isNotNull, 1L).otherwise(0L))
          .as("n_removed_tokens"))
      .join(markCounts, Seq(idCol), "left_outer")
      .withColumn("n_removed_spans",
        coalesce(col("n_removed_spans"), lit(0L)))
  }

  /** Global top-`k` tokens by occurrence count (the Zipf head), via the
    * map-side bounded-heap aggregate: emits (token, ct, rn) ordered by
    * (ct desc, token asc). Counts are < 2^53 so the double round-trip
    * through the heap's score is exact.
    */
  def vocabTopK(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    val counts = Par.fanOut(docs)
      .select(explode(TextFns.toks(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("ct"))
    val topk = TopKByScore(col("ct").cast(DoubleType), col("token"), k)
    counts.agg(topk.as("topk"))
      .select(posexplode(col("topk")).as(Seq("pos", "t")))
      .select(col("t.id").as("token"),
        col("t.score").cast("long").as("ct"),
        (col("pos") + 1).cast(IntegerType).as("rn"))
  }

  /** Corpus-trained unigram language-model scoring — the CCNet-style
    * "perplexity proxy" quality signal: train an add-one-smoothed
    * unigram LM on the corpus itself, then score every document by its
    * average negative log-likelihood under that LM (low = made of
    * common words, high = rare/garbled). Emits
    * (id, n_tokens, nll, avg_nll); `nll` = Σ −ln((c_tok+1)/(N+V)) over
    * the doc's token OCCURRENCES (multiplicity kept), N = corpus token
    * occurrences, V = vocabulary size.
    *
    * Determinism: per-token terms are exact (ln of the same rational is
    * bit-identical across engines — measured); the cross-row sum runs
    * as a fixed-point aggregate ([[graft.functions.Cols.fxSum]], scale
    * 1e6 — µnat precision) because a double sum is partition-order
    * dependent. |term| ≤ ln(N+V) ≈ 50, so terms quantize within 2^53
    * for any corpus below e^(2^53/1e6) tokens — i.e. always.
    *
    * Scale shape (the tfidf audit applies): explode → token-keyed count
    * (map-side partials), ONE shuffle join of occurrences to counts
    * keyed by token — the LM is never broadcast (a web corpus's
    * vocabulary is billions of keys) — then a doc-keyed hash-agg. The
    * (N, V) totals are a broadcast 1-row crossJoin.
    */
  def lmScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = Par.fanOut(docs)
      .select(col(idCol), explode(TextFns.toks(col(textCol))).as("token"))
    val counts = tok.groupBy(col("token")).agg(count(lit(1)).as("__c"))
    val totals = counts.agg(sum(col("__c")).as("__N"),
      count(lit(1)).as("__V"))
    val negLogP = -log((col("__c") + 1L).cast(DoubleType) /
      (col("__N") + col("__V")).cast(DoubleType))
    tok.join(counts, "token")
      .crossJoin(broadcast(totals))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        graft.functions.Cols.fxSum(negLogP, 1e6).as("__q"))
      .select(col(idCol), col("n_tokens"),
        graft.functions.Cols.fxVal(col("__q"), 1e6).as("nll"),
        (graft.functions.Cols.fxVal(col("__q"), 1e6) /
          col("n_tokens").cast(DoubleType)).as("avg_nll"))
  }

  /** Zipf-fit corpus diagnostic: least-squares slope/intercept of
    * ln(count) on ln(rank) over the top-`k` vocabulary — healthy
    * natural-language corpora fit slope ≈ −1 (Zipf's law); a slope far
    * from −1 flags template spam (flat head) or boilerplate dominance
    * (cliff). One row: (n_ranks, slope, intercept).
    *
    * Built on [[vocabTopK]] (bounded-heap head extraction — shuffle ≤
    * partitions × k), then a single global aggregate over k rows whose
    * Σx, Σy, Σxy, Σx² run fixed-point ([[graft.functions.Cols.fxSum]],
    * scale 1e9: |ln| ≤ ~50 ⇒ |x·y| ≤ 2500 ⇒ terms ≤ 2.5e12, exact in a
    * long for any k below ~3.7M ranks). The closed-form slope uses the
    * same operation order as the oracle — bit-identical.
    */
  def zipfFit(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    import graft.functions.Cols.{fxSum, fxVal}
    val x = log(col("rn").cast(DoubleType))
    val y = log(col("ct").cast(DoubleType))
    val s = vocabTopK(docs, textCol, k).agg(
      count(lit(1)).as("n_ranks"),
      fxSum(x, 1e9).as("__sx"), fxSum(y, 1e9).as("__sy"),
      fxSum(x * y, 1e9).as("__sxy"), fxSum(x * x, 1e9).as("__sxx"))
    val n = col("n_ranks").cast(DoubleType)
    val (sx, sy) = (fxVal(col("__sx"), 1e9), fxVal(col("__sy"), 1e9))
    val (sxy, sxx) = (fxVal(col("__sxy"), 1e9), fxVal(col("__sxx"), 1e9))
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    s.select(col("n_ranks"), slope.as("slope"),
      ((sy - slope * sx) / n).as("intercept"))
  }

  /** Heavy-tail domain control: keep at most `k` rows per `keyCol`,
    * the TOP-k by `scoreCol` (ties by smaller id) — "cap every domain
    * at its k best documents". The score-preferring sibling of
    * [[quotaByGroup]] (which draws a reproducible random quota):
    * domain capping wants the BEST docs of an over-represented domain,
    * not a random draw.
    *
    * Shape: the bounded-heap [[graft.expressions.TopKByScore]]
    * aggregate per key — each input partition reduces every key to
    * ≤ k candidates before the shuffle, so a domain with a billion
    * pages ships partitions × k rows, and no per-key window sort ever
    * materializes. Emits (keyCol, idCol long, scoreCol double, rank),
    * rank 1..k by (score desc, id asc) — exactly
    * `row_number() OVER (PARTITION BY key ORDER BY score DESC, id)`
    * over the rows with non-null score and id (null-scored rows are
    * excluded, where the window form would rank them last).
    *
    * `idCol` must be integral (rank identity rides through the heap's
    * bigint id) — enforced, because a silent string→long cast would
    * null every id and return an empty result instead of failing.
    */
  def capPerKey(df: DataFrame, keyCol: String, idCol: String,
                scoreCol: String, k: Int): DataFrame = {
    val idType = df.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType)
      .contains(idType),
      s"capPerKey needs an integral idCol, got ${idType.simpleString}")
    val topk = TopKByScore(col(scoreCol).cast(DoubleType),
      col(idCol).cast(LongType), k)
    df.groupBy(col(keyCol)).agg(topk.as("__topk"))
      .select(col(keyCol), posexplode(col("__topk")).as(Seq("__pos", "__t")))
      .select(col(keyCol), col("__t.id").as(idCol),
        col("__t.score").as(scoreCol),
        (col("__pos") + 1).cast(IntegerType).as("rank"))
  }

  /** Group-relative quality gating (the CCNet/language-balanced form):
    * keep rows whose `scoreCol` is at or above their OWN group's
    * exact `q`-quantile, so every language/domain keeps its best
    * (1-q) share — an absolute global threshold would gut
    * low-resource languages whose score distribution sits lower.
    * Emits the input row + `thr` (the group's cutoff).
    *
    * Shape: one hash-agg to a tiny per-group threshold table (one row
    * per group), broadcast back — the corpus side stays a narrow
    * filter, no second shuffle.
    *
    * Threshold estimator: exact `percentile` by default (oracle
    * parity: ≡ DuckDB `quantile_cont`) — but exact percentile BUFFERS
    * every group value in its aggregation state, so a billion-doc
    * language group is an executor-memory hazard. `approx = true`
    * switches to `percentile_approx` (bounded KLL-style sketch state,
    * `accuracy` knob) — the 100 TB setting, where a threshold off by
    * a hair of rank error is immaterial to a corpus gate.
    */
  def gateByGroupQuantile(df: DataFrame, groupCol: String,
                          scoreCol: String, q: Double,
                          approx: Boolean = false,
                          accuracy: Int = 10000): DataFrame = {
    require(q >= 0.0 && q <= 1.0, s"quantile q must be in [0,1], got $q")
    val est =
      if (approx) percentile_approx(col(scoreCol), lit(q), lit(accuracy))
      else percentile(col(scoreCol), lit(q))
    val thr = df.groupBy(col(groupCol))
      .agg(est.as("thr"))
      .withColumnRenamed(groupCol, "__gq_key")
    // null-safe key match: the null group (e.g. unidentified language)
    // is a real group with its own threshold — a plain equi-join would
    // silently delete the whole segment
    df.join(broadcast(thr), col(groupCol) <=> col("__gq_key"))
      .drop("__gq_key")
      .filter(col(scoreCol) >= col("thr"))
  }

  /** Corpus snapshot diff (versioning CDC between two crawls/releases):
    * classify every id as added / removed / changed / unchanged by
    * normalized content hash. One full-outer join keyed by id over
    * narrow (id, md5) projections — the texts themselves never
    * shuffle, so diffing two 100 TB snapshots moves two id+hash
    * columns. The hash is the SAME normalized-text md5 as [[Dedup.exact]],
    * so formatting-only edits (case/whitespace) do not read as changes.
    */
  def snapshotDiff(prev: DataFrame, cur: DataFrame, idCol: String,
                   textCol: String): DataFrame = {
    // presence is carried as an explicit flag, NOT inferred from hash
    // nullability: a null text hashes to null, which must read as a
    // present row (and compare null-safely below), never as absence
    def hashed(df: DataFrame, hc: String, pc: String) =
      df.select(col(idCol),
        md5(TextFns.normText(col(textCol))).as(hc), lit(true).as(pc))
    hashed(prev, "__hp", "__pp")
      .join(hashed(cur, "__hc", "__pc"), Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__pp").isNull, "added")
          .when(col("__pc").isNull, "removed")
          .when(!(col("__hp") <=> col("__hc")), "changed")
          .otherwise("unchanged").as("change"))
  }

  /** Stopword scrubbing: re-assemble the text with `words` removed.
    * Emits the cleaned text plus removed-token count. Pure Column —
    * narrow, codegen'd, no shuffle.
    */
  def removeStopwords(docs: DataFrame, idCol: String, textCol: String,
                      words: Seq[String]): DataFrame = {
    val toks = TextFns.toks(col(textCol))
    val kept = filter(toks, t => !t.isin(words.map(lit): _*))
    docs.select(col(idCol),
      array_join(kept, " ").as("clean_text"),
      (size(toks) - size(kept)).cast("long").as("n_removed"))
  }

  /** Benchmark decontamination (the GPT-3/PaLM n-gram overlap test):
    * for each training doc, how many of its DISTINCT word `n`-grams
    * also occur anywhere in the evaluation set. Emits
    * (id, n_grams, n_hit, hit_frac, contaminated) for every training
    * doc with at least one n-gram (< n tokens ⇒ no grams, absent —
    * same contract as the other shinglers); `contaminated` is
    * n_hit > 0.
    *
    * Scale shape: distinct grams per train doc (narrow shingle pass),
    * the eval side collapsed to a DISTINCT gram set, then ONE
    * equi-join keyed by gram. Because the eval side is distinct,
    * every train gram position matches at most one row — a hot
    * boilerplate gram cannot explode the join output, so no stop-gram
    * guard is needed (unlike all-pairs candidate generators). The
    * eval gram set is joined, never broadcast or collected: at 100 TB
    * an eval suite can itself be millions of grams.
    */
  def decontaminate(train: DataFrame, eval: DataFrame, idCol: String,
                    textCol: String, n: Int): DataFrame =
    decontaminateAgainst(train, idCol, textCol,
      evalGramIndex(eval, textCol, n), n, assumeDistinct = true)

  /** The distinct n-gram set of an eval/benchmark corpus — the
    * artifact an ingest pipeline PERSISTS (in production: written
    * bucketed by `gram`): arriving batches decontaminate against this
    * index via [[decontaminateAgainst]] without ever re-reading or
    * re-shingling the benchmarks. One `gram` column, globally
    * distinct. Also the eval-side stage under [[decontaminate]], so
    * the one-shot and incremental paths cannot drift.
    */
  def evalGramIndex(eval: DataFrame, textCol: String, n: Int): DataFrame =
    Par.fanOut(eval).select(
        explode(distinctShingles(col(textCol), n))
          .as("gram"))
      .distinct()

  /** Contamination REPORT — the audit-side complement of
    * [[decontaminate]]: one row per (train doc, eval item) pair that
    * shares at least one rare n-gram, with the shared count, the eval
    * item's total gram count, and `eval_coverage` (shared / total — how
    * much of the eval item leaked into that doc). [[decontaminate]]
    * answers "drop this doc?"; this answers the auditor's "WHICH
    * benchmark item leaked WHERE".
    *
    * Scale shape: grams explode distinct-per-doc on both sides and the
    * pair join is keyed by gram; grams occurring in more than
    * `maxGramDocFreq` train docs are dropped from matching first (the
    * [[Dedup]]-style stopgram guard), so join fanout per gram is
    * bounded by `maxGramDocFreq · |eval items with that gram|` and the
    * common-phrase quadratic blowup cannot occur. Coverage counts only
    * guard-surviving matches (a conservative lower bound) over the
    * item's FULL gram count.
    */
  def contaminationReport(train: DataFrame, eval: DataFrame,
                          trainIdCol: String, evalIdCol: String,
                          textCol: String, n: Int,
                          maxGramDocFreq: Int = 1000): DataFrame = {
    val tg = Par.fanOut(train).select(col(trainIdCol),
      explode(distinctShingles(col(textCol), n)).as("gram"))
    val rare = tg.groupBy(col("gram"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxGramDocFreq)
      .select(col("gram"))
    val eg = Par.fanOut(eval).select(col(evalIdCol),
      explode(distinctShingles(col(textCol), n)).as("gram"))
    val etot = eval.select(col(evalIdCol),
      size(distinctShingles(col(textCol), n)).cast("long")
        .as("eval_n_grams"))
    tg.join(rare, Seq("gram"), "left_semi")
      .join(eg, Seq("gram"))
      .groupBy(col(trainIdCol), col(evalIdCol))
      .agg(count(lit(1)).as("n_shared"))
      .join(etot, Seq(evalIdCol))
      .select(col(trainIdCol), col(evalIdCol), col("n_shared"),
        col("eval_n_grams"),
        (col("n_shared").cast("double") /
          col("eval_n_grams").cast("double")).as("eval_coverage"))
  }

  /** [[decontaminate]] against a pre-built [[evalGramIndex]] (same
    * `n`). `assumeDistinct = true` skips re-deduplicating the index —
    * correct for indexes produced by [[evalGramIndex]] (or read back
    * from its persisted output); leave false for untrusted gram
    * frames, because a duplicate index row would double-count every
    * hit through the join.
    *
    * Scale shape (shared with the one-shot form): ONE pass over each
    * side — the train grams are distinct per doc, so count(*) after
    * the explode IS n_grams (no second scan/shingle for totals), and
    * the left join marks hits inline (the 2-scan formulation benched
    * 5.3 s vs ~2 s for this one at sf0.1). The join is keyed by
    * distinct grams, so a hot gram cannot explode it.
    */
  def decontaminateAgainst(train: DataFrame, idCol: String,
                           textCol: String, gramIndex: DataFrame,
                           n: Int,
                           assumeDistinct: Boolean = false): DataFrame = {
    val idx = gramIndex.select(col("gram"))
    val evalGrams = (if (assumeDistinct) idx else idx.distinct())
      .withColumn("__hit", lit(1L))
    Par.fanOut(train).select(col(idCol),
        explode(distinctShingles(col(textCol), n))
          .as("gram"))
      .join(evalGrams, Seq("gram"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
      .select(col(idCol), col("n_grams"), col("n_hit"),
        (col("n_hit").cast(DoubleType) /
          col("n_grams").cast(DoubleType)).as("hit_frac"),
        (col("n_hit") > 0).as("contaminated"))
  }

  /** Token-budget corpus selection: fill a token `budget` with the
    * best documents ("take the highest-quality ~10B tokens"), the
    * selection step between scoring and packing in a pretraining
    * recipe. Policy — exact and engine-reproducible: `scoreCol`
    * (integral, e.g. a quality score or char count) is quantized into
    * `bands` equal-width integer bands over its observed [min, max];
    * the budget fills band-by-band from the top, ordered by id inside
    * a band; a doc is kept iff the running token total THROUGH it
    * stays within budget (prefix policy — no gap-filling knapsack).
    * Emits (id, score, band, n_tokens, cum_tokens, kept) for every
    * doc, `kept` marking the selection.
    *
    * Scale shape: the global cumsum over (band desc, id) is the same
    * two-level zipWithIndex pattern as [[packSequences]] — a window
    * cumsum inside (band × id-range-chunk) partitions, chunk totals
    * reduced and prefix-summed on the driver, broadcast back. Chunks
    * are auto-sized so occupied (band, chunk) pairs stay ≤ 2^20 for
    * any id distribution; every window partition is bounded by its
    * chunk. Same integral-id contract and EAGER/localCheckpoint
    * behavior as [[packSequences]]: two driver jobs at build time, the
    * checkpoint (observing the ranges and counts) and chunk totals.
    */
  def selectByBudget(docs: DataFrame, idCol: String, scoreCol: String,
                     textCol: String, budget: Long,
                     bands: Int = 100): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    require(bands >= 1 && bands <= 100000,
      s"bands must be in [1, 100000], got $bands")
    Seq(idCol -> "id", scoreCol -> "score").foreach { case (c, role) =>
      docs.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType => ()
        case other => throw new IllegalArgumentException(
          s"selectByBudget needs an integral $role column (band/chunk " +
            s"grids are integer arithmetic); '$c' is ${other.simpleString}")
      }
    }
    val (base, mm) = Par.checkpointObserving(
      Par.fanOut(docs).select(col(idCol),
        col(scoreCol).cast("long").as("__s"),
        size(TextFns.toks(col(textCol))).cast("long").as("__n")),
      min(col("__s")), max(col("__s")),
      min(col(idCol).cast("long")), max(col(idCol).cast("long")),
      sum(when(col("__s").isNull || col(idCol).isNull, 1L)
        .otherwise(0L)),
      count(lit(1)))
    if (mm.getLong(5) == 0L)
      return base.select(col(idCol), col("__s").as(scoreCol),
        lit(0L).as("band"), col("__n").as("n_tokens"),
        lit(0L).as("cum_tokens"), lit(false).as("kept"))
    require(mm.getLong(4) == 0L,
      s"selectByBudget needs non-null id and score columns; " +
        s"${mm.getLong(4)} of ${mm.getLong(5)} rows have nulls — " +
        s"filter or impute them first (a null cannot be ranked)")
    val (sLo, sHi) = (mm.getLong(0), mm.getLong(1))
    val sRange = sHi - sLo + 1
    require(sRange > 0 && sRange <= Long.MaxValue / bands,
      s"score range [$sLo, $sHi] too wide for exact band arithmetic")
    // trunc-div (Spark `div`) == floor-div (DuckDB `//`) here:
    // (__s - sLo) is non-negative
    val band = expr(s"((__s - $sLo) * $bands) div $sRange").cast("long")
    // chunk grid: ≤ 2^20 / bands chunks so (band × chunk) pairs stay
    // driver-bounded even if every chunk holds every band
    val idRange = mm.getLong(3).toDouble - mm.getLong(2).toDouble + 1
    val effChunk = math.max(4096L,
      math.ceil(idRange / math.max(1, (1 << 20) / bands)).toLong)
    // exact floor-division on longs (subtracting pmod makes the
    // numerator divisible, so `div` is exact and equals floor even
    // for negative ids; a double `/` would misplace ids above 2^53)
    val idL = s"cast($idCol as long)"
    val withKeys = base.withColumn("__band", band)
      .withColumn("__chk",
        expr(s"($idL - pmod($idL, ${effChunk}L)) div ${effChunk}L"))
    val w = Window.partitionBy(col("__band"), col("__chk"))
      .orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cumIn = withKeys.withColumn("__cum", sum(col("__n")).over(w))
    val totals = withKeys.groupBy(col("__band"), col("__chk"))
      .agg(sum(col("__n")).as("__bn"))
      .collect()
      .sortBy(r => (-r.getLong(0), r.getLong(1)))
    var acc = 0L
    val offRows = totals.map { r =>
      val o = acc; acc += r.getLong(2); (r.getLong(0), r.getLong(1), o)
    }.toSeq
    val sp = docs.sparkSession
    import sp.implicits._
    val offsets = offRows.toDF("__band", "__chk", "__off")
    cumIn.join(broadcast(offsets), Seq("__band", "__chk"))
      .select(col(idCol), col("__s").as(scoreCol),
        col("__band").as("band"), col("__n").as("n_tokens"),
        (col("__off") + col("__cum")).as("cum_tokens"))
      .withColumn("kept", col("cum_tokens") <= budget)
  }

  /** Corpus-level duplicate-SPAN removal (the C4 remediation step —
    * [[spanDuplication]] measures the problem, this removes it):
    * chunk each doc's tokens into consecutive `n`-token blocks, keep
    * only the globally FIRST occurrence of every distinct block text
    * (ordered by doc id, then block position — deterministic), and
    * re-assemble each doc from its surviving blocks in order. Emits
    * (id, clean_text, n_blocks, n_removed); a fully-duplicated doc
    * survives with empty clean_text (the caller's length filter drops
    * it). Within-doc repeats dedup too — "keep one occurrence" is
    * global.
    *
    * Scale shape: explode blocks (narrow), the global first
    * occurrence per block via a MIN-aggregate keyed by block text
    * (map-side partial combine — a boilerplate block repeated 10^8
    * times reduces inside each task, where a `row_number` window
    * would sort all its occurrences on ONE task), one join back by
    * block, ONE shuffle by doc for ordered re-assembly (array_sort
    * over collected (pos, text) structs — never order-dependent
    * collect_list output). No pair join. At 100 TB, key the agg/join
    * on xxhash64(block) and keep the text only for collision
    * verification if shuffle bytes dominate.
    */
  def removeDuplicateSpans(docs: DataFrame, idCol: String,
                           textCol: String, n: Int): DataFrame = {
    require(n >= 1, s"block size must be >= 1, got $n")
    val toks = TextFns.toks(col(textCol))
    val nBlocks = ceil(size(toks) / lit(n.toDouble)).cast("int")
    val b = Par.fanOut(docs).select(col(idCol),
        explode(transform(sequence(lit(0), nBlocks - 1), i =>
          struct(i.cast("int").as("bi"),
            array_join(slice(toks, i * n + 1, lit(n)), " ").as("btxt"))))
          .as("b"))
      .select(col(idCol), col("b.bi").as("bi"), col("b.btxt").as("btxt"))
    // struct ordering = (id, bi) lexicographic: the global first
    val firsts = b.groupBy(col("btxt"))
      .agg(min(struct(col(idCol), col("bi"))).as("__first"))
    b.join(firsts, "btxt")
      .withColumn("__kept",
        struct(col(idCol), col("bi")) === col("__first"))
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(
              when(col("__kept"), struct(col("bi"), col("btxt"))))),
            s => s.getField("btxt")),
          " ").as("clean_text"),
        count(lit(1)).as("n_blocks"),
        sum(when(!col("__kept"), 1L).otherwise(0L)).as("n_removed"))
  }

  /** Context-window chunking: slice each doc's tokens into sliding
    * windows of `maxTokens` with `overlap` tokens carried between
    * consecutive chunks (training-sequence prep: every token appears
    * in at least one chunk, boundaries see `overlap` tokens of
    * context). Emits (id, chunk_idx, chunk_text, n_chunk_tokens);
    * docs at or under `maxTokens` yield exactly one chunk, the last
    * chunk may be short. Narrow explode — no shuffle, no state.
    */
  def chunk(docs: DataFrame, idCol: String, textCol: String,
            maxTokens: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < maxTokens,
      s"need 0 <= overlap < maxTokens, got overlap=$overlap max=$maxTokens")
    val stride = maxTokens - overlap
    val toks = TextFns.toks(col(textCol))
    val nChunks = greatest(
      ceil((size(toks) - overlap) / lit(stride.toDouble)).cast("int"),
      lit(1))
    Par.fanOut(docs).select(col(idCol),
        explode(transform(sequence(lit(0), nChunks - 1), i =>
          struct(i.cast("int").as("chunk_idx"),
            slice(toks, i * stride + 1, lit(maxTokens)).as("ctoks"))))
          .as("c"))
      .select(col(idCol), col("c.chunk_idx").as("chunk_idx"),
        array_join(col("c.ctoks"), " ").as("chunk_text"),
        size(col("c.ctoks")).cast("long").as("n_chunk_tokens"))
  }

  /** Deterministic named-split assignment (train/val/test): buckets
    * the md5 hash of the id into `splits` percent ranges (must sum to
    * 100). Reproducible across runs and engines, content-independent,
    * and a narrow projection — the split column rides with the row,
    * no sampling shuffle. Returns the frame + `split`.
    */
  def assignSplits(df: DataFrame, idCol: String,
                   splits: Seq[(String, Int)]): DataFrame = {
    require(splits.nonEmpty && splits.map(_._2).sum == 100,
      s"split percents must sum to 100, got $splits")
    require(splits.forall(_._2 > 0), s"split percents must be > 0: $splits")
    val h = TextFns.hash32(col(idCol).cast("string")) % 100
    val cuts = splits.scanLeft(0)(_ + _._2).tail // cumulative upper bounds
    val split = splits.zip(cuts).init.foldRight(
      lit(splits.last._1): Column) { case (((name, _), hi), other) =>
      when(h < hi, name).otherwise(other)
    }
    df.withColumn("split", split)
  }

  /** Pretraining sequence packing: concatenate all docs' tokens in
    * `idCol` order and cut the stream into sequences of exactly
    * `seqLen` tokens, splitting docs at sequence boundaries (the
    * GPT-style packing that wastes no tokens on padding). Emits one
    * row per (sequence × doc piece):
    * (id, seq_id, doc_tok_start, seq_tok_start, piece_len,
    * piece_text) — assembling pieces by (seq_id, seq_tok_start)
    * reproduces each training sequence; the final sequence may be
    * short. 1-based token offsets.
    *
    * The interesting part at 100 TB is the GLOBAL prefix-sum of token
    * counts, which a naive `sum over (ORDER BY id)` window computes
    * on a single partition (the exact plan shape this engine bans —
    * PlanLintSpec enforces it). Here it is the two-level
    * zipWithIndex shape: a window cumsum inside id-range buckets
    * (shuffle keyed by bucket), bucket TOTALS reduced to |buckets|
    * rows and prefix-summed on the driver (exactly how
    * `RDD.zipWithIndex` handles per-partition counts), broadcast
    * back, and the two added.
    *
    * `idCol` must be an INTEGRAL column: the bucket is derived by
    * integer division, so the bucket grid and the in-bucket window
    * sort must order in the same (numeric) domain — a string id would
    * either bucket as NULL (non-numeric) or disagree lexicographically
    * vs numerically between the two levels, silently corrupting the
    * global packing order. Enforced at plan-build time.
    *
    * The bucket width derives from the OBSERVED id range so the
    * driver pass is provably ≤ 2^20 rows for any id distribution; it
    * assumes ids spread roughly uniformly over their range (dense
    * surrogate keys, the common case) — in a heavily CLUSTERED sparse
    * id space one bucket can hold most docs, and its in-partition sort
    * is then that cluster's size.
    *
    * EAGER NOTE: building this DataFrame runs Spark jobs up front
    * (the input's local checkpoint, which observes the id range, and
    * the bucket-totals collect) — unlike the lazy sibling operators.
    * The input subplan is locally checkpointed so upstream gates/joins
    * run ONCE across those jobs and the final query — and, unlike
    * `persist` (whose SQL-cache entry survives until an explicit
    * `unpersist` this lazy-returning operator has no hook to issue),
    * the checkpoint RDD is released by the ContextCleaner once the
    * result is unreachable, so repeated calls cannot leak executor
    * storage.
    * Trade-off: localCheckpoint storage is not fault-tolerant — an
    * executor loss after build fails the query and the caller
    * retries (acceptable for a batch job; a production pipeline
    * wanting FT here should reliable-`checkpoint` its input).
    */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
                    seqLen: Int): DataFrame = {
    val toks = TextFns.toks(col(textCol))
    val base = Par.fanOut(docs).select(col(idCol), col(textCol),
      size(toks).cast("long").as("__n"))
    packLayout(base, idCol, seqLen)
      .select(col(idCol), col("seq_id"),
        (col("__start") + 1).as("doc_tok_start"),
        (col("__off") + col("__start") - col("seq_id") * seqLen + 1)
          .as("seq_tok_start"),
        (col("__end") - col("__start")).as("piece_len"),
        array_join(slice(TextFns.toks(col(textCol)),
          (col("__start") + 1).cast("int"),
          (col("__end") - col("__start")).cast("int")), " ")
          .as("piece_text"))
  }

  /** [[packSequences]] over a PRE-COMPUTED per-doc token count column
    * — the tokenizer-true form (the [[tokenQuotaByGroupCounts]]
    * pattern): the text variant cuts the stream in WHITESPACE token
    * units, but a trainer's context window is measured in TOKENIZER
    * tokens, and on code or CJK the two diverge 2-5× — a
    * "4096-token" whitespace-packed sequence overflows or starves a
    * real BPE window. Feed it [[bpeEncode]]'s `n_bpe` and every cut
    * lands where the tokenizer's stream actually crosses `seqLen`.
    * Emits the LAYOUT only — (id, seq_id, doc_tok_start,
    * seq_tok_start, piece_len), same 1-based offset semantics — and
    * no `piece_text`: the pieces are spans of the TOKENIZED stream,
    * which only the tokenizer that produced the counts can slice;
    * the trainer applies the layout to its own token ids.
    * [[packBoundaries]] composes unchanged (it reads only the layout
    * columns), so cu_seqlens stay consistent with the same counts.
    * Same two-level zipWithIndex scale shape; `nTokCol` casts to
    * long, docs with count < 1 drop (the text variant's rule).
    */
  def packSequencesCounts(docs: DataFrame, idCol: String,
                          nTokCol: String, seqLen: Int): DataFrame = {
    val base = Par.fanOut(docs).select(col(idCol),
      col(nTokCol).cast("long").as("__n"))
    packLayout(base, idCol, seqLen)
      .select(col(idCol), col("seq_id"),
        (col("__start") + 1).as("doc_tok_start"),
        (col("__off") + col("__start") - col("seq_id") * seqLen + 1)
          .as("seq_tok_start"),
        (col("__end") - col("__start")).as("piece_len"))
  }

  /** The shared packing core: global token offsets via the two-level
    * zipWithIndex shape, then the per-(doc × sequence) piece bounds.
    * `base0` carries `idCol` (integral — validated here), a long
    * `__n` count, and any pass-through columns; output is the base
    * columns plus (`__off`, `seq_id`, `__start`, `__end`) for the
    * callers' final projections. See [[packSequences]]'s scaladoc for
    * the full scale rationale (bucketed cumsum, driver offsets,
    * localCheckpoint eagerness).
    */
  private def packLayout(base0: DataFrame, idCol: String,
                         seqLen: Int): DataFrame = {
    require(seqLen >= 1, s"seqLen must be >= 1, got $seqLen")
    base0.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case other => throw new IllegalArgumentException(
        s"packSequences needs an integral id column (bucket grid and " +
          s"window sort must share the numeric ordering domain); " +
          s"'$idCol' is ${other.simpleString}")
    }
    // the global token offset IS the exclusive prefix sum of __n in
    // id order — Stats.cumBelowByValue holds the ONE copy of the
    // bucketed two-level zipWithIndex machinery (in-bucket window +
    // driver-folded bucket offsets, ≤ 2^20 driver rows); doc ids are
    // the unique "values", so its one-row-per-value contract is the
    // packer's unique-id contract
    val withOff = Stats.cumBelowByValue(base0, Nil, idCol, Seq("__n"))
      .withColumnRenamed("cum___n", "__off")
      .filter(col("__n") >= 1)
    val sFirst = floor(col("__off") / seqLen).cast("long")
    val sLast = floor((col("__off") + col("__n") - 1) / seqLen).cast("long")
    withOff
      .select(base0.columns.map(col).toSeq ++ Seq(col("__off"),
        explode(sequence(sFirst, sLast)).as("seq_id")): _*)
      .withColumn("__start", // 0-based within doc
        greatest(col("seq_id") * seqLen - col("__off"), lit(0L)))
      .withColumn("__end", // exclusive
        least((col("seq_id") + 1) * seqLen - col("__off"), col("__n")))
  }

  /** Attention-boundary export over [[packSequences]] output — the
    * per-sequence document-boundary offsets (the cu_seqlens artifact)
    * a trainer needs for block-diagonal attention over packed
    * sequences: one row per packed piece with `piece_idx` (0-based
    * position within its sequence), 0-based `[tok_start, tok_end)`
    * offsets inside the sequence, `is_doc_start`/`is_doc_end` (whether
    * the piece opens/closes its source document — a mid-doc
    * continuation from the previous sequence must NOT be loss-masked
    * as a document head), and `n_pieces` per sequence. Sorting a
    * sequence's rows by `piece_idx` and reading `tok_end` yields its
    * cu_seqlens prefix array directly.
    *
    * Scale shape: two keyed windows, both hash-partitioned and
    * bounded — the seq-keyed rank/count groups hold ≤ seqLen rows
    * (every piece is ≥ 1 token) and the doc-keyed max-seq groups hold
    * ceil(doc_len/seqLen)+1 rows. No global window, no shuffle beyond
    * the two window keys, nothing driver-side.
    */
  def packBoundaries(packed: DataFrame, idCol: String): DataFrame = {
    val bySeq = Window.partitionBy(col("seq_id"))
      .orderBy(col("seq_tok_start"))
    val seqAll = Window.partitionBy(col("seq_id"))
    val byDoc = Window.partitionBy(col(idCol))
    packed
      .select(col(idCol), col("seq_id"), col("doc_tok_start"),
        col("seq_tok_start"), col("piece_len"))
      .withColumn("piece_idx", (row_number().over(bySeq) - 1).cast("int"))
      .withColumn("n_pieces", count(lit(1)).over(seqAll).cast("int"))
      .withColumn("tok_start", col("seq_tok_start") - 1)
      .withColumn("tok_end", col("seq_tok_start") - 1 + col("piece_len"))
      .withColumn("is_doc_start", col("doc_tok_start") === 1)
      // a doc's pieces carry strictly increasing seq_ids, so its
      // max-seq piece is the one that closes it
      .withColumn("is_doc_end",
        col("seq_id") === max(col("seq_id")).over(byDoc))
      .select(col("seq_id"), col("piece_idx"), col(idCol),
        col("tok_start"), col("tok_end"), col("is_doc_start"),
        col("is_doc_end"), col("n_pieces"))
  }

  /** [[decontaminateAgainst]] with a Bloom-filter prefilter — the
    * 100 TB shuffle-elimination path. Output is IDENTICAL to
    * [[decontaminate]] (same columns, same rows, same values): the
    * Bloom filter only prunes grams BEFORE the exact join, and the
    * join kills its false positives, so approximation never reaches
    * the result.
    *
    * Why: the one-join form ships EVERY distinct train gram through
    * the gram-keyed shuffle — at web scale that is ~`n`× the corpus
    * text volume, dwarfing the scan. Eval suites are tiny by
    * comparison (millions of grams). So: build a Bloom filter over
    * the eval gram set ON THE DRIVER (`fpp` at 1% ≈ 1.2 bytes/gram —
    * ~10 MB for 8M grams), broadcast it, and let each executor drop
    * non-matching grams BEFORE the shuffle. Only true hits + the fpp
    * sliver of false positives ever shuffle; the exact semi-join
    * against the gram index then removes the false positives.
    *
    * Cost shift: per-doc totals (`n_grams`) are computed narrowly
    * (`size(array_distinct(shingles))`) instead of riding the gram
    * agg, so the corpus is shingled twice (two scans) — at scale two
    * column-pruned scans are far cheaper than one full-gram shuffle.
    * Eager step: building the filter runs one Spark job over the
    * index (count + aggregate) at CALL time, like the other
    * artifact-building constructors.
    */
  def decontaminateBloom(train: DataFrame, idCol: String,
                         textCol: String, gramIndex: DataFrame, n: Int,
                         fpp: Double = 0.01): DataFrame = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    // The index plan is consumed THREE times (count, filter build, the
    // exact semi-join in the returned plan) — persist it so an
    // expression-derived index (shingle+distinct of the eval suite) is
    // materialized once, not three times. Eval suites are small
    // (millions of grams ≈ tens of MB); for a disk-persisted
    // production index the cache is simply the read-back. Stays cached
    // for the returned plan's lifetime, like other artifact-building
    // constructors (Spark ML fit() pattern).
    val idx = gramIndex.select(col("gram"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // eager: one pass for the expected-item count, one for the filter.
    // Native BloomFilterAggregate over xxhash64(gram) — the probe below
    // is then a codegen'd BloomFilterMightContain expression (no Scala
    // UDF, no per-run re-broadcast of a driver-side sketch object).
    val nGrams = math.max(idx.count(), 1L)
    // optimal m = -n·ln(p)/ln(2)²; ceil to stay under the target fpp
    val numBits = math.max(64L,
      math.ceil(-nGrams * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    val bloomBytes = {
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
      // BloomFilterAggregate validates n/m against the runtime-filter
      // session caps (4M items / 64 Mbit by default) — an 8M-gram eval
      // suite at web scale would be rejected. Raise the caps to what
      // this filter actually needs (≈1.2 bytes/gram at 1% fpp: ~10 MB
      // for 8M grams — a sane driver/broadcast size).
      val conf = train.sparkSession.conf
      def raiseTo(key: String, needed: Long): Unit =
        if (conf.getOption(key).forall(_.toLong < needed))
          conf.set(key, needed.toString)
      raiseTo("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", nGrams)
      raiseTo("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", numBits)
      val agg = new BloomFilterAggregate(
        Bridge.expression(xxhash64(col("gram"))),
        Literal(nGrams), Literal(numBits)).toAggregateExpression()
      idx.select(Bridge.column(agg)).head().getAs[Array[Byte]](0)
    }
    val mightContain: Column => Column = g => Bridge.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(
          bloomBytes, org.apache.spark.sql.types.BinaryType),
        Bridge.expression(xxhash64(g))))
    val shingled = Par.fanOut(train).select(col(idCol),
      distinctShingles(col(textCol), n).as("__g"))
    // narrow totals — explode semantics kept: zero-gram docs drop out
    val totals = shingled
      .filter(size(col("__g")) > 0)
      .select(col(idCol), size(col("__g")).cast(LongType).as("n_grams"))
    // only bloom-positive grams reach the shuffle; semi-join = exact
    val hits = shingled
      .select(col(idCol), explode(col("__g")).as("gram"))
      .filter(mightContain(col("gram")))
      .join(idx, Seq("gram"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_hit"))
    totals.join(hits, Seq(idCol), "left")
      .select(col(idCol), col("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast(DoubleType) /
          col("n_grams").cast(DoubleType)).as("hit_frac"),
        (coalesce(col("n_hit"), lit(0L)) > 0).as("contaminated"))
  }

  /** Corpus-frequency rarity profile per document (the OOV/quality
    * filter a unigram-LM perplexity gate approximates, in exact
    * integer arithmetic): for each doc, over its token POSITIONS,
    * the document frequency of each token across the corpus. Emits
    * (id, n_tokens, n_rare, rare_frac, min_df) where a position is
    * "rare" when its token appears in at most `dfMax` docs. Integer
    * counts + one final division — bit-identical across engines
    * (a log-prob sum would be order- and rounding-sensitive).
    *
    * Scale shape: same as [[tfidf]] — explode, two hash-aggs, ONE
    * join keyed by token; the vocabulary is never broadcast.
    */
  def rareTokenStats(docs: DataFrame, idCol: String, textCol: String,
                     dfMax: Long): DataFrame = {
    val positions = Par.fanOut(docs)
      .select(col(idCol), explode(TextFns.toks(col(textCol))).as("token"))
    val df = positions.distinct()
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
    positions.join(df, "token")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("df") <= dfMax, 1L).otherwise(0L)).as("n_rare"),
        min(col("df")).as("min_df"))
      .withColumn("rare_frac",
        col("n_rare").cast(DoubleType) / col("n_tokens").cast(DoubleType))
      .select(col(idCol), col("n_tokens"), col("n_rare"),
        col("rare_frac"), col("min_df"))
  }

  /** Importance-weighted target-domain filter (the DSIR idea —
    * Xie et al. 2023, "Data Selection for Language Models via
    * Importance Resampling" — re-expressed with EXACT integer
    * arithmetic): score each document by how much its hashed-token
    * distribution looks like a target slice of the corpus
    * (`targetPred`, e.g. `col("lang") === "en"`) versus the corpus as
    * a whole, and keep the documents whose average per-token
    * likelihood ratio exceeds 1.
    *
    * Math (all integers, so Spark and any oracle agree bit-for-bit —
    * a log-prob sum would be order- and rounding-sensitive): tokens
    * hash into `buckets` feature buckets; with n_t[b]/N_t the target
    * bucket counts/total and n_r[b]/N_r the corpus-wide ones, each
    * bucket gets weight `w[b] = (n_t[b] * N_r * scale) div (n_r[b] *
    * N_t)` — the target/raw probability ratio in fixed point — and a
    * document scores `affinity = sum over its token positions of
    * w[bucket]`. `kept = affinity > scale * n_tokens` (ratio > 1 on
    * average). With no target tokens at all every weight is 0 and
    * nothing is kept.
    *
    * Scale shape: one explode + hash-agg keyed by bucket (≤ `buckets`
    * rows — a true dim table), totals via a broadcast 1-row cross
    * join, then the per-doc score is a broadcast join on bucket + one
    * hash-agg keyed by id with map-side partials. No token-keyed
    * shuffle at all — the vocabulary never materializes. The integer
    * products bound: n_t[b] * N_r * scale must stay under 2^63
    * (ANSI overflow otherwise); at web scale (N ~ 1e13 tokens) drop
    * `scale` accordingly or pre-aggregate per shard.
    */
  def importanceFilter(docs: DataFrame, idCol: String, textCol: String,
                       targetPred: Column, buckets: Int = 64,
                       scale: Long = 1000000L): DataFrame = {
    require(buckets > 0 && scale > 0, s"buckets/scale must be positive")
    val toks = Par.fanOut(docs).select(col(idCol), targetPred.as("__tgt"),
        explode(TextFns.toks(col(textCol))).as("token"))
      .select(col(idCol), col("__tgt"),
        (TextFns.hash32(col("token")) % buckets).as("bucket"))
    val perBucket = toks.groupBy(col("bucket")).agg(
      count(lit(1)).as("n_raw"),
      sum(when(col("__tgt"), 1L).otherwise(0L)).as("n_tgt"))
    val totals = perBucket.agg(
      sum(col("n_raw")).as("tot_raw"), sum(col("n_tgt")).as("tot_tgt"))
    val weights = perBucket.crossJoin(broadcast(totals))
      .select(col("bucket"),
        when(col("tot_tgt") > 0L,
          expr(s"(n_tgt * tot_raw * ${scale}L) div (n_raw * tot_tgt)"))
          .otherwise(0L).as("w"))
    toks.join(broadcast(weights), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("w")).as("affinity"))
      .select(col(idCol), col("n_tokens"), col("affinity"),
        (col("affinity") > col("n_tokens") * scale).as("kept"))
  }

  /** BPE tokenizer induction (Sennrich et al. 2016, "Neural Machine
    * Translation of Rare Words with Subword Units"): learn `merges`
    * byte-pair merges from the corpus — the tokenizer-training step of
    * a pretraining recipe. Returns the learned merge table, one row
    * per step: (step, lhs, rhs, merged, pair_count), where step's
    * merge fuses the adjacent symbol pair (lhs, rhs) that is most
    * frequent (weighted by word count) at that point, leftmost-
    * non-overlapping within a word, ties broken (count desc, lhs asc,
    * rhs asc) — fully deterministic, all-integer counts.
    *
    * Representation: a word's symbol sequence is ONE string with every
    * symbol wrapped in U+001F unit separators ("abc" → "␟a␟␟b␟␟c␟"),
    * so a merge is a plain left-to-right `replace` of "␟l␟␟r␟" with
    * "␟lr␟" — which IS the leftmost-non-overlapping rule, in any
    * engine, with no list machinery. Tokens must not contain U+001F
    * (guaranteed for any text split on whitespace).
    *
    * Scale shape: BPE statistics live on the DISTINCT-WORD vocabulary
    * (count-weighted), never the corpus — one corpus pass builds it
    * (explode + hash-agg; at web scale |vocab| ≪ |corpus|), then each
    * round is a narrow split + explode + hash-agg over vocab rows, a
    * driver-collected 1-row argmax (bounded: `merges` rounds × 1 row,
    * the [[graft.operators.Similarity.kmeansFixed]] pacing), and a
    * narrow `replace` projection. Pending replaces FOLD into the round
    * plan and the vocab localCheckpoints only every 4th merge — a
    * replace chain of depth ≤ 4 is a single narrow codegen projection,
    * while an eager checkpoint per round doubled the sequential job
    * count (the r7 bench-variance source: more jobs, more exposure to
    * ambient GC/codegen noise). Stops early if no adjacent pairs
    * remain.
    */
  def bpeTrain(docs: DataFrame, textCol: String,
               merges: Int): DataFrame = {
    require(merges >= 1 && merges <= 256,
      s"merges must be in [1, 256], got $merges")
    val spark = docs.sparkSession
    import spark.implicits._
    val US = "\u001f"
    var vocab = Par.fanOut(docs)
      .select(explode(TextFns.toks(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
      .select(col("wc"),
        regexp_replace(col("word"), "(.)", s"$US$$1$US").as("s"))
      .localCheckpoint()
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    var exhausted = false
    (1 to merges).foreach { step =>
      if (!exhausted) {
        // adjacent symbol pairs via the codegen WordGrams kernel
        // (symbols never contain spaces — words are \s+-split — so the
        // space-joined pair string splits back exactly); the previous
        // per-position struct HOF ran interpreted per element (r14)
        val best = vocab
          .select(col("wc"), split(trim(col("s"), US), US + US).as("sy"))
          .select(col("wc"),
            explode(graft.expressions.WordGrams(col("sy"), 2)).as("bg"))
          .groupBy(substring_index(col("bg"), " ", 1).as("lhs"),
            substring_index(col("bg"), " ", -1).as("rhs"))
          .agg(sum(col("wc")).as("pc"))
          .orderBy(col("pc").desc, col("lhs"), col("rhs"))
          .limit(1).collect() // TakeOrdered: 1 row per round
        if (best.isEmpty) exhausted = true
        else {
          val (l, r, pc) =
            (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
          out += ((step, l, r, l + r, pc))
          vocab = vocab.select(col("wc"),
            replace(col("s"), lit(s"$US$l$US$US$r$US"),
              lit(s"$US$l$r$US")).as("s"))
          if (step % 4 == 0) vocab = vocab.localCheckpoint()
        }
      }
    }
    out.toSeq.toDF("step", "lhs", "rhs", "merged", "pair_count")
  }

  /** Apply a learned BPE merge table ([[bpeTrain]] output) to the
    * corpus and measure the tokenizer's compression: per document,
    * the symbol count before (`n_sym` = characters) and after
    * (`n_bpe`) the merges, plus `ratio_ppm = n_bpe·10⁶ div n_sym` —
    * the "how many tokens will this corpus cost" question a recipe
    * asks before committing to a tokenizer. Merges apply in step
    * order, leftmost-non-overlapping, never across word boundaries
    * (the space between words is outside the wrapped-symbol encoding,
    * so no pattern can span it).
    *
    * Scale shape: the merge table is collected once (bounded — a
    * tokenizer is ≤ thousands of merges, enforced ≤ 4096) and applied
    * by the fused [[graft.expressions.BpeCounts]] kernel — ONE narrow
    * projection over the corpus, no join, no shuffle, no state. The
    * kernel replicates the per-merge `replace`-chain semantics exactly
    * (leftmost-non-overlapping, step order, never across word
    * boundaries, code-point symbols) but touches each document once in
    * a tight loop over symbol arrays, instead of re-scanning and
    * re-allocating the 3×-inflated unit-separator-wrapped string once
    * per merge — the chain is O(merges × wrapped bytes) per doc with a
    * full string rebuild per merge, the kernel O(merges × symbols)
    * with none (r15, guide §1.2/2; at a production 4096-merge table
    * the chain form is unusable). (r14 A/B note, still relevant to any
    * future restructure: a vocabulary-level variant — encode distinct
    * words, join counts back per doc — was measured 40 % SLOWER at
    * bench scale (3 shuffles replacing a map-only pass) and only pays
    * once merges × corpus bytes dwarf a (doc, word) shuffle; the
    * narrow projection stays the default.)
    */
  def bpeEncode(docs: DataFrame, idCol: String, textCol: String,
                mergeTable: DataFrame): DataFrame = {
    val ms = mergeTable.select(col("step"), col("lhs"), col("rhs"))
      .orderBy(col("step")).limit(4097).collect()
    require(ms.length <= 4096,
      s"merge table must have <= 4096 rows (got more) — not a " +
        "bpeTrain output?")
    val counts = graft.expressions.BpeCounts(TextFns.toks(col(textCol)),
      ms.map(_.getString(1)).toSeq, ms.map(_.getString(2)).toSeq)
    docs.select(col(idCol), counts.as("__bc"))
      .select(col(idCol), col("__bc.n_sym").as("n_sym"),
        col("__bc.n_bpe").as("n_bpe"))
      .withColumn("ratio_ppm",
        when(col("n_sym") > 0L, expr("n_bpe * 1000000L div n_sym"))
          .otherwise(0L))
  }

  /** Deterministic training-shard layout: the LAST step of a curation
    * pipeline, turning the selected corpus into `shards` reproducible
    * output shards with a stable global shuffle. Each doc gets
    * `shard = hash32(id) % shards`, a 1-based `pos` within its shard
    * in (hash, id) order — a content-independent pseudo-random order,
    * so consecutive docs in a shard are an unbiased corpus draw, not
    * crawl-adjacent — and `tok_offset`, the exclusive running sum of
    * `nTokensCol` before it in shard order (the byte/token offset a
    * trainer seeks to). Re-runs, backfills and multi-site builds
    * produce the identical layout (same md5 determinism as
    * [[sampleByHash]]).
    *
    * Scale shape: one shuffle keyed by shard, then a sort + running
    * sum per shard partition — no global sort, no driver state. Size
    * `shards` ≥ the cluster's write parallelism (thousands at 100 TB)
    * so each window partition is a bounded slice of the corpus.
    */
  /** Temperature-balanced source mixing weights (the DoReMi/multilingual
    * "α-sampling" recipe at α = 0.5): given the per-source token mass
    * n_s, the target sampling share is `sqrt(n_s) / Σ sqrt(n_s)` —
    * flattening the source distribution so a dominant crawl stops
    * drowning the tail — and the per-source boost is the ratio of
    * target to current share. One row per source: (source, n_tokens,
    * cur_ppm, tgt_ppm, boost_ppm), all shares in parts-per-million.
    *
    * Exactness: α = 0.5 is the one temperature whose power is an IEEE
    * correctly-rounded primitive (`sqrt`), so each per-source value is
    * bit-identical in any engine; the cross-source sum then runs in
    * fixed point (each sqrt quantized ×1000 to an integer) and every
    * share/boost is exact integer division — no transcendentals, no
    * order sensitivity.
    *
    * Scale shape: a narrow token-count projection + one hash-agg keyed
    * by source (map-side partials; output = source catalog, a
    * config-scale row count) + a broadcast 1-row total. The weights
    * table then drives [[sampleStratified]] / [[quotaByGroup]].
    */
  def temperatureMix(docs: DataFrame, srcCol: String,
                     textCol: String): DataFrame = {
    val perSrc = Par.fanOut(docs)
      .select(col(srcCol).as("source"),
        size(TextFns.toks(col(textCol))).cast("long").as("__nt"))
      .groupBy(col("source"))
      .agg(sum(col("__nt")).as("n_tokens"))
      .withColumn("__q",
        floor(sqrt(col("n_tokens").cast(DoubleType)) * 1000.0 + 0.5)
          .cast(LongType))
    val totals = perSrc.agg(sum(col("n_tokens")).as("__tot_n"),
      sum(col("__q")).as("__tot_q"))
    perSrc.crossJoin(broadcast(totals))
      .select(col("source"), col("n_tokens"),
        expr("n_tokens * 1000000L div __tot_n").as("cur_ppm"),
        expr("__q * 1000000L div __tot_q").as("tgt_ppm"))
      .withColumn("boost_ppm",
        when(col("cur_ppm") > 0L,
          expr("tgt_ppm * 1000000L div cur_ppm")).otherwise(0L))
  }

  def shardAssign(df: DataFrame, idCol: String, nTokensCol: String,
                  shards: Int): DataFrame = {
    require(shards > 0, s"shards must be positive, got $shards")
    val h = TextFns.hash32(col(idCol).cast("string"))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("__h"), col(idCol))
    df.withColumn("__h", h)
      .withColumn("shard", col("__h") % shards)
      .withColumn("pos", row_number().over(w))
      .withColumn("tok_offset", coalesce(
        sum(col(nTokensCol)).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("__h")
  }

  /** Epoch-salted deterministic global shuffle — the training-order
    * stage: every epoch sees the corpus in a DIFFERENT but fully
    * reproducible order (salt the order hash with the epoch, never
    * `rand()`). One row per (doc, epoch) with `shard` (which output
    * file serves it) and `pos` (its position within that shard's read
    * order) — the layout a data loader streams sequentially.
    *
    * Shape: the epoch fan-out is a narrow `explode(sequence(...))`;
    * ordering is ONE window per (epoch, shard) hash partition — the
    * same single-shuffle shape as [[shardAssign]], epochs · shards
    * partitions wide. The per-epoch permutations are independent
    * because the md5 salt changes: no epoch ever replays another's
    * order (the batch-order-memorization guard).
    */
  def epochShuffle(df: DataFrame, idCol: String, epochs: Int,
                   shards: Int): DataFrame = {
    require(epochs > 0, s"epochs must be positive, got $epochs")
    require(shards > 0, s"shards must be positive, got $shards")
    val h = TextFns.hash32(concat(col("epoch").cast("string"), lit(":"),
      col(idCol).cast("string")))
    val w = Window.partitionBy(col("epoch"), col("shard"))
      .orderBy(col("__h"), col(idCol))
    df.withColumn("epoch",
        explode(sequence(lit(0), lit(epochs - 1))))
      .withColumn("__h", h)
      .withColumn("shard", (col("__h") % shards).cast("int"))
      .withColumn("pos", row_number().over(w))
      .drop("__h")
  }

  /** Cross-corpus n-gram NOVELTY scoring — the diminishing-returns
    * signal data curation reads before adding a source (RefinedWeb/
    * FineWeb ablations report it as "fraction of new n-grams"): a
    * gram's FIRST-SEEN document is the minimum doc id containing it,
    * and a doc's novelty is the fraction of its distinct n-grams it
    * is the first to contribute under that deterministic id order.
    * Late near-copies score ≈ 0; the corpus-growth curve is
    * `sum(n_novel)` over docs in id order. Emits
    * (id, n_grams, n_novel, novelty) for docs with ≥ n tokens (no
    * grams → no row, the [[Dedup]] family convention).
    *
    * Scale shape: distinct-gram explode (per-doc distinct — hot
    * boilerplate grams contribute one row per DOC, not per
    * occurrence), ONE gram-keyed min-agg (map-side combining), one
    * gram-keyed join back, one per-doc agg. The gram frame feeds the
    * min-agg and the join, so it is persisted once ([[TextAnalysis
    * .knBigramScore]]'s cb convention). No window, nothing
    * driver-side; novelty is a single exact integer division.
    */
  def noveltyScores(docs: DataFrame, idCol: String, textCol: String,
                    n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val grams = Par.fanOut(docs)
      .select(col(idCol),
        explode(distinctShingles(col(textCol), n)).as("__gram"))
      .persist(MEMORY_AND_DISK)
    val first = grams.groupBy(col("__gram"))
      .agg(min(col(idCol)).as("__first"))
    grams.join(first, Seq("__gram"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__first") === col(idCol), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast("double") / col("n_grams").cast("double"))
  }

  /** Per-source unigram KL divergence from the corpus-wide token
    * distribution — the mixture diagnostic that ranks sources by how
    * far their language deviates from the blend (a skewed source gets
    * down-weighted or re-inspected before training). KL(source ‖
    * corpus) = Σ_t p·ln(p/q) with p = c_st/n_s and q = c_t/N, every
    * count an exact integer; terms are 1e-9 fixed-point-quantized
    * before the per-source integer sum, so the result is
    * partition-order-independent and oracle-exact. Emits
    * (groupCol, n_tokens, kl_nats); KL ≥ 0, and = 0 only for a source
    * whose distribution equals the corpus's.
    *
    * Scale shape: ONE (source, token) hash agg (map-side combining —
    * the only corpus-sized shuffle), a token-keyed reagg for the
    * global counts, a token-keyed join of the two, a broadcast join
    * of the ≤|sources| totals row set, the 1-row corpus total as a
    * driver scalar, and a final per-source agg. No window.
    */
  def sourceTokenKl(docs: DataFrame, groupCol: String,
                    textCol: String): DataFrame = {
    import graft.functions.Cols.{fxSum, fxVal}
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val st = Par.fanOut(docs)
      .select(col(groupCol),
        explode(TextFns.toks(col(textCol))).as("__tok"))
      .groupBy(col(groupCol), col("__tok"))
      .agg(count(lit(1)).as("__c"))
      .persist(MEMORY_AND_DISK) // feeds glob, ns, N and the term join
    val glob = st.groupBy(col("__tok")).agg(sum(col("__c")).as("__g"))
    val ns = st.groupBy(col(groupCol)).agg(sum(col("__c")).as("__ns"))
    val nRow = st.agg(sum(col("__c"))).head()
    require(!nRow.isNullAt(0), "sourceTokenKl needs a non-empty corpus")
    val bigN = nRow.getLong(0).toDouble
    val p = col("__c").cast("double") / col("__ns").cast("double")
    val q = col("__g").cast("double") / lit(bigN)
    st.join(glob, Seq("__tok"))
      .join(broadcast(ns), Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(max(col("__ns")).as("n_tokens"),
        fxSum(p * log(p / q), 1e9).as("__q"))
      .select(col(groupCol), col("n_tokens"),
        fxVal(col("__q"), 1e9).as("kl_nats"))
  }

  /** Per-source Jensen-Shannon divergence from the corpus blend —
    * [[sourceTokenKl]]'s SYMMETRIC, BOUNDED companion: KL explodes on
    * tokens the blend barely holds (and is infinite the other way
    * around), while JS ∈ [0, ln 2] ranks sources on a stable scale a
    * dashboard can threshold. JS(P_s ‖ Q) = ½ Σ p·ln(p/m) +
    * ½ Σ q·ln(q/m) with m = (p+q)/2, split into the source-support
    * part (both terms, fx-quantized at 1e9 per term) and the closed
    * form for tokens OUTSIDE the source — there p = 0, m = q/2, so
    * the tail is ½·ln2·(1 − Q_s) with Q_s = Σ_{t∈s} q an EXACT
    * integer ratio (Σ gc over the source's support / N); ln 2 is
    * embedded as the same 17-digit literal in both engines. Emits
    * (groupCol, n_tokens, js_nats).
    *
    * Scale shape: identical to [[sourceTokenKl]] — one (source,
    * token) hash agg, a token-keyed equi-join onto the global
    * marginals, a broadcast source-totals join, one grouped fx sum.
    */
  def sourceTokenJs(docs: DataFrame, groupCol: String,
                    textCol: String): DataFrame = {
    import graft.functions.Cols.{fxSum, fxVal}
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val st = Par.fanOut(docs)
      .select(col(groupCol),
        explode(TextFns.toks(col(textCol))).as("__tok"))
      .groupBy(col(groupCol), col("__tok"))
      .agg(count(lit(1)).as("__c"))
      .persist(MEMORY_AND_DISK)
    val glob = st.groupBy(col("__tok")).agg(sum(col("__c")).as("__g"))
    val ns = st.groupBy(col(groupCol)).agg(sum(col("__c")).as("__ns"))
    val nRow = st.agg(sum(col("__c"))).head()
    require(!nRow.isNullAt(0), "sourceTokenJs needs a non-empty corpus")
    val bigN = nRow.getLong(0).toDouble
    val ln2 = 0.6931471805599453 // math.log(2.0), literal both engines
    val p = col("__c").cast("double") / col("__ns").cast("double")
    val q = col("__g").cast("double") / lit(bigN)
    val m = (p + q) / 2.0
    st.join(glob, Seq("__tok"))
      .join(broadcast(ns), Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(max(col("__ns")).as("n_tokens"),
        fxSum((p * log(p / m) + q * log(q / m)) * 0.5, 1e9)
          .as("__q"),
        sum(col("__g")).as("__sgc"))
      .select(col(groupCol), col("n_tokens"),
        (fxVal(col("__q"), 1e9) +
          (lit(1.0) - col("__sgc").cast("double") / lit(bigN)) *
            lit(ln2) * 0.5)
          .as("js_nats"))
  }

  /** Tokenizer fertility by group — the tokenizer-eval scorecard
    * ("how many BPE symbols does this source pay per whitespace
    * word"): joins [[bpeEncode]]'s per-doc symbol counts back onto
    * the corpus and aggregates per `groupCol`. High-fertility groups
    * (code, CJK, URL-heavy crawls) are where whitespace budgeting
    * misestimates worst — this table says by how much, per source.
    * Emits (groupCol, n_docs, n_ws, n_bpe, fertility_ppm) with
    * `fertility_ppm = n_bpe · 10⁶ div n_ws` (exact integer division,
    * engine-portable). Docs with zero whitespace tokens still count
    * into n_docs/n_bpe; the ratio guards the zero denominator.
    *
    * Scale shape: the [[bpeEncode]] projection (one narrow codegen
    * pass), an id-keyed equi-join, one group hash agg.
    */
  def tokenizerFertility(docs: DataFrame, groupCol: String,
                         idCol: String, textCol: String,
                         mergeTable: DataFrame): DataFrame = {
    val enc = bpeEncode(docs, idCol, textCol, mergeTable)
      .select(col(idCol), col("n_bpe"))
    Par.fanOut(docs)
      .select(col(idCol), col(groupCol),
        size(TextFns.toks(col(textCol))).cast("long").as("__nw"))
      .join(enc, Seq(idCol))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__nw")).as("n_ws"),
        sum(col("n_bpe")).as("n_bpe"))
      .withColumn("fertility_ppm",
        when(col("n_ws") > 0L, expr("n_bpe * 1000000L div n_ws"))
          .otherwise(0L))
  }

  /** Neyman sample-size allocation across groups — the survey-design
    * answer to "I can afford k human-review labels; how many should
    * each source get": proportional-to-size allocation wastes labels
    * on homogeneous sources, Neyman allocates ∝ n_h·σ_h (Neyman 1934
    * — minimizes the variance of the stratified mean at fixed k), so
    * high-variance sources get audited harder. `valCol` must be an
    * INTEGRAL measurement (length, fixed-point score): the per-group
    * moments (n, Σx, Σx²) are then exact integers, σ_h is one sqrt on
    * an exact rational, and each weight n_h·σ_h quantizes at 1e6
    * before the cross-group total — so the allocation is
    * bit-reproducible cross-engine. `alloc = floor(k·w_h/W)` (floor,
    * no remainder redistribution — Σ alloc ≤ k, the conservative
    * budget reading; zero-variance groups get 0 by design). One row
    * per group: (groupCol, n, sigma, alloc).
    *
    * Scale shape: ONE map-side-combining hash agg to a groups-row
    * frame + a 1-row broadcast total; nothing driver-side, no window.
    */
  def neymanAllocation(df: DataFrame, groupCol: String, valCol: String,
                       k: Int): DataFrame = {
    require(k >= 0, s"k must be >= 0, got $k")
    import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
    df.schema(valCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case other => throw new IllegalArgumentException(
        s"neymanAllocation needs an integral measurement column; " +
          s"'$valCol' is ${other.simpleString}")
    }
    def d19(c: Column) = c.cast(DecimalType(19, 0))
    val x = col(valCol).cast(LongType)
    val g = df.filter(col(valCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(d19(x)).cast(DoubleType).as("__sx"),
        sum(d19(x) * d19(x)).cast(DoubleType).as("__sxx"))
    val nD = col("n").cast(DoubleType)
    val sigma = sqrt((nD * col("__sxx") - col("__sx") * col("__sx")) /
      (nD * nD))
    // checkpointed: the groups-row frame feeds BOTH the cross-group
    // total and the output — planned twice, the corpus scan + hash
    // agg would run twice (the mixtureWeights rationale)
    val q = g.withColumn("__q",
        floor(nD * sigma * 1e6 + 0.5).cast(LongType))
      .localCheckpoint()
    val tot = q.agg(coalesce(sum(col("__q")), lit(0L)).as("__qt"))
    q.crossJoin(broadcast(tot))
      .select(col(groupCol), col("n"), sigma.as("sigma"),
        when(col("__qt") > 0,
          floor(lit(k).cast(DoubleType) *
            col("__q").cast(DoubleType) /
            col("__qt").cast(DoubleType)).cast(LongType))
          .otherwise(0L).as("alloc"))
  }

  /** Uniform-target mixture reweighting — the simplest DoReMi-style
    * domain-weight correction: sampling weights proportional to
    * target_share / current_share with a UNIFORM target, i.e.
    * w_s ∝ 1/tok_s normalized to Σ w = 1 — sources the crawl
    * over-represents get down-sampled to equal token footprints.
    * Emits (groupCol, n_tokens, weight); the denominator Σ 1/tok_s is
    * 1e12 fixed-point-quantized so the normalization is
    * order-independent and oracle-exact.
    *
    * Scale shape: one token-count hash agg to the ≤|sources| row set
    * (locally checkpointed; the checkpoint job also observes the
    * scalar denominator, one execution), one narrow projection.
    */
  def mixtureWeights(docs: DataFrame, groupCol: String,
                     textCol: String): DataFrame = {
    import graft.functions.Cols.{fxSum, fxVal}
    val inv = lit(1.0) / col("n_tokens").cast("double")
    val (grp, dRow) = Par.checkpointObserving(
      Par.fanOut(docs)
        .select(col(groupCol),
          size(TextFns.toks(col(textCol))).cast("long").as("__nt"))
        .groupBy(col(groupCol)).agg(sum(col("__nt")).as("n_tokens")),
      fxSum(inv, 1e12))
    require(!dRow.isNullAt(0), "mixtureWeights needs a non-empty corpus")
    val denom = dRow.getLong(0).toDouble / 1e12
    grp.select(col(groupCol), col("n_tokens"),
      (inv / lit(denom)).as("weight"))
  }
}
