package graft.operators

import graft.functions.{Par, TextFns}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Text-analysis operators: token stats, quality scoring, language ID,
  * document fingerprinting. All pure-`Column` pipelines — one narrow
  * pass over the corpus, no shuffle, fully codegen'd.
  */
object TextAnalysis {

  /** Per-language stopword lists for the n-gram/stopword language-ID
    * heuristic. Deliberately tiny and public-knowledge; real pipelines
    * plug in bigger lists — the operator shape is what matters.
    */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "a", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "que"),
    "es" -> Seq("el", "los", "las", "y", "es", "una", "que"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有"))

  /** Token statistics: n_tokens, n_distinct_tokens, total_chars,
    * avg_token_len (double, exact int division).
    */
  def tokenStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col("__toks")
    Par.fanOut(docs).withColumn("__toks", TextFns.toks(col(textCol)))
      .select(col(idCol),
        size(t).cast("long").as("n_tokens"),
        size(array_distinct(t)).cast("long").as("n_distinct"),
        length(col(textCol)).cast("long").as("n_chars"),
        (aggregate(t, lit(0L), (acc, x) => acc + length(x)).cast(DoubleType) /
          size(t).cast(DoubleType)).as("avg_token_len"),
        // BPE-ish subword proxy: words + single digits + punct runs —
        // the shape of a GPT-2-style pre-tokenizer pass
        size(regexp_extract_all(col(textCol),
          lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))
          .cast("long").as("bpeish_tokens"))
  }

  /** All per-language stopword hit counts in ONE pass over the tokens
    * (the codegen [[graft.expressions.StopwordHits]] kernel — the
    * declarative form re-filters the token array once per language).
    * Kept in its own projection so CollapseProject can't inline the
    * expensive expression into each per-language consumer.
    */
  private def withHits(docs: DataFrame, textCol: String): DataFrame =
    Par.fanOut(docs).withColumn("__hits",
      graft.expressions.StopwordHits(TextFns.toks(col(textCol)),
        stopwords.map(_._2)))

  /** Language-ID: stopword-hit count per language, argmax with
    * first-listed-language tiebreak. Adds (pred_lang, hits).
    */
  def languageId(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val docsT = withHits(docs, textCol)
    val scores: Seq[(String, Column)] =
      stopwords.zipWithIndex.map { case ((lang, _), i) =>
        lang -> element_at(col("__hits"), i + 1)
      }
    val best = scores.tail.foldLeft(
      struct(scores.head._2.as("hits"), lit(scores.head._1).as("lang"))) {
      case (acc, (lang, sc)) =>
        when(sc > acc.getField("hits"),
          struct(sc.as("hits"), lit(lang).as("lang"))).otherwise(acc)
    }
    docsT.select(col(idCol), best.getField("lang").as("pred_lang"),
      best.getField("hits").cast("long").as("hits"))
  }

  /** The quality blend over (text, tokens, per-language hit array) —
    * one definition shared by the batch scorer and the streaming
    * ingest gate so both paths score identically.
    */
  private def qualityBlend(text: Column, toks: Column,
                           hits: Column): Column = {
    val nTok = size(toks).cast(DoubleType)
    val lenTerm = least(nTok / 100.0, lit(1.0))
    val diversity = size(array_distinct(toks)).cast(DoubleType) / nTok
    val stopHits = stopwords.indices
      .map(i => element_at(hits, i + 1))
      .reduce(_ + _).cast(DoubleType)
    val stopTerm = least(stopHits * 4.0 / nTok, lit(1.0))
    val punct = size(split(text, "[.!?,;:]")) - 1
    val punctTerm = lit(1.0) - least(
      punct.cast(DoubleType) / nTok, lit(1.0))
    lenTerm * 0.3 + diversity * 0.3 + stopTerm * 0.2 + punctTerm * 0.2
  }

  /** Self-contained quality Column for streaming/projection use —
    * bit-identical to [[qualityScore]] (same blend, same expression
    * trees; Spark's subexpression elimination shares the repeated
    * token split inside the one projection).
    */
  def qualityCol(text: Column): Column =
    qualityBlend(text, TextFns.toks(text),
      graft.expressions.StopwordHits(
        TextFns.toks(text), stopwords.map(_._2)))

  /** Quality score in [0,1]: weighted blend of length saturation,
    * lexical diversity, stopword ratio and punct scarcity. All terms are
    * exact integer ratios in double — deterministic and oracle-matchable.
    */
  def qualityScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val docsT = withHits(docs, textCol)
      .withColumn("__toks", TextFns.toks(col(textCol)))
    docsT.select(col(idCol),
      qualityBlend(col(textCol), col("__toks"), col("__hits"))
        .as("quality"))
  }

  /** Word n-gram repetition statistics — the Gopher-style repetition
    * filters (duplicate n-gram fraction) that catch boilerplate and
    * degenerate loops cheap heuristics miss. Per doc, over ALL n-gram
    * occurrences (multiplicity kept, unlike the dedup shinglers):
    *
    *  - `n_ngrams`        — total n-gram occurrences;
    *  - `top_ngram_frac`  — occurrences of the single most frequent
    *    n-gram / total (near 1.0 = the doc is one phrase repeated);
    *  - `dup_ngram_frac`  — occurrences belonging to any n-gram seen
    *    more than once / total.
    *
    * Docs with fewer than `n` tokens have no n-grams and are absent
    * from the output (same contract as the minhash path's
    * empty-shingle drop). Plan: narrow n-gram synthesis → explode →
    * two hash aggregations sharing one shuffle by (doc, gram) with
    * map-side partials — no joins, no windows; scales as corpus size.
    */
  def repetition(docs: DataFrame, idCol: String, textCol: String,
                 n: Int): DataFrame = {
    // all n-grams by position via the codegen WordGrams kernel (r14 —
    // the transform/slice/array_join HOF ran interpreted per element;
    // < n tokens ⇒ empty array, which explode drops like the
    // when-guarded form it replaces)
    val perGram = Par.fanOut(docs)
      .select(col(idCol),
        explode(graft.expressions.WordGrams(TextFns.toks(col(textCol)), n))
          .as("gram"))
      .groupBy(col(idCol), col("gram")).agg(count(lit(1)).as("c"))
    perGram.groupBy(col(idCol)).agg(
      sum(col("c")).cast("long").as("n_ngrams"),
      (max(col("c")).cast(DoubleType) / sum(col("c")).cast(DoubleType))
        .as("top_ngram_frac"),
      (sum(when(col("c") > 1, col("c")).otherwise(0L)).cast(DoubleType) /
        sum(col("c")).cast(DoubleType)).as("dup_ngram_frac"))
  }

  /** Code-vs-prose detection — the format-routing gate a mixed crawl
    * runs before language-specific curation (code goes to the code
    * pipeline, prose to the text one). Three exact per-row features:
    *
    *  - `sym_frac`    — code-symbol chars `{}();=[]<>` / total chars;
    *  - `indent_frac` — lines starting with a tab or two spaces / lines;
    *  - `term_frac`   — lines ending in `;`, `{` or `}` / lines.
    *
    * `code_score` = 5·sym_frac + 2·indent_frac + 3·term_frac (fixed
    * evaluation order — bit-identical across engines; every feature is
    * an exact integer ratio), `label` = code iff score ≥ `threshold`.
    * A weighted heuristic, not a trained model — the public-canon
    * baseline (heuristic format filters precede learned ones in every
    * published pipeline); swap the weights for trained ones without
    * touching the plan shape.
    *
    * Scale: one narrow whole-stage-codegen projection; no explode, no
    * shuffle — like [[qualityScore]], free at 100 TB next to the scan.
    */
  def codeProse(docs: DataFrame, idCol: String, textCol: String,
                threshold: Double = 0.3): DataFrame = {
    val t = col(textCol)
    val nChars = length(t).cast(DoubleType)
    val sym = size(regexp_extract_all(t,
      lit("[{}();=\\[\\]<>]"), lit(0))).cast(DoubleType)
    val lines = split(t, "\r?\n")
    val nLines = size(lines).cast(DoubleType)
    val indent = size(filter(lines, l => l.rlike("^(\t|  )")))
      .cast(DoubleType)
    val term = size(filter(lines, l => l.rlike("[;{}]$")))
      .cast(DoubleType)
    val symFrac = when(nChars > 0, sym / nChars).otherwise(0.0)
    val indentFrac = indent / nLines
    val termFrac = term / nLines
    val score = symFrac * 5.0 + indentFrac * 2.0 + termFrac * 3.0
    Par.fanOut(docs).select(col(idCol),
      symFrac.as("sym_frac"), indentFrac.as("indent_frac"),
      termFrac.as("term_frac"), score.as("code_score"),
      when(score >= threshold, "code").otherwise("prose").as("label"))
  }

  /** Document fingerprints: md5 of normalized text (exact identity) plus
    * a rolling 3-gram min-hash (content fingerprint robust to small
    * edits — the MinHash-1 of the shingle set). The shingle min runs as
    * explode + min-aggregate (one md5 per shingle row, codegen'd hash
    * agg) rather than an interpreted per-row array traversal.
    */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val exact = docs.select(col(idCol),
      md5(TextFns.normText(col(textCol))).as("exact_fp"))
    // distinct shingles via the codegen WordShingles expression — the
    // min-aggregate is unaffected by distinctness, and the interpreted
    // HOF shingle chain leaves the hot path
    val shfp = Par.fanOut(docs)
      .select(col(idCol),
        explode(graft.expressions.WordShingles(
          TextFns.toks(col(textCol)), 3)).as("sh"))
      .groupBy(col(idCol)).agg(min(md5(col("sh"))).as("shfp"))
    exact.join(shfp, Seq(idCol), "left")
      .select(col(idCol), col("exact_fp"),
        coalesce(col("shfp"), lit("")).as("shingle_fp"))
  }

  /** WINNOWING fingerprints (Schleimer, Wilkerson & Aiken, "Winnowing:
    * Local Algorithms for Document Fingerprinting", SIGMOD 2003 — the
    * MOSS algorithm): hash every character `k`-gram of the lowered
    * text, slide a window of `w` consecutive hashes, and record each
    * window's MINIMUM hash — rightmost position on ties, the paper's
    * rule — deduplicating repeated picks. The guarantee the whole-doc
    * [[fingerprints]] min-hash lacks: any shared substring of length
    * ≥ k + w − 1 between two docs yields at least one shared
    * fingerprint, so matching (fp) — or (fp, pos) runs — LOCALIZES
    * plagiarized/boilerplate passages instead of just flagging
    * near-identical docs. Emits one row per selected fingerprint:
    * (id, pos, fp) with `pos` the 1-based k-gram start; docs shorter
    * than k + w − 1 chars have no window and emit nothing.
    *
    * Scale shape: one narrow per-row projection (the gram-hash array
    * and the per-window fold are higher-order expressions over
    * text-length-bounded arrays — per-row cost O(len·w), no shuffle)
    * followed by one explode. Downstream passage matching is a plain
    * fp-keyed equi-join — never a pair scan.
    */
  def winnow(docs: DataFrame, idCol: String, textCol: String,
             k: Int = 5, w: Int = 4): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(w >= 1, s"w must be >= 1, got $w")
    // grid + per-window rightmost-min + first-occurrence dedup in ONE
    // per-row kernel ([[graft.expressions.WinnowFingerprints]], r14):
    // the declarative form paid an interpreted md5 per k-gram in the
    // grid HOF and an array allocation + w interpreted lambda calls
    // per window in the picks HOF. Hashes, tie rule and pick order are
    // replicated exactly (spec- and oracle-pinned).
    Par.fanOut(docs)
      .select(col(idCol),
        explode(graft.expressions.WinnowFingerprints(
          lower(col(textCol)), k, w)).as("f"))
      .select(col(idCol), col("f.pos").as("pos"), col("f.h").as("fp"))
  }

  /** Passage-level match report over [[winnow]] fingerprints — the
    * MOSS output: document pairs sharing at least `minShared` selected
    * fingerprints, with the shared count. This is what localized
    * fingerprints are FOR: two docs sharing a ≥ k+w−1-char passage
    * share fingerprints even when their whole-document similarity is
    * negligible (a licence block inside otherwise-unrelated pages).
    *
    * Scale shape: the classic inverted-index pair join —
    * fingerprint-keyed self-join of the distinct (doc, fp) table,
    * oriented id_a < id_b, then one pair-keyed count agg. A
    * fingerprint present in more than `maxDocFreq` docs is dropped
    * from the index first ([[Dedup]]'s hot-shingle guard): ubiquitous
    * boilerplate would otherwise explode the join quadratically while
    * telling us nothing pair-specific.
    */
  def winnowMatches(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 5, w: Int = 4, minShared: Int = 2,
                    maxDocFreq: Int = 100): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(maxDocFreq >= 2, s"maxDocFreq must be >= 2, got $maxDocFreq")
    // feeds the frequency gate and both join sides. persist, NOT
    // localCheckpoint (the knBigramScore cb convention): checkpoint
    // blocks can never be released by unpersist, so every call would
    // pin a corpus-sized frame for the application's lifetime
    val wf = winnow(docs, idCol, textCol, k, w)
      .select(col(idCol).as("__id"), col("fp")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hot = wf.groupBy(col("fp")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDocFreq).select(col("fp"))
    val idx = wf.join(hot, Seq("fp"), "left_anti")
    idx.as("a").join(idx.as("b"),
        col("a.fp") === col("b.fp") && col("a.__id") < col("b.__id"))
      .groupBy(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** [[winnowMatches]] with the match EXTENTS — the actionable MOSS
    * report: a reviewer acts on WHERE the overlap sits, not just that
    * it exists, so each pair also carries the min/max matched k-gram
    * start position per doc. One row per qualifying pair:
    * `(id_a, id_b, n_shared, a_from, a_to, b_from, b_to)` with
    * `n_shared` = distinct shared fingerprints (identical to
    * [[winnowMatches]]'s count — spec-pinned) and positions 1-based
    * k-gram starts; the matched passage in doc a spans characters
    * `[a_from, a_to + k − 1]`. A shared license block inside two
    * otherwise-unrelated pages reports the block's extent in each.
    *
    * Scale shape: [[winnowMatches]]'s inverted-index self-join with
    * the same hot-fingerprint gate, but position-carrying: the join
    * key is still `fp`, so a fingerprint at p positions in doc a and
    * q in doc b contributes p×q rows — bounded in practice because
    * winnowing already deduplicates repeated picks per position and
    * the `maxDocFreq` gate drops ubiquitous boilerplate fps; the
    * min/max extent agg then collapses per pair map-side.
    */
  def winnowSpans(docs: DataFrame, idCol: String, textCol: String,
                  k: Int = 5, w: Int = 4, minShared: Int = 2,
                  maxDocFreq: Int = 100): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(maxDocFreq >= 2, s"maxDocFreq must be >= 2, got $maxDocFreq")
    // position-carrying picks; persisted (NOT localCheckpoint — see
    // winnowMatches) for the gate + both join sides
    val wp = winnow(docs, idCol, textCol, k, w)
      .select(col(idCol).as("__id"), col("pos"), col("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hot = wp.select(col("__id"), col("fp")).distinct()
      .groupBy(col("fp")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDocFreq).select(col("fp"))
    val idx = wp.join(hot, Seq("fp"), "left_anti")
    idx.as("a").join(idx.as("b"),
        col("a.fp") === col("b.fp") && col("a.__id") < col("b.__id"))
      .groupBy(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .agg(countDistinct(col("a.fp")).as("n_shared"),
        min(col("a.pos")).as("a_from"), max(col("a.pos")).as("a_to"),
        min(col("b.pos")).as("b_from"), max(col("b.pos")).as("b_to"))
      .filter(col("n_shared") >= minShared)
  }

  /** Out-of-vocabulary rate against the corpus's own top-`vocabSize`
    * tokens — the tokenizer-fit signal (a doc whose tokens rarely
    * appear in the vocabulary head will fragment into long byte-level
    * token sequences; curation caps or reroutes such docs). Vocabulary
    * = the `vocabSize` most frequent tokens, ties to the
    * lexicographically smaller (deterministic, engine-portable).
    * Emits (id, n_tokens, n_oov, oov_rate); docs with zero tokens
    * produce a single empty-string token under the split convention
    * and still emit.
    *
    * Scale shape: ONE (doc, token) hash-agg over the exploded corpus
    * — the single corpus-sized pass, persisted because it feeds both
    * the vocabulary head and the scoring join (the
    * [[knBigramScore]] cb convention) — then a TakeOrdered head
    * (bounded, broadcast), a map-side membership mark, and a per-doc
    * rollup of the occurrence counts.
    */
  def oovRate(docs: DataFrame, idCol: String, textCol: String,
              vocabSize: Int = 256): DataFrame = {
    require(vocabSize >= 1 && vocabSize <= (1 << 20),
      s"vocabSize must be in [1, 2^20], got $vocabSize")
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val occ = Par.fanOut(docs)
      .select(col(idCol), explode(TextFns.toks(col(textCol))).as("__tok"))
      .groupBy(col(idCol), col("__tok")).agg(count(lit(1)).as("__m"))
      .persist(MEMORY_AND_DISK)
    val vocab = occ.groupBy(col("__tok")).agg(sum(col("__m")).as("__c"))
      .orderBy(col("__c").desc, col("__tok")).limit(vocabSize)
      .select(col("__tok"), lit(1).as("__inv"))
    occ.join(broadcast(vocab), Seq("__tok"), "left")
      .groupBy(col(idCol))
      .agg(sum(col("__m")).as("n_tokens"),
        sum(when(col("__inv").isNull, col("__m")).otherwise(0L))
          .as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast(DoubleType) / col("n_tokens").cast(DoubleType))
  }

  /** Token-distribution drift per group (source/crawl/snapshot) against
    * the whole corpus — the mixture-health check a training-data
    * pipeline runs per ingest: a source whose unigram distribution sits
    * far from the corpus is a candidate for re-weighting or review.
    * Per group emits:
    *
    *  - `n_tokens` — group token occurrences;
    *  - `tv_dist` — total-variation distance between the group's
    *    unigram distribution and the corpus's, in [0,1]
    *    (½·Σ|p_grp − p_corpus| over the full vocabulary — the
    *    out-of-group mass enters via 1 − Σ_{t∈grp} p_corpus, so only
    *    group-present tokens are ever materialized per group);
    *  - `top_token` / `top_diff` — the single most drifting token and
    *    its |p_grp − p_corpus| (ties to the lexicographically first).
    *
    * Determinism: probabilities are exact integer-count ratios in
    * double; the two cross-row sums run fixed-point
    * ([[graft.functions.Cols.fxSum]], scale 1e12 — per-token masses
    * ≤ 1, so quantized terms stay far inside 2^63 up to 10^6-token
    * vocabularies per group) — no transcendentals (total variation,
    * not KL), so every cell is bit-identical across engines.
    *
    * Scale shape: one explode → (group, token) hash-agg with map-side
    * partials; corpus token totals join back BY TOKEN KEY (the
    * vocabulary is never broadcast — it scales with the corpus); the
    * per-group totals and the 1-row corpus total are broadcast. The
    * argmax folds into the same single hash-agg as the sums
    * (min-struct — no window, no sort).
    */
  def sourceDrift(docs: DataFrame, groupCol: String,
                  textCol: String): DataFrame = {
    import graft.functions.Cols.{fxSum, fxVal}
    val tok = Par.fanOut(docs).select(col(groupCol).as("grp"),
      explode(TextFns.toks(col(textCol))).as("token"))
    val gc = tok.groupBy(col("grp"), col("token"))
      .agg(count(lit(1)).as("c"))
    val gt = gc.groupBy(col("grp")).agg(sum(col("c")).as("n"))
    val tc = gc.groupBy(col("token")).agg(sum(col("c")).as("g"))
    val tot = gc.agg(sum(col("c")).as("ntot"))
    val j = gc
      .join(tc, Seq("token"))                 // token-keyed, no broadcast
      .join(broadcast(gt), Seq("grp"))
      .crossJoin(broadcast(tot))
      .select(col("grp"), col("token"),
        (col("c").cast(DoubleType) / col("n").cast(DoubleType)).as("ps"),
        (col("g").cast(DoubleType) / col("ntot").cast(DoubleType))
          .as("pg"))
      .withColumn("diff", abs(col("ps") - col("pg")))
    j.groupBy(col("grp"))
      .agg(fxSum(col("diff"), 1e12).as("sa"),
        fxSum(col("pg"), 1e12).as("sb"),
        min(struct((-col("diff")).as("nd"), col("token").as("tk")))
          .as("m"))
      .join(broadcast(gt), Seq("grp"))
      .select(col("grp").as(groupCol), col("n").as("n_tokens"),
        (lit(0.5) * (fxVal(col("sa"), 1e12) + lit(1.0) -
          fxVal(col("sb"), 1e12))).as("tv_dist"),
        col("m.tk").as("top_token"), (-col("m.nd")).as("top_diff"))
  }

  /** Per-group Shannon token entropy in nats — the corpus-diversity
    * signal (template spam and boilerplate-dominated sources score far
    * below natural text; a uniform vocabulary of V tokens scores
    * ln V). H = ln N − (Σ_tokens c·ln c) / N, with the cross-row sum
    * fixed-point quantized per (group, token) term
    * ([[graft.functions.Cols.fxSum]], scale 1e6 — c·ln c ≤ N·ln N stays
    * exact in a long for any real corpus) so the result is
    * order-independent and oracle-reproducible.
    *
    * Scale shape: explode → (group, token) hash-agg with map-side
    * partials, then a group-keyed agg; the vocabulary is never
    * broadcast or collected. Output: (groupCol, n_tokens, entropy).
    */
  def sourceEntropy(docs: DataFrame, groupCol: String,
                    textCol: String): DataFrame = {
    import graft.functions.Cols.{fxSum, fxVal}
    val tok = Par.fanOut(docs).select(col(groupCol),
      explode(TextFns.toks(col(textCol))).as("token"))
    val counts = tok.groupBy(col(groupCol), col("token"))
      .agg(count(lit(1)).as("__c"))
    val term = col("__c").cast(DoubleType) *
      log(col("__c").cast(DoubleType))
    counts.groupBy(col(groupCol))
      .agg(sum(col("__c")).as("n_tokens"),
           fxSum(term, 1e6).as("__q"))
      .select(col(groupCol), col("n_tokens"),
        (log(col("n_tokens").cast(DoubleType)) -
          fxVal(col("__q"), 1e6) / col("n_tokens").cast(DoubleType))
          .as("entropy"))
  }

  /** Character-trigram language-model cross-entropy scoring — the
    * KenLM-style perplexity quality filter at corpus scale. A trigram
    * model is counted over `train` (c₃ = trigram occurrences, c₂ =
    * leading-bigram context occurrences, T = distinct trigram types);
    * each `score` group (document, language, source — whatever `idCol`
    * keys) is charged the add-one-smoothed negative log-likelihood per
    * trigram occurrence,
    *   nll(abc) = ln(c₂(ab) + T) − ln(c₃(abc) + 1),
    * and reported as `n_trigrams` plus `avg_nll` (nats per trigram —
    * low = fluent under the model, high = outlier/noise/other
    * language). Unseen trigrams and contexts smooth to ln(T), so
    * scoring held-out or cross-lingual text is total. Text is
    * lowercased first; groups with no trigram (< 3 chars of text) drop
    * out.
    *
    * Cross-engine exactness: per (group, trigram) the m·nll term is
    * fixed-pointed at 1e−6 before the exact BIGINT sum (the repo's fx
    * convention — both engines take ln of identical integers), and the
    * final average divides two exact values once.
    *
    * Scale shape: occurrences combine map-side to distinct
    * (group, trigram, m) rows before the model joins; the model tables
    * are equi-joins bounded by the train alphabet³, and the type count
    * T is a one-row broadcast. No all-pairs anywhere; the expensive
    * joins shuffle on the trigram key only.
    */
  def charLmScore(train: DataFrame, score: DataFrame, idCol: String,
                  textCol: String): DataFrame = {
    import graft.functions.Cols.{fxSum, fxVal}
    // char trigrams via the codegen CharGrams kernel (r14): the
    // per-position transform/substr HOF ran interpreted per element;
    // same substrings (by character, < 3 chars ⇒ empty)
    def tris(c: Column): Column =
      graft.expressions.CharGrams(lower(c), 3)
    // score-side occurrence table first: in SELF-SCORING mode (the
    // ext_charlm_score shape — same frame as train and score) the
    // model's trigram counts are the per-doc counts re-summed, so the
    // train side is a reagg of the cached occurrence table instead of
    // a second full corpus scan+explode (r15, the KN-scorer pattern)
    val selfScore = train eq score
    val occ0 = Par.fanOut(score)
      .select(col(idCol), explode(tris(col(textCol))).as("tri"))
      .groupBy(col(idCol), col("tri")).agg(count(lit(1)).as("__m"))
    val occ = if (selfScore)
      occ0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else occ0
    val c3 = (if (selfScore)
        occ.groupBy(col("tri")).agg(sum(col("__m")).as("__c3"))
      else Par.fanOut(train)
        .select(explode(tris(col(textCol))).as("tri"))
        .groupBy(col("tri")).agg(count(lit(1)).as("__c3")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val c2 = c3.groupBy(substring(col("tri"), 1, 2).as("__ctx"))
      .agg(sum(col("__c3")).as("__c2"))
    val types = c3.agg(count(lit(1)).as("__T"))
    val nll =
      log(col("__c2").cast(DoubleType) + col("__T").cast(DoubleType)) -
        log(col("__c3").cast(DoubleType) + lit(1.0))
    occ
      .join(c3, Seq("tri"), "left")
      .withColumn("__ctx", substring(col("tri"), 1, 2))
      .join(c2, Seq("__ctx"), "left")
      .na.fill(0L, Seq("__c3", "__c2"))
      .crossJoin(broadcast(types))
      .groupBy(col(idCol))
      .agg(sum(col("__m")).as("n_trigrams"),
        fxSum(col("__m").cast(DoubleType) * nll, 1e6).as("__q"))
      .select(col(idCol), col("n_trigrams"),
        (fxVal(col("__q"), 1e6) / col("n_trigrams").cast(DoubleType))
          .as("avg_nll"))
  }

  /** Major Unicode script blocks for [[scriptProfile]] — BMP ranges
    * shared verbatim by the SQL oracle (RE2 and java.util.regex both
    * accept the `\x{hhhh}` class syntax). Order is the dominant-script
    * tie priority.
    */
  val scripts: Seq[(String, String)] = Seq(
    "latin" -> "A-Za-z",
    "han" -> "\\x{4E00}-\\x{9FFF}",
    "kana" -> "\\x{3040}-\\x{30FF}",
    "hangul" -> "\\x{AC00}-\\x{D7AF}",
    "cyrillic" -> "\\x{0400}-\\x{04FF}",
    "arabic" -> "\\x{0600}-\\x{06FF}",
    "devanagari" -> "\\x{0900}-\\x{097F}",
    "greek" -> "\\x{0370}-\\x{03FF}")

  /** Per-document Unicode SCRIPT profile — the multilingual-curation
    * signal the stopword [[languageId]] heuristic cannot give for
    * unsegmented scripts: for each major script block, the count of
    * the doc's characters in it and its fraction of the doc's total
    * characters, plus `dominant_script` (highest count; ties break by
    * the [[scripts]] priority order; `other` when no block matches).
    * Mixed-script docs (code-switching, boilerplate chrome around CJK
    * body text) show up as split fractions — the routing signal for
    * per-script tokenizer/quality pipelines.
    *
    * Scale shape: one narrow whole-stage-codegen projection — each
    * count is `length(text) − length(regexp_replace(text, class,
    * ''))`, no explode, no shuffle, no state. Fractions are one exact
    * integer division each, so the oracle bit-matches.
    */
  def scriptProfile(docs: DataFrame, idCol: String,
                    textCol: String): DataFrame = {
    val total = length(col(textCol))
    val counts = scripts.map { case (name, cls) =>
      name -> (total -
        length(regexp_replace(col(textCol), s"[$cls]", "")))
        .cast("long")
    }
    val withCounts = counts.foldLeft(Par.fanOut(docs)) {
      case (df, (name, c)) => df.withColumn(s"n_$name", c)
    }
    // argmax with fixed priority: a later script must be STRICTLY
    // greater to displace an earlier one (mirrors the oracle fold)
    val dominant = counts.tail.foldLeft(
      when(col(s"n_${counts.head._1}") > 0, lit(counts.head._1))
        .otherwise(lit("other"))
        -> col(s"n_${counts.head._1}")) {
      case ((bestName, bestCnt), (name, _)) =>
        val c = col(s"n_$name")
        (when(c > greatest(bestCnt, lit(0L)), lit(name))
          .otherwise(bestName),
          greatest(c, bestCnt))
    }._1
    withCounts
      .withColumn("n_chars", total.cast("long"))
      .withColumn("dominant_script", dominant)
      .select(Seq(col(idCol), col("n_chars")) ++
        scripts.flatMap { case (name, _) => Seq(col(s"n_$name"),
          (col(s"n_$name").cast(DoubleType) /
            col("n_chars").cast(DoubleType)).as(s"frac_$name")) } :+
        col("dominant_script"): _*)
  }

  /** Word bigrams of `c` as "w1 w2" strings (empty array below 2
    * tokens) — the n-gram unit [[knBigramScore]] and
    * [[knTrigramScore]]'s backoff level share.
    */
  private def wordBigrams(c: Column): Column =
    // codegen n-gram kernel (r14): the per-position transform/concat
    // HOF chain ran interpreted per element; same strings (single-
    // space join, empty for < 2 tokens), measured >3× faster
    graft.expressions.WordGrams(TextFns.toks(c), 2)

  /** Interpolated Kneser-Ney BIGRAM language-model scoring — the
    * word-level LM quality signal (CCNet-style perplexity filtering)
    * one step up from [[charLmScore]]'s character trigrams: train
    * bigram/continuation counts on `train`, score each `score` doc's
    * average negative log-likelihood. KN's continuation probability
    * (how many distinct contexts a word FOLLOWS, not how often it
    * occurs) is the part add-one smoothing gets wrong for
    * high-frequency-single-context words ("francisco").
    *
    * Per bigram (w1, w2), with D = `discount`, integer counts
    * c12 = c(w1 w2), c1 = Σ_w c(w1 w), n1f = |{w : c(w1 w) > 0}|,
    * n1c = |{w : c(w w2) > 0}|, T = distinct bigrams, V = vocab:
    *
    *   Pc(w2)     = (n1c + 1) / (T + V + 1)          (add-one floor so
    *                                                  unseen words keep mass)
    *   P(w2|w1)   = (max(c12 − D, 0) + D·n1f·Pc(w2)) / c1   when c1 > 0
    *              = Pc(w2)                                   otherwise
    *
    * Emits (id, n_bigrams, avg_nll); docs with < 2 tokens carry no
    * bigrams and drop. Determinism: every input to the formula is an
    * exact integer, the double expression tree is mirrored op-for-op
    * by the SQL oracle, and per-doc accumulation quantizes each
    * m·(−ln P) term to 1e-6 fixed point before an exact integer sum
    * ([[graft.functions.Cols.fxSum]]) — partition order cannot move
    * the result.
    *
    * Scale shape: training is two map-side-combining hash aggs keyed
    * by bigram then two small reaggs keyed by w1/w2; T and V are a
    * 1-row broadcast. Scoring is one bigram-keyed equi-join of the
    * doc's distinct-bigram occurrences against the model plus two
    * token-keyed joins (context, continuation) and one per-doc hash
    * agg — no window, nothing driver-side, hot bigrams (boilerplate)
    * reduce map-side before every shuffle. (r15 A/B note: a
    * restructure that pre-computed P on the DISTINCT score-side
    * bigram table and joined occurrences once was measured ~1.4×
    * SLOWER at bench scale and REVERTED — the |V|-bounded model
    * tables all BROADCAST here, so the occurrence stream was never
    * being re-shuffled in the first place and the distinct table only
    * added a second score-side pass; the single-join form pays only
    * once the fragments outgrow broadcast.)
    */
  def knBigramScore(train: DataFrame, score: DataFrame, idCol: String,
                    textCol: String,
                    discount: Double = 0.75): DataFrame = {
    require(discount > 0 && discount < 1,
      s"discount must be in (0,1), got $discount")
    import graft.functions.Cols.{fxSum, fxVal}
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val bigrams = wordBigrams _
    // score-side occurrence table first: in SELF-SCORING mode (the
    // registry queries pass the SAME frame as train and score) the
    // model's bigram counts are exactly the per-doc counts re-summed,
    // so the train side becomes a reagg of the cached occurrence
    // table instead of a second full corpus scan+explode (r15)
    val selfScore = train eq score
    val occ0 = Par.fanOut(score)
      .select(col(idCol), explode(bigrams(col(textCol))).as("bg"))
      .groupBy(col(idCol), col("bg")).agg(count(lit(1)).as("__m"))
    val occP = if (selfScore) occ0.persist(MEMORY_AND_DISK) else occ0
    // the bigram count table feeds FOUR consumers (ctx, cont, T, and
    // the scoring join) — persist it once
    val cb = (if (selfScore)
        occP.groupBy(col("bg")).agg(sum(col("__m")).as("__c12"))
      else Par.fanOut(train)
        .select(explode(bigrams(col(textCol))).as("bg"))
        .groupBy(col("bg")).agg(count(lit(1)).as("__c12")))
      .persist(MEMORY_AND_DISK)
    val ctx = cb.groupBy(substring_index(col("bg"), " ", 1).as("__w1"))
      .agg(sum(col("__c12")).as("__c1"), count(lit(1)).as("__n1f"))
    val cont = cb.groupBy(substring_index(col("bg"), " ", -1).as("__w2"))
      .agg(count(lit(1)).as("__n1c"))
    val totals = cb.agg(count(lit(1)).as("__T")).crossJoin(
      Par.fanOut(train).select(explode(TextFns.toks(col(textCol))).as("__tk"))
        .agg(countDistinct(col("__tk")).as("__V")))
    val occ = occP
      .withColumn("__w1", substring_index(col("bg"), " ", 1))
      .withColumn("__w2", substring_index(col("bg"), " ", -1))
    val d = lit(discount)
    val joined = occ
      .join(cb, Seq("bg"), "left")
      .join(ctx, Seq("__w1"), "left")
      .join(cont, Seq("__w2"), "left")
      .na.fill(0L, Seq("__c12", "__c1", "__n1f", "__n1c"))
      .crossJoin(broadcast(totals))
    val pc = (col("__n1c").cast(DoubleType) + lit(1.0)) /
      (col("__T").cast(DoubleType) + col("__V").cast(DoubleType) +
        lit(1.0))
    val p = when(col("__c1") > 0,
        (greatest(col("__c12").cast(DoubleType) - d, lit(0.0)) +
          d * col("__n1f").cast(DoubleType) * pc) /
          col("__c1").cast(DoubleType))
      .otherwise(pc)
    joined
      .groupBy(col(idCol))
      .agg(sum(col("__m")).as("n_bigrams"),
        fxSum(col("__m").cast(DoubleType) * -log(p), 1e6).as("__q"))
      .select(col(idCol), col("n_bigrams"),
        (fxVal(col("__q"), 1e6) / col("n_bigrams").cast(DoubleType))
          .as("avg_nll"))
  }

  /** Interpolated Kneser-Ney TRIGRAM scoring with bigram-level
    * backoff — the standard-order form of [[knBigramScore]] (trigram
    * perplexity is the usual CCNet-style curation signal; bigrams are
    * a weak approximation). Same recursive KN structure, one order
    * deeper; the middle order uses CONTINUATION counts (how many
    * distinct left contexts a bigram has), which is the part that
    * distinguishes KN backoff from naive count backoff.
    *
    * Per trigram (w1, w2, w3), D = `discount`, all counts integers:
    *
    *   c123  = c(w1 w2 w3)        c12t = Σ_w c(w1 w2 w)
    *   n12f  = |{w : c(w1 w2 w) > 0}|
    *   n1c23 = |{w : c(w w2 w3) > 0}|     (continuation of "w2 w3")
    *   nmid  = |{(u,w) : c(u w2 w) > 0}|  (trigram types around w2)
    *   n1f   = |{w : c(w2 w) > 0}|        (bigram followers of w2)
    *   n1c   = |{w : c(w w3) > 0}|, T = distinct bigrams, V = vocab
    *
    *   Pc(w3)        = (n1c + 1) / (T + V + 1)
    *   Pbo(w3|w2)    = (max(n1c23 − D, 0) + D·n1f·Pc(w3)) / nmid
    *                    when nmid > 0, else Pc(w3)
    *   P(w3|w1 w2)   = (max(c123 − D, 0) + D·n12f·Pbo(w3|w2)) / c12t
    *                    when c12t > 0, else Pbo(w3|w2)
    *
    * Emits (id, n_trigrams, avg_nll); docs with < 3 tokens drop.
    * Determinism: the double expression tree is mirrored op-for-op by
    * the SQL oracle and per-doc accumulation goes through the 1e-6
    * fixed-point sum, exactly like the bigram model.
    *
    * Scale shape: the trigram TYPE table is ONE map-side-combining
    * hash agg (persisted — it feeds the three model reaggs and the
    * scoring join); the bigram/unigram backoff tables are
    * [[knBigramScore]]'s. Scoring is six equi-joins keyed on fragments
    * of the trigram string plus one per-doc hash agg — no window,
    * nothing driver-side. The type table and the occurrence table are
    * grouped by the TRIGRAM STRING ALONE (r15, guide §2.3): the four
    * fragment keys are functions of it (`substring_index` on the
    * single-space join — tokens are \s+-split so the split-back is
    * exact) and are derived AFTER each aggregation, so the two widest
    * exchanges carry one string instead of five. (r15 A/B note: a
    * deeper restructure — P per DISTINCT score-side trigram, join
    * occurrences once — measured ~2× SLOWER at bench scale and was
    * REVERTED: the |V|-bounded fragment tables all BROADCAST, so the
    * occurrence stream already crossed zero extra exchanges; the
    * distinct-type table only added a second score-side pass. It
    * pays only once the fragments outgrow broadcast.)
    *
    * `minCount` is the 100 TB cost lever: at corpus scale the type
    * table is DOMINATED by hapax trigrams (Zipf — roughly half of all
    * trigram types occur once), which cost the persisted table and
    * all six scoring joins their width while contributing counts of 1
    * that the discount mostly cancels anyway. `minCount = c` drops
    * type rows with c123 < c BEFORE every consumer, so the three
    * model reaggs (c12t/n12f, n1c23, nmid) stay mutually consistent
    * with the pruned table and a pruned trigram's mass re-routes
    * through the bigram backoff exactly like a never-seen trigram —
    * the standard count-cutoff LM pruning. The bigram/unigram backoff
    * tables are NOT pruned (they are |V|-bounded, not |V|³-bounded,
    * and absorb the re-routed mass). Default 1 = exact behavior.
    *
    * PRODUCTION DEFAULT at corpus scale: `minCount = 2` (the
    * `ext_kn3_pruned` configuration — hash-gated, so the pruned model
    * is bit-reproducible, not approximate). The sf0.1 bench shows the
    * two paths at parity ONLY because the fixture's type table is too
    * small for the cut to pay; under a Zipf corpus hapax trigrams are
    * ~half of all types, so `minCount = 2` roughly halves the
    * persisted table and all six scoring joins. Keep `minCount = 1`
    * only when scoring must match an unpruned external model.
    */
  def knTrigramScore(train: DataFrame, score: DataFrame, idCol: String,
                     textCol: String,
                     discount: Double = 0.75,
                     minCount: Int = 1): DataFrame = {
    require(discount > 0 && discount < 1,
      s"discount must be in (0,1), got $discount")
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    import graft.functions.Cols.{fxSum, fxVal}
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // trigram strings from the codegen WordGrams kernel (r14); the
    // fragment keys derive from the joined string inside whole-stage
    // codegen, AFTER the aggregations (r15) — same strings, same
    // counts, narrower exchanges.
    def tris(df: DataFrame, keep: Seq[Column]): DataFrame =
      df.select(keep :+ explode(graft.expressions.WordGrams(
        TextFns.toks(col(textCol)), 3)).as("tri"): _*)
    def p12Of(c: Column) = substring_index(c, " ", 2)
    def s23Of(c: Column) = substring_index(c, " ", -2)
    def w3Of(c: Column) = substring_index(c, " ", -1)
    // score-side occurrence table first: in SELF-SCORING mode (the
    // registry queries pass the SAME frame as train and score) the
    // type table is exactly the per-doc occurrence table re-summed,
    // so the train side becomes a reagg of the cached occurrence
    // table instead of a second full corpus scan+explode (r15)
    val selfScore = train eq score
    val occ0 = tris(Par.fanOut(score), Seq(col(idCol)))
      .groupBy(col(idCol), col("tri"))
      .agg(count(lit(1)).as("__m"))
    val occP = if (selfScore) occ0.persist(MEMORY_AND_DISK) else occ0
    // trigram type table: four consumers (ctx3, mid23, midw2, scoring)
    // — pruned BEFORE the persist and before all of them, so the
    // model tables derive from the same (smaller) type set
    val ct0 =
      if (selfScore)
        occP.groupBy(col("tri")).agg(sum(col("__m")).as("__c123"))
      else tris(Par.fanOut(train), Seq.empty)
        .groupBy(col("tri")).agg(count(lit(1)).as("__c123"))
    val ct = (if (minCount > 1) ct0.filter(col("__c123") >= minCount)
              else ct0)
      .persist(MEMORY_AND_DISK)
    val ctx3 = ct.groupBy(p12Of(col("tri")).as("p12"))
      .agg(sum(col("__c123")).as("__c12t"), count(lit(1)).as("__n12f"))
    val mid23 = ct.groupBy(s23Of(col("tri")).as("s23"))
      .agg(count(lit(1)).as("__n1c23"))
    val midw2 = ct.groupBy(
        substring_index(s23Of(col("tri")), " ", 1).as("w2"))
      .agg(count(lit(1)).as("__nmid"))
    // bigram-level backoff tables — knBigramScore's model, reused
    val cb = Par.fanOut(train)
      .select(explode(wordBigrams(col(textCol))).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("__c12"))
      .persist(MEMORY_AND_DISK)
    val ctx2 = cb.groupBy(substring_index(col("bg"), " ", 1).as("w2"))
      .agg(count(lit(1)).as("__n1f"))
    val cont = cb.groupBy(substring_index(col("bg"), " ", -1).as("w3"))
      .agg(count(lit(1)).as("__n1c"))
    val totals = cb.agg(count(lit(1)).as("__T")).crossJoin(
      Par.fanOut(train).select(explode(TextFns.toks(col(textCol))).as("__tk"))
        .agg(countDistinct(col("__tk")).as("__V")))
    val occ = occP
      .withColumn("p12", p12Of(col("tri")))
      .withColumn("s23", s23Of(col("tri")))
      .withColumn("w2", substring_index(col("s23"), " ", 1))
      .withColumn("w3", w3Of(col("tri")))
    val d = lit(discount)
    val joined = occ
      .join(ct.select(col("tri"), col("__c123")), Seq("tri"), "left")
      .join(ctx3, Seq("p12"), "left")
      .join(mid23, Seq("s23"), "left")
      .join(midw2, Seq("w2"), "left")
      .join(ctx2, Seq("w2"), "left")
      .join(cont, Seq("w3"), "left")
      .na.fill(0L, Seq("__c123", "__c12t", "__n12f", "__n1c23",
        "__nmid", "__n1f", "__n1c"))
      .crossJoin(broadcast(totals))
    val pc = (col("__n1c").cast(DoubleType) + lit(1.0)) /
      (col("__T").cast(DoubleType) + col("__V").cast(DoubleType) +
        lit(1.0))
    val pbo = when(col("__nmid") > 0,
        (greatest(col("__n1c23").cast(DoubleType) - d, lit(0.0)) +
          d * col("__n1f").cast(DoubleType) * pc) /
          col("__nmid").cast(DoubleType))
      .otherwise(pc)
    val p = when(col("__c12t") > 0,
        (greatest(col("__c123").cast(DoubleType) - d, lit(0.0)) +
          d * col("__n12f").cast(DoubleType) * pbo) /
          col("__c12t").cast(DoubleType))
      .otherwise(pbo)
    joined
      .groupBy(col(idCol))
      .agg(sum(col("__m")).as("n_trigrams"),
        fxSum(col("__m").cast(DoubleType) * -log(p), 1e6).as("__q"))
      .select(col(idCol), col("n_trigrams"),
        (fxVal(col("__q"), 1e6) / col("n_trigrams").cast(DoubleType))
          .as("avg_nll"))
  }

  /** Multinomial Naive Bayes text classifier, trained and applied in
    * one flow — the closed-form stand-in for the linear quality/domain
    * classifiers web-scale curation pipelines run (CCNet/fastText
    * style): label documents by source/domain, learn per-label token
    * likelihoods, score unlabeled text. Bayes training IS aggregation
    * (token counts per label + add-one smoothing), so unlike SGD
    * models it is exactly reproducible and oracle-checkable.
    *
    * Scoring convention (all fixed-point at 1e-6, summed as exact
    * integers — argmax cannot depend on float addition order):
    *
    *   S(d, l) = ln P(l) + Σ_tok m·ln(c_lt + 1) − N_d·ln(tokens_l + V)
    *
    * with m the token's count in d, N_d the doc's token total, V the
    * training vocabulary size. Tokens unseen for a label contribute
    * ln(0 + 1) = 0, so only matched (token, label) pairs join. Emits
    * (id, pred_<label>, score) — the argmax label (ties to the
    * lexicographically first) and its score in nats.
    *
    * Scale shape (r15 rewrite — the r14 min-struct form measured
    * SLOWER than the window it replaced, 1.59 → 2.30 s in the round-14
    * driver bench, because the `crossJoin(broadcast(model))` fanout
    * still materialized AND SHUFFLED |docs| × |labels| rows through a
    * (doc, label) join plus a non-codegen min-struct agg): the model
    * is (labels × vocab) token counts — one persisted hash-agg — and
    * the |labels|-row model head is collected (bounded ≤ 4096, the
    * NearestCells codebook class of driver pass) so per-label scores
    * become ORDINARY COLUMNS. Scoring is then one token-keyed join of
    * the score-side occurrences against a per-token wfx row (vocab
    * rows, one conditional-sum column per label — all codegen) and ONE
    * map-side-combining per-doc hash agg carrying |labels|+1 longs per
    * doc; the argmax is a `least` over |labels| structs in the final
    * projection. No |docs| × |labels| fanout, no per-doc window or
    * min-struct agg, nothing driver-side beyond the label catalog.
    */
  def nbClassify(train: DataFrame, score: DataFrame, labelCol: String,
                 idCol: String, textCol: String): DataFrame = {
    import graft.functions.Cols.fxTerm
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val toks = explode(TextFns.toks(col(textCol)))
    // (label, token) counts feed the model head AND the per-token wfx
    // table — persist the one hash-agg both read
    val clt = Par.fanOut(train)
      .select(col(labelCol).as("__lab"), toks.as("__tok"))
      .groupBy(col("__lab"), col("__tok")).agg(count(lit(1)).as("__c"))
      .persist(MEMORY_AND_DISK)
    val vocab = clt.agg(countDistinct(col("__tok")).as("__V"))
    val labTok = clt.groupBy(col("__lab")).agg(sum(col("__c")).as("__tl"))
    val docsL = train.groupBy(col(labelCol).as("__lab"))
      .agg(count(lit(1)).as("__dl"))
    val docsT = train.agg(count(lit(1)).as("__dt"))
    // the |labels|-row model head, driver-collected (a label catalog
    // is bounded small — it was already broadcast in every prior
    // form; require() guards the contract like the ANN codebooks)
    val model = labTok.join(docsL, Seq("__lab"))
      .crossJoin(broadcast(vocab)).crossJoin(broadcast(docsT))
      .select(col("__lab"),
        fxTerm(log(col("__dl").cast(DoubleType)) -
          log(col("__dt").cast(DoubleType)), 1e6).as("__pfx"),
        fxTerm(log((col("__tl") + col("__V")).cast(DoubleType)), 1e6)
          .as("__lfx"))
      .orderBy(col("__lab")).limit(4097).collect()
    require(model.length <= 4096,
      s"nbClassify supports <= 4096 labels, got more in '$labelCol'")
    if (model.isEmpty) {
      // no trained labels (empty/token-free train set): nothing can be
      // scored — the old crossJoin form emitted zero rows too
      val labT = train.schema(labelCol).dataType
      return score.select(col(idCol),
          lit(null).cast(labT).as(s"pred_$labelCol"),
          lit(null).cast(DoubleType).as("score"))
        .filter(lit(false))
    }
    val labs = model.map(_.get(0))
    val pfx = model.map(_.getLong(1))
    val lfx = model.map(_.getLong(2))
    val nL = labs.length
    // per-token smoothed log-count per label, pivoted to one column
    // per label (conditional sums — plain codegen hash agg)
    val wfx = fxTerm(log((col("__c") + lit(1)).cast(DoubleType)), 1e6)
    val lncW = clt.groupBy(col("__tok"))
      .agg((0 until nL).map(i =>
          sum(when(col("__lab") === lit(labs(i)), wfx)).as(s"__w$i"))
        .head, (1 until nL).map(i =>
          sum(when(col("__lab") === lit(labs(i)), wfx)).as(s"__w$i")): _*)
    // score side: raw token occurrences (hfx is an exact integer sum,
    // so summing wfx per occurrence == summing m·wfx per distinct
    // token), left-joined so out-of-vocabulary tokens keep counting
    // toward N_d with 0 contribution
    val perDoc = Par.fanOut(score)
      .select(col(idCol), toks.as("__tok"))
      .join(lncW, Seq("__tok"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__n"), (0 until nL).map(i =>
        sum(coalesce(col(s"__w$i"), lit(0L))).as(s"__h$i")): _*)
    // argmax via least over (-score, label) structs — identical tie
    // rule to the row_number window ((score DESC, label ASC); exact
    // integer fx scores make the negation lossless)
    def cand(i: Int) = struct(
      (-(lit(pfx(i)) + col(s"__h$i") - col("__n") * lit(lfx(i))))
        .as("ns"),
      lit(labs(i)).as("l"))
    val best = if (nL == 1) cand(0)
      else least((0 until nL).map(cand): _*)
    perDoc.select(col(idCol), best.getField("l").as(s"pred_$labelCol"),
      ((-best.getField("ns")).cast(DoubleType) / 1e6).as("score"))
  }

  /** Sentence segmentation: one row per sentence, `(df's columns,
    * sent_idx, sentence)` in document order. A sentence boundary is
    * whitespace PRECEDED by `.`/`!`/`?` (lookbehind split, so each
    * sentence keeps its terminator); a trailing fragment without a
    * terminator is its own sentence. Heuristic by design —
    * abbreviations like "Dr." split; the chunking consumer below only
    * needs boundaries that never fall inside a word. Narrow
    * split+posexplode projection, no shuffle.
    */
  def sentences(docs: DataFrame, idCol: String,
                textCol: String): DataFrame =
    docs.select(docs.columns.map(col) :+
      posexplode(split(col(textCol), "(?<=[.!?])\\s+"))
        .as(Seq("sent_idx", "sentence")): _*)
      .filter(col("sentence") =!= "")

  /** Sentence-aware chunking: pack each document's sentences into
    * chunks of ~`maxChars` characters WITHOUT ever splitting a
    * sentence — the RAG/long-context prep that plain char-offset
    * chunking ([[Corpus]]'s `chunk`) can't give. Assignment is by
    * exclusive prefix sum: a sentence lands in chunk
    * `prev_chars div maxChars` (prev counts each earlier sentence +1
    * separator), so chunks fill to at least `maxChars` before rolling
    * over and a chunk may exceed it only by its last sentence — the
    * documented greedy-prefix contract, reproducible as plain window
    * arithmetic on any engine. ONE window + ONE hash agg per doc.
    */
  def sentenceChunks(docs: DataFrame, idCol: String, textCol: String,
                     maxChars: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxChars > 0, s"maxChars must be positive, got $maxChars")
    val s = sentences(docs, idCol, textCol)
    val w = Window.partitionBy(col(idCol)).orderBy(col("sent_idx"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prev = coalesce(sum(length(col("sentence")) + 1).over(w), lit(0L))
    s.withColumn("__prev", prev)
      .withColumn("chunk_id",
        expr(s"__prev div ${maxChars}L").cast("int"))
      .groupBy(col(idCol), col("chunk_id"))
      .agg(count(lit(1)).cast("int").as("n_sentences"),
        array_join(transform(
          array_sort(collect_list(struct(col("sent_idx").as("i"),
            col("sentence").as("s")))),
          x => x.getField("s")), " ").as("chunk_text"))
  }

  /** Markdown ATX-header segmentation: one row per section in
    * document order — `(idCol, sec_idx, level, heading, body,
    * n_lines)`. A section starts at each `#{1,6} ` header line (its
    * text becomes `heading`, its hash count `level`) and runs to the
    * next header; lines before the first header form a level-0
    * preamble section with a null heading (absent when the document
    * opens with a header). Lines INSIDE a ``` fenced code block are
    * never headers (CommonMark: a `# install deps` shell comment in a
    * fence must not split a section) — fences toggle on lines starting
    * with three backticks and stay body text. `body` joins the
    * section's non-header lines with `\n`; `n_lines` counts them. The
    * structure pass a docs/wiki corpus needs before section-level
    * dedup, chunking or heading-conditioned training.
    *
    * Scale shape: the [[graft.operators.Web.parseRobots]] pattern —
    * posexplode of lines, ONE doc-partitioned window numbering header
    * runs (documents are KB-sized, partitions stay tiny; fence parity
    * shares the same window), one hash agg with `array_sort` for
    * deterministic line order.
    */
  def markdownSections(docs: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lines = docs.select(col(idCol),
      posexplode(split(col(textCol), "\n")).as(Seq("__ln", "__line")))
    val w = Window.partitionBy(col(idCol)).orderBy(col("__ln"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val isFence = col("__line").rlike("^```")
    // a line is inside a fence iff an ODD number of fence lines
    // precede it (a fence line itself never looks like a header)
    val inFence =
      pmod(sum(isFence.cast("int")).over(w), lit(2)) === 1
    lines
      .withColumn("__is_h",
        col("__line").rlike("^#{1,6}\\s") && !inFence)
      .withColumn("sec_idx",
        sum(col("__is_h").cast("int")).over(w))
      .groupBy(col(idCol), col("sec_idx"))
      .agg(
        coalesce(max(when(col("__is_h"),
          length(regexp_extract(col("__line"), "^(#{1,6})\\s", 1)))),
          lit(0)).as("level"),
        max(when(col("__is_h"),
          trim(regexp_extract(col("__line"), "^#{1,6}\\s+(.*)$", 1))))
          .as("heading"),
        array_join(transform(
          array_sort(collect_list(when(!col("__is_h"),
            struct(col("__ln"), col("__line"))))),
          s => s.getField("__line")), "\n").as("body"),
        sum(when(col("__is_h"), 0).otherwise(1)).as("n_lines"))
  }

  /** Row-local CLIPPED token overlap — Σ over distinct tokens of
    * min(count in `a`, count in `b`): the shared core of [[tokenF1]]
    * and [[sentenceBleu]]'s modified n-gram precision. O(|distinct a|
    * · (|a| + |b|)) per row inside whole-stage codegen — sized for
    * EVAL-ANSWER-length strings (tens of tokens), not documents; an
    * exploded shuffle variant is the right shape past ~10³ tokens.
    */
  private def clippedOverlap(a: Column, b: Column): Column =
    aggregate(array_distinct(a), lit(0), (acc, t) =>
      acc + least(size(filter(a, x => x === t)),
        size(filter(b, x => x === t))))

  /** SQuAD-style token F1 between a prediction and a gold answer
    * (Rajpurkar et al. 2016) — the extractive-QA / short-answer eval
    * metric: whitespace tokens ([[TextFns.toks]], the engine's one
    * tokenizer), CLIPPED bag-of-token overlap (a prediction repeating
    * a gold token scores it once per gold occurrence, never free),
    * F1 = 2·common/(n_pred + n_gold) — the multiset-Dice identity, so
    * no separate P·R rounding. One row per input row: (idCol, n_pred,
    * n_gold, n_common, prec, rec, f1) — `prec`/`rec`, not the reserved
    * word PRECISION; each metric null when its denominator is empty. All counts exact integers; the three
    * divisions close.
    *
    * Scale shape: ONE narrow row-local projection — no shuffle, no
    * explode; see [[clippedOverlap]] for the per-row cost contract.
    */
  def tokenF1(df: DataFrame, idCol: String, predCol: String,
              goldCol: String): DataFrame = {
    val tp = TextFns.toks(col(predCol))
    val tg = TextFns.toks(col(goldCol))
    df.select(col(idCol), tp.as("__tp"), tg.as("__tg"))
      .select(col(idCol),
        size(col("__tp")).cast("long").as("n_pred"),
        size(col("__tg")).cast("long").as("n_gold"),
        clippedOverlap(col("__tp"), col("__tg")).cast("long")
          .as("n_common"))
      .select(col(idCol), col("n_pred"), col("n_gold"), col("n_common"),
        when(col("n_pred") > 0, col("n_common").cast(DoubleType) /
          col("n_pred").cast(DoubleType)).as("prec"),
        when(col("n_gold") > 0, col("n_common").cast(DoubleType) /
          col("n_gold").cast(DoubleType)).as("rec"),
        when(col("n_pred") + col("n_gold") > 0,
          lit(2.0) * col("n_common").cast(DoubleType) /
            (col("n_pred") + col("n_gold")).cast(DoubleType))
          .as("f1"))
  }

  /** Sentence BLEU components (Papineni et al. 2002) between a
    * prediction and a reference — clipped n-gram precisions p_1..p_n
    * plus the length ratio, and the LOG-domain score
    *
    *   log_bleu = (Σ_n t_n)/(maxN·1e9) + min(0, 1 − r/c)
    *
    * where t_n = the 1e-9-quantized ln p_n ([[graft.functions.Cols
    * .fxTerm]] — the psi/KL convention: the ln is the one
    * transcendental, and quantizing it data-side keeps both engines
    * bit-identical) and the brevity-penalty term is an exact-rational
    * min. BLEU itself is exp(log_bleu) — monotone in log_bleu, so
    * thresholds and rankings need no exp; the `bleu` column carries
    * it for convenience but is NOT hash-gated (a second unquantized
    * transcendental layer would reintroduce the last-bit engine
    * variation the fx convention exists to absorb — gate on
    * `log_bleu`). log_bleu is null when any order's precision is 0
    * or undefined (ln(0); the standard unsmoothed-BLEU zero) — the
    * clip/tot counts still report, so a smoothed score can be
    * derived downstream. One row per input row: (idCol, n_pred,
    * n_gold, clip_1..maxN, tot_1..maxN, log_bleu, bleu).
    *
    * Scale shape: one row-local projection (n-gram lists built
    * in-expression, [[clippedOverlap]] per order) — no shuffle;
    * eval-answer-sized strings ([[clippedOverlap]]'s contract).
    */
  def sentenceBleu(df: DataFrame, idCol: String, predCol: String,
                   goldCol: String, maxN: Int = 4): DataFrame = {
    require(maxN >= 1 && maxN <= 8, s"maxN must be in [1, 8], got $maxN")
    import graft.functions.Cols.fxTerm
    def grams(t: Column, n: Int): Column =
      if (n == 1) t
      // codegen n-gram kernel (r14; coalesce keeps the empty-not-null
      // contract for the size()-based tot_n columns)
      else coalesce(
        graft.expressions.WordGrams(t, n),
        array().cast("array<string>"))
    val base = df.select(col(idCol),
      TextFns.toks(col(predCol)).as("__tp"),
      TextFns.toks(col(goldCol)).as("__tg"))
    val withN = (1 to maxN).foldLeft(base) { (d, n) =>
      d.withColumn(s"__pn$n", grams(col("__tp"), n))
        .withColumn(s"__gn$n", grams(col("__tg"), n))
    }
    val counted = (1 to maxN).foldLeft(
        withN.withColumn("n_pred", size(col("__tp")).cast("long"))
          .withColumn("n_gold", size(col("__tg")).cast("long"))) {
      (d, n) =>
        d.withColumn(s"clip_$n",
            clippedOverlap(col(s"__pn$n"), col(s"__gn$n")).cast("long"))
          .withColumn(s"tot_$n", size(col(s"__pn$n")).cast("long"))
    }
    val allPositive = (1 to maxN)
      .map(n => col(s"clip_$n") > 0 && col(s"tot_$n") > 0)
      .reduce(_ && _)
    val tSum = (1 to maxN).map(n =>
      fxTerm(log(col(s"clip_$n").cast(DoubleType) /
        col(s"tot_$n").cast(DoubleType)), 1e9)).reduce(_ + _)
    val bp = least(lit(0.0), lit(1.0) -
      col("n_gold").cast(DoubleType) / col("n_pred").cast(DoubleType))
    val logBleu = when(allPositive,
      tSum.cast(DoubleType) / lit(maxN.toDouble) / lit(1e9) + bp)
    counted.select(col(idCol) +: col("n_pred") +: col("n_gold") +:
      ((1 to maxN).flatMap(n =>
        Seq(col(s"clip_$n"), col(s"tot_$n"))) ++
        Seq(logBleu.as("log_bleu"),
          exp(logBleu).as("bleu"))): _*)
  }

}
