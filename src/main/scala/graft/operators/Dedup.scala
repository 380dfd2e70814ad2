package graft.operators

import graft.functions.{Par, TextFns, VectorFns}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Document-deduplication operators for training-data pipelines.
  *
  * Five strategies, each a plain DataFrame transform over
  * (`idCol: bigint`, `textCol: string`) — or an embedding column for the
  * vector variant:
  *
  *  - [[exact]]        — hash-groupBy on normalized text (one shuffle).
  *  - [[jaccardPairs]] — n-gram shingle inverted index: explode →
  *    self-join on shingle → per-pair intersection counts. The join key
  *    is the shingle, so only docs *sharing at least one shingle* ever
  *    meet — no O(n²) cross join at any scale.
  *  - [[minhashLshPairs]] — MinHash signatures banded into LSH buckets;
  *    candidates = same band key (an equi-join-able groupBy, scales as
  *    the bucket sizes, not n²), verified with estimated Jaccard.
  *  - [[simhashPairs64]] — 64-bit SimHash; pair the distinct
  *    signatures within a Hamming radius by 8×8-band pigeonhole
  *    blocking, then expand the signature pairs to doc pairs.
  *  - [[embeddingPairs]] — cosine near-dup over embeddings; candidates
  *    blocked by random-hyperplane LSH bucket, exact cosine on survivors.
  *
  * Scale notes: every strategy reduces to shuffle-by-key + aggregation.
  * At 100 TB the knobs are the shingle width (higher n → sparser index),
  * band count (more bands → higher recall, more candidates), and a
  * frequency cap on pathological shingles (drop shingles appearing in
  * >F docs — stop-shingle skew guard, `maxShingleFreq`).
  */
object Dedup {


  /** Exact dedup: groups of identical normalized text. Returns one row
    * per duplicate-group member with the group's canonical (min) id, so
    * `filter(col(idCol) =!= col("canonical_id"))` drops the dups.
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hashed = docs.select(col(idCol),
      md5(TextFns.normText(col(textCol))).as("text_hash"))
    hashed.groupBy(col("text_hash"))
      .agg(min(col(idCol)).as("canonical_id"),
        count(lit(1)).as("group_size"))
  }

  /** Exact-dedup SURVIVORS: one row per distinct normalized text —
    * the minimum-`idCol` member's FULL row, via a single min-struct
    * hash-agg keyed by the content hash. This is the one-shuffle form
    * of "[[exact]] then join the canonical ids back": the payload
    * rides inside the struct so no join (and no second scan of the
    * corpus) is needed, and the min-struct combines map-side — a
    * million-copy boilerplate document reduces inside each task.
    * `idCol` must lead the struct ordering, so it is placed first;
    * ids are unique, so ties cannot reorder the remaining fields.
    *
    * Contract narrower than "[[exact]] + join back": min-over-struct
    * needs every payload column ORDERABLE (a MapType column would
    * fail analysis inside the agg) — enforced up front with a clear
    * message; fall back to the exact+join form for such schemas.
    */
  def exactSurvivors(docs: DataFrame, idCol: String,
                     textCol: String): DataFrame = {
    val unorderable = docs.schema.fields.filterNot(f =>
      org.apache.spark.sql.catalyst.expressions.RowOrdering
        .isOrderable(f.dataType)).map(_.name)
    require(unorderable.isEmpty,
      s"exactSurvivors needs orderable payload columns (min-over-" +
        s"struct); unorderable: ${unorderable.mkString(", ")} — use " +
        s"exact() + a join on canonical_id for such schemas")
    val cols = docs.columns.toSeq
    val ordered = col(idCol) +:
      cols.filterNot(_ == idCol).map(col)
    docs
      .groupBy(md5(TextFns.normText(col(textCol))).as("__text_hash"))
      .agg(min(struct(ordered: _*)).as("__r"))
      .select(cols.map(c => col(s"__r.$c").as(c)): _*)
  }

  /** PARAGRAPH-level exact dedup with document rewrite — the C4/
    * RefinedWeb granularity between whole-doc [[exact]] and n-gram
    * span removal ([[Corpus.removeDuplicatedSpans]]): boilerplate
    * paragraphs (nav blocks, license footers, cookie banners) repeat
    * across thousands of pages whose documents are otherwise unique,
    * so the page survives but the repeated PARAGRAPH must go. Split
    * each doc on `sep`, key paragraphs by normalized-content hash
    * ([[graft.functions.TextFns.normText]] — the corpus-wide identity
    * convention), keep each distinct paragraph ONLY in its first
    * occurrence (minimum (doc id, position) — deterministic,
    * partition-invariant), and reassemble survivors in original order.
    * Whitespace-only paragraphs are dropped before keying. Emits one
    * row per doc with ≥ 1 non-blank paragraph: (id, n_pars, n_kept,
    * clean_text) — n_kept = 0 and clean_text = '' for a doc whose
    * every paragraph lives earlier.
    *
    * Scale shape: posexplode (bounded by text size), ONE key-keyed
    * min-struct hash agg for the winners (map-side combining — a hot
    * boilerplate key reduces before the shuffle), one key-keyed join
    * back, and a per-doc collect_list/sort reassembly agg (rows per
    * doc = its paragraph count, never corpus-sized). The paragraph
    * frame feeds the winner agg, the join and the per-doc counts, so
    * it is persisted once. No window.
    */
  def dedupParagraphs(docs: DataFrame, idCol: String, textCol: String,
                      sep: String = "\n\n"): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val pars = Par.fanOut(docs)
      .select(col(idCol),
        posexplode(split(col(textCol),
          java.util.regex.Pattern.quote(sep))).as(Seq("__idx", "__p")))
      .filter(trim(col("__p")) =!= "")
      .withColumn("__key", md5(TextFns.normText(col("__p"))))
      .persist(MEMORY_AND_DISK)
    val winner = pars.groupBy(col("__key"))
      .agg(min(struct(col(idCol).as("d"), col("__idx").as("i")))
        .as("__w"))
    val kept = pars.join(winner, Seq("__key"))
      .filter(col(idCol) === col("__w.d") && col("__idx") === col("__w.i"))
    val counts = pars.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_pars"))
    val rebuilt = kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("__idx"), col("__p")))),
            s => s.getField("__p")),
          sep).as("clean_text"))
    counts.join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_pars"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Agreeing-position count between two MinHash signatures via the
    * codegen [[graft.expressions.SigAgreeCount]] kernel — semantically
    * `size(filter(zip_with(a, b, ===), x => x))`, which runs an
    * interpreted lambda per component per candidate PAIR (bucket-size²
    * of them) in the declarative form.
    */
  private def sigAgree(a: Column, b: Column): Column =
    graft.expressions.SigAgreeCount(a, b)

  /** Distinct (docId, shingle) pairs — shingle construction via the
    * codegen [[graft.expressions.WordShingles]] kernel (the
    * declarative HOF chain is interpreted per element and measurably
    * slower); the explode stays because the inverted index needs the
    * exploded rows.
    */
  private def shingled(docs: DataFrame, idCol: String, textCol: String,
                       n: Int): DataFrame =
    Par.fanOut(docs).select(col(idCol).as("did"),
        explode(graft.expressions.WordShingles(
          TextFns.toks(col(textCol)), n)).as("sh"))

  /** Shared inverted-index pair core under [[jaccardPairs]] /
    * [[containmentPairs]]: build the distinct-shingle index (with the
    * optional hot-shingle guard), per-doc shingle counts over the SAME
    * guarded index, and per-pair intersection counts. Emits
    * (id_a, id_b, inter, nsh_a, nsh_b) for every ordered-by-id pair
    * sharing at least one surviving shingle — the callers differ only
    * in how they score those five integers, so a skew-guard or plan
    * fix here lands in both operators at once.
    *
    * Plan shape: narrow (did, sh) index rows + a tiny per-doc count
    * joined back onto the aggregated pairs. A/B-measured 2.5x faster
    * than carrying the count through the self-join: identical narrow
    * sides let Spark reuse one exchange for both join inputs, and the
    * pair shuffle stays at its minimum width. The explicit
    * repartition(sh) makes the counts branch reuse that same exchange
    * too, so the shingling/explode subplan runs once total
    * (A/B in tools/ab_jaccard.scala).
    *
    * Skew: AQE's skew-join split does NOT apply through this reused
    * user repartition (splitting would break the user-specified
    * partitioning — verified empirically in SkewSpec), so
    * `maxShingleFreq` is the one skew defense on this path: it bounds
    * per-key index rows BEFORE the join rather than relying on
    * runtime re-planning.
    */
  private def pairStats(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, maxShingleFreq: Int): DataFrame = {
    val sh0 = shingled(docs, idCol, textCol, n).repartition(col("sh"))
    val sh =
      if (maxShingleFreq <= 0) sh0
      else {
        val hot = sh0.groupBy("sh").count()
          .filter(col("count") > maxShingleFreq).select("sh")
        sh0.join(broadcast(hot), Seq("sh"), "left_anti")
      }
    // counts over the SAME (guarded) index as the intersection — with
    // hot shingles removed, the score is the consistent measure over
    // the pruned feature universe (identical docs still score 1.0)
    val counts = sh.groupBy("did").agg(count(lit(1)).as("nsh"))
    val inter = sh.as("a")
      .join(sh.as("b"), col("a.sh") === col("b.sh") &&
        col("a.did") < col("b.did"))
      .groupBy(col("a.did").as("id_a"), col("b.did").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(counts.withColumnRenamed("did", "id_a")
        .withColumnRenamed("nsh", "nsh_a"), "id_a")
      .join(counts.withColumnRenamed("did", "id_b")
        .withColumnRenamed("nsh", "nsh_b"), "id_b")
  }

  /** All-pairs n-gram Jaccard ≥ `threshold` via shingle inverted index.
    * `maxShingleFreq` drops shingles occurring in more than that many
    * docs (skew guard; 0 disables).
    */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   n: Int, threshold: Double,
                   maxShingleFreq: Int = 0): DataFrame =
    pairStats(docs, idCol, textCol, n, maxShingleFreq)
      .withColumn("jaccard",
        col("inter").cast(DoubleType) /
          (col("nsh_a") + col("nsh_b") - col("inter")).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** Asymmetric shingle CONTAINMENT pairs — partial-copy / quote
    * detection, which symmetric Jaccard misses structurally: a short
    * doc fully embedded in a long one scores |short|/|long| on
    * Jaccard (tiny) but 1.0 on containment-in-the-long-doc. For each
    * ordered-by-id pair sharing ≥ 1 shingle, emits
    * (id_a, id_b, inter, nsh_a, nsh_b, cont_a, cont_b) where
    * cont_a = |A∩B|/|A| (how much of A is inside B) and cont_b the
    * mirror; keeps pairs with max(cont_a, cont_b) ≥ `threshold`.
    * Distinct n-gram shingles, integer intersection counts, one
    * division — oracle-exact.
    *
    * Scale shape: identical to [[jaccardPairs]] (same inverted index,
    * same reused exchange, same `maxShingleFreq` stop-shingle guard);
    * only the final scoring differs.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, threshold: Double,
                       maxShingleFreq: Int = 0): DataFrame =
    pairStats(docs, idCol, textCol, n, maxShingleFreq)
      .withColumn("cont_a",
        col("inter").cast(DoubleType) / col("nsh_a").cast(DoubleType))
      .withColumn("cont_b",
        col("inter").cast(DoubleType) / col("nsh_b").cast(DoubleType))
      .filter(greatest(col("cont_a"), col("cont_b")) >= threshold)
      .select(col("id_a"), col("id_b"), col("inter"), col("nsh_a"),
        col("nsh_b"), col("cont_a"), col("cont_b"))

  /** Containment-directed SUBSET REMOVAL — the apply step
    * [[containmentPairs]] only measures: a document ≥ `threshold`
    * shingle-contained in any LARGER document (ties by smaller id) is
    * dropped, the superset survives — quote pages, syndicated
    * excerpts and partial mirrors collapse into their fullest copy,
    * the asymmetric case symmetric Jaccard dedup misses. Emits one
    * row per input doc: `(idCol, kept, absorbed_by)` with
    * `absorbed_by` the BEST absorber (highest containment, then
    * largest, then smallest id; -1 when kept). Absorption is
    * NON-transitive by contract: a doc contained in a doc that is
    * itself absorbed still drops — its content survives through the
    * chain's top.
    *
    * Scale shape: [[containmentPairs]]' inverted-index plan plus a
    * per-absorbed-doc argmax hash aggregation (min-struct, map-side
    * combinable) and one left join back onto the corpus ids — no new
    * window, nothing driver-side.
    */
  def dropContained(docs: DataFrame, idCol: String, textCol: String,
                    n: Int, threshold: Double,
                    maxShingleFreq: Int = 0): DataFrame = {
    val pairs = containmentPairs(docs, idCol, textCol, n, threshold,
      maxShingleFreq)
    val dirA = pairs.filter(col("cont_a") >= threshold &&
        (col("nsh_b") > col("nsh_a") ||
          (col("nsh_b") === col("nsh_a") && col("id_b") < col("id_a"))))
      .select(col("id_a").as("__x"), col("id_b").as("__y"),
        col("cont_a").as("__c"), col("nsh_b").as("__ny"))
    val dirB = pairs.filter(col("cont_b") >= threshold &&
        (col("nsh_a") > col("nsh_b") ||
          (col("nsh_a") === col("nsh_b") && col("id_a") < col("id_b"))))
      .select(col("id_b").as("__x"), col("id_a").as("__y"),
        col("cont_b").as("__c"), col("nsh_a").as("__ny"))
    // argmax absorber via min-struct: (-containment, -size, id)
    val absorbed = dirA.unionAll(dirB)
      .groupBy(col("__x"))
      .agg(min(struct((-col("__c")).as("nc"), (-col("__ny")).as("nn"),
        col("__y").as("y"))).as("__best"))
      .select(col("__x"), col("__best.y").as("__by"))
    docs.select(col(idCol))
      .join(absorbed, col(idCol) === col("__x"), "left_outer")
      .select(col(idCol), col("__by").isNull.as("kept"),
        coalesce(col("__by"), lit(-1L)).as("absorbed_by"))
  }

  /** Banded MinHash signature INDEX of a corpus: one
    * (did, sig, band) row per (doc, band). This is the artifact an
    * incremental ingestion pipeline PERSISTS (in production: written
    * bucketed by `band`): new batches near-dup against the existing
    * corpus by joining this index — the existing corpus text is never
    * re-read and its signatures never recomputed. Also the shared
    * banding step under [[minhashLshPairs]], so the in-corpus and
    * incremental paths cannot drift.
    */
  def minhashIndex(docs: DataFrame, idCol: String, textCol: String,
                   n: Int, k: Int, bands: Int): DataFrame =
    minhashSigs(docs, idCol, textCol, n, k)
      .select(col("did"), col("sig"),
        explode(TextFns.lshBands(col("sig"), k, bands)).as("band"))

  /** Incremental near-dup: (new_id, old_id, est_jaccard) pairs between
    * an incoming batch and an EXISTING corpus index from
    * [[minhashIndex]] (same n/k/bands). Signatures are computed for
    * the new docs only; candidates come from a band equi-join against
    * the index, so per-batch cost scales with the batch and the
    * matched buckets — not the corpus. This is the production
    * ingestion shape: dedup each arriving batch against 100 TB without
    * touching the 100 TB.
    *
    * Each side is consumed once, so no explicit repartition is needed
    * (contrast [[minhashLshPairs]], whose banded frame feeds both
    * sides of a self-join); the equi-join shuffles on `band` — or
    * avoids the index-side shuffle entirely when the stored index is
    * bucketed by `band`.
    */
  def incrementalMinhashPairs(newDocs: DataFrame, idCol: String,
                              textCol: String, index: DataFrame,
                              n: Int, k: Int, bands: Int,
                              threshold: Double): DataFrame = {
    val nw = minhashIndex(newDocs, idCol, textCol, n, k, bands).as("nw")
    // estimate + threshold BEFORE the pair dedup, as in minhashLshPairs
    nw.join(index.as("ix"), col("nw.band") === col("ix.band"))
      .select(col("nw.did").as("new_id"), col("ix.did").as("old_id"),
        (sigAgree(col("nw.sig"), col("ix.sig")).cast(DoubleType) / k)
          .as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      .dropDuplicates("new_id", "old_id")
  }

  /** MinHash+LSH near-dup candidates: k-wide signatures, `bands` bands;
    * docs sharing any band key pair up; `est_jaccard` = fraction of
    * matching signature components; keep pairs ≥ `threshold`.
    *
    * Signatures come from the shuffle-free codegen path
    * ([[minhashSigs]] — one md5 per distinct (doc, shingle) total,
    * inside one narrow projection); the banded self-join repartitions
    * on the band key so both sides share one exchange.
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      n: Int, k: Int, bands: Int,
                      threshold: Double): DataFrame = {
    // explicit exchange on the join key: the narrow expression path has
    // no aggregation exchange for ReuseExchange to share, so without
    // this both self-join sides would re-run the md5 shingle hashing;
    // repartition(band) is reused by both sides AND pre-partitions the
    // equi-join (same pattern as simhashPairs64's repartition(sig))
    val banded = minhashIndex(docs, idCol, textCol, n, k, bands)
      .repartition(col("band"))
    // estimate + threshold BEFORE the pair dedup: the candidate set is
    // the big intermediate (bucket-size²); the surviving pairs are tiny
    banded.as("a")
      .join(banded.as("b"), col("a.band") === col("b.band") &&
        col("a.did") < col("b.did"))
      .select(col("a.did").as("id_a"), col("b.did").as("id_b"),
        (sigAgree(col("a.sig"), col("b.sig")).cast(DoubleType) / k)
          .as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      .dropDuplicates("id_a", "id_b")
  }

  /** k-wide MinHash signatures via the codegen
    * [[graft.expressions.MinHashSig]] kernel: one narrow pass per
    * doc — distinct n-gram shingling, md5 hashing and k permutation
    * minimums all in tight Java (the declarative shingle chain is
    * interpreted HOFs, measured ~4× slower) — NO shuffle in the
    * signature stage. Docs with fewer than n tokens yield null and are
    * dropped, matching the aggregate path's groupBy semantics.
    * Bit-identical to the explode → hash once → k min-aggregates form
    * (the declarative reference in `DedupSpec`).
    */
  def minhashSigs(docs: DataFrame, idCol: String, textCol: String,
                  n: Int, k: Int): DataFrame =
    Par.fanOut(docs).select(col(idCol).as("did"),
        graft.expressions.MinHashSig(TextFns.toks(col(textCol)), k, n)
          .as("sig"))
      .filter(col("sig").isNotNull)

  /** 64-bit SimHash signatures — the production-scale path. 64 bits
    * keep signatures sparse at any realistic corpus size, where a
    * 16-bit space saturates (2^16 distinct values ⇒ at web scale every
    * signature is occupied and Hamming neighborhoods blanket the space).
    *
    * Computed by the codegen [[graft.expressions.SimHash64]] kernel:
    * one narrow pass, NO shuffle — each doc's tokens hash once (xxhash64)
    * into 64 local counters inside WholeStageCodegen. Bit-identical to
    * the explode + 64-conditional-sum-aggregates form (the declarative
    * reference in `DedupSpec`).
    */
  def simhash64Sigs(docs: DataFrame, idCol: String,
                    textCol: String): DataFrame =
    Par.fanOut(docs).select(col(idCol).as("did"),
        graft.expressions.SimHash64(TextFns.toks(col(textCol))).as("sig"))
      // null sig = null text or zero tokens — the aggregate path's
      // groupBy drops such docs; match it
      .filter(col("sig").isNotNull)

  /** 64-bit md5-prefix SimHash signatures — the oracle-reproducible
    * twin of [[simhash64Sigs]]: same codegen one-pass shape
    * ([[graft.expressions.SimHashMd5]] at 64 bits), but each token
    * hashes to the first 8 md5 bytes instead of xxhash64, so a SQL
    * oracle can rebuild every signature bit from the two 32-bit md5
    * prefix halves. Use [[simhash64Sigs]] in production (xxhash64 is
    * one intrinsic vs a full md5 per token); this form exists so the
    * ENTIRE 8×8-band pair path can run under an exact external oracle.
    */
  def simhash64Md5Sigs(docs: DataFrame, idCol: String,
                       textCol: String): DataFrame =
    Par.fanOut(docs).select(col(idCol).as("did"),
        graft.expressions.SimHashMd5(TextFns.toks(col(textCol)), 64)
          .as("sig"))
      .filter(col("sig").isNotNull)

  /** SimHash near-dup pairs over 64-bit signatures: pigeonhole banding
    * into 8 bands of 8 bits — any pair within Hamming ≤ 7 agrees on at
    * least one whole band, so candidates come from a band-value
    * equi-join. Pairs come from the DISTINCT signatures, expanded to
    * doc pairs by equi-joins; the signature-pair join is left to the
    * planner (no broadcast hint): at 2^64 the distinct-signature set
    * grows with the corpus, so AQE should pick the join strategy from
    * actual sizes.
    */
  def simhashPairs64(docs: DataFrame, idCol: String, textCol: String,
                     maxHamming: Int): DataFrame =
    simhashPairs64From(simhash64Sigs(docs, idCol, textCol), maxHamming)

  /** [[simhashPairs64]] over the md5-prefix signatures — identical
    * banding plan, oracle-checkable end to end (the registry's
    * `ext_dedup_simhash64` runs this form under a full DuckDB oracle;
    * the xxhash64 form is additionally property-tested against
    * brute-force Hamming in DedupSpec).
    */
  def simhashPairs64Md5(docs: DataFrame, idCol: String, textCol: String,
                        maxHamming: Int): DataFrame =
    simhashPairs64From(simhash64Md5Sigs(docs, idCol, textCol), maxHamming)

  /** Near-dup pairs over ANY pre-computed (did, sig: long) signature
    * frame — the banded plan behind [[simhashPairs64]], exposed for
    * non-text 64-bit signatures (e.g. perceptual image hashes from
    * [[Multimodal.imageFeatures]]): image near-dup is the multimodal
    * twin of text SimHash and shares the exact same 8×8-band
    * pigeonhole machinery.
    */
  def sigPairs64(sigs: DataFrame, maxHamming: Int): DataFrame =
    simhashPairs64From(sigs, maxHamming)

  /** The shared 8×8-band pair plan over any (did, sig: long) frame. */
  private def simhashPairs64From(sigs0: DataFrame,
                                 maxHamming: Int): DataFrame = {
    require(maxHamming <= 7,
      "8-band pigeonhole blocking only covers Hamming <= 7")
    val sigs = sigs0.repartition(col("sig"))
    val distinctSigs = sigs.select(col("sig")).distinct()
    val banded = distinctSigs
      .select(col("sig"), explode(array((0 until 8).map(i =>
        struct(lit(i).as("bi"),
          shiftrightunsigned(col("sig"), 8 * i).bitwiseAND(lit(255L))
            .as("bv"))): _*)).as("band"))
      .select(col("sig"), col("band.bi").as("bi"), col("band.bv").as("bv"))
    val sigPairs = banded.as("x")
      .join(banded.as("y"),
        col("x.bi") === col("y.bi") && col("x.bv") === col("y.bv"))
      .select(col("x.sig").as("sig_a"), col("y.sig").as("sig_b"),
        TextFns.hamming(col("x.sig"), col("y.sig")).cast("int")
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("sig_a", "sig_b")
    sigs.as("a")
      .join(sigPairs, col("a.sig") === col("sig_a"))
      .join(sigs.as("b"),
        col("b.sig") === col("sig_b") && col("a.did") < col("b.did"))
      .select(col("a.did").as("id_a"), col("b.did").as("id_b"),
        col("hamming"))
  }

  /** Connected components over near-dup pairs: every doc gets the
    * minimum doc id reachable through duplicate edges as its
    * `cluster_id` (docs in no pair are their own singleton cluster).
    * `filter(col(idCol) === col("cluster_id"))` yields the deduplicated
    * corpus with the smallest id as each cluster's canonical member.
    *
    * Min-label propagation: each iteration every node takes the min of
    * its own and its neighbors' labels; converges in graph-diameter
    * iterations (near-dup clusters are shallow — pairs and small
    * cliques — so typically 2-3). Each step is one join + one
    * aggregation, shuffling |edges| rows; `localCheckpoint` cuts the
    * growing lineage so plans stay constant-size. This is the
    * simple-and-correct form of the large-star/small-star CC algorithm
    * used at web scale.
    *
    * Two scale levers beyond the propagation loop itself:
    *
    *  - ITERATE ONLY THE EDGE ENDPOINTS: a doc in no pair can never
    *    change label (it is its own singleton cluster), so the loop's
    *    join/agg/checkpoint frames are sized by the DUPLICATE set,
    *    not the corpus — at web scale the difference between
    *    iterating a few percent of docs and all of them. Singletons
    *    are attached at the end by one left join + coalesce.
    *  - Convergence detection: labels are monotonically
    *    non-increasing per node, so the total label sum strictly
    *    decreases while ANY node changes and is equal exactly at the
    *    fixpoint — ONE scalar aggregate per iteration (decimal
    *    accumulation: 10^12 long ids would overflow a long sum),
    *    observed by the iteration's checkpoint job, where a per-node
    *    old-vs-new comparison costs a whole extra join per iteration.
    *  - SIZE-GATED DRIVER UNION-FIND: the duplicate graph is tiny
    *    relative to the corpus (pairs, not docs). When the
    *    checkpointed pair set (counted by its checkpoint job) is at
    *    most `maxDriverPairs` (and ids are Long), exact union-find on
    *    the driver resolves components in one pass and the label map
    *    broadcasts back — one collect +
    *    one broadcast join instead of diameter× (join + agg +
    *    checkpoint) jobs. Above the gate (or non-long ids) the
    *    distributed loop runs unchanged, so a pathological pair
    *    explosion can never OOM the driver.
    */
  def clusters(docs: DataFrame, idCol: String, pairs: DataFrame,
               maxIter: Int = 20,
               maxDriverPairs: Long = 2000000L): DataFrame = {
    val (pc, nPairs) = Par.checkpointObserving(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst")),
      count(lit(1)))
    val longIds =
      docs.schema(idCol).dataType == org.apache.spark.sql.types.LongType &&
        pc.schema.fields.forall(
          _.dataType == org.apache.spark.sql.types.LongType)
    if (longIds && nPairs.getLong(0) <= maxDriverPairs)
      return clustersDriver(docs, idCol, pc)
    val edges = pc
      .union(pc.select(col("dst").as("src"), col("src").as("dst")))
    // edges carry both directions, so distinct src = every endpoint;
    // intersect with the corpus ids so a pair id NOT in docs (a stale
    // or filtered-upstream pair set) can neither receive a label nor
    // become a component's min label — same contract as seeding from
    // docs, at endpoint-sized loop cost (the semi-join broadcasts the
    // small endpoint set against the corpus ids)
    def checkpointLabels(df: DataFrame) = {
      val (cp, v) = Par.checkpointObserving(df,
        sum(col("cluster_id").cast(DecimalType(38, 0))))
      (cp, if (v.isNullAt(0)) java.math.BigDecimal.ZERO else v.getDecimal(0))
    }
    var (labels, prevSum) = checkpointLabels(
      edges.select(col("src").as("id")).distinct()
        .join(docs.select(col(idCol).as("id")), Seq("id"), "left_semi")
        .withColumn("cluster_id", col("id")))
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "dst2"),
          col("dst") === col("dst2"))
        .groupBy(col("src")).agg(min(col("cluster_id")).as("nmin"))
      val (next, nextSum) = checkpointLabels(labels
        .join(neighborMin, labels("id") === neighborMin("src"), "left")
        .select(col("id"),
          least(col("cluster_id"),
            coalesce(col("nmin"), col("cluster_id"))).as("cluster_id")))
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      labels = next
      iter += 1
    }
    // singletons (docs in no pair) are their own cluster — one left
    // join of the corpus against the (small) resolved endpoint set
    docs.select(col(idCol))
      .join(labels.withColumnRenamed("id", "__eid"),
        col(idCol) === col("__eid"), "left")
      .select(col(idCol),
        coalesce(col("cluster_id"), col(idCol)).as("cluster_id"))
  }

  /** Dedup-AWARE train/val/test assignment: the split is hashed on
    * the near-dup CLUSTER id, never the document id, so two
    * near-duplicates can NEVER straddle a split boundary — the
    * train/test leakage mode plain per-doc hashing has (a paraphrased
    * copy of a training document landing in the eval split scores as
    * generalization). Composition of [[clusters]] +
    * [[Corpus.assignSplits]]: one row per doc, `(idCol, cluster_id,
    * split)`; the hash depends only on `cluster_id`, so membership is
    * constant within a cluster by construction and stable under
    * re-partitioning. Adds nothing to [[clusters]]' scale shape (the
    * split is a narrow projection). `maxIter`/`maxDriverPairs` pass
    * through to [[clusters]] (same defaults), so callers with large
    * pair sets keep the driver-union-find gate reachable.
    */
  def clusterSplits(docs: DataFrame, idCol: String, pairs: DataFrame,
                    splits: Seq[(String, Int)],
                    maxIter: Int = 20,
                    maxDriverPairs: Long = 2000000L): DataFrame =
    Corpus.assignSplits(
      clusters(docs, idCol, pairs, maxIter, maxDriverPairs),
      "cluster_id", splits)

  /** Driver-side exact resolution for [[clusters]]' small-graph regime:
    * union-find with union-by-min (the root of each tree is the
    * component's minimum id by construction, so labels match the
    * propagation loop's fixpoint exactly, independent of edge order).
    * Pair ids not present in `docs` are excluded from the graph — the
    * same contract the distributed path enforces via its endpoint
    * semi-join: an invalid endpoint neither labels nor bridges.
    * `pc` must be checkpointed (src, dst) pairs within the collect gate.
    */
  private[operators] def clustersDriver(docs: DataFrame, idCol: String,
                                         pc: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    // only pairs whose two endpoints are both docs; an endpoint left
    // with no such pair falls to the closing coalesce as a singleton
    val ids = docs.select(col(idCol).as("__id"))
    val raw = pc.join(ids, col("src") === col("__id"), "left_semi")
      .join(ids, col("dst") === col("__id"), "left_semi")
      .as[(Long, Long)].collect()
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    raw.foreach { case (a, b) =>
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent.put(rb, ra)
      else if (rb < ra) parent.put(ra, rb)
    }
    val labels = parent.keySet.asScala.toList.map(id => (id, find(id)))
    docs.select(col(idCol))
      .join(broadcast(labels.toDF("__eid", "cluster_id")),
        col(idCol) === col("__eid"), "left")
      .select(col(idCol),
        coalesce(col("cluster_id"), col(idCol)).as("cluster_id"))
  }

  /** Edit-distance-VERIFIED near-duplicates: MinHash-LSH proposes
    * candidates ([[minhashLshPairs]]), then exact Levenshtein confirms
    * — the classic candidate-generate/verify split. Shingle-set
    * estimates are order-blind (token swaps don't move Jaccard) and
    * probabilistic; the Levenshtein pass upgrades survivors to a
    * character-level guarantee: `norm_sim = 1 − dist/max(len_a,len_b)`
    * ≥ `minNormSim`. Emits (id_a, id_b, edit_dist, norm_sim).
    *
    * Scale shape: the DP runs ONLY on LSH candidates — and BANDED:
    * the distance call carries a per-pair threshold of
    * `floor((1−minNormSim)·maxlen) + 1`, one more than any distance
    * the `norm_sim` filter could accept, so Spark's thresholded
    * Levenshtein computes an O(len × maxDist) diagonal band (early
    * −1 when exceeded) instead of the full O(len²) table — identical
    * surviving rows, ~(1−minNormSim)⁻¹ less DP work. The two text
    * joins are id-keyed equi-joins.
    */
  def editDistancePairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, k: Int, bands: Int, threshold: Double,
                        minNormSim: Double): DataFrame = {
    require(minNormSim >= 0.0 && minNormSim <= 1.0,
      s"minNormSim must be in [0,1], got $minNormSim")
    val cand = minhashLshPairs(docs, idCol, textCol, n, k, bands, threshold)
    val t = docs.select(col(idCol), col(textCol))
    cand
      .join(t.select(col(idCol).as("id_a"), col(textCol).as("__ta")),
        Seq("id_a"))
      .join(t.select(col(idCol).as("id_b"), col(textCol).as("__tb")),
        Seq("id_b"))
      .withColumn("edit_dist",
        expr(s"levenshtein(__ta, __tb, cast(floor((1.0d - $minNormSim) " +
          "* greatest(length(__ta), length(__tb))) + 1 as int))")
          .cast("long"))
      .filter(col("edit_dist") >= 0L) // −1 = over the band, cannot pass
      .withColumn("norm_sim", lit(1.0) - col("edit_dist").cast("double") /
        greatest(length(col("__ta")), length(col("__tb"))).cast("double"))
      .filter(col("norm_sim") >= minNormSim)
      .select(col("id_a"), col("id_b"), col("edit_dist"), col("norm_sim"))
  }

  /** Embedding cosine near-dup pairs ≥ `threshold`, LSH-blocked: only
    * vectors sharing a hyperplane bucket in at least one of `tables`
    * independent hash tables are compared exactly (OR-amplification —
    * recall ≈ 1-(1-p^planes)^tables; tables=1 is plain single-table
    * blocking).
    */
  def embeddingPairs(embs: DataFrame, idCol: String, vecCol: String,
                     threshold: Double, planes: Int = 8,
                     tables: Int = 1): DataFrame = {
    val b = Par.fanOut(embs).select(col(idCol).as("vid"), col(vecCol).as("v"),
        explode(array((0 until tables).map(t =>
          struct(lit(t).as("t"),
            VectorFns.lshBucket(col(vecCol), planes, t).as("bucket"))): _*))
          .as("tb"))
      .select(col("vid"), col("v"), col("tb.t").as("t"),
        col("tb.bucket").as("bucket"))
    val pairs = b.as("a")
      .join(b.as("b"), col("a.t") === col("b.t") &&
        col("a.bucket") === col("b.bucket") && col("a.vid") < col("b.vid"))
      .withColumn("cosine", VectorFns.cosine(col("a.v"), col("b.v")))
      .filter(col("cosine") >= threshold)
      .select(col("a.vid").as("id_a"), col("b.vid").as("id_b"),
        col("cosine"))
    // a pair can meet in several tables; single-table blocking cannot
    // duplicate, so skip the extra shuffle there
    if (tables > 1) pairs.dropDuplicates("id_a", "id_b") else pairs
  }

  /** Canonical-member selection over resolved duplicate clusters:
    * given (id, cluster_id, score) rows (e.g. [[clusters]] joined to
    * a quality score), keep the highest-scoring member of each
    * cluster (ties to the lowest id — deterministic). Emits
    * (id, cluster_id, canonical_id, keep) for every input row: the
    * keep=true rows are the deduplicated corpus under a
    * quality-preference policy instead of [[clusters]]' min-id
    * convention.
    *
    * Scale shape: ONE hash-agg keyed by cluster (max over
    * (score, -id) structs — map-side partial combine, so a
    * pathological million-member cluster reduces inside each task),
    * one join back by cluster. No windows, no sorts.
    */
  def selectCanonical(clustered: DataFrame, idCol: String,
                      scoreCol: String): DataFrame = {
    // min over (-score, id) structs = (max score, then MIN id) — the
    // score is negated (scores are numeric by contract) rather than
    // the id, so string/binary doc ids order correctly too
    val best = clustered.groupBy(col("cluster_id"))
      .agg(min(struct((-col(scoreCol)).as("negs"),
        col(idCol).as("cid"))).as("__b"))
      .select(col("cluster_id"), col("__b.cid").as("canonical_id"))
    clustered.join(best, "cluster_id")
      .select(col(idCol), col("cluster_id"), col("canonical_id"),
        (col(idCol) === col("canonical_id")).as("keep"))
  }

  /** SemDeDup-style semantic pruning: partition the embedding space
    * into deterministic hyperplane-LSH cells, pick one representative
    * per cell (lowest id — stable across runs), and drop every other
    * member whose cosine to its cell representative is at least
    * `tau`. Emits (id, bucket, rep_id, rep_cos, kept) for every
    * vector; the kept=true rows are the semantically deduplicated
    * corpus.
    *
    * Versus [[embeddingPairs]]+[[clusters]] (exact near-dup graph):
    * this is the cheap one-pass form — no pair join at all, O(n)
    * cosine evaluations (each member vs one representative), which is
    * the published SemDeDup trade-off (cluster-local pruning misses
    * cross-cell dups but costs a single map-side pass over the
    * corpus).
    *
    * Scale shape: one hash-agg for representatives, one join back by
    * bucket, narrow cosine + filter. The corpus itself never
    * shuffles for the rep attach when the rep side broadcasts. The
    * broadcast payload is one FULL embedding per occupied cell —
    * cells × dims × 4 bytes, which blows the executor broadcast
    * budget long before the 2^24-row count limit at realistic dims —
    * so the hint is applied only while 2^planes stays at or under
    * `maxBroadcastCells`; beyond that the rep side attaches via a
    * plain equi-join keyed by bucket (same plan minus the hint, one
    * extra shuffle of the corpus, AQE picks the strategy from actual
    * sizes). The default cap (2^16 cells) keeps the worst-case
    * payload ~tens of MB at dims ≤ 1k.
    */
  def semanticPrune(embs: DataFrame, idCol: String, vecCol: String,
                    planes: Int, tau: Double,
                    maxBroadcastCells: Long = 1L << 16): DataFrame = {
    require(planes >= 1 && planes <= 62,
      s"planes must be in [1,62] (bucket ids are a long bitmask), " +
        s"got $planes")
    val m = Par.fanOut(embs).select(col(idCol).as("__id"),
      col(vecCol).as("__v"),
      VectorFns.lshBucket(col(vecCol), planes).as("bucket"))
    val reps = m.groupBy(col("bucket")).agg(min(col("__id")).as("rep_id"))
    val repVecs = m.select(col("__id"), col("__v"))
      .join(reps, col("__id") === col("rep_id"))
      .select(col("bucket"), col("rep_id"), col("__v").as("__rv"))
    // the explicit hint overrides Spark's size threshold — only force
    // it when the cell-count bound proves the payload is small
    val repSide =
      if ((1L << planes) <= maxBroadcastCells) broadcast(repVecs)
      else repVecs
    m.join(repSide, "bucket")
      .withColumn("rep_cos", VectorFns.cosine(col("__v"), col("__rv")))
      .select(col("__id").as(idCol), col("bucket"), col("rep_id"),
        col("rep_cos"),
        (col("__id") === col("rep_id") || col("rep_cos") < tau).as("kept"))
  }

  /** Cross-source duplication matrix: for every pair of sources, how
    * many distinct normalized contents they SHARE — the diagnostic
    * that tells a curation pipeline which crawls/dumps are mirrors of
    * each other (and so which [[exact]] dedup will collapse). Same
    * normalized-text md5 as [[exact]], so "shared" means exactly what
    * the deduper will merge. Emits (src_a, src_b, n_shared) with
    * src_a < src_b, only pairs that share ≥ 1 content.
    *
    * Scale shape: distinct (hash, source) pairs — one hash-agg, text
    * never shuffles — then a self equi-join keyed by the content hash.
    * Per-key fanout is bounded by the number of DISTINCT SOURCES a
    * content appears in (≤ the source catalog, a config-scale number,
    * and further capped by `maxSourcesPerHash`: contents above the cap
    * are dropped with the reasoning of a stop-shingle — a blob that
    * appears in every dump says nothing about pairwise mirroring and
    * would quadratically dominate the join).
    */
  def sourceOverlap(docs: DataFrame, textCol: String, srcCol: String,
                    maxSourcesPerHash: Int = 64): DataFrame = {
    require(maxSourcesPerHash >= 2,
      s"maxSourcesPerHash must be >= 2, got $maxSourcesPerHash")
    val hs = docs
      .select(md5(TextFns.normText(col(textCol))).as("__h"),
        col(srcCol).as("__src"))
      .distinct()
    val capped = hs.groupBy(col("__h"))
      .agg(count(lit(1)).as("__ns"))
      .filter(col("__ns") <= maxSourcesPerHash)
      .select(col("__h"))
    val side = hs.join(capped, Seq("__h"))
    side.join(side.withColumnRenamed("__src", "__src2"), Seq("__h"))
      .filter(col("__src") < col("__src2"))
      .groupBy(col("__src").as("src_a"), col("__src2").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
  }
}
