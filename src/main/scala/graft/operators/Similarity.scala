package graft.operators

import graft.expressions.TopKByScore
import graft.functions.{Par, TextFns, VectorFns}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  *  - [[bruteKnn]] — exact baseline: query × corpus cosine, per-query
  *    top-k via window rank. The corpus side is the big side; the query
  *    set is broadcast so the corpus never shuffles — at 100 TB this is
  *    one scan + map-side top-k (the window is partitioned by query id,
  *    whose cardinality = |queries|, so state is small).
  *  - [[lshKnn]] — scale path: random-hyperplane LSH buckets; each query
  *    only scores corpus vectors in its bucket. Recall < 1 by design;
  *    raise `planes` for precision, add band-OR (multiple tables) for
  *    recall. Bucket sizes are ~n/2^planes — tune planes so buckets fit
  *    an executor.
  */
object Similarity {

  /** Per-query top-k of `scored(query_id, neighbor_id, cosine)` via the
    * bounded-heap aggregate [[graft.expressions.TopKByScore]] — runs
    * map-side, so the shuffle carries ≤ partitions × k rows per query
    * instead of every scored row (the window-function formulation's
    * cost). Emission order (score desc, id asc) matches
    * `row_number() OVER (ORDER BY cosine DESC, neighbor_id)` exactly.
    */
  private[operators] def topK(scored: DataFrame, k: Int): DataFrame = {
    val agg = TopKByScore(col("cosine"), col("neighbor_id"), k)
    scored.groupBy(col("query_id")).agg(agg.as("topk"))
      .select(col("query_id"),
        posexplode(col("topk")).as(Seq("pos", "t")))
      .select(col("query_id"), col("t.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"),
        col("t.score").as("cosine"))
  }

  /** Exact top-k neighbors for each query vector (excluding self).
    * Output: (query_id, neighbor_id, rank, cosine).
    */
  def bruteKnn(corpus: DataFrame, queries: DataFrame,
               idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"))
    val c = Par.fanOut(corpus).select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", VectorFns.cosine(col("qv"), col("cv")))
    topK(scored, k)
  }

  /** Hard-negative mining for retrieval/embedding training: for each
    * query vector, the `k` corpus items MOST similar to it that are
    * NOT among its known positives (`positives(posQueryCol,
    * posDocCol)` pairs) and not itself — the negatives closest to the
    * decision boundary, which contrastive losses (InfoNCE, triplet)
    * need to keep improving once random negatives are trivially
    * separated. Output: (query_id, neighbor_id, rank, cosine).
    *
    * Scale shape: [[bruteKnn]]'s broadcast-queries corpus scan, the
    * positive-pair set broadcast into a left_anti equi-join BEFORE the
    * bounded-heap top-k (positives are |queries| × few — always the
    * tiny side), so exclusion adds no shuffle and the corpus is still
    * read once. Swap in [[lshKnn]]/[[ivfKnn]] candidate generation
    * upstream for huge query sets.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, positives: DataFrame,
                    posQueryCol: String, posDocCol: String,
                    k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"))
    val pos = positives.select(col(posQueryCol).as("__pq"),
      col(posDocCol).as("__pd"))
    val c = Par.fanOut(corpus).select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"))
    val scored = c
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .join(broadcast(pos), col("query_id") === col("__pq") &&
        col("neighbor_id") === col("__pd"), "left_anti")
      .withColumn("cosine", VectorFns.cosine(col("qv"), col("cv")))
    topK(scored, k)
  }

  /** RANDOM-negative sampling for contrastive training — the uniform
    * baseline [[hardNegatives]] upgrades from (InfoNCE starts on
    * random negatives; hard negatives matter once those are trivially
    * separated): for each query, `k` deterministic pseudo-random
    * corpus docs that are not among its known positives. No vectors
    * needed — the draw is positional: corpus docs take a md5-ordered
    * RING position, each query reads `k + oversample` consecutive
    * positions starting at its own hashed offset, positives are
    * anti-joined out, and the first `k` survivors (ring order) emit as
    * (query_id, doc_id, rank). Fully deterministic (re-runs and both
    * engines agree), uniform because md5 order is independent of any
    * doc attribute. A query whose window is positive-saturated
    * under-fills rather than scanning on — raise `oversample` (must
    * cover the max positives per query for guaranteed fills). Include
    * self-pairs in `positives` when queries are drawn from the corpus.
    *
    * Scale shape: ring ranks via the bounded two-level zipWithIndex
    * pattern ([[Corpus.packSequences]]'s argument — a 256-bucket
    * window cumcount + a 256-row driver offset pass, never a global
    * window); the draw is ONE equi-join of |queries| × (k +
    * oversample) position probes against the ranked corpus, and the
    * per-query rank window holds ≤ k + oversample rows. Eager note:
    * building the ring runs the 256-row offsets collect up front; the
    * corpus id projection is locally checkpointed so upstream runs
    * once.
    */
  def randomNegatives(corpus: DataFrame, idCol: String,
                      queries: DataFrame, queryIdCol: String,
                      positives: DataFrame, posQueryCol: String,
                      posDocCol: String, k: Int,
                      oversample: Int = 8): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(oversample >= 0, s"oversample must be >= 0, got $oversample")
    import org.apache.spark.sql.expressions.Window
    val win = k + oversample
    // bucket = the hash's high 8 bits — MONOTONE in the (h, doc) sort
    // key (a modulo bucket would interleave hash ranges and corrupt
    // the concatenated global order), hash32 is < 2^32
    val d0 = corpus.select(col(idCol).as("__doc"))
      .withColumn("__h", TextFns.hash32(col("__doc").cast("string")))
      .withColumn("__bkt", expr("__h div 16777216"))
      .localCheckpoint()
    val inB = d0.withColumn("__r",
      row_number().over(Window.partitionBy(col("__bkt"))
        .orderBy(col("__h"), col("__doc"))).cast("long"))
    val totals = d0.groupBy(col("__bkt")).count()
      .orderBy(col("__bkt")).collect()
    val n = totals.map(_.getLong(1)).sum
    require(n >= win,
      s"corpus ($n docs) must cover the probe window ($win)")
    var acc = 0L
    val offRows = totals.map { r =>
      val o = acc; acc += r.getLong(1); (r.getLong(0), o)
    }.toSeq
    val sp = corpus.sparkSession
    import sp.implicits._
    val ranked = inB
      .join(broadcast(offRows.toDF("__bkt", "__off")), Seq("__bkt"))
      .select((col("__off") + col("__r") - 1).as("__rn"), col("__doc"))
    val pos = positives.select(col(posQueryCol).as("__pq"),
      col(posDocCol).as("__pd"))
    val probes = queries.select(col(queryIdCol).as("query_id"))
      .withColumn("__s",
        pmod(TextFns.hash32(col("query_id").cast("string")), lit(n)))
      .select(col("query_id"), col("__s"),
        explode(sequence(lit(0L), lit(win.toLong - 1))).as("__i"))
      .withColumn("__rn", pmod(col("__s") + col("__i"), lit(n)))
    val cand = probes.join(ranked, Seq("__rn"))
      .join(broadcast(pos), col("query_id") === col("__pq") &&
        col("__doc") === col("__pd"), "left_anti")
    cand
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("__i")))
        .cast("int"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("__doc").as("doc_id"), col("rank"))
  }

  /** Mean-pool embeddings per group — the chunk-embeddings → document
    * embedding (or passage → query context) aggregation every
    * retrieval corpus build runs. Output is the FLAT `(groupCol, dim,
    * value)` form (the [[graft.operators.Projection]] convention —
    * scalar columns survive the oracle gate and downstream joins
    * equally well). `value` is the order-independent decimal-exact
    * mean ([[graft.functions.Cols.decAvg]]): pooled embeddings must
    * not depend on partition order.
    *
    * Scale shape: one posexplode + one hash aggregation keyed
    * (group, dim) — fully map-side-combining, dims bounded, never a
    * window.
    */
  def meanPool(df: DataFrame, groupCol: String,
               vecCol: String): DataFrame =
    df.select(col(groupCol),
        posexplode(col(vecCol)).as(Seq("dim", "__v")))
      .groupBy(col(groupCol), col("dim"))
      .agg(graft.functions.Cols.decAvg(col("__v").cast("double"))
        .as("value"))

  /** k-NN majority-vote classification: each query takes the most
    * frequent label among its `k` exact nearest LABELED corpus
    * neighbors (ties by smaller label) — null-labeled corpus rows are
    * excluded before the neighbor search, so every one of the k votes
    * is a real label. Output:
    * (query_id, pred_label, votes) — `votes` = the winning label's
    * neighbor count. The classic embedding-space labeler (label
    * propagation for curation: tag unlabeled docs by their nearest
    * labeled ones).
    *
    * Scale shape: [[bruteKnn]]'s broadcast-query scan (swap in
    * [[lshKnn]]/[[ivfKnn]] candidates upstream for huge query sets),
    * one id-keyed equi-join to attach neighbor labels (the corpus
    * never broadcasts), then two hash-aggs — votes per (query, label),
    * argmax per query via a min-struct (map-side combined, no window,
    * skew-safe for any label distribution).
    */
  def knnClassify(corpus: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, labelCol: String, k: Int): DataFrame = {
    // unlabeled corpus rows cannot vote NOR occupy neighbor slots: a
    // null label would count ghost votes and win every tie (nulls
    // sort first in the min-struct argmax), and a filter only at the
    // join would silently shrink a query's electorate below k
    val labeled = corpus.filter(col(labelCol).isNotNull)
    val labels = labeled.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("__nl"))
    bruteKnn(labeled, queries, idCol, vecCol, k)
      .join(labels, "neighbor_id")
      .groupBy(col("query_id"), col("__nl"))
      .agg(count(lit(1)).as("__v"))
      .groupBy(col("query_id"))
      .agg(min(struct((-col("__v")).as("nv"), col("__nl").as("lb")))
        .as("__w"))
      .select(col("query_id"), col("__w.lb").as("pred_label"),
        (-col("__w.nv")).as("votes"))
  }

  /** Per-label centroid cosine — the label-noise / outlier detector: a
    * vector far from its own label's centroid is a probable mislabel
    * (SemDeDup's cousin for supervised data). Emits
    * (id, label, centroid_cos, is_outlier = cos < `threshold`); rows
    * with a null label are dropped (no centroid to compare against).
    *
    * Determinism: the centroid mean and the per-vector dot/norm sums
    * are cross-row double aggregations, so all four run fixed-point
    * ([[graft.functions.Cols.fxSum]], scale 1e9 — components and their
    * products are unit-magnitude, so terms stay far inside 2^53 up to
    * ~10^9-dim×row products per group); `sqrt` is IEEE exactly-rounded,
    * so the final cosine is bit-identical across engines.
    *
    * Scale shape: posexplode to (label, dim) — the explode factor is
    * the dimension count, bounded and known — then (a) a (label, dim)
    * hash-agg with map-side partials for the centroids (output =
    * labels × dims rows, tiny), (b) ONE broadcast join of that
    * centroid table back to the exploded rows, (c) an id-keyed
    * hash-agg. One real shuffle (by id); no windows, no pair joins.
    */
  def centroidScores(emb: DataFrame, idCol: String, vecCol: String,
                     labelCol: String,
                     threshold: Double = 0.0): DataFrame = {
    import graft.functions.Cols.{fxSum, fxVal}
    val pos = Par.fanOut(emb.filter(col(labelCol).isNotNull))
      .select(col(idCol), col(labelCol).as("label"),
        posexplode(col(vecCol)).as(Seq("pos", "__f")))
      .withColumn("__v", col("__f").cast("double"))
    val cent = pos.groupBy(col("label"), col("pos"))
      .agg(fxSum(col("__v"), 1e9).as("__q"), count(lit(1)).as("__n"))
      .select(col("label"), col("pos"),
        (fxVal(col("__q"), 1e9) / col("__n").cast("double")).as("__c"))
    val cos = fxVal(col("__dot"), 1e9) /
      (sqrt(fxVal(col("__nv"), 1e9)) * sqrt(fxVal(col("__nc"), 1e9)))
    pos.join(broadcast(cent), Seq("label", "pos"))
      .groupBy(col(idCol), col("label"))
      .agg(fxSum(col("__v") * col("__c"), 1e9).as("__dot"),
        fxSum(col("__v") * col("__v"), 1e9).as("__nv"),
        fxSum(col("__c") * col("__c"), 1e9).as("__nc"))
      .select(col(idCol), col("label"), cos.as("centroid_cos"),
        (cos < threshold).as("is_outlier"))
  }

  /** Per-group EMBEDDING drift between a reference and a current
    * snapshot — the semantic companion of the score-PSI monitor
    * ([[Stats.psi]] grouped): a source whose scalar quality scores
    * look stable can still drift in CONTENT (topic shift, language
    * mix, spam injection), and the cheapest tell is its centroid
    * moving. Per group: both sample counts and the cosine between
    * the two per-group centroids (1.0 = no movement; null when the
    * group is missing on either side — an appeared/vanished source
    * is its own alarm, carried by the zero count).
    *
    * Determinism: [[centroidScores]]'s convention — per-dim centroid
    * means and the three cross-dim dot/norm sums all run fixed-point
    * at 1e9, `sqrt` is IEEE exact, so the cosine is bit-identical
    * across engines.
    *
    * Scale shape: one posexplode + (group, dim) map-side hash agg per
    * side (output = groups × dims rows each — config-scale), a
    * (group, dim)-keyed equi-join of the two tiny centroid tables,
    * one group-keyed agg, and a broadcast-friendly full join with the
    * two count tables. The corpus is scanned once per side; nothing
    * scales with corpus² and nothing is driver-side.
    */
  def embeddingDrift(ref: DataFrame, cur: DataFrame, groupCol: String,
                     vecCol: String): DataFrame =
    embeddingDriftFromCounts(
      centroidCounts(ref, groupCol, vecCol),
      centroidCounts(cur, groupCol, vecCol), groupCol)

  /** Per-(group, dim) fixed-point component sums + vector counts —
    * [[embeddingDrift]]'s mergeable state, and the per-micro-batch
    * partial of the STREAMED monitor
    * ([[graft.streaming.StreamingEmbedDrift]]): fxSum is a sum of
    * per-row quantized terms, so partials SUM-merge into exactly the
    * full-corpus value — the streamed centroid is bit-identical to
    * the batch one, not approximately so. Emits (groupCol, pos, qfx,
    * n) dimension rows plus one pos = −1 sentinel row per group
    * carrying the RAW row count (null/empty vectors included).
    */
  def centroidCounts(df: DataFrame, groupCol: String,
                     vecCol: String): DataFrame = {
    import graft.functions.Cols.fxSum
    val fanned = Par.fanOut(df)
    val dims = fanned
      .select(col(groupCol),
        posexplode(col(vecCol)).as(Seq("pos", "__f")))
      .withColumn("__v", col("__f").cast("double"))
      .groupBy(col(groupCol), col("pos"))
      .agg(fxSum(col("__v"), 1e9).as("qfx"), count(lit(1)).as("n"))
    // the pos = -1 sentinel carries the RAW group row count —
    // null/empty vectors included, which the exploded rows cannot
    // see: an alive-but-broken embedder (every vector null) must
    // still report its n with a null cosine, not masquerade as a
    // vanished source
    val rows = fanned.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"))
      .select(col(groupCol), lit(-1).as("pos"), lit(0L).as("qfx"),
        col("n"))
    dims.unionByName(rows)
  }

  /** [[embeddingDrift]] over PRE-AGGREGATED [[centroidCounts]] tables
    * — the streamed-store read path. Group counts come from the
    * pos = −1 sentinel rows (raw row counts); the cosine uses only
    * the real dimension rows.
    */
  def embeddingDriftFromCounts(refCounts: DataFrame,
                               curCounts: DataFrame,
                               groupCol: String): DataFrame = {
    import graft.functions.Cols.fxVal
    def cent(counts: DataFrame, c: String): DataFrame =
      counts.filter(col("pos") >= 0)
        .select(col(groupCol), col("pos"),
          (fxVal(col("qfx"), 1e9) / col("n").cast("double")).as(c))
    // sentinel-first with a dim-0 fallback: a counts table written
    // before the pos = -1 sentinel existed (or by a foreign producer)
    // still reports its groups' vector counts instead of silently
    // reading as vanished; where the sentinel exists it wins, so
    // null-vector rows stay counted
    // sentinel-preference as ONE hash agg (r14): the previous
    // full-outer self-join of the sentinel and dim-0 slices planned a
    // SortMergeJoin (full outer cannot broadcast) over a table the
    // scaladoc bounds at config scale — same coalesce, zero joins
    def nVecs(counts: DataFrame, c: String): DataFrame =
      counts.filter(col("pos") === -1 || col("pos") === 0)
        .groupBy(col(groupCol))
        .agg(coalesce(max(when(col("pos") === -1, col("n"))),
          max(when(col("pos") === 0, col("n")))).as(c))
    val cos = fxVal(col("__dot"), 1e9) /
      (sqrt(fxVal(col("__nr"), 1e9)) * sqrt(fxVal(col("__nc"), 1e9)))
    val cosByGroup = cent(refCounts, "__cr")
      .join(broadcast(cent(curCounts, "__cc")), Seq(groupCol, "pos"))
      .groupBy(col(groupCol))
      .agg(graft.functions.Cols.fxSum(col("__cr") * col("__cc"), 1e9)
          .as("__dot"),
        graft.functions.Cols.fxSum(col("__cr") * col("__cr"), 1e9)
          .as("__nr"),
        graft.functions.Cols.fxSum(col("__cc") * col("__cc"), 1e9)
          .as("__nc"))
      .select(col(groupCol), cos.as("centroid_cos"))
    // ref ∪ cur counts folded in one agg instead of the full-outer
    // SortMergeJoin — identical rows (groups present on either side)
    nVecs(refCounts, "n_ref")
      .select(col(groupCol), col("n_ref"),
        lit(null).cast("long").as("n_cur"))
      .unionByName(nVecs(curCounts, "n_cur")
        .select(col(groupCol), lit(null).cast("long").as("n_ref"),
          col("n_cur")))
      .groupBy(col(groupCol))
      .agg(max(col("n_ref")).as("n_ref"), max(col("n_cur")).as("n_cur"))
      .na.fill(0L, Seq("n_ref", "n_cur"))
      .join(broadcast(cosByGroup), Seq(groupCol), "left")
  }

  /** Maximal-marginal-relevance selection: greedily pick `k` items
    * maximizing `lambda·relevance − (1−lambda)·maxSimToSelected` — the
    * diversity-aware sampler (relevance alone picks k near-duplicates;
    * MMR trades relevance against redundancy). Ties break to the
    * smaller id; the empty-set similarity penalty is 0. Emits one row
    * per selection: (sel_rank, id, relevance, max_sim, mmr) — `mmr` as
    * evaluated at selection time.
    *
    * Shape: k driver-paced rounds over a localCheckpointed candidate
    * frame. Each round is one NARROW projection (update the running
    * max-sim against the just-picked vector — `greatest` chain, exact
    * and association-free) plus a 1-row min-struct argmax collect; no
    * shuffle, no window, no pair join. Cost is O(k·|candidates|) scans
    * — MMR is a SHORTLIST operator: run it on an ANN/topK result (10³
    * –10⁵ rows), never the raw corpus; `maxCandidates` enforces that
    * contract (a count observed by the checkpoint job, checked
    * driver-side at build).
    */
  def mmrSelect(items: DataFrame, idCol: String, vecCol: String,
                scoreCol: String, k: Int, lambda: Double,
                maxCandidates: Long = 1000000L): DataFrame = {
    require(k >= 1 && k <= 10000, s"k must be in [1, 10000], got $k")
    require(lambda >= 0.0 && lambda <= 1.0,
      s"lambda must be in [0,1], got $lambda")
    val spark = items.sparkSession
    import spark.implicits._
    val (cand0, nRow) = Par.checkpointObserving(
      items.select(col(idCol).as("id"), col(vecCol).as("vec"),
        col(scoreCol).cast("double").as("rel"),
        lit(0.0).as("max_sim")),
      count(lit(1)))
    var cand = cand0
    val n = nRow.getLong(0)
    require(n <= maxCandidates,
      s"mmrSelect is a shortlist operator: got $n candidates > " +
        s"$maxCandidates — run ANN/topK first or raise maxCandidates")
    val picked = scala.collection.mutable.ArrayBuffer.empty[
      (Int, Long, Double, Double, Double)]
    var step = 0
    while (step < math.min(k, n).toInt) {
      val mmr = lit(lambda) * col("rel") -
        lit(1.0 - lambda) * col("max_sim")
      val best = cand
        .agg(min(struct((-mmr).as("nm"), col("id").as("id"),
          col("rel").as("rel"), col("max_sim").as("ms"),
          col("vec").as("vec"))).as("b"))
        .select(col("b.id"), col("b.rel"), col("b.ms"), (-col("b.nm")).as("m"),
          col("b.vec"))
        .head()
      picked += ((step + 1, best.getLong(0), best.getDouble(1),
        best.getDouble(2), best.getDouble(3)))
      val bvec = typedLit(best.getSeq[Float](4))
      cand = cand.filter(col("id") =!= best.getLong(0))
        .withColumn("max_sim",
          greatest(col("max_sim"), VectorFns.cosine(col("vec"), bvec)))
      step += 1
    }
    picked.toSeq
      .toDF("sel_rank", "id", "relevance", "max_sim", "mmr")
      .withColumn("sel_rank", col("sel_rank").cast("int"))
  }

  /** Lloyd refinement of IVF centroids (spherical k-means: cosine
    * assignment, per-cell element-wise mean — cosine is scale-invariant
    * so the mean needs no re-normalization). Each iteration is one
    * broadcast-join argmax assignment plus one posexplode/avg
    * aggregation — shuffle-by-(cell, dim), never O(n²). `fraction < 1`
    * refines over a deterministic sample, the right call when the
    * corpus is huge (centroid quality converges long before the full
    * corpus is seen).
    */
  private def refineSeeds(corpusV: DataFrame, seeds0: DataFrame,
                          iters: Int, fraction: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sample =
      if (fraction >= 1.0) corpusV
      else corpusV.sample(withReplacement = false, fraction, seed = 42L)
    var seeds = seeds0
    (0 until iters).foreach { _ =>
      val w = Window.partitionBy(col("vid"))
        .orderBy(col("seed_cos").desc, col("cell"))
      val assigned = sample.join(broadcast(seeds))
        .withColumn("seed_cos", VectorFns.cosine(col("v"), col("sv")))
        .withColumn("r", row_number().over(w)).filter(col("r") === 1)
        .select(col("cell"), col("v"))
      val means = assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("i", "x")))
        .groupBy(col("cell"), col("i")).agg(avg(col("x")).as("m"))
        .groupBy(col("cell"))
        .agg(transform(
          array_sort(collect_list(struct(col("i"), col("m")))),
          s => s.getField("m")).cast("array<float>").as("mv"))
      // a cell that lost every member keeps its previous centroid
      seeds = seeds.withColumnRenamed("sv", "sv0")
        .join(means, Seq("cell"), "left")
        .select(col("cell"), coalesce(col("mv"), col("sv0")).as("sv"))
    }
    seeds
  }

  /** IVF (inverted-file) ANN: partition the corpus into `cells` Voronoi
    * cells around coarse centroids, then answer queries by scoring ONLY
    * the vectors in the query's `nProbe` nearest cells.
    *
    * Seeding: the first `cells` vectors by id (deterministic), then
    * `refineIters` Lloyd iterations over a `refineFraction` sample of
    * the corpus ([[refineSeeds]]) — refinement is what makes IVF recall
    * robust when real embeddings cluster. `refineIters = 0` keeps the
    * raw seeds (the oracle-reproducible configuration).
    *
    * Scale shape: assignment is one broadcast join (centroid table is
    * tiny) + map-side argmax; the probe join is an equi-join on
    * cell id, so per-query work is |corpus| × nProbe / cells instead of
    * |corpus|. Recall loses only neighbors whose cell the query didn't
    * probe — raise nProbe (or refine the centroids) to trade cost for
    * recall.
    * The corpus ids become cell ids, so `idCol` must be byte/short/
    * int/long: a `DecimalType(p,0)` (or any non-integral) id is
    * rejected upfront by [[collectCents]].
    */
  def ivfKnn(corpus: DataFrame, queries: DataFrame,
             idCol: String, vecCol: String, k: Int,
             cells: Int = 16, nProbe: Int = 4,
             refineIters: Int = 0,
             refineFraction: Double = 1.0): DataFrame =
    topK(ivfScored(corpus, queries, idCol, vecCol, cells, nProbe,
      refineIters, refineFraction), k)

  /** An IVF index as FIRST-CLASS DATA: `centroids(cell, sv)` — the
    * coarse quantizer, ≤ `cells` rows, broadcast at probe time — and
    * `postings(neighbor_id, cv, cell)` — the cell-keyed inverted
    * file. Both are plain DataFrames so the 100 TB flow is: build
    * once, WRITE `postings` to parquet partitioned/bucketed by
    * `cell` and `centroids` beside it, then probe every incoming
    * batch against the store ([[knnAgainstIndex]]) and append new
    * vectors' codes ([[ivfAppend]]) WITHOUT touching the existing
    * corpus — the embedding twin of
    * [[Dedup.incrementalMinhashPairs]]'s index-once-probe-per-batch
    * contract.
    */
  final case class IvfIndexFrames(centroids: DataFrame,
                                  postings: DataFrame)

  /** Driver-collect a bounded centroid table into the
    * [[graft.expressions.NearestCells]] codebook shape: (cell asc,
    * centroid widened to double). Bounded by the callers' `cells`/
    * `ksub` ≤ 4096 contract — the same class of driver pass as the
    * k seed rows every build already collects.
    *
    * Cell ids must be INTEGRAL (r15, advice hardening): the codebook
    * keys cells by a long, and the tie-to-lower-cell rule orders
    * numerically — a string cell column would fail the ANSI cast (or
    * silently swap lexicographic for numeric tie order, and '01'
    * would round-trip as '1', desyncing postings.cell from
    * centroids.cell). Checked upfront with a clear message instead;
    * `DecimalType(p,0)` ids are rejected too, though integral in value,
    * rather than narrowed to a long.
    */
  private[operators] def collectCents(seeds: DataFrame, cellCol: String,
                                      vecCol: String)
      : Seq[(Long, IndexedSeq[Double])] = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val dt = seeds.schema(cellCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
      s"cell column '$cellCol' must be an integral type (byte/short/" +
        s"int/long) — got ${dt.simpleString}; non-numeric ids would " +
        "change the tie-to-lower-cell order and cannot round-trip " +
        "through the codebook")
    seeds.select(col(cellCol).cast("long"), col(vecCol)).collect()
      .map { r =>
        (r.getLong(0),
          r.getSeq[Number](1).map(_.doubleValue()).toIndexedSeq)
      }.sortBy(_._1).toSeq
  }

  /** Nearest-`keep` cell assignment of `df`'s vectors against a
    * centroid table (ties to the lower cell id), WITH the rank:
    * `(idName, vName, cell, cell_rank)`.
    *
    * One narrow projection via [[graft.expressions.NearestCells]] over
    * the driver-collected (bounded) centroid table — the r14 rewrite of
    * the broadcast-join + per-vector row_number window, which
    * materialized |df| × |centroids| vector-carrying rows and SHUFFLED
    * them into the window sort; assignment now touches each input row
    * once, with no exchange, at any corpus size. Scores and
    * tie-breaking are bit-identical (same sequential-fold cosine, same
    * (cos DESC, cell ASC) order) — oracle-pinned.
    */
  private[operators] def assignCellsRanked(seeds: DataFrame,
                                           df: DataFrame,
                                           idCol: String, vecCol: String,
                                           idName: String, vName: String,
                                           keep: Int): DataFrame = {
    val cellType = seeds.schema("cell").dataType
    val cents = collectCents(seeds, "cell", "sv")
    df.select(col(idCol).as(idName), col(vecCol).as(vName))
      .select(col(idName), col(vName),
        posexplode(graft.expressions.NearestCells.single(
          col(vName), cents, keep, bySqDist = false))
          .as(Seq("__p", "__c")))
      .select(col(idName), col(vName),
        col("__c.cell").cast(cellType).as("cell"),
        (col("__p") + 1).cast("int").as("cell_rank"))
  }

  /** [[assignCellsRanked]] without the rank column. */
  private[operators] def assignCells(seeds: DataFrame, df: DataFrame,
                                     idCol: String, vecCol: String,
                                     idName: String, vName: String,
                                     keep: Int): DataFrame =
    assignCellsRanked(seeds, df, idCol, vecCol, idName, vName, keep)
      .drop("cell_rank")

  /** Build the IVF index over a corpus: deterministic seeds (first
    * `cells` vectors by id — the seed's own id IS the cell id, no
    * global row_number over the seed table), optional Lloyd
    * refinement, then every corpus vector files under its nearest
    * cell. [[ivfKnn]] is exactly `knnAgainstIndex(ivfIndex(corpus),
    * queries)` — proven by spec — so a persisted index returns the
    * same neighbors the one-shot operator would.
    * The corpus ids become cell ids, so `idCol` must be byte/short/
    * int/long: a `DecimalType(p,0)` (or any non-integral) id is
    * rejected upfront by [[collectCents]].
    */
  def ivfIndex(corpus: DataFrame, idCol: String, vecCol: String,
               cells: Int = 16, refineIters: Int = 0,
               refineFraction: Double = 1.0): IvfIndexFrames = {
    val seeds0 = corpus.orderBy(col(idCol)).limit(cells)
      .select(col(idCol).as("cell"), col(vecCol).as("sv"))
    val seeds =
      if (refineIters <= 0) seeds0
      else refineSeeds(
        Par.fanOut(corpus).select(col(idCol).as("vid"), col(vecCol).as("v")),
        seeds0, refineIters, refineFraction)
    IvfIndexFrames(seeds,
      assignCells(seeds, Par.fanOut(corpus), idCol, vecCol,
        "neighbor_id", "cv", 1))
  }

  /** File a NEW batch of vectors under an existing index's centroids
    * — the ingestion append: centroids stay FIXED (re-seeding would
    * silently re-cluster the whole store), the returned postings rows
    * union/append onto the persisted inverted file. Per-batch cost is
    * |batch| × |centroids| — the corpus is never re-read.
    * The index's `centroids.cell` must be byte/short/int/long: a
    * `DecimalType(p,0)` (or any non-integral) cell id is rejected
    * upfront by [[collectCents]].
    */
  def ivfAppend(index: IvfIndexFrames, batch: DataFrame,
                idCol: String, vecCol: String): DataFrame =
    assignCells(index.centroids, Par.fanOut(batch), idCol, vecCol,
      "neighbor_id", "cv", 1)

  /** Cell-balance report over an IVF index — the operational health
    * check of the append-only serving story: [[ivfAppend]] fixes the
    * centroids forever (by design — re-seeding would silently
    * re-cluster the whole store), so months of appends can skew the
    * cell sizes and probe cost (`|postings| × nProbe / cells` assumes
    * roughly uniform cells) degrades silently. One row per CENTROID
    * (cells that lost or never gained postings report 0):
    * `(cell, n_postings, frac, load_ratio)` — `frac` = the cell's
    * share of all postings, `load_ratio` = `n_postings × |cells| /
    * total` (1.0 = perfectly uniform; a probe of a cell at
    * load_ratio L costs L× the uniform estimate). Alert on
    * `max(load_ratio)` and re-seed via [[ivfRebalance]] when it
    * drifts past the probe-latency budget.
    *
    * Scale shape: one map-side-combining count agg keyed by cell
    * (≤ |cells| output rows), a broadcast-able left join from the
    * centroid table, and a 1-row totals cross join. The postings
    * store is scanned once, vectors never deserialized (column
    * pruning keeps the scan to `cell`).
    */
  def ivfStats(index: IvfIndexFrames): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val counts = index.postings.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_postings"))
    val totals = index.centroids.agg(count(lit(1)).as("__k"))
      .crossJoin(index.postings.agg(count(lit(1)).as("__n")))
    // an EMPTY postings store (fresh swap, everything filtered) must
    // report 0.0, not the null Spark's non-ANSI divide-by-zero yields
    // — a max(load_ratio) alert reading null would silently never fire
    def safe(c: org.apache.spark.sql.Column) =
      when(col("__n") > 0, c).otherwise(lit(0.0))
    index.centroids.select(col("cell"))
      .join(counts, Seq("cell"), "left")
      .na.fill(0L, Seq("n_postings"))
      .crossJoin(broadcast(totals))
      .select(col("cell"), col("n_postings"),
        safe(col("n_postings").cast(DoubleType) /
          col("__n").cast(DoubleType)).as("frac"),
        safe(col("n_postings").cast(DoubleType) *
          col("__k").cast(DoubleType) /
          col("__n").cast(DoubleType)).as("load_ratio"))
  }

  /** Re-seed and re-file a skewed index from its CURRENT postings —
    * the expensive, EXPLICIT maintenance operation the [[ivfAppend]]
    * scaladoc says append must never do implicitly. The postings rows
    * carry the full vectors, so the store itself is the corpus:
    * rebalance ≡ `ivfIndex` over `postings(neighbor_id, cv)`, which
    * makes the contract exact — rebalancing an index grown by any
    * append history yields the SAME index as building fresh over the
    * union corpus (ivfIndex is deterministic in the (id, vector)
    * set; spec-pinned). Run it offline on the skew signal from
    * [[ivfStats]], then atomically swap the persisted centroid +
    * postings tables; in-flight probes keep reading the old store.
    * `cells` defaults (-1) to the index's own cell count.
    * The corpus ids become cell ids, so `idCol` must be byte/short/
    * int/long: a `DecimalType(p,0)` (or any non-integral) id is
    * rejected upfront by [[collectCents]].
    */
  def ivfRebalance(index: IvfIndexFrames, cells: Int = -1,
                   refineIters: Int = 0,
                   refineFraction: Double = 1.0): IvfIndexFrames = {
    // default cells = the index's OWN cell count (one tiny centroid
    // count) — a fixed default would silently re-cluster a 64-cell
    // production index down to it on the no-args maintenance call
    val k = if (cells > 0) cells else index.centroids.count().toInt
    ivfIndex(index.postings.select(col("neighbor_id"), col("cv")),
      "neighbor_id", "cv", k, refineIters, refineFraction)
  }

  /** Recall@k of an approximate neighbor frame against the exact one
    * — the missing measurement in any ANN rollout: every index
    * variant ([[lshKnn]], [[ivfKnn]], [[Pq.pqKnn]], IVF+PQ, int8, JL)
    * trades recall for cost, and the trade must be MEASURED on the
    * live corpus before a probe parameter ships (recall depends on
    * how the embeddings cluster, not just on `nProbe`). Both inputs
    * are `(query_id, neighbor_id, rank, …)` frames (any score column
    * — only membership at rank ≤ k is compared). One row per query
    * WITH EXACT NEIGHBORS: `(query_id, n_exact, n_overlap, recall)`,
    * recall = |approx ∩ exact| / |exact| at rank ≤ k — so ties
    * broken differently by two variants still score fairly, and a
    * query with fewer than k exact neighbors (tiny corpus) is not
    * penalized for the shortfall.
    *
    * Scale shape: two rank filters, one (query, neighbor)-keyed
    * left-semi join, two per-query hash aggs — every frame is
    * ≤ |queries| × k rows, nothing touches corpus vectors. Composes
    * as `annRecall(ivfKnn(...), bruteKnn(...), k)`; on a corpus too
    * big for a full brute pass, measure over a query/corpus SAMPLE —
    * recall estimates converge fast in |queries|.
    */
  def annRecall(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    require(k >= 1, s"k must be >= 1, got $k")
    val a = approx.filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"))
    val e = exact.filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"))
    val hits = a.join(e, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_overlap"))
    e.groupBy(col("query_id")).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("query_id"), "left")
      .na.fill(0L, Seq("n_overlap"))
      .select(col("query_id"), col("n_exact"), col("n_overlap"),
        (col("n_overlap").cast(DoubleType) / col("n_exact").cast(DoubleType))
          .as("recall"))
  }

  /** Top-k neighbors of each batch vector against a PERSISTED index —
    * the incremental-ingestion probe ([[ivfKnn]]'s semantics with the
    * corpus-side work done once at index build). The batch's probes
    * broadcast into an equi-join on cell id, so per-batch cost is
    * |postings| × nProbe / cells candidate scores; store the postings
    * bucketed by `cell` and the probe join shuffles nothing at all
    * (the bucketed-table pattern, proven for the minhash index in
    * PushdownSpec). Output: (query_id, neighbor_id, rank,
    * cosine), self-pairs excluded.
    * The index's `centroids.cell` must be byte/short/int/long: a
    * `DecimalType(p,0)` (or any non-integral) cell id is rejected
    * upfront by [[collectCents]].
    */
  def knnAgainstIndex(index: IvfIndexFrames, batch: DataFrame,
                      idCol: String, vecCol: String, k: Int,
                      nProbe: Int = 4): DataFrame =
    topK(scoredAgainstIndex(index, batch, idCol, vecCol, nProbe), k)

  /** The ingestion micro-batch's probe AND append from ONE cell
    * assignment — [[knnAgainstIndex]] + [[ivfAppend]] compute the
    * same |batch| × |centroids| cosine ranking twice (the probe keeps
    * rank ≤ nProbe, the append keeps rank 1); at a streaming
    * trigger that assignment is the dominant per-batch CPU, so the
    * fused form halves it. `consume` receives (neighbors,
    * appendPostings) with EXACTLY the contracts of the two one-shot
    * operators (spec-pinned): same window ordering, so the append
    * cell IS the probe ranking's first row.
    *
    * Callback shape, not a returned pair: the shared ranked frame is
    * persisted (bounded at |batch| × nProbe rows) ONLY for the
    * consume call and released in a finally — a returned pair would
    * either pin one such frame per micro-batch for the streaming
    * app's lifetime (the localCheckpoint leak) or recompute the
    * assignment per consumer (the cost this operator exists to
    * avoid). Consequently `consume` must RUN its actions (write /
    * collect) before returning: a frame that escapes the callback
    * still computes correct values, but every later action on it
    * re-derives the assignment uncached — exactly the double cost
    * the fusion removes.
    * The index's `centroids.cell` must be byte/short/int/long: a
    * `DecimalType(p,0)` (or any non-integral) cell id is rejected
    * upfront by [[collectCents]].
    */
  def knnAndAppend[T](index: IvfIndexFrames, batch: DataFrame,
                      idCol: String, vecCol: String, k: Int,
                      nProbe: Int = 4)(
      consume: (DataFrame, DataFrame) => T): T = {
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val ranked = assignCellsRanked(index.centroids, Par.fanOut(batch),
        idCol, vecCol, "query_id", "qv", nProbe)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val scored = index.postings
        .join(broadcast(ranked.select(col("query_id"), col("qv"),
          col("cell"))), Seq("cell"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("cosine", VectorFns.cosine(col("qv"), col("cv")))
      val appended = ranked.filter(col("cell_rank") === 1)
        .select(col("query_id").as("neighbor_id"), col("qv").as("cv"),
          col("cell"))
      consume(topK(scored, k), appended)
    } finally { ranked.unpersist(); () }
  }

  private def scoredAgainstIndex(index: IvfIndexFrames, queries: DataFrame,
                                 idCol: String, vecCol: String,
                                 nProbe: Int): DataFrame = {
    val queryProbes = assignCells(index.centroids, queries, idCol,
      vecCol, "query_id", "qv", nProbe)
    index.postings.join(broadcast(queryProbes), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", VectorFns.cosine(col("qv"), col("cv")))
  }

  /** IVF candidate generation + scoring shared by [[ivfKnn]] and
    * [[hardNegativesIvf]]: (query_id, neighbor_id, cosine) for every
    * probed-cell candidate pair, self-pairs excluded, NOT yet top-k'd.
    * One-shot composition of [[ivfIndex]] + [[scoredAgainstIndex]].
    */
  private def ivfScored(corpus: DataFrame, queries: DataFrame,
                        idCol: String, vecCol: String,
                        cells: Int, nProbe: Int,
                        refineIters: Int,
                        refineFraction: Double): DataFrame =
    scoredAgainstIndex(
      ivfIndex(corpus, idCol, vecCol, cells, refineIters, refineFraction),
      queries, idCol, vecCol, nProbe)

  /** [[hardNegatives]] over IVF candidate generation — the composition
    * its scaladoc promises for huge query sets: candidates come from
    * the query's `nProbe` nearest cells (per-query work is
    * |corpus| × nProbe / cells, and the corpus side is an equi-join on
    * cell id — the broadcast-queries full scan is gone), known
    * positives are anti-joined out BEFORE the bounded-heap top-k.
    * Same output contract as [[hardNegatives]]; recall < 1 by design —
    * a positive-heavy neighborhood in an unprobed cell stays unseen,
    * the [[ivfKnn]] trade. Raise `nProbe` (or `refineIters`) to buy
    * recall.
    * The corpus ids become cell ids, so `idCol` must be byte/short/
    * int/long: a `DecimalType(p,0)` (or any non-integral) id is
    * rejected upfront by [[collectCents]].
    */
  def hardNegativesIvf(corpus: DataFrame, queries: DataFrame,
                       idCol: String, vecCol: String,
                       positives: DataFrame, posQueryCol: String,
                       posDocCol: String, k: Int,
                       cells: Int = 16, nProbe: Int = 4,
                       refineIters: Int = 0,
                       refineFraction: Double = 1.0): DataFrame = {
    val pos = positives.select(col(posQueryCol).as("__pq"),
      col(posDocCol).as("__pd"))
    val scored = ivfScored(corpus, queries, idCol, vecCol, cells,
        nProbe, refineIters, refineFraction)
      .join(broadcast(pos), col("query_id") === col("__pq") &&
        col("neighbor_id") === col("__pd"), "left_anti")
    topK(scored, k)
  }

  /** LSH-bucketed ANN with OR-amplification: `tables` independent
    * hyperplane hash tables of `planes` sign bits each; a corpus vector
    * is a candidate for a query if they share a bucket in ANY table.
    * Output: (query_id, neighbor_id, rank, cosine) — per-query top-k
    * over the candidate set (fewer than k rows when candidates are few).
    *
    * Recall/cost dial: more planes → smaller buckets (cheaper, lower
    * recall per table); more tables → recall ≈ 1-(1-p^planes)^tables.
    * Each vector is expanded `tables`× before the bucket equi-join —
    * still shuffle-by-key, never O(n²).
    */
  def lshKnn(corpus: DataFrame, queries: DataFrame,
             idCol: String, vecCol: String, k: Int,
             planes: Int = 6, tables: Int = 4): DataFrame = {
    def withBuckets(df: DataFrame, id: String, v: String) =
      df.select(col(idCol).as(id), col(vecCol).as(v),
        explode(array((0 until tables).map(t =>
          struct(lit(t).as("t"),
            VectorFns.lshBucket(col(vecCol), planes, t).as("bucket"))): _*))
          .as("tb"))
        .select(col(id), col(v), col("tb.t").as("t"),
          col("tb.bucket").as("bucket"))
    val q = withBuckets(queries, "query_id", "qv")
    val c = withBuckets(Par.fanOut(corpus), "neighbor_id", "cv")
    val cand = c.join(broadcast(q), Seq("t", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
    val scored = cand
      .withColumn("cosine", VectorFns.cosine(col("qv"), col("cv")))
    topK(scored, k)
  }

  /** Deterministic spherical k-means over an embedding column — the
    * topic-bucketing operator for corpus curation (cluster, then
    * inspect/sample/cap per topic). Fully reproducible and
    * oracle-matchable, unlike seeded-random k-means:
    *
    *  - seeds: the `k` vectors with the smallest
    *    (md5-prefix hash of id, id) — content-independent,
    *    engine-portable ordering; cell ids 0..k-1 in that order;
    *  - `rounds` assignment passes; between passes each cell's
    *    centroid is recomputed as the element-wise mean via
    *    FIXED-POINT sums ([[graft.functions.Cols.fxSum]], scale 1e9) —
    *    order-independent and bit-identical across engines (an
    *    unordered double SUM would drift with partitioning);
    *  - assignment: argmax cosine, ties to the lowest cell id.
    *
    * Emits (id, cluster_id, centroid_cos) — one row per input vector.
    *
    * Scale shape: per round, ONE narrow [[graft.expressions
    * .NearestCells]] assignment projection (no join, no window, no
    * exchange — the codebook is the bounded k-row table, resident on
    * the driver like the seeds), then a posexplode + (cell, dim)
    * hash-agg (map-side partials; output k×dims rows) whose k×dims
    * result is collected to pace the next round — the bpeTrain
    * pattern, bounded at 4096×dims rows. No O(n²). Cosine is
    * scale-invariant, so means need no re-normalization.
    */
  def kmeansFixed(emb: DataFrame, idCol: String, vecCol: String,
                  k: Int, rounds: Int = 2): DataFrame = {
    require(k >= 1 && k <= 4096, s"k must be in [1, 4096], got $k")
    require(rounds >= 1 && rounds <= 16,
      s"rounds must be in [1, 16], got $rounds")
    import graft.functions.Cols.{fxSum, fxVal}
    val seedRows = emb
      .select(col(idCol).as("sid"), col(vecCol).as("sv"))
      .withColumn("h", TextFns.hash32(col("sid").cast("string")))
      .orderBy(col("h"), col("sid")).limit(k) // TakeOrdered, k bounded
      .select(col("sid"), col("sv")).collect()
    var cents: Seq[(Long, IndexedSeq[Double])] =
      seedRows.zipWithIndex.map { case (r, i) =>
        (i.toLong,
          r.getSeq[Number](1).map(_.doubleValue()).toIndexedSeq)
      }
    val vecs = Par.fanOut(emb)
      .select(col(idCol).as("vid"), col(vecCol).as("v"))
    // assignment = ONE narrow NearestCells projection (r14: replaces
    // the broadcast join + per-vector row_number window, which
    // shuffled |corpus| × k vector-carrying rows per round); same
    // sequential-fold cosine, same (cos DESC, cell ASC) argmax.
    def assign(c: Seq[(Long, IndexedSeq[Double])]): DataFrame =
      vecs
        .select(col("vid"), col("v"),
          element_at(graft.expressions.NearestCells.single(
            col("v"), c, 1, bySqDist = false), 1).as("__b"))
        .select(col("vid"), col("__b.cell").cast("int").as("cell"),
          col("__b.score").as("cos"), col("v"))
    var assigned = assign(cents)
    (2 to rounds).foreach { _ =>
      // per-round recompute: (cell, dim) fixed-point means — k × dims
      // rows, collected to the driver (bounded: ≤ 4096 × dims — the
      // same class as the k seed rows above) and fed to the next
      // round's assignment as the NearestCells codebook.
      val meanRows = assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("i", "x")))
        .groupBy(col("cell"), col("i"))
        .agg(fxSum(col("x").cast("double"), 1e9).as("q"),
          count(lit(1)).as("n"))
        .select(col("cell"), col("i"),
          (fxVal(col("q"), 1e9) / col("n").cast("double")).as("m"))
        .collect()
      cents = meanRows.groupBy(_.getInt(0)).toSeq.map { case (cell, rs) =>
        (cell.toLong,
          rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toIndexedSeq)
      }.sortBy(_._1)
      assigned = assign(cents)
    }
    assigned.select(col("vid").as(idCol), col("cell").as("cluster_id"),
      col("cos").as("centroid_cos"))
  }

  /** Cross-set semantic matches — the candidate generator for
    * embedding-level decontamination (drop training docs semantically
    * near ANY held-out eval item, the vector-space complement of the
    * n-gram [[Corpus.decontaminate]]): (corpus_id, probe_id, cosine)
    * for every corpus/probe pair with cosine ≥ `threshold`, found via
    * the same OR-amplified hyperplane blocking as
    * [[Dedup.embeddingPairs]] but across TWO sets. Only same-bucket
    * (per table) pairs are scored — the corpus never cross-joins the
    * probe set, so cost is bucket-local: at 100 TB corpus × small eval
    * suite, each probe meets ~|corpus|/2^planes candidates.
    */
  def semanticMatches(corpus: DataFrame, probes: DataFrame, idCol: String,
                      vecCol: String, threshold: Double, planes: Int = 8,
                      tables: Int = 1): DataFrame = {
    import graft.functions.VectorFns
    def bucketed(df: DataFrame, idName: String, vName: String) =
      Par.fanOut(df).select(col(idCol).as(idName), col(vecCol).as(vName),
          explode(array((0 until tables).map(t =>
            struct(lit(t).as("t"),
              VectorFns.lshBucket(col(vecCol), planes, t).as("bucket")))
            : _*)).as("tb"))
        .select(col(idName), col(vName), col("tb.t").as("t"),
          col("tb.bucket").as("bucket"))
    val c = bucketed(corpus, "corpus_id", "__cv")
    val p = bucketed(probes, "probe_id", "__pv")
    val matches = c.join(p, Seq("t", "bucket"))
      .withColumn("cosine", VectorFns.cosine(col("__cv"), col("__pv")))
      .filter(col("cosine") >= threshold)
      .select(col("corpus_id"), col("probe_id"), col("cosine"))
    if (tables > 1) matches.dropDuplicates("corpus_id", "probe_id")
    else matches
  }
}
