package graft.operators

import graft.functions.Par
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Distribution-shaping operators over numeric fact columns. */
object Stats {

  /** Bradley-Terry preference strengths from pairwise outcomes — the
    * preference-data analysis operator an RLHF pipeline runs over its
    * comparison logs: rank response sources / models / annotator arms
    * from "(winner, loser)" rows, detect drift between batches, and
    * weight pairs for reward-model training. Fitted with Hunter's MM
    * algorithm (Hunter, "MM algorithms for generalized Bradley-Terry
    * models", Ann. Statist. 2004), `iters` updates of
    *
    *   s_i ← W_i / Σ_j n_ij / (s_i + s_j)
    *
    * (W_i = i's win count, n_ij = comparisons between i and j), each
    * followed by a mean-1 renormalization (BT strengths are only
    * identified up to scale). Unlike Elo, the fit is ORDER-FREE — a
    * pure function of the (W_i, n_ij) aggregates — so it is exactly
    * reproducible and oracle-checkable. Emits one row per item:
    * (item, wins, n_comparisons, strength).
    *
    * Identifiability preconditions (standard BT): every item should
    * win at least once — a zero-win item's strength converges to 0.
    * A comparison BETWEEN two zero-win items (the divide-by-zero
    * degeneracy) cannot arise from real outcomes — every positive
    * count gives its winner a win — and the count form drops the one
    * input that could synthesize it (non-positive count rows; see
    * [[btStrengthsFromCounts]]). Disconnected comparison components
    * fit independently but share the global normalization.
    *
    * Determinism: the MM denominator and the normalization total are
    * cross-row double sums, so both run fixed-point
    * ([[graft.functions.Cols.fxSum]], `scale` — each term
    * `n_ij/(s_i+s_j)` must stay within 2^53/scale; the default 1e9
    * covers n_ij up to ~9×10^6 per opponent pair) and the remaining
    * double ops are mirrored op-for-op by the SQL oracle.
    *
    * Scale shape: the comparison log collapses ONCE into the
    * symmetrized (i, j, n) opponent table and a per-item wins/total
    * table (two map-side-combining hash aggs, both persisted — the
    * loop invariants); each MM iteration is two item-keyed equi-joins
    * of the ≤|items| strengths frame into the opponent table, one
    * per-item hash agg, and a 1-row broadcast normalization — no
    * window, nothing driver-side; each iteration's strengths frame is
    * localCheckpoint'd (it feeds the next iteration's two joins and
    * the normalization total, so a lazy chain's plan tree would double
    * per iteration — measured 271 Exchange nodes at iters = 2), which
    * keeps every iteration's plan constant-size.
    */
  def btStrengths(pairs: DataFrame, winnerCol: String, loserCol: String,
                  iters: Int = 2, scale: Double = 1e9): DataFrame =
    btStrengthsFromCounts(
      pairs.groupBy(col(winnerCol).as("__w"), col(loserCol).as("__l"))
        .agg(count(lit(1)).as("__n")),
      "__w", "__l", "__n", iters, scale)

  /** [[btStrengths]] over PRE-AGGREGATED directed outcome counts
    * `(winnerCol, loserCol, nCol)` — the shape a streaming
    * comparison-log store accumulates ([[graft.streaming]]'s SumStore
    * partials): the MM fit is a pure function of these aggregates, so
    * fitting the merged store equals fitting the full replayed log
    * row-for-row (spec-pinned via the pair form above, which is
    * exactly this on its own count aggregation).
    *
    * Degenerate-input enforcement: rows with a null or non-positive
    * count are DROPPED up front (they carry no comparisons). This is
    * what makes the identifiability precondition above cheap to hold:
    * with every retained n_ij > 0, any compared pair has a winner
    * among its two items, so two items with s_i = s_j = 0 can never
    * share a comparison and the MM denominator term n_ij/(s_i+s_j)
    * never divides by zero — one zero-count row cannot poison every
    * item's strength through the global renormalization. Items that
    * appear ONLY in dropped rows vanish from the output (no
    * comparisons → nothing to fit).
    *
    * Caller-lifetime pinning: the two loop invariants (`opp`, the
    * symmetrized opponent table, and `base`, the per-item wins/totals)
    * are persisted MEMORY_AND_DISK and — like every lazy-returning
    * operator here (the pageRank/knBigramScore cb convention) — stay
    * pinned for the RETURNED PLAN's lifetime: each of the `iters` MM
    * joins re-reads both, so an unpersist hook would either force
    * eager materialization or recompute the comparison-log scan
    * `iters`× over. A long-running driver fitting many separate logs
    * accumulates one pair of pinned aggregate frames per fit until
    * the results become unreachable.
    */
  def btStrengthsFromCounts(counts: DataFrame, winnerCol: String,
                            loserCol: String, nCol: String,
                            iters: Int = 2,
                            scale: Double = 1e9): DataFrame = {
    require(iters >= 1 && iters <= 16,
      s"iters must be in [1, 16], got $iters")
    import graft.functions.Cols.{fxSum, fxVal}
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val p = counts.select(col(winnerCol).as("__w"),
      col(loserCol).as("__l"), col(nCol).as("__c"))
      .filter(col("__c").isNotNull && col("__c") > 0)
    val opp = p.select(col("__w").as("i"), col("__l").as("j"), col("__c"))
      .unionByName(
        p.select(col("__l").as("i"), col("__w").as("j"), col("__c")))
      .groupBy(col("i"), col("j")).agg(sum(col("__c")).as("__n"))
      .persist(MEMORY_AND_DISK)
    val wins = p.groupBy(col("__w").as("i")).agg(sum(col("__c")).as("wins"))
    val base = opp.groupBy(col("i"))
      .agg(sum(col("__n")).as("n_comparisons"))
      .join(wins, Seq("i"), "left")
      .na.fill(0L, Seq("wins"))
      .persist(MEMORY_AND_DISK)
    var s = base.select(col("i"), lit(1.0).as("__s"))
    (1 to iters).foreach { _ =>
      val d = opp
        .join(s.select(col("i"), col("__s").as("__si")), Seq("i"))
        .join(s.select(col("i").as("j"), col("__s").as("__sj")), Seq("j"))
        .groupBy(col("i"))
        .agg(fxSum(col("__n").cast("double") /
          (col("__si") + col("__sj")), scale).as("__dfx"))
      val r = base.select(col("i"), col("wins"))
        .join(d, Seq("i"))
        .select(col("i"), (col("wins").cast("double") /
          fxVal(col("__dfx"), scale)).as("__s"))
      val t = r.agg(fxSum(col("__s"), scale).as("__tfx"),
        count(lit(1)).as("__k"))
      // localCheckpoint per iteration: the strengths frame feeds the
      // next iteration TWICE (the __si and __sj joins) and the 1-row
      // normalization total a third time, so a lazy chain's plan tree
      // doubles per iteration — at iters = 2 the benched query already
      // planned 271 Exchange nodes (r14 measurement; Catalyst planning
      // time, not data work). Truncating the lineage to the ≤|items|-
      // row checkpoint keeps every iteration's plan constant-size; the
      // values are untouched (same joins, same fx sums), which the
      // oracle hash pins.
      s = r.crossJoin(broadcast(t))
        .select(col("i"), (col("__s") * col("__k").cast("double") /
          fxVal(col("__tfx"), scale)).as("__s"))
        .localCheckpoint()
    }
    base.join(s, Seq("i"))
      .select(col("i").as("item"), col("wins"), col("n_comparisons"),
        col("__s").as("strength"))
  }

  /** Length-bias diagnostic over preference pairs — the classic RLHF
    * data pathology check: if the LONGER response wins far more than
    * half the time, the comparisons (or the annotators, or the judge
    * model) are rewarding verbosity, and a reward model trained on
    * them inherits it. Input is one row per comparison with both
    * texts; equal-length pairs are ties and sit out the test, and a
    * pair with a NULL text on either side is unmeasurable and sits
    * out the same way (counted under `ties` — including it as
    * "shorter won" would deflate the bias estimate). One
    * output row: (n_pairs, longer_wins, ties, frac_longer_wins, z) —
    * `z` is the two-sided binomial z-score of `longer_wins` against
    * the unbiased null p = ½ over the n − ties informative pairs
    * (`(2·wins − m)/√m`); |z| ≳ 3 on a large log is systematic bias,
    * not noise. `frac`/`z` are null when every pair ties.
    *
    * Determinism: counts are exact integers; the two doubles are one
    * division and one √ of exact integers, mirrored op-for-op.
    *
    * Scale shape: ONE map-side-combining global aggregation over a
    * narrow length projection. Nothing else.
    */
  def lengthBias(pairs: DataFrame, winTextCol: String,
                 loseTextCol: String): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val lw = length(col(winTextCol))
    val ll = length(col(loseTextCol))
    val m = (col("n_pairs") - col("ties"))
    pairs.agg(
        count(lit(1)).as("n_pairs"),
        coalesce(sum(when(lw > ll, 1L).otherwise(0L)), lit(0L))
          .as("longer_wins"),
        coalesce(sum(when(lw === ll || lw.isNull || ll.isNull, 1L)
          .otherwise(0L)), lit(0L)).as("ties"))
      .select(col("n_pairs"), col("longer_wins"), col("ties"),
        when(m > 0, col("longer_wins").cast(DoubleType) /
          m.cast(DoubleType)).as("frac_longer_wins"),
        when(m > 0, (lit(2) * col("longer_wins") - m).cast(DoubleType) /
          sqrt(m.cast(DoubleType))).as("z"))
  }

  /** Fleiss' kappa inter-annotator agreement over a ratings table —
    * the label-QA gate a human-annotation pipeline runs before
    * training on the labels (chance-corrected agreement; raw
    * percent-agreement rewards skewed label distributions). Input is
    * one row per individual rating `(itemCol, categoryCol)`; items
    * with fewer than 2 ratings are dropped entirely (pairwise
    * agreement is undefined on them — the generalized unequal-raters
    * form of Fleiss 1971 over the rest). One output row:
    * (n_items, n_ratings, p_bar, p_e, kappa) with
    *
    *   P_i = (Σ_j n_ij² − n_i) / (n_i (n_i − 1)),  p̄ = mean_i P_i,
    *   p_j = Σ_i n_ij / N,  P_e = Σ_j p_j²,
    *   κ   = (p̄ − P_e) / (1 − P_e)
    *
    * κ is undefined (null) when P_e = 1 — every qualifying rating in
    * one category. Determinism: n_ij / n_i / Σn_ij² are exact integer
    * aggs; the two cross-row double sums (p̄'s numerator, P_e) run
    * fixed-point at 1e12 (each term is ≤ 1, so the quantized terms
    * stay far inside 2^53 up to ~10³ categories / ~10³ items per
    * unit); the remaining double ops are mirrored op-for-op by the
    * SQL oracle.
    *
    * Scale shape: two map-side-combining hash aggs ((item, category)
    * then item), one category-keyed agg for the marginals, and three
    * 1-row reductions cross-joined at the end — no window, no pair
    * join, nothing driver-side.
    */
  def fleissKappa(ratings: DataFrame, itemCol: String,
                  categoryCol: String): DataFrame =
    fleissKappaFromCounts(
      ratings.groupBy(col(itemCol), col(categoryCol))
        .agg(count(lit(1)).as("__n")),
      itemCol, categoryCol, "__n")

  /** [[fleissKappa]] over PRE-AGGREGATED per-(item, category) rating
    * counts — the shape a streaming annotation-log store accumulates
    * ([[passAtKFromCounts]]'s pattern): every Fleiss quantity is a
    * pure function of the n_ij table, so computing it over the
    * merged store equals computing it over the full replayed rating
    * log (spec-pinned via the row form above, which is exactly this
    * on its own count aggregation). Null or non-positive count rows
    * drop up front (no ratings to count — the
    * [[btStrengthsFromCounts]] rule).
    */
  def fleissKappaFromCounts(counts: DataFrame, itemCol: String,
                            categoryCol: String,
                            nCol: String): DataFrame = {
    import graft.functions.Cols.{fxSum, fxVal}
    import org.apache.spark.sql.types.DoubleType
    val sc = 1e12
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // nij feeds the per-item rollup AND the marginals; ni feeds the
    // agreement mean AND the marginals' qualifying-item join — both
    // persisted (the cb convention) so the counts scan runs once
    val nij = counts
      .filter(col(nCol).isNotNull && col(nCol) > 0)
      .groupBy(col(itemCol).as("__it"), col(categoryCol).as("__cat"))
      .agg(sum(col(nCol)).as("__nij"))
      .persist(MEMORY_AND_DISK)
    val ni = nij.groupBy(col("__it"))
      .agg(sum(col("__nij")).as("__ni"),
        sum(col("__nij") * col("__nij")).as("__sq"))
      .filter(col("__ni") >= 2)
      .persist(MEMORY_AND_DISK)
    // qualifying items feed BOTH the per-item agreement and the
    // category marginals (dropped items must not skew p_j)
    val pbar = ni
      .select(((col("__sq") - col("__ni")).cast(DoubleType) /
        (col("__ni") * (col("__ni") - 1)).cast(DoubleType)).as("__pi"))
      .agg(fxSum(col("__pi"), sc).as("__pfx"),
        count(lit(1)).as("n_items"))
    val margs = nij.join(ni.select(col("__it")), Seq("__it"))
      .groupBy(col("__cat")).agg(sum(col("__nij")).as("__cj"))
    val nTotal = margs.agg(sum(col("__cj")).as("n_ratings"))
    val pe = margs.crossJoin(broadcast(nTotal))
      .select(((col("__cj").cast(DoubleType) /
        col("n_ratings").cast(DoubleType)) *
        (col("__cj").cast(DoubleType) /
          col("n_ratings").cast(DoubleType))).as("__pj2"))
      .agg(fxSum(col("__pj2"), sc).as("__pefx"))
    val pBar = fxVal(col("__pfx"), sc) / col("n_items").cast(DoubleType)
    val pE = fxVal(col("__pefx"), sc)
    pbar.crossJoin(broadcast(nTotal)).crossJoin(broadcast(pe))
      .select(col("n_items"), col("n_ratings"),
        pBar.as("p_bar"), pE.as("p_e"),
        when(pE =!= 1.0, (pBar - pE) / (lit(1.0) - pE)).as("kappa"))
  }

  /** Pairwise Cohen's κ matrix over a rating log `(itemCol,
    * raterCol, labelCol)` — the WHO-disagrees-with-WHOM diagnostic
    * the pooled panel metrics can't localize ([[fleissKappa]] says
    * the panel agrees poorly, [[raterAgreement]] ranks each rater
    * against the majority; this names the PAIR — the drifted
    * contractor batch, the two raters reading the rubric
    * differently). One row per unordered rater pair over their
    * COMMON items: observed agreement p_o = agree/n, chance
    * agreement p_e = Σ_l c_a(l)·c_b(l)/n² from each rater's label
    * marginal WITHIN the pair's common items, κ = (p_o − p_e)/(1 −
    * p_e) — null when p_e = 1 (two constant raters on one label:
    * chance explains everything). Counts and the marginal product
    * sum are exact integers (19-digit decimal factors / HUGEINT);
    * the two closing divisions are mirrored op-for-op.
    *
    * Input contract: ONE rating per (item, rater) — exact duplicate
    * rows are deduped defensively, conflicting labels for the same
    * (item, rater) are an upstream bug (both rows would pair).
    *
    * Scale shape: one item-keyed self-join (per-item fanout is
    * raters-per-item², panel-sized by construction — items are rated
    * by a handful of raters, never the whole rater pool), then three
    * (pair[, label])-keyed hash aggs and one pair-keyed join.
    * Nothing driver-side; output is |raters|² rows at most.
    */
  def cohenKappaPairs(ratings: DataFrame, itemCol: String,
                      raterCol: String, labelCol: String): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val r = ratings
      .filter(col(itemCol).isNotNull && col(raterCol).isNotNull &&
        col(labelCol).isNotNull)
      .select(col(itemCol).as("__it"), col(raterCol).as("__ra"),
        col(labelCol).as("__la"))
      .distinct()
    val pairs = r.join(
        r.select(col("__it"), col("__ra").as("__rb"),
          col("__la").as("__lb")),
        Seq("__it"))
      .filter(col("__ra") < col("__rb"))
      .persist(MEMORY_AND_DISK)
    val agg = pairs.groupBy(col("__ra"), col("__rb"))
      .agg(count(lit(1)).as("n_items"),
        sum(when(col("__la") === col("__lb"), 1L).otherwise(0L))
          .as("agree"))
    val ma = pairs.groupBy(col("__ra"), col("__rb"), col("__la"))
      .agg(count(lit(1)).as("__c1"))
    val mb = pairs.groupBy(col("__ra"), col("__rb"),
        col("__lb").as("__la"))
      .agg(count(lit(1)).as("__c2"))
    val chance = ma.join(mb, Seq("__ra", "__rb", "__la"), "full")
      .na.fill(0L, Seq("__c1", "__c2"))
      .groupBy(col("__ra"), col("__rb"))
      .agg(sum(d19(col("__c1")) * d19(col("__c2"))).as("__s"))
    val po = col("agree").cast(DoubleType) /
      col("n_items").cast(DoubleType)
    val pe = col("__s").cast(DoubleType) /
      (col("n_items").cast(DoubleType) *
        col("n_items").cast(DoubleType))
    agg.join(chance, Seq("__ra", "__rb"))
      .select(col("__ra").as("rater_a"), col("__rb").as("rater_b"),
        col("n_items"), col("agree"), po.as("p_o"), pe.as("p_e"),
        when(pe < 1.0, (po - pe) / (lit(1.0) - pe)).as("kappa"))
  }

  /** Per-distinct-value table of `valCol` (an INTEGRAL column) with
    * the EXCLUSIVE cumulative sum of each `sumCols` entry over all
    * SMALLER values within each `groupCols` key (over the whole input
    * when there are none) — the order statistic every rank-based
    * metric needs ([[auc]]'s ranks-below, [[spearman]]'s tie-averaged
    * ranks) and [[Corpus.packSequences]]' global token offsets,
    * computed WITHOUT the key-partitioned (or, ungrouped, single-
    * partition) window that a naive `sum over (ORDER BY value)` plans:
    * that partition is a one-task sort of a key's ENTIRE distinct set
    * (corpus-sized under adversarial quantization), and PlanLint bans
    * the unpartitioned form outright. Input is one row per
    * (group..., distinct `valCol`) — a grouped count table, or any
    * frame with a UNIQUE integral key (the packer's doc ids); rows
    * TIED on the value order their cumulative sums arbitrarily.
    * Output adds `cum_<c>` per sum column. The two-level zipWithIndex
    * shape, with values bucketed by integer division (width derived
    * from the observed range, so a key holds ≤ 2^20 buckets):
    *
    *  1. in-bucket exclusive window, partitioned (group..., bucket) —
    *     ≤ `width` rows per partition for evenly spread values;
    *  2. per-(group, bucket) totals hash agg, turned into bucket
    *     offsets — keyed, by the exclusive bucket-level window
    *     partitioned by group (fully distributed: a grouped call can't
    *     bound groups×buckets); unkeyed, by a driver fold of the
    *     ≤ 2^20 totals, broadcast back;
    *  3. one equi-join adding offset + in-bucket.
    *
    * Exact integer sums, so callers' results are bit-identical to the
    * single-window form. Eager: the input is locally checkpointed (so
    * upstream aggs run once) with its value range observed by that
    * same job — one execution at call time, two when unkeyed (the
    * bucket totals collect).
    */
  private[operators] def cumBelowByValue(grouped: DataFrame,
                                         groupCols: Seq[String],
                                         valCol: String,
                                         sumCols: Seq[String])
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    // the checkpoint job observes the value range; the auto width
    // spreads it over 2^20 buckets, at least 4096 (4096 for an empty
    // input — any grid works). Double arithmetic: max − min on extreme
    // values would overflow long, and the bound need only hold roughly
    val v = col(valCol).cast(LongType)
    val (base, r) = Par.checkpointObserving(grouped, min(v), max(v))
    val width = if (r.isNullAt(0)) 4096L else math.max(4096L, math.ceil(
      (r.getLong(1).toDouble - r.getLong(0).toDouble + 1) / (1 << 20))
      .toLong)
    val gcols = groupCols.map(col)
    val bkt = base.withColumn("__bkt",
      expr(s"(cast($valCol as long) - pmod(cast($valCol as long), " +
        s"${width}L)) div ${width}L"))
    val inW = Window.partitionBy(gcols :+ col("__bkt"): _*)
      .orderBy(col(valCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withIn = sumCols.foldLeft(bkt)((d, c) =>
      d.withColumn(s"__in_$c",
        coalesce(sum(col(c)).over(inW), lit(0L))))
    val totals = bkt.groupBy(gcols :+ col("__bkt"): _*)
      .agg(sum(col(sumCols.head)).as(s"__t_${sumCols.head}"),
        sumCols.tail.map(c => sum(col(c)).as(s"__t_$c")): _*)
    val offsets = if (groupCols.nonEmpty) {
      val totW = Window.partitionBy(gcols: _*).orderBy(col("__bkt"))
        .rowsBetween(Window.unboundedPreceding, -1)
      sumCols.foldLeft(totals)((d, c) => d.withColumn(s"__off_$c",
          coalesce(sum(col(s"__t_$c")).over(totW), lit(0L))))
        .select(gcols ++ (col("__bkt") +:
          sumCols.map(c => col(s"__off_$c"))): _*)
    } else {
      // no key to partition the bucket-level window by: fold the
      // totals on the driver (how `RDD.zipWithIndex` handles its
      // per-partition counts) and broadcast the offsets back
      val accs = Array.fill(sumCols.size)(0L)
      val offRows = totals.orderBy(col("__bkt")).collect().map { row =>
        val offs = accs.toSeq
        sumCols.indices.foreach(i => accs(i) += row.getLong(i + 1))
        Row.fromSeq(row.getLong(0) +: offs)
      }
      val sp = grouped.sparkSession
      broadcast(sp.createDataFrame(
        sp.sparkContext.parallelize(offRows.toSeq, 1),
        StructType(StructField("__bkt", LongType) +:
          sumCols.map(c => StructField(s"__off_$c", LongType)))))
    }
    sumCols.foldLeft(
        withIn.join(offsets, groupCols :+ "__bkt")) { (d, c) =>
      d.withColumn(s"cum_$c", col(s"__off_$c") + col(s"__in_$c"))
        .drop(s"__in_$c", s"__off_$c")
    }.drop("__bkt")
  }

  /** `l` joined to `r` on `keys` — a cross join when there are none
    * (an ungrouped kernel's one-row totals frame).
    */
  private def joinOn(l: DataFrame, r: DataFrame, keys: Seq[String],
                     how: String = "inner"): DataFrame =
    if (keys.isEmpty) l.crossJoin(r) else l.join(r, keys, how)

  private def d19(c: org.apache.spark.sql.Column) =
    c.cast(org.apache.spark.sql.types.DecimalType(19, 0))

  private def requireIntegral(df: DataFrame, c: String,
                              who: String): Unit =
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => ()
      case other => throw new IllegalArgumentException(
        s"$who needs an integral (fixed-point) column; '$c' is " +
          other.simpleString)
    }

  /** Exact Gini coefficient of a NON-NEGATIVE integral column — the
    * corpus-concentration alarm ("is the mix dominated by a few
    * domains/sources", applied to per-domain doc counts, per-source
    * token totals, per-shard sizes): 0 = perfectly even, →1 = one
    * unit holds everything. Computed from the mean-absolute-
    * difference form, Gini = Σ_{i,j}|x_i − x_j| / (2·n·Σx), whose
    * pairwise sum collapses onto the distinct-value count table:
    *
    *   Σ_{i,j}|x_i − x_j| = 2·Σ_v c_v·(v·N_(<v) − S_(<v))
    *
    * with N_(<v) / S_(<v) the count and value-sum below v — ONE
    * [[cumBelowByValue]] pass with two sum columns, no pair join, no
    * global window, no sort. All products in DECIMAL with 19-digit
    * factors (HUGEINT oracle mirror); the one division closes. One
    * row per `groupCols` key (with none, a single row, even on empty
    * input): (groupCols…, n, total, gini) — gini null when n = 0 or
    * Σx = 0 (an all-zero population has no concentration to
    * measure). Nulls and negatives drop (a negative "count" is an
    * upstream bug).
    *
    * Scale shape: one value-keyed map-side hash agg, the bucketed
    * two-level prefix sum, one closing agg.
    */
  def gini(df: DataFrame, valCol: String,
           groupCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
    requireIntegral(df, valCol, "gini")
    val keys = groupCols.map(col)
    val g = df
      .filter(col(valCol).isNotNull && col(valCol) >= 0)
      .groupBy(keys :+ col(valCol).cast(LongType).as("__v"): _*)
      .agg(count(lit(1)).as("__c"),
        sum(col(valCol).cast(LongType)).as("__s"))
    cumBelowByValue(g, groupCols, "__v", Seq("__c", "__s"))
      .groupBy(keys: _*)
      .agg(
        coalesce(sum(col("__c")), lit(0L)).as("n"),
        coalesce(sum(col("__s")), lit(0L)).as("total"),
        coalesce(sum(d19(col("__c")) *
            (d19(col("__v")) * d19(col("cum___c")) -
              d19(col("cum___s")))),
          lit(0L).cast(DecimalType(38, 0))).as("__half"))
      .select(keys ++ Seq(col("n"), col("total"),
        when(col("n") > 0 && col("total") > 0,
          lit(2.0) * col("__half").cast(DoubleType) /
            (lit(2.0) * col("n").cast(DoubleType) *
              col("total").cast(DoubleType))).as("gini")): _*)
  }

  /** Effective sample size of an importance-weighted sample (Kish
    * 1965), ESS = (Σw)²/Σw² — the "how many REAL examples is this
    * weighted eval worth" health check that must accompany any
    * weighted metric ([[graft.operators.Corpus]] DSIR weights, IPW
    * evals): a 10⁶-row eval with ESS 50 has 50 rows of statistical
    * power, and its tight-looking CI is a lie. Weights are doubles,
    * so both moments run fixed-point ([[graft.functions.Cols.fxSum]]
    * at 1e6 — the scale trades precision for headroom; the
    * quantization is the determinism convention, not an approximation
    * knob). Headroom contract: importance weights should arrive
    * ~mean-1 normalized (the standard), keeping w² fx terms ~1e6 and
    * the long sums safe past 10¹² rows; a max weight near 10⁶ eats
    * that headroom quadratically. Non-finite/negative weights drop
    * (their ESS is undefined). One row: (n, sum_w, ess, ess_frac) —
    * null metrics when no positive-weight rows survive.
    *
    * Scale shape: one 1-row aggregation. Nothing else.
    */
  def effectiveSampleSize(df: DataFrame, wCol: String): DataFrame = {
    import graft.functions.Cols.{fxSum, fxVal}
    import org.apache.spark.sql.types.DoubleType
    val sc = 1e6
    val w = col(wCol).cast(DoubleType)
    val agg = df
      .filter(w.isNotNull && !isnan(w) && w >= 0 &&
        w =!= Double.PositiveInfinity)
      .agg(count(lit(1)).as("n"), fxSum(w, sc).as("__swfx"),
        fxSum(w * w, sc).as("__sw2fx"))
    val sw = fxVal(col("__swfx"), sc)
    val sw2 = fxVal(col("__sw2fx"), sc)
    agg.select(col("n"), sw.as("sum_w"),
      when(col("__sw2fx") > 0, sw * sw / sw2).as("ess"),
      when(col("__sw2fx") > 0 && col("n") > 0,
        sw * sw / sw2 / col("n").cast(DoubleType)).as("ess_frac"))
  }

  /** Exact tie-aware ROC AUC of an integral score column against a
    * boolean label — the quality-classifier acceptance metric (does
    * the scorer actually rank keepers above rejects?), in the
    * Mann-Whitney rank-sum form: AUC = P(score⁺ > score⁻) +
    * ½·P(score⁺ = score⁻). `scoreFxCol` must be INTEGRAL — this
    * engine's scores are fixed-point by convention
    * ([[graft.functions.Cols.fxTerm]]), which is exactly what makes
    * the metric exact: per distinct score s with n⁺_s positives and
    * n⁻_s negatives,
    *
    *   AUC = [Σ_s n⁺_s · 2·N⁻_(<s)  +  Σ_s n⁺_s n⁻_s] / (2 n⁺ n⁻)
    *
    * where N⁻_(<s) is the negative count below s — one grouped count
    * table + [[cumBelowByValue]]; no per-pair join (the naive
    * P(pos>neg) is an n⁺×n⁻ cross product) and no global window. The
    * numerator products run in DECIMAL with 19-digit factors (a LONG
    * np·(2·cnn + nn) silently wraps past 2^63 on billion-row
    * heavy-tie inputs) and sum in DECIMAL(38,0) — exact count
    * arithmetic at any realistic corpus size — and
    * the one division is the only double op. One row per `groupCols`
    * key (a single row when there are none): (groupCols…, n_pos,
    * n_neg, auc); null AUC when either class is empty. Nulls in score or label
    * drop. Grouped, it is the scorer-validation scorecard ("does the
    * classifier still separate keepers from rejects on EVERY
    * source"), its ranks-below from the keyed [[cumBelowByValue]] so
    * no partition is ever one group's entire distinct-score set.
    */
  def auc(df: DataFrame, scoreFxCol: String, labelCol: String,
          groupCols: Seq[String] = Nil): DataFrame =
    aucFromCounts(labeledScoreCounts(df, scoreFxCol, labelCol, groupCols),
      groupCols)

  /** Per-(groupCols…, distinct score) LABELED count table
    * `(groupCols…, s, np, nn)` — [[scoreCounts]] with the class
    * split: the partial a streamed scorer-quality store sums
    * ([[graft.streaming.StreamingScorer]]) and the per-side input of
    * [[aucFromCounts]] / [[rankSumTestFromCounts]]. Null score or
    * label drops.
    */
  def labeledScoreCounts(df: DataFrame, scoreFxCol: String,
                         labelCol: String,
                         groupCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.types.LongType
    requireIntegral(df, scoreFxCol, "labeledScoreCounts")
    df.filter(col(scoreFxCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(groupCols.map(col) :+
        col(scoreFxCol).cast(LongType).as("s"): _*)
      .agg(sum(when(col(labelCol), 1L).otherwise(0L)).as("np"),
        sum(when(col(labelCol), 0L).otherwise(1L)).as("nn"))
  }

  /** [[auc]] over a PRE-AGGREGATED `(groupCols…, s, np, nn)` table
    * from [[labeledScoreCounts]] (re-aggregated, so sum-merged store
    * partials feed in directly) — the streamed scorer monitor's read
    * path. Same arithmetic, exactness and output.
    */
  def aucFromCounts(counts: DataFrame,
                    groupCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val keys = groupCols.map(col)
    val g = counts.groupBy(keys :+ col("s").cast("long").as("__s"): _*)
      .agg(sum(col("np")).as("np"), sum(col("nn")).as("nn"))
    // factors cast to DECIMAL(19,0) BEFORE multiplying — a long
    // product np·(2·cnn + nn) would silently wrap past 2^63 on
    // billion-row heavy-tie inputs; 19-digit factors keep the decimal
    // product exact (and DuckDB's BIGINT→HUGEINT sum mirrors it)
    cumBelowByValue(g, groupCols, "__s", Seq("nn"))
      .groupBy(keys: _*)
      .agg(
        coalesce(sum(col("np")), lit(0L)).as("n_pos"),
        coalesce(sum(col("nn")), lit(0L)).as("n_neg"),
        coalesce(sum(d19(col("np")) *
            (d19(col("cum_nn")) * 2 + d19(col("nn")))),
          lit(0L).cast(DecimalType(38, 0))).as("__num2"))
      .select(keys ++ Seq(col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          col("__num2").cast(DoubleType) /
            (lit(2.0) * col("n_pos").cast(DoubleType) *
              col("n_neg").cast(DoubleType)))
          .as("auc")): _*)
  }

  /** McNemar's test over paired boolean outcomes — the significance
    * check for "model B fixed more than it broke" on a shared eval
    * set: only the DISCORDANT pairs carry signal (`a_only` = A right
    * where B wrong, `b_only` the reverse), and the statistic is the
    * binomial z on their split, z = (a_only − b_only)/√(a_only +
    * b_only) (no continuity correction — document the convention;
    * |z| > 1.96 ≈ the 5 % level). The concordant counts ride along
    * for the report. Null on either side drops the pair; z is null
    * with no discordant pairs (the models are operationally
    * identical). All counts exact; the one sqrt closes. One output
    * row: (n, n_both, n_neither, a_only, b_only, z) — `n_both` not
    * `both`, which is a reserved word in standard SQL.
    *
    * Scale shape: a single map-side-combining hash agg to one row.
    */
  def mcnemar(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val d = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
    d.agg(
        count(lit(1)).as("n"),
        sum(when(col(aCol) && col(bCol), 1L).otherwise(0L)).as("n_both"),
        sum(when(!col(aCol) && !col(bCol), 1L).otherwise(0L))
          .as("n_neither"),
        sum(when(col(aCol) && !col(bCol), 1L).otherwise(0L))
          .as("a_only"),
        sum(when(!col(aCol) && col(bCol), 1L).otherwise(0L))
          .as("b_only"))
      .na.fill(0L, Seq("n", "n_both", "n_neither", "a_only", "b_only"))
      .select(col("n"), col("n_both"), col("n_neither"), col("a_only"),
        col("b_only"),
        when(col("a_only") + col("b_only") > 0,
          (col("a_only") - col("b_only")).cast(DoubleType) /
            sqrt((col("a_only") + col("b_only")).cast(DoubleType)))
          .as("z"))
  }

  /** Two-sample Kolmogorov-Smirnov statistic over integral
    * (fixed-point) scores — the BINNING-FREE drift test: [[psi]]
    * answers "how far apart are the binned shares" under a chosen
    * grid, KS answers "what is the largest CDF gap anywhere" with no
    * grid to tune (a shift smaller than a PSI bin is invisible to
    * PSI; KS sees it). D = max_x |F_ref(x) − F_cur(x)| computed over
    * the union of observed values as an EXACT INTEGER maximum —
    * |cum₁·n₂ − cum₂·n₁| with DECIMAL 19-digit factors — so the
    * statistic is bit-identical cross-engine; the one division
    * closes. `ks_at` is the SMALLEST score achieving the max (a
    * deterministic "where does the distribution break" pointer). One
    * row per `groupCols` key present on EITHER side (a single row
    * when there are none): (groupCols…, n_ref, n_cur, d, ks_at);
    * d/ks_at null when a side is empty — for a group, the
    * appeared/vanished alarm rides on the zero count. Nulls drop.
    * Grouped, it is the drift SCORECARD ([[psi]]'s exact companion):
    * every source's KS in one pass, with no partition ever one
    * group's entire distinct-score set (the keyed [[cumBelowByValue]]).
    *
    * Scale shape: one count agg per side, a value-keyed full join,
    * [[cumBelowByValue]] (two sum columns share the one pass), a
    * broadcast totals join (1 row, or one per group), one max agg. No
    * global window, no pair work.
    */
  def ksTest(ref: DataFrame, cur: DataFrame, scoreFxCol: String,
             groupCols: Seq[String] = Nil): DataFrame =
    ksTestFromCounts(scoreCounts(ref, scoreFxCol, groupCols),
      scoreCounts(cur, scoreFxCol, groupCols), groupCols)

  /** Per-(groupCols…, distinct score) counts `(groupCols…, s, n)` —
    * [[ksTest]]'s mergeable state and the per-micro-batch partial of
    * the STREAMED monitor ([[graft.streaming.StreamingDrift]]'s KS
    * store): counts SUM across batches, so the merged store
    * reproduces the replayed log's table exactly. Nulls drop; score
    * must be integral.
    */
  def scoreCounts(df: DataFrame, scoreFxCol: String,
                  groupCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.types.LongType
    requireIntegral(df, scoreFxCol, "ksTest")
    df.filter(col(scoreFxCol).isNotNull)
      .groupBy(groupCols.map(col) :+
        col(scoreFxCol).cast(LongType).as("s"): _*)
      .agg(count(lit(1)).as("n"))
  }

  /** [[ksTestFromCounts]]' and [[wasserstein1FromCounts]]' shared
    * first half: both sides' [[scoreCounts]] tables re-aggregated (so
    * sum-merged store partials feed in directly) and full-joined per
    * (key, score) into `(groupCols…, __s, c1, c2)`, a missing side
    * zero; then both sides' exclusive cums (`cum_c1`, `cum_c2`)
    * joined to their per-key totals (`__n1`, `__n2`).
    */
  private def cumScoreCounts(refCounts: DataFrame, curCounts: DataFrame,
                             groupCols: Seq[String]): DataFrame = {
    def side(counts: DataFrame, n: String): DataFrame =
      counts.filter(col("n").isNotNull && col("n") > 0)
        .groupBy(groupCols.map(col) :+ col("s").as("__s"): _*)
        .agg(sum(col("n")).as(n))
    val both = side(refCounts, "c1").join(side(curCounts, "c2"),
        groupCols :+ "__s", "full")
      .na.fill(0L, Seq("c1", "c2"))
    val cum = cumBelowByValue(both, groupCols, "__s", Seq("c1", "c2"))
    // totals from the RETURNED frame: it sits on the prefix sum's
    // localCheckpoint, so the per-side count aggs + full join run
    // once — totals planned off `both` would re-execute the lineage
    val totals = cum.groupBy(groupCols.map(col): _*).agg(
      coalesce(sum(col("c1")), lit(0L)).as("__n1"),
      coalesce(sum(col("c2")), lit(0L)).as("__n2"))
    joinOn(cum, broadcast(totals), groupCols)
  }

  /** [[ksTest]] over PRE-AGGREGATED `(groupCols…, s, n)` count tables
    * from [[scoreCounts]] — the streamed drift monitor's read path,
    * where `curCounts` is a sum-merged store snapshot and `refCounts`
    * a pinned reference. Same output and exact-integer arithmetic.
    */
  def ksTestFromCounts(refCounts: DataFrame, curCounts: DataFrame,
                       groupCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val keys = groupCols.map(col)
    val dn = abs(d19(col("cum_c1") + col("c1")) * d19(col("__n2")) -
      d19(col("cum_c2") + col("c2")) * d19(col("__n1")))
    cumScoreCounts(refCounts, curCounts, groupCols)
      .select(keys ++ Seq(col("__n1"), col("__n2"), dn.as("__dn"),
        col("__s")): _*)
      .groupBy(keys: _*)
      .agg(max(col("__n1")).as("n_ref"), max(col("__n2")).as("n_cur"),
        max(struct(col("__dn").as("dn"),
          (lit(-1L) * col("__s")).as("negs"))).as("__t"))
      .select(keys ++ Seq(
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"),
        when(col("n_ref") > 0 && col("n_cur") > 0,
          col("__t.dn").cast(DoubleType) /
            (col("n_ref").cast(DoubleType) *
              col("n_cur").cast(DoubleType))).as("d"),
        when(col("n_ref") > 0 && col("n_cur") > 0,
          col("__t.negs") * -1L).as("ks_at")): _*)
  }

  /** Exact 1-Wasserstein (earth-mover) distance between two
    * fixed-point score samples — the MAGNITUDE companion to
    * [[ksTest]]: KS reports the worst single CDF gap (a sharp local
    * shift on 1 % of the mass can out-score a broad 2-point drift),
    * W1 = ∫|F−G| dx reports how much probability mass moved how far —
    * the number a re-calibration budget actually wants. Score units
    * are the caller's fixed-point quantization, so W1 is in fx units.
    *
    * The CDF-gap integral needs each support gap s_(i+1) − s_i, which
    * would take a lead() over the global support order (PlanLint bans
    * the unpartitioned window and a bucketed lead needs cross-bucket
    * stitching). Telescoping removes the neighbor entirely: with
    * D_i = ic1_i·n2 − ic2_i·n1 (the scaled inclusive CDF gap) and
    * E_i = its EXCLUSIVE twin (= D_(i−1)), D_m = 0 at the last
    * support point, so
    *
    *   W1·n1·n2 = Σ_i |D_i|·(s_(i+1) − s_i) = Σ_i s_i·(|E_i| − |D_i|)
    *
    * — one row-local expression over [[cumBelowByValue]]'s output
    * (which IS the exclusive cum), no lead, no extra shuffle. All
    * products run in DECIMAL with 19-digit factors; the one division
    * by n1·n2 closes. Headroom: the running Σ s·|E| partial must fit
    * DECIMAL(38,0) — distinct-scores × s_max × n1 × n2 < 1e38, which
    * holds for any realistic quantization (1e6 distinct × 1e9 fx-max
    * × 1e9 × 1e9 rows ≈ 1e33; the oracle's HUGEINT matches the
    * headroom and errors rather than wraps, like every sibling).
    * One row per `groupCols` key present on either side (a single row
    * when there are none): (groupCols…, n_ref, n_cur, w1) — w1 null
    * when a side is empty.
    *
    * Scale shape: identical to [[ksTest]] — two map-side hash aggs,
    * one full join, the bucketed two-level prefix sum, one broadcast
    * of totals, one closing agg.
    */
  def wasserstein1(ref: DataFrame, cur: DataFrame, scoreFxCol: String,
                   groupCols: Seq[String] = Nil): DataFrame =
    wasserstein1FromCounts(scoreCounts(ref, scoreFxCol, groupCols),
      scoreCounts(cur, scoreFxCol, groupCols), groupCols)

  /** [[wasserstein1]] over PRE-AGGREGATED `(groupCols…, s, n)` count
    * tables from [[scoreCounts]] — the streamed drift monitor's read
    * path: the SAME per-score count store the exact-KS monitor reads
    * ([[graft.streaming.StreamingDrift]]), one store, two alarms.
    */
  def wasserstein1FromCounts(refCounts: DataFrame, curCounts: DataFrame,
                             groupCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val keys = groupCols.map(col)
    val eAbs = abs(d19(col("cum_c1")) * d19(col("__n2")) -
      d19(col("cum_c2")) * d19(col("__n1")))
    val dAbs = abs(d19(col("cum_c1") + col("c1")) * d19(col("__n2")) -
      d19(col("cum_c2") + col("c2")) * d19(col("__n1")))
    cumScoreCounts(refCounts, curCounts, groupCols)
      .select(keys ++ Seq(col("__n1"), col("__n2"),
        (d19(col("__s")) * (eAbs - dAbs)).as("__t")): _*)
      .groupBy(keys: _*)
      .agg(max(col("__n1")).as("n_ref"), max(col("__n2")).as("n_cur"),
        sum(col("__t")).as("__num"))
      .select(keys ++ Seq(
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"),
        when(col("n_ref") > 0 && col("n_cur") > 0,
          col("__num").cast(DoubleType) /
            (col("n_ref").cast(DoubleType) *
              col("n_cur").cast(DoubleType))).as("w1")): _*)
  }

  /** Tie-corrected Mann-Whitney rank-sum test over the same inputs
    * as [[auc]] — AUC says HOW WELL the score separates the classes;
    * this says whether the separation is DISTINGUISHABLE FROM CHANCE
    * on this sample (two-sided normal approximation): U = AUC·n⁺n⁻,
    * z = (U − n⁺n⁻/2) / σ with the tie-corrected variance
    *
    *   σ² = n⁺n⁻/12 · [(n + 1) − Σ_s(t_s³ − t_s) / (n(n−1))]
    *
    * (t_s = total count at tied score s). Every moment is an exact
    * DECIMAL integer (19-digit factors — t³ wraps a long at t ≈ 2e6);
    * the closing z is pure double ops, mirrored op-for-op by the
    * oracle. One row: (n_pos, n_neg, auc, z); z null when either
    * class is empty or every observation ties (σ = 0). Same count
    * table and [[cumBelowByValue]] machinery as [[auc]] — one extra
    * agg, no new shuffle shape.
    */
  def rankSumTest(df: DataFrame, scoreFxCol: String,
                  labelCol: String): DataFrame =
    rankSumTestFromCounts(labeledScoreCounts(df, scoreFxCol, labelCol))

  /** [[rankSumTest]] over a PRE-AGGREGATED `(s, np, nn)` table from
    * [[labeledScoreCounts]] — the streamed scorer monitor's
    * significance read ([[aucFromCounts]]' companion off the same
    * store snapshot).
    */
  def rankSumTestFromCounts(counts: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val g = counts.groupBy(col("s").cast("long").as("__s"))
      .agg(sum(col("np")).as("np"), sum(col("nn")).as("nn"))
    val t = col("np") + col("nn")
    val agg = cumBelowByValue(g, Nil, "__s", Seq("nn"))
      .agg(
        coalesce(sum(col("np")), lit(0L)).as("n_pos"),
        coalesce(sum(col("nn")), lit(0L)).as("n_neg"),
        coalesce(sum(d19(col("np")) *
            (d19(col("cum_nn")) * 2 + d19(col("nn")))),
          lit(0L).cast(DecimalType(38, 0))).as("__num2"),
        coalesce(sum(d19(t) * d19(t) * d19(t) - d19(t)),
          lit(0L).cast(DecimalType(38, 0))).as("__tsum"))
    val nP = col("n_pos").cast(DoubleType)
    val nN = col("n_neg").cast(DoubleType)
    val n = (col("n_pos") + col("n_neg")).cast(DoubleType)
    val u = col("__num2").cast(DoubleType) / 2.0
    val varU = nP * nN / 12.0 *
      ((n + 1.0) - col("__tsum").cast(DoubleType) / (n * (n - 1.0)))
    agg.select(col("n_pos"), col("n_neg"),
      when(col("n_pos") > 0 && col("n_neg") > 0,
        col("__num2").cast(DoubleType) / (lit(2.0) * nP * nN)).as("auc"),
      when(col("n_pos") > 0 && col("n_neg") > 0 && varU > 0.0,
        (u - nP * nN / 2.0) / sqrt(varU)).as("z"))
  }

  /** Deterministic Poisson-bootstrap CI for [[auc]] — an AUC point
    * estimate over a small labeled sample is noise without an
    * interval ("0.61 on 300 labels" can be chance). Units resample
    * with the hash-seeded Poisson(1) weights ([[bootstrapCi]]'s
    * machinery — bit-identical draws cross-engine); each resample's
    * AUC is the SAME tie-aware rank-sum arithmetic over WEIGHTED
    * counts (weights are small exact integers, so every resample's
    * count table stays integer-exact), ranks-below per resample via
    * [[cumBelowByValue]] keyed by resample over the (resample,
    * distinct-score) count table — the bucketed two-level prefix sum,
    * so no partition is ever one resample's entire distinct-score set
    * even under adversarial quantization; no global window. Resamples
    * that lose a class entirely yield a null AUC and sit out the
    * percentile (both engines skip nulls). One row:
    * (n_pos, n_neg, b, auc, lo, hi) — `auc` the exact unweighted
    * point estimate.
    *
    * The point estimate is resample −1, where every unit weighs 1:
    * its counts are the unweighted table, so its AUC is [[auc]]'s bit
    * for bit, and the one closing aggregate picks it beside the
    * percentile over resamples 0..b−1.
    *
    * Scale shape: the (b+1)× fan-out lands on the UNIT rows once
    * (narrow), then everything is (resample, score)-keyed map-side
    * hash aggs + the bucketed grouped prefix sum + one closing
    * aggregate. Nothing corpus² and nothing driver-side beyond the
    * prefix sum's bounded range probe.
    */
  def aucCi(df: DataFrame, idCol: String, scoreFxCol: String,
            labelCol: String, b: Int,
            lower: Double = 0.025, upper: Double = 0.975): DataFrame = {
    require(b >= 2 && b <= 100000, s"b must be in [2, 100000], got $b")
    require(lower >= 0 && upper <= 1 && lower < upper,
      s"need 0 <= lower < upper <= 1, got lower=$lower upper=$upper")
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val wCounts = df
      .filter(col(scoreFxCol).isNotNull && col(labelCol).isNotNull)
      .select(col(idCol).cast("string").as("__id"),
        col(scoreFxCol).cast(LongType).as("__s"),
        col(labelCol).as("__y"))
      .transform(resampled(b))
      .groupBy(col("__r"), col("__s"))
      .agg(sum(when(col("__y"), col("__w")).otherwise(0L)).as("np"),
        sum(when(col("__y"), 0L).otherwise(col("__w"))).as("nn"))
    // ranks-below per resample through the grouped bucketed prefix
    // sum — a RESAMPLE-partitioned window's group is the whole
    // distinct-score table, which a 1e9-quantized continuous score
    // makes ~corpus-sized (the r13 by-group scale watch, closed here
    // the same way as the grouped auc/ksTest)
    val perR = cumBelowByValue(wCounts, Seq("__r"), "__s", Seq("nn"))
      .groupBy(col("__r"))
      .agg(sum(col("np")).as("__p"), sum(col("nn")).as("__n"),
        sum(d19(col("np")) * (d19(col("cum_nn")) * 2 + d19(col("nn"))))
          .as("__m2"))
      .select(col("__r"), col("__p"), col("__n"),
        when(col("__p") > 0 && col("__n") > 0,
          col("__m2").cast(DoubleType) /
            (lit(2.0) * col("__p").cast(DoubleType) *
              col("__n").cast(DoubleType))).as("__a"))
    val point = col("__r") === -1
    val boot = when(col("__r") >= 0, col("__a"))
    perR.agg(coalesce(max(when(point, col("__p"))), lit(0L)).as("n_pos"),
      coalesce(max(when(point, col("__n"))), lit(0L)).as("n_neg"),
      lit(b).as("b"), max(when(point, col("__a"))).as("auc"),
      percentile(boot, lit(lower)).as("lo"),
      percentile(boot, lit(upper)).as("hi"))
  }

  /** Spearman rank correlation between two integral (fixed-point)
    * score columns — the judge-vs-human / scorer-vs-scorer agreement
    * metric that asks "do they RANK the corpus the same way",
    * immune to either scorer's calibration. Tie-averaged ranks via
    * DOUBLED ranks (2·rank is an integer even when ties average to
    * a half): per distinct value v with count c and C values below,
    * every row at v gets r₂ = 2C + c + 1 — one grouped count +
    * [[cumBelowByValue]] per side, joined back by value (equi-joins,
    * no global window, no per-pair work). ρ is then Pearson over the
    * doubled ranks:
    *
    *   ρ = (n·Σxy − Σx·Σy) / (√(n·Σxx − Σx²)·√(n·Σyy − Σy²))
    *
    * with every Σ an exact DECIMAL(38,0) integer sum over products of
    * 19-digit decimal factors (a LONG r2x·r2y wraps near n ≈ 1.5e9
    * rows — doubled ranks are ~2n) and the closing
    * arithmetic pure double ops on exactly-representable inputs —
    * bit-identical in any IEEE engine, mirrored op-for-op by the SQL
    * oracle. One row: (n, rho); null when either side is constant.
    * Rows with a null on either side drop.
    */
  def spearman(df: DataFrame, xFxCol: String, yFxCol: String)
      : DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType}
    Seq(xFxCol, yFxCol).foreach(requireIntegral(df, _, "spearman"))
    val rows = df
      .filter(col(xFxCol).isNotNull && col(yFxCol).isNotNull)
      .select(col(xFxCol).cast(LongType).as("__x"),
        col(yFxCol).cast(LongType).as("__y"))
      .localCheckpoint()
    def ranks2(vc: String): DataFrame =
      cumBelowByValue(
        rows.groupBy(col(vc)).agg(count(lit(1)).as("c")), Nil, vc,
        Seq("c"))
        .select(col(vc),
          (lit(2L) * col("cum_c") + col("c") + 1L).as(s"__r$vc"))
    val ranked = rows
      .join(ranks2("__x"), "__x")
      .join(ranks2("__y"), "__y")
    // factors cast to DECIMAL(19,0) before the product: doubled ranks
    // are ~2n, so a LONG r2x·r2y wraps near n ≈ 1.5e9 rows; 19-digit
    // decimal factors make the (38,0) product exact at any long rank
    def dec(c: org.apache.spark.sql.Column) =
      sum(c).cast(DoubleType)
    val s = ranked.agg(
      count(lit(1)).as("n"),
      dec(d19(col("__r__x"))).as("__sx"), dec(d19(col("__r__y"))).as("__sy"),
      dec(d19(col("__r__x")) * d19(col("__r__x"))).as("__sxx"),
      dec(d19(col("__r__y")) * d19(col("__r__y"))).as("__syy"),
      dec(d19(col("__r__x")) * d19(col("__r__y"))).as("__sxy"))
    val nD = col("n").cast(DoubleType)
    val vx = nD * col("__sxx") - col("__sx") * col("__sx")
    val vy = nD * col("__syy") - col("__sy") * col("__sy")
    s.select(col("n"),
      when(vx > 0.0 && vy > 0.0,
        (nD * col("__sxy") - col("__sx") * col("__sy")) /
          (sqrt(vx) * sqrt(vy)))
        .as("rho"))
  }

  /** Krippendorff's alpha (nominal) over a ratings table —
    * [[fleissKappa]]'s missing-data-robust companion (Krippendorff,
    * "Content Analysis", the standard reliability coefficient when
    * raters differ per item and rating counts are unequal — exactly
    * the shape crowdsourced annotation produces). Computed in the
    * closed nominal form over per-(item, category) counts n_uc with
    * m_u ratings on item u (items with m_u < 2 drop; n = Σ m_u over
    * the rest, n_c = the category marginals over the rest):
    *
    *   α = 1 − (n − 1) · [Σ_u Σ_c n_uc (m_u − n_uc)/(m_u − 1)]
    *             / Σ_c n_c (n − n_c)
    *
    * One output row: (n_items, n_ratings, alpha); α is null when the
    * expected-disagreement denominator is 0 (every qualifying rating
    * in one category — agreement is vacuous, not perfect).
    *
    * Determinism: every count is exact; the one cross-row double sum
    * (the observed-disagreement terms, each a ratio of exact
    * integers) runs fixed-point at 1e12 ([[fleissKappa]]'s scale
    * argument — terms are ≤ m_u ≤ 10³-ish per item); the closing
    * arithmetic is mirrored op-for-op by the SQL oracle.
    *
    * Scale shape: identical to [[fleissKappa]] — two map-side
    * hash aggs, category marginals over qualifying items, 1-row
    * reductions cross-joined at the end. The counts form below is
    * the streamed-store pull ([[fleissKappaFromCounts]]'s sibling).
    */
  def krippendorffAlpha(ratings: DataFrame, itemCol: String,
                        categoryCol: String): DataFrame =
    krippendorffAlphaFromCounts(
      ratings.groupBy(col(itemCol), col(categoryCol))
        .agg(count(lit(1)).as("__n")),
      itemCol, categoryCol, "__n")

  /** [[krippendorffAlpha]] over PRE-AGGREGATED per-(item, category)
    * rating counts — the [[graft.streaming]] annotation-store shape;
    * α is a pure function of the count table, so the merged store
    * reproduces the full replayed log's value (spec-pinned via the
    * row form). Null/non-positive count rows drop up front.
    */
  def krippendorffAlphaFromCounts(counts: DataFrame, itemCol: String,
                                  categoryCol: String,
                                  nCol: String): DataFrame = {
    import graft.functions.Cols.{fxSum, fxVal}
    import org.apache.spark.sql.types.DoubleType
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val sc = 1e12
    // nij feeds the observed-disagreement terms AND the marginals;
    // ni gates both on m_u >= 2 — persisted, the cb convention
    val nij = counts
      .filter(col(nCol).isNotNull && col(nCol) > 0)
      .groupBy(col(itemCol).as("__it"), col(categoryCol).as("__cat"))
      .agg(sum(col(nCol)).as("__nij"))
      .persist(MEMORY_AND_DISK)
    val ni = nij.groupBy(col("__it"))
      .agg(sum(col("__nij")).as("__ni"))
      .filter(col("__ni") >= 2)
      .persist(MEMORY_AND_DISK)
    val dObs = nij.join(ni, Seq("__it"))
      .select(((col("__nij") * (col("__ni") - col("__nij")))
        .cast(DoubleType) /
        (col("__ni") - 1).cast(DoubleType)).as("__t"))
      .agg(fxSum(col("__t"), sc).as("__dofx"))
    val qualifying = nij.join(ni.select(col("__it")), Seq("__it"))
    val totals = ni.agg(count(lit(1)).as("n_items"),
      sum(col("__ni")).as("n_ratings"))
    val de = qualifying.groupBy(col("__cat"))
      .agg(sum(col("__nij")).as("__nc"))
      .crossJoin(broadcast(totals.select(col("n_ratings").as("__N"))))
      .agg(sum(col("__nc") * (col("__N") - col("__nc"))).as("__de"))
    totals.crossJoin(broadcast(dObs)).crossJoin(broadcast(de))
      .select(col("n_items"), col("n_ratings"),
        when(col("__de") > 0,
          lit(1.0) - (col("n_ratings") - 1).cast(DoubleType) *
            fxVal(col("__dofx"), sc) / col("__de").cast(DoubleType))
          .as("alpha"))
  }

  /** Krippendorff's alpha with the SQUARED-DIFFERENCE distance kernel
    * — the reliability coefficient for ORDERED rating scales (Likert
    * 1-5, star ratings): where the nominal [[krippendorffAlpha]]
    * scores a 4-vs-5 disagreement as harshly as 1-vs-5, here the
    * penalty is δ(c,k) = (c−k)², so near-miss raters on an ordered
    * scale stop being punished as if they were random (this is the
    * interval metric in Krippendorff's taxonomy — the standard kernel
    * for Likert-style scores). `categoryCol` must cast to an integer
    * code (re-code labels upstream); rows whose category does not
    * cast drop with the nulls.
    *
    * The pairwise form collapses to per-item moments — no category
    * self-join anywhere: Σ_{c,k} n_uc n_uk (c−k)² = 2(m_u·S2_u −
    * S1_u²) with S1 = Σ n_uc·c, S2 = Σ n_uc·c², and the expected
    * disagreement is the same identity over the pooled marginals. So
    *
    *   α = 1 − (n−1) · [Σ_u 2(m_u S2_u − S1_u²)/(m_u − 1)]
    *             / [2(n·S2 − S1²)]
    *
    * All moments are exact integers; the pooled products n·S2 and S1²
    * route through DECIMAL(19,0) factors (the auc/ksTest convention —
    * long would wrap silently past ~3e9 of summed rating mass; the
    * per-ITEM moments stay long, bounded by per-item rater count); the
    * per-item division is the one double step, fixed-point summed at
    * 1e12 ([[krippendorffAlpha]]'s convention); α is null when the
    * expected disagreement is 0 (all qualifying ratings equal —
    * vacuous, not perfect). Same two-hash-agg scale shape and same
    * counts-form streamed-store pull as the nominal form.
    */
  def krippendorffAlphaOrdinal(ratings: DataFrame, itemCol: String,
                               categoryCol: String): DataFrame =
    krippendorffAlphaOrdinalFromCounts(
      ratings.groupBy(col(itemCol), col(categoryCol))
        .agg(count(lit(1)).as("__n")),
      itemCol, categoryCol, "__n")

  /** [[krippendorffAlphaOrdinal]] over PRE-AGGREGATED per-(item,
    * category) counts — the streamed annotation-store pull.
    */
  def krippendorffAlphaOrdinalFromCounts(counts: DataFrame,
                                         itemCol: String,
                                         categoryCol: String,
                                         nCol: String): DataFrame = {
    import graft.functions.Cols.{fxSum, fxVal}
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val sc = 1e12
    val cat = col(categoryCol).cast(LongType)
    val perItem = counts
      .filter(col(nCol).isNotNull && col(nCol) > 0 && cat.isNotNull)
      .groupBy(col(itemCol).as("__it"), cat.as("__c"))
      .agg(sum(col(nCol)).as("__nij"))
      .groupBy(col("__it"))
      .agg(sum(col("__nij")).as("__mi"),
        sum(col("__nij") * col("__c")).as("__s1"),
        sum(col("__nij") * col("__c") * col("__c")).as("__s2"))
      .filter(col("__mi") >= 2)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dObs = perItem
      .select(((lit(2L) * (col("__mi") * col("__s2") -
          col("__s1") * col("__s1"))).cast(DoubleType) /
        (col("__mi") - 1).cast(DoubleType)).as("__t"))
      .agg(fxSum(col("__t"), sc).as("__dofx"))
    val totals = perItem.agg(count(lit(1)).as("n_items"),
      sum(col("__mi")).as("n_ratings"),
      sum(col("__s1")).as("__S1"), sum(col("__s2")).as("__S2"))
    // pooled factors cast to DECIMAL(19,0) BEFORE multiplying (the
    // auc/ksTest convention): S1² in long arithmetic wraps silently
    // past ~3e9 of summed rating mass, and the oracle's HUGEINT would
    // error rather than wrap — the engines must agree loudly or not
    // at all; 19-digit factors keep the Decimal(38,0) product exact
    totals.crossJoin(broadcast(dObs))
      .withColumn("__de", lit(2L) *
        (d19(col("n_ratings")) * d19(col("__S2")) -
          d19(col("__S1")) * d19(col("__S1"))))
      .select(col("n_items"), col("n_ratings"),
        when(col("__de") > 0,
          lit(1.0) - (col("n_ratings") - 1).cast(DoubleType) *
            fxVal(col("__dofx"), sc) / col("__de").cast(DoubleType))
          .as("alpha"))
  }

  /** Unbiased pass@k over an eval sample table — the code/reasoning
    * eval metric (Chen et al., "Evaluating Large Language Models
    * Trained on Code", 2021, eq. 1): from `n` samples per problem of
    * which `c` passed,
    *
    *   pass@k = 1 − C(n−c, k) / C(n, k)
    *          = 1 − Π_{i=0..k−1} (n−c−i) / (n−i)
    *
    * computed in the product form (the paper's numerically-stable
    * recommendation — the binomials overflow long before n = 100).
    * Input is one row per sample `(problemCol, passedCol: boolean)`;
    * problems with fewer than `k` samples are dropped (the estimator
    * needs n ≥ k). When n − c < k the product passes through an exact
    * zero factor, so pass@k = 1 with no special-casing. One row per
    * problem: (problemCol, n, c, pass_at_k).
    *
    * Determinism: n and c are exact counts; the product is a
    * SEQUENTIAL higher-order fold over i (left-associated, mirrored
    * factor-for-factor by the SQL oracle) — never a cross-row float
    * reduction.
    *
    * Scale shape: one (problem)-keyed map-side-combining hash agg,
    * then a narrow per-row projection. Nothing else.
    */
  def passAtK(samples: DataFrame, problemCol: String,
              passedCol: String, k: Int): DataFrame =
    passAtKFromCounts(passCounts(samples, problemCol, passedCol),
      problemCol, "n", "c", k)

  /** The per-problem (n, c) aggregation [[passAtK]] runs and a
    * streaming eval store accumulates — ONE definition so the batch
    * and streamed metrics cannot drift (a null `passedCol` counts as
    * a failed sample in both): `(problemCol, n, c)`.
    */
  def passCounts(samples: DataFrame, problemCol: String,
                 passedCol: String): DataFrame =
    samples.groupBy(col(problemCol))
      .agg(count(lit(1)).as("n"),
        sum(when(col(passedCol), 1L).otherwise(0L)).as("c"))

  /** [[passAtK]] over PRE-AGGREGATED per-problem (n, c) counts — the
    * shape a streaming eval-outcome store accumulates: the estimator
    * is a pure function of the aggregates, so computing it over the
    * merged store equals computing it over the full replayed sample
    * log (spec-pinned via the sample form above, which is exactly
    * this on its own aggregation).
    */
  def passAtKFromCounts(counts: DataFrame, problemCol: String,
                        nCol: String, cCol: String, k: Int): DataFrame = {
    require(k >= 1 && k <= 1000, s"k must be in [1, 1000], got $k")
    import org.apache.spark.sql.types.DoubleType
    val a = counts.select(col(problemCol), col(nCol).as("n"),
        col(cCol).as("c"))
      .filter(col("n") >= k)
    val prod = aggregate(sequence(lit(0), lit(k - 1)), lit(1.0),
      (acc, i) => acc *
        ((col("n") - col("c") - i).cast(DoubleType) /
          (col("n") - i).cast(DoubleType)))
    a.select(col(problemCol), col("n"), col("c"),
      (lit(1.0) - prod).as("pass_at_k"))
  }

  /** Self-consistency majority-vote accuracy (Wang et al.,
    * "Self-Consistency Improves Chain of Thought Reasoning", 2022) —
    * pass@k's companion metric: instead of "any sample passed", the
    * MODAL answer across a problem's n samples is compared to gold.
    * Input is one row per sample `(problemCol, answerCol, goldCol)`
    * (gold constant per problem); the vote ties to the smaller answer
    * (deterministic, engine-portable — the [[graft.operators
    * .Similarity.knnClassify]] rule). One row per problem:
    * (problemCol, n, vote, votes, correct).
    *
    * Scale shape: two map-side-combining hash aggs — votes per
    * (problem, answer), then a min-struct argmax per problem (no
    * window, skew-safe for any answer distribution) — plus one
    * problem-keyed join to re-attach gold.
    */
  def majorityVote(samples: DataFrame, problemCol: String,
                   answerCol: String, goldCol: String): DataFrame = {
    val votes = samples.groupBy(col(problemCol), col(answerCol))
      .agg(count(lit(1)).as("__v"))
      .groupBy(col(problemCol))
      .agg(sum(col("__v")).as("n"),
        min(struct((-col("__v")).as("nv"),
          col(answerCol).as("ans"))).as("__w"))
      .select(col(problemCol), col("n"), col("__w.ans").as("vote"),
        (-col("__w.nv")).as("votes"))
    val gold = samples.groupBy(col(problemCol))
      .agg(min(col(goldCol)).as("__g"))
    votes.join(gold, Seq(problemCol))
      .select(col(problemCol), col("n"), col("vote"), col("votes"),
        (col("vote") === col("__g")).as("correct"))
  }

  /** Expected-calibration-error report over scored predictions — the
    * quality-classifier health check a curation pipeline runs before
    * trusting its scores as probabilities (a filter thresholding an
    * over-confident classifier silently shifts the corpus mix). Bins
    * `scoreCol` (∈ [0, 1]) into `bins` equal-width bins
    * (`min(floor(score·bins), bins−1)` — 1.0 lands in the top bin)
    * and emits one row per NON-EMPTY bin:
    * (bin, n_bin, frac, avg_conf, acc_rate, abs_gap, contrib) — the
    * scalar ECE is `sum(contrib)` = Σ_b (n_b/N)·|acc_b − conf_b|.
    *
    * Determinism: bin membership and accuracy are exact integers; the
    * per-bin confidence sum is the one cross-row double reduction and
    * runs fixed-point at 1e9; the divisions are mirrored op-for-op.
    *
    * Scale shape: one bin-keyed map-side-combining hash agg (≤ `bins`
    * output rows) + a 1-row total cross join. Nothing else.
    */
  def ece(preds: DataFrame, scoreCol: String, labelCol: String,
          bins: Int = 10): DataFrame = {
    require(bins >= 1 && bins <= 10000,
      s"bins must be in [1, 10000], got $bins")
    import graft.functions.Cols.{fxSum, fxVal}
    import org.apache.spark.sql.types.DoubleType
    val bin = least(floor(col(scoreCol).cast(DoubleType) * bins),
      lit(bins - 1)).cast("long")
    val byBin = preds.select(bin.as("bin"),
        col(scoreCol).cast(DoubleType).as("__s"),
        when(col(labelCol), 1L).otherwise(0L).as("__y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_bin"), sum(col("__y")).as("__pos"),
        fxSum(col("__s"), 1e9).as("__sfx"))
    val total = byBin.agg(sum(col("n_bin")).as("__N"))
    val avgConf = fxVal(col("__sfx"), 1e9) / col("n_bin").cast(DoubleType)
    val accRate = col("__pos").cast(DoubleType) /
      col("n_bin").cast(DoubleType)
    val frac = col("n_bin").cast(DoubleType) / col("__N").cast(DoubleType)
    byBin.crossJoin(broadcast(total))
      .select(col("bin"), col("n_bin"), frac.as("frac"),
        avgConf.as("avg_conf"), accRate.as("acc_rate"),
        abs(accRate - avgConf).as("abs_gap"),
        (frac * abs(accRate - avgConf)).as("contrib"))
  }

  /** Murphy decomposition of the Brier score over scored
    * predictions — [[ece]]'s quantitative companion (same binning,
    * same inputs): ECE says HOW FAR the calibration curve sits from
    * the diagonal; this splits the full probabilistic loss into WHY —
    *
    *   Brier = mean (p − y)²,
    *   REL   = Σ_b (n_b/N)·(p̄_b − ȳ_b)²   (miscalibration — fixable
    *                                        by remapping scores),
    *   RES   = Σ_b (n_b/N)·(ȳ_b − ȳ)²     (discrimination — how much
    *                                        the bins separate),
    *   UNC   = ȳ(1 − ȳ)                    (the base-rate floor no
    *                                        model can beat)
    *
    * with Brier ≈ REL − RES + UNC (exact when forecasts are constant
    * within bins; the residual is the within-bin forecast variance —
    * report the four numbers, don't assume the identity). A
    * re-calibration pays off when REL dominates; more/better features
    * are needed when RES is small.
    *
    * Determinism: bin membership and counts are exact integers; the
    * three cross-row double reductions (per-row squared error,
    * per-bin REL/RES terms) run fixed-point at 1e9 with every
    * division mirrored op-for-op. One row: (n, n_pos, brier,
    * reliability, resolution, uncertainty) — metrics null on empty
    * input.
    *
    * Scale shape: one bin-keyed map-side hash agg (≤ `bins` rows),
    * one 1-row totals broadcast, one closing agg.
    */
  def brierDecomposition(preds: DataFrame, scoreCol: String,
                         labelCol: String,
                         bins: Int = 10): DataFrame = {
    require(bins >= 1 && bins <= 10000,
      s"bins must be in [1, 10000], got $bins")
    import graft.functions.Cols.{fxSum, fxVal}
    import org.apache.spark.sql.types.DoubleType
    val bin = least(floor(col(scoreCol).cast(DoubleType) * bins),
      lit(bins - 1)).cast("long")
    val se = (col("__s") - col("__y").cast(DoubleType)) *
      (col("__s") - col("__y").cast(DoubleType))
    val byBin = preds
      .filter(col(scoreCol).isNotNull && col(labelCol).isNotNull &&
        !isnan(col(scoreCol).cast(DoubleType)))
      .select(bin.as("bin"),
        col(scoreCol).cast(DoubleType).as("__s"),
        when(col(labelCol), 1L).otherwise(0L).as("__y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_bin"), sum(col("__y")).as("__pos"),
        fxSum(col("__s"), 1e9).as("__sfx"),
        fxSum(se, 1e9).as("__befx"))
    val totals = byBin.agg(
      coalesce(sum(col("n_bin")), lit(0L)).as("__N"),
      coalesce(sum(col("__pos")), lit(0L)).as("__P"),
      coalesce(sum(col("__befx")), lit(0L)).as("__Bfx"))
    val yBar = col("__P").cast(DoubleType) / col("__N").cast(DoubleType)
    val pBarB = fxVal(col("__sfx"), 1e9) / col("n_bin").cast(DoubleType)
    val yBarB = col("__pos").cast(DoubleType) /
      col("n_bin").cast(DoubleType)
    val fracB = col("n_bin").cast(DoubleType) /
      col("__N").cast(DoubleType)
    val relT = fracB * ((pBarB - yBarB) * (pBarB - yBarB))
    val resT = fracB * ((yBarB - yBar) * (yBarB - yBar))
    byBin.crossJoin(broadcast(totals))
      .agg(max(col("__N")).as("__N"), max(col("__P")).as("__P"),
        max(col("__Bfx")).as("__Bfx"),
        fxSum(relT, 1e9).as("__relfx"), fxSum(resT, 1e9).as("__resfx"))
      .select(
        coalesce(col("__N"), lit(0L)).as("n"),
        coalesce(col("__P"), lit(0L)).as("n_pos"),
        when(col("__N") > 0, fxVal(col("__Bfx"), 1e9) /
          col("__N").cast(DoubleType)).as("brier"),
        when(col("__N") > 0, fxVal(col("__relfx"), 1e9))
          .as("reliability"),
        when(col("__N") > 0, fxVal(col("__resfx"), 1e9))
          .as("resolution"),
        when(col("__N") > 0, yBar * (lit(1.0) - yBar))
          .as("uncertainty"))
  }

  /** Population-stability-index report between two score
    * distributions — the drift detector a curation pipeline runs on
    * its quality-classifier scores between crawls / checkpoints
    * (credit-risk's standard PSI, applied to data pipelines: a
    * filter threshold tuned on last month's score distribution
    * silently shifts the corpus mix when the distribution moves).
    * Scores bin into `bins` equal-width bins over [`lo`, `hi`]
    * (outside values clamp into the edge bins; nulls AND NaNs drop —
    * Spark would floor NaN into bin 0 where DuckDB errors); shares
    * are Laplace-smoothed — `p_b = (n_b + 1)/(N + bins)` — so empty
    * bins stay finite and deterministic instead of needing an
    * epsilon. One row per bin (all `bins` rows, empty included):
    * (bin, n_ref, n_cur, p_ref, p_cur, term_fx) — `term_fx` is the
    * bin's PSI contribution `(p_ref − p_cur)·ln(p_ref/p_cur)`
    * quantized at 1e9 ([[graft.functions.Cols.fxTerm]]'s convention
    * — the ln is the one transcendental, and quantization absorbs
    * its last-bit engine variation, the [[Corpus]] KL precedent).
    * The scalar PSI is `sum(term_fx)/1e9`; the classic reading:
    * < 0.1 stable, 0.1–0.25 moderate shift, > 0.25 investigate.
    *
    * With `groupCols` it is the drift SCORECARD: one pass over each
    * side computes every source's table — all `bins` rows for every
    * key present on EITHER side, led by the key columns (a source
    * that appeared or vanished reports all-zero counts on its missing
    * side: maximal drift, the right alarm). With none, the table
    * exists even for two empty inputs.
    *
    * Scale shape: one (key, bin)-keyed map-side-combining hash agg
    * per side (≤ |keys|·`bins` output rows each), both joined onto a
    * |keys|·`bins`-row spine, one broadcast totals join, then a
    * narrow projection. No window, nothing driver-side; both inputs
    * are scanned exactly once.
    */
  def psi(ref: DataFrame, cur: DataFrame, scoreCol: String,
          bins: Int = 10, lo: Double = 0.0, hi: Double = 1.0,
          groupCols: Seq[String] = Nil): DataFrame =
    psiFromCounts(binCounts(ref, scoreCol, bins, lo, hi, groupCols),
      binCounts(cur, scoreCol, bins, lo, hi, groupCols), bins, groupCols)

  /** Fixed-range bin counts — [[psi]]'s binning step as a standalone
    * operator: (groupCols…, bin, n) with nulls AND NaNs dropped (see
    * [[psi]]). This expression IS the binning contract the streamed
    * drift monitor shares: [[graft.streaming.StreamingDrift]] lands
    * these counts per micro-batch into a sum-merged store and feeds
    * the merged counts to [[psiFromCounts]], so streamed PSI provably
    * equals the batch [[psi]] over the replayed log. One (key,
    * bin)-keyed map-side-combining hash agg, ≤ |keys|·`bins` rows.
    */
  def binCounts(df: DataFrame, scoreCol: String, bins: Int,
                lo: Double, hi: Double,
                groupCols: Seq[String] = Nil): DataFrame = {
    require(bins >= 1 && bins <= 10000,
      s"bins must be in [1, 10000], got $bins")
    require(lo < hi, s"need lo < hi, got lo=$lo hi=$hi")
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val keys = groupCols.map(col)
    val b = least(lit(bins - 1L), greatest(lit(0L),
      floor((col(scoreCol).cast(DoubleType) - lo) / (hi - lo) * bins)
        .cast(LongType)))
    // NaN must drop WITH the nulls: floor(NaN) casts to 0 in Spark
    // and would silently land in bin 0 (DuckDB errors instead)
    df.filter(col(scoreCol).isNotNull &&
        !isnan(col(scoreCol).cast(DoubleType)))
      .select(keys :+ b.as("bin"): _*)
      .groupBy(keys :+ col("bin"): _*).agg(count(lit(1)).as("n"))
  }

  /** [[psi]] over PRE-BINNED counts — both sides `(groupCols…, bin,
    * n)` frames from [[binCounts]] (missing bins = zero; extra rows
    * outside [0, bins) are the caller's bug and simply never join the
    * spine). Same smoothing, ln term and 1e9 quantization; this is
    * the read path of the streamed drift monitor, where `curCounts`
    * is a sum-merged store snapshot and `refCounts` a pinned
    * reference.
    */
  def psiFromCounts(refCounts: DataFrame, curCounts: DataFrame,
                    bins: Int,
                    groupCols: Seq[String] = Nil): DataFrame = {
    require(bins >= 1 && bins <= 10000,
      s"bins must be in [1, 10000], got $bins")
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val keys = groupCols.map(col)
    val binIds = refCounts.sparkSession.range(bins)
      .select(col("id").as("bin"))
    val r = refCounts.select(keys ++ Seq(col("bin"),
      col("n").as("n_ref")): _*)
    val c = curCounts.select(keys ++ Seq(col("bin"),
      col("n").as("n_cur")): _*)
    // no keys: the one implicit group always exists, empty or not
    val spine =
      if (groupCols.isEmpty) binIds
      else r.select(keys: _*).union(c.select(keys: _*)).distinct()
        .crossJoin(broadcast(binIds))
    val totals = joinOn(
        r.groupBy(keys: _*)
          .agg(coalesce(sum(col("n_ref")), lit(0L)).as("__nr")),
        c.groupBy(keys: _*)
          .agg(coalesce(sum(col("n_cur")), lit(0L)).as("__nc")),
        groupCols, "full")
      .na.fill(0L, Seq("__nr", "__nc")) // a key on one side only
    val p = (col("n_ref") + 1L).cast(DoubleType) /
      (col("__nr") + bins).cast(DoubleType)
    val q = (col("n_cur") + 1L).cast(DoubleType) /
      (col("__nc") + bins).cast(DoubleType)
    joinOn(spine.join(r, groupCols :+ "bin", "left")
        .join(c, groupCols :+ "bin", "left")
        .na.fill(0L, Seq("n_ref", "n_cur")),
      broadcast(totals), groupCols)
      .select(keys ++ Seq(col("bin"), col("n_ref"), col("n_cur"),
        p.as("p_ref"), q.as("p_cur"),
        floor((p - q) * log(p / q) * 1e9 + 0.5).cast(LongType)
          .as("term_fx")): _*)
  }

  /** Per-category count table — the CATEGORICAL side's [[binCounts]]:
    * `(groupCols…, catCol, n)`, nulls dropped (a null category is an
    * upstream bug, not a level). The partial a streamed
    * categorical-drift store sums and the per-side input of
    * [[chiSquaredDriftFromCounts]].
    */
  def catCounts(df: DataFrame, catCol: String,
                groupCols: Seq[String] = Nil): DataFrame =
    df.filter(col(catCol).isNotNull)
      .groupBy(groupCols.map(col) :+ col(catCol): _*)
      .agg(count(lit(1)).as("n"))

  /** Two-sample chi-squared homogeneity test over a CATEGORICAL
    * column — the drift alarm for the columns PSI/KS/W1 cannot see
    * (language, source, license, format: no order, no binning). For
    * the 2×k table with per-category counts a_c (ref), b_c (cur),
    * row totals r_c = a_c + b_c and side totals n1, n2, the standard
    * Σ(O−E)²/E collapses to
    *
    *   χ² = Σ_c (a_c·n2 − b_c·n1)² / (n1·n2·r_c)
    *
    * — per-category numerators are EXACT (19-digit decimal factors,
    * squared well inside DECIMAL(38,0) headroom; the oracle's
    * HUGEINT mirrors); each term's one division is fx-summed at 1e9
    * (the [[psi]] convention) so the total is order-independent and
    * bit-identical cross-engine. Cramér's V = √(χ²/N) (for a 2×k
    * table min(r−1, c−1) = 1) rides along as the effect size — χ²
    * itself grows with N, so at corpus scale EVERYTHING is
    * "significant" and V is the number to alert on. One row per
    * `groupCols` key present on either side (a single row when there
    * are none): (groupCols…, n_ref, n_cur, n_cats, df, chi2,
    * cramers_v);
    * chi2 null when a side is empty, V additionally null when df = 0
    * (a single shared category — no table to test). Grouped, it is
    * the per-source language/format/license mix-shift scorecard.
    *
    * Scale shape: one (key, category)-keyed map-side hash agg per
    * side, a full join on (key, category), one broadcast of totals,
    * one closing agg. Nothing driver-side.
    */
  def chiSquaredDrift(ref: DataFrame, cur: DataFrame, catCol: String,
                      groupCols: Seq[String] = Nil): DataFrame =
    chiSquaredDriftFromCounts(catCounts(ref, catCol, groupCols),
      catCounts(cur, catCol, groupCols), catCol, groupCols)

  /** [[chiSquaredDrift]] over PRE-AGGREGATED `(groupCols…, catCol,
    * n)` count tables from [[catCounts]] (re-aggregated, so
    * sum-merged store partials feed in directly) — the streamed
    * categorical-drift monitor's read path.
    */
  def chiSquaredDriftFromCounts(refCounts: DataFrame,
                                curCounts: DataFrame, catCol: String,
                                groupCols: Seq[String] = Nil)
      : DataFrame = {
    import graft.functions.Cols.{fxSum, fxVal}
    import org.apache.spark.sql.types.DoubleType
    val sc = 1e9
    val keys = groupCols.map(col)
    def side(df: DataFrame, n: String): DataFrame =
      df.filter(col("n").isNotNull && col("n") > 0)
        .groupBy(keys :+ col(catCol): _*).agg(sum(col("n")).as(n))
    val both = side(refCounts, "__a").join(side(curCounts, "__b"),
        groupCols :+ catCol, "full")
      .na.fill(0L, Seq("__a", "__b"))
      .localCheckpoint()
    val totals = both.groupBy(keys: _*).agg(
      coalesce(sum(col("__a")), lit(0L)).as("__n1"),
      coalesce(sum(col("__b")), lit(0L)).as("__n2"))
    val num = d19(col("__a")) * d19(col("__n2")) -
      d19(col("__b")) * d19(col("__n1"))
    // ANSI-safe: an empty side zeroes the divisor; its chi2 is nulled
    // below, so the term value is irrelevant — 0 keeps the fx sum
    // well-defined instead of raising DIVIDE_BY_ZERO
    val term = when(col("__n1") > 0 && col("__n2") > 0,
      (num * num).cast(DoubleType) /
        (col("__n1").cast(DoubleType) * col("__n2").cast(DoubleType) *
          (col("__a") + col("__b")).cast(DoubleType)))
      .otherwise(lit(0.0))
    val chi2 = fxVal(col("__cfx"), sc)
    joinOn(both, broadcast(totals), groupCols)
      .groupBy(keys: _*)
      .agg(max(col("__n1")).as("n_ref"), max(col("__n2")).as("n_cur"),
        count(lit(1)).as("n_cats"), fxSum(term, sc).as("__cfx"))
      .select(keys ++ Seq(
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"),
        col("n_cats"),
        greatest(col("n_cats") - 1, lit(0L)).as("df"),
        when(col("n_ref") > 0 && col("n_cur") > 0, chi2).as("chi2"),
        when(col("n_ref") > 0 && col("n_cur") > 0 &&
            col("n_cats") > 1,
          sqrt(chi2 / (col("n_ref") + col("n_cur"))
            .cast(DoubleType))).as("cramers_v")): _*)
  }

  /** Per-item vote-distribution report — the annotation DIFFICULTY
    * table [[raterAgreement]] ranks raters with; this ranks ITEMS:
    * an item whose votes spread across categories is ambiguous
    * (rewrite the guideline or drop the item), one with a crushing
    * majority is easy. Per item: `n_ratings`, `n_cats`,
    * `majority_share` (modal count / ratings — exact ratio) and
    * `entropy_nats` (−Σ share·ln share, each term 1e9 fx-quantized —
    * the [[psi]] ln convention, so the oracle matches bit-for-bit;
    * 0 = unanimous, ln(k) = uniform over k categories). Null/empty
    * categories drop with their rows.
    *
    * Scale shape: one (item, category) hash agg, ONE item-partitioned
    * window for the per-item totals (groups are an item's distinct
    * categories — bounded by the label set), one item-keyed agg;
    * nothing driver-side, no global window.
    */
  def annotationEntropy(ratings: DataFrame, itemCol: String,
                        categoryCol: String): DataFrame =
    annotationEntropyFromCounts(
      ratings.groupBy(col(itemCol), col(categoryCol))
        .agg(count(lit(1)).as("__n")),
      itemCol, categoryCol, "__n")

  /** [[annotationEntropy]] over PRE-AGGREGATED per-(item, category)
    * counts — the [[graft.streaming.StreamingRatings]] store pull;
    * like the α counts forms, the report is a pure function of the
    * count table, so the streamed store reproduces the replayed
    * log's values exactly. Null/non-positive count rows drop.
    */
  def annotationEntropyFromCounts(counts: DataFrame, itemCol: String,
                                  categoryCol: String,
                                  nCol: String): DataFrame = {
    import graft.functions.Cols.{fxSum, fxVal}
    import org.apache.spark.sql.types.DoubleType
    val nij = counts
      .filter(col(nCol).isNotNull && col(nCol) > 0 &&
        col(categoryCol).isNotNull)
      .groupBy(col(itemCol), col(categoryCol))
      .agg(sum(col(nCol)).as("__nij"))
    val withTot = nij
      .withColumn("__mi", sum(col("__nij"))
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy(col(itemCol))))
    val share = col("__nij").cast(DoubleType) /
      col("__mi").cast(DoubleType)
    withTot
      .groupBy(col(itemCol))
      .agg(max(col("__mi")).as("n_ratings"),
        count(lit(1)).as("n_cats"),
        (max(col("__nij")).cast(DoubleType) /
          max(col("__mi")).cast(DoubleType)).as("majority_share"),
        fxSum(-share * log(share), 1e9).as("__e"))
      .select(col(itemCol), col("n_ratings"), col("n_cats"),
        col("majority_share"),
        fxVal(col("__e"), 1e9).as("entropy_nats"))
  }

  /** Per-group winsorization: clip `valCol` into the [`lo`, `hi`]
    * exact quantiles of its own group (outlier remediation before a
    * sum/mean that a single corrupt value would dominate). Emits the
    * input columns plus (p_lo, p_hi, clipped).
    *
    * Two-pass shape: one hash-agg computes the two exact quantiles
    * per group, then an equi-join on `keyCol` attaches them and the
    * clip is a narrow projection. The quantile table has one row per
    * group — Spark's planner broadcasts it when small; at millions of
    * groups the equi-join shuffles both sides by key, which is the
    * right plan anyway. Exact `percentile` keeps the oracle parity
    * (≡ DuckDB `quantile_cont`); swap `percentile_approx` at the same
    * call site when a bounded-memory sketch is preferred at 100 TB.
    */
  def winsorize(df: DataFrame, keyCol: String, valCol: String,
                lo: Double, hi: Double): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo < hi,
      s"need 0 <= lo < hi <= 1, got lo=$lo hi=$hi")
    val q = df.groupBy(col(keyCol))
      .agg(
        percentile(col(valCol), lit(lo)).as("p_lo"),
        percentile(col(valCol), lit(hi)).as("p_hi"))
    df.join(q, keyCol)
      .withColumn("clipped",
        least(greatest(col(valCol), col("p_lo")), col("p_hi")))
  }

  /** Equi-width histogram of `valCol` — the profiling pass a pipeline
    * runs before choosing clip/gate thresholds. Bounds come from the
    * data (exact min/max — order-independent); bin width = (hi−lo)/bins;
    * the top edge closes into the last bin. Emits one row per OCCUPIED
    * bin: (bin, bin_lo, bin_hi, ct) — empty bins are absent (at 100 TB
    * the caller densifies the ≤`bins`-row result, not the engine).
    *
    * Shape: one min/max agg broadcast back (1 row), then a narrow bin
    * projection and a hash-agg on bin id — map-side partials reduce
    * every partition to ≤ `bins` rows before the shuffle.
    */
  def histogram(df: DataFrame, valCol: String, bins: Int): DataFrame = {
    require(bins >= 1 && bins <= 1000000,
      s"bins must be in [1, 1e6], got $bins")
    val mm = df.agg(min(col(valCol)).cast("double").as("__lo"),
      max(col(valCol)).cast("double").as("__hi"))
    val width = (col("__hi") - col("__lo")) / bins.toDouble
    val bin = least(lit(bins - 1L),
      floor((col(valCol).cast("double") - col("__lo")) / width))
      .cast("long")
    df.crossJoin(broadcast(mm))
      .filter(col(valCol).isNotNull)
      .withColumn("bin",
        when(col("__hi") === col("__lo"), 0L).otherwise(bin))
      .groupBy(col("bin"), col("__lo"), col("__hi"))
      .agg(count(lit(1)).as("ct"))
      .select(col("bin"),
        (col("__lo") + col("bin").cast("double") *
          ((col("__hi") - col("__lo")) / bins.toDouble)).as("bin_lo"),
        (col("__lo") + (col("bin") + 1L).cast("double") *
          ((col("__hi") - col("__lo")) / bins.toDouble)).as("bin_hi"),
        col("ct"))
  }

  /** Per-group z-score standardization: (v − μ)/σ with the group's own
    * population mean and standard deviation — the feature-scaling pass
    * before distance-based work (ANN, clustering, outlier rules).
    * Emits the input columns plus (mu, sigma, z); a zero-variance
    * group gets z = 0.0 (not NaN/±Inf — constant features carry no
    * signal and must not poison downstream distances).
    *
    * Determinism: Σv and Σv² are cross-row double sums, so both run
    * fixed-point ([[graft.functions.Cols.fxSum]], scale 1e6); μ, the
    * variance E[x²]−μ² and `sqrt` are then single exactly-rounded
    * double ops — bit-identical across engines. Shape: one hash-agg by
    * group + an equi-join back (broadcast when small) + a narrow
    * projection — the winsorize plan with moments instead of quantiles.
    */
  def standardize(df: DataFrame, keyCol: String, valCol: String): DataFrame = {
    import graft.functions.Cols.{fxSum, fxVal}
    val v = col(valCol).cast("double")
    val m = df.groupBy(col(keyCol)).agg(
      fxSum(v, 1e6).as("__qs"), fxSum(v * v, 1e6).as("__qss"),
      count(v).as("__n"))
    val mu = fxVal(col("__qs"), 1e6) / col("__n").cast("double")
    // fixed-point quantization can push a constant group's
    // E[x²]−μ² a hair below zero — clamp before the sqrt (NaN would
    // otherwise pass `sigma > 0` under NaN-is-largest ordering)
    val sigma = sqrt(greatest(
      fxVal(col("__qss"), 1e6) / col("__n").cast("double") - mu * mu,
      lit(0.0)))
    df.join(m.select(col(keyCol), mu.as("mu"), sigma.as("sigma")), keyCol)
      .withColumn("z",
        when(col("sigma") > 0.0,
          (col(valCol).cast("double") - col("mu")) / col("sigma"))
          .otherwise(0.0))
  }

  /** Per-group percentile calibration: map `scoreCol` to its exact
    * rank position within its own group, as parts-per-`scale` in
    * [0, scale] — the cross-source score alignment step ("a 0.8
    * quality score from crawl A is not a 0.8 from crawl B"; gate on
    * the calibrated percentile instead). Ties break by `idCol`, so
    * the result is deterministic and EXACT integer arithmetic —
    * `cal_ppm = (rank-1) * scale div (n-1)` (0 for singleton groups)
    * — identical in any engine. Emits the input columns plus
    * (cal_rank, cal_n, cal_ppm).
    *
    * Shape: one window partitioned by group (rank + count in a single
    * sort pass) — no join, no driver state; a group's rows must fit a
    * partition's sort, the same contract as every per-source window
    * here. At extreme group sizes swap in the two-level chunked
    * cumsum of [[Corpus.selectByBudget]].
    */
  def calibrateByGroup(df: DataFrame, groupCol: String, scoreCol: String,
                       idCol: String, scale: Long = 1000000L): DataFrame = {
    require(scale > 0, s"scale must be positive, got $scale")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
    val wo = w.orderBy(col(scoreCol), col(idCol))
    df.withColumn("cal_rank", row_number().over(wo))
      .withColumn("cal_n", count(lit(1)).over(w))
      .withColumn("cal_ppm",
        when(col("cal_n") > 1L,
          expr(s"(cal_rank - 1L) * ${scale}L div (cal_n - 1L)"))
          .otherwise(0L))
  }

  /** Poisson(1) inverse-CDF thresholds on the 32-bit hash domain:
    * `PoissonCdf32(k) = floor(P(W ≤ k) · 2³²)` for k = 0..7, so a
    * uniform 32-bit hash u maps to the bootstrap weight
    * `w = min{k : u < PoissonCdf32(k)}` (8 past the table — the tail
    * above 8 has mass < 1e-6) by EXACT integer comparisons: no float
    * compare can disagree between engines, and the oracle SQL embeds
    * these very values as literals.
    */
  private[graft] val PoissonCdf32: Seq[Long] = {
    var term = math.exp(-1.0)
    var cum = 0.0
    (0 to 7).map { k =>
      if (k > 0) term /= k
      cum += term
      math.floor(cum * 4294967296.0).toLong
    }
  }

  /** Deterministic bootstrap confidence interval for the MEAN of
    * `valueCol` — the uncertainty the point-estimate eval metrics
    * ([[passAtK]], [[btStrengths]]' win rates, [[majorityVote]]
    * accuracy) lack: a 0.52 win rate over 40 comparisons is noise,
    * and no ship/no-ship comparison should read a point estimate
    * without its interval. One output row per `groupCols` key:
    * (groupCols…, n, b, mean, lo, hi) — `mean` the exact fixed-point
    * mean over the data, `[lo, hi]` the [`lower`, `upper`] percentile
    * of `b` bootstrap resample means (the percentile method; for a
    * win-rate or pass-indicator column this is the binomial CI
    * without a normality assumption). With no keys the whole input is
    * one group, and an EMPTY input yields no rows.
    *
    * Resampling is the POISSON bootstrap (the distributed-data
    * standard — Chamandy et al., "Estimating Uncertainty for Massive
    * Data Streams", Google TR 2012): each unit enters resample r with
    * weight W ~ Poisson(1), approximating multinomial resampling
    * exactly as n grows, and requiring NO global indexing of the
    * data. The weight is hash-seeded, never `rand()` (the
    * [[Corpus.epochShuffle]] determinism rule): u = hash32(r ":" id)
    * and w = the [[PoissonCdf32]] inverse-CDF cut — both engines
    * compare the same integers, so every resample is bit-identical
    * and oracle-checkable. Null values are excluded up front (they
    * carry no measurement); a resample with total weight 0 yields a
    * null mean and sits out the percentile (never occurs beyond toy
    * n — P = e^(-n)). Grouped, resampling is WITHIN each group (units
    * are only exchangeable within it) with the same weights — a
    * unit's weight in resample r does not depend on its group, so a
    * single-group input reproduces the ungrouped interval exactly
    * (spec-pinned). This is the shape an eval REPORT needs: one
    * interval per problem / model / source.
    *
    * Determinism: the per-resample weighted sums and the global sum
    * run fixed-point ([[graft.functions.Cols.fxSum]], `scale` — terms
    * are ≤ 8·|value|); the percentile is Spark's exact linear
    * interpolation (≡ DuckDB `quantile_cont`, parity proven by
    * a8_percentiles/ext_winsorize).
    *
    * The point estimate is resample −1, where every unit weighs 1:
    * fxTerm(1.0·x) = fxTerm(x) and Σw = n, so its mean is the exact
    * mean bit for bit. A null key is no group (the oracle's `USING`).
    *
    * Scale shape: one narrow `explode(sequence(−1, b−1))` fan-out
    * ((b+1)× the data, the [[Corpus.epochShuffle]] shape), one (key,
    * resample)-keyed map-side-combining hash agg, one closing agg per
    * key. No join, no window, no global sort, nothing driver-side.
    */
  def bootstrapCi(df: DataFrame, idCol: String, valueCol: String,
                  b: Int, lower: Double = 0.025, upper: Double = 0.975,
                  scale: Double = 1e9,
                  groupCols: Seq[String] = Nil): DataFrame =
    if (groupCols.isEmpty)
      // one constant group: the weight hash keys on (resample, id)
      // alone, so the draws are the grouped form's
      bootstrapCi(df.withColumn("__bsg", lit(0)), idCol, valueCol, b,
          lower, upper, scale, Seq("__bsg"))
        .drop("__bsg")
    else {
      require(b >= 2 && b <= 100000, s"b must be in [2, 100000], got $b")
      require(lower >= 0 && upper <= 1 && lower < upper,
        s"need 0 <= lower < upper <= 1, got lower=$lower upper=$upper")
      import graft.functions.Cols.{fxSum, fxVal}
      import org.apache.spark.sql.types.DoubleType
      val keys = groupCols.map(col)
      val point = col("__r") === -1
      val boot = when(col("__r") >= 0, col("__m"))
      df.filter(keys.foldLeft(col(valueCol).isNotNull)(_ && _.isNotNull))
        .select(keys ++ Seq(col(idCol).cast("string").as("__id"),
          col(valueCol).cast(DoubleType).as("__x")): _*)
        .transform(resampled(b))
        .groupBy(keys :+ col("__r"): _*)
        .agg(fxSum(col("__w").cast(DoubleType) * col("__x"), scale)
            .as("__mfx"),
          sum(col("__w")).as("__wn"))
        .select(keys ++ Seq(col("__r"), col("__wn"),
          when(col("__wn") > 0,
            fxVal(col("__mfx"), scale) / col("__wn").cast(DoubleType))
            .as("__m")): _*)
        .groupBy(keys: _*)
        .agg(coalesce(max(when(point, col("__wn"))), lit(0L)).as("n"),
          lit(b).as("b"), max(when(point, col("__m"))).as("mean"),
          percentile(boot, lit(lower)).as("lo"),
          percentile(boot, lit(upper)).as("hi"))
    }

  /** `units` (string id `__id`) fanned out to resamples `__r` in
    * −1..b−1 with weight `__w`: 1 at the point estimate −1, else the
    * [[PoissonCdf32]] cut of u = hash32(r ":" id).
    */
  private def resampled(b: Int)(units: DataFrame): DataFrame = {
    val w = PoissonCdf32.zipWithIndex.foldRight(lit(8L)) {
      case ((t, k), rest) => when(col("__u") < t, lit(k.toLong))
        .otherwise(rest)
    }
    units.withColumn("__r", explode(sequence(lit(-1), lit(b - 1))))
      .withColumn("__u", graft.functions.TextFns.hash32(
        concat(col("__r").cast("string"), lit(":"), col("__id"))))
      .withColumn("__w", when(col("__r") < 0, lit(1L)).otherwise(w))
  }

  /** Paired-difference bootstrap CI — the A/B model-comparison
    * decision in one row: given PAIRED per-unit scores (two models
    * on the same prompts, two checkpoints on the same eval items),
    * the interval on the mean difference `aCol − bCol`, resampling
    * UNITS so the pairing is preserved (an unpaired comparison of
    * two separately-bootstrapped means throws away the per-prompt
    * correlation and needs far more data for the same power).
    * Output: (n, b, mean, lo, hi, significant) — `mean` the exact
    * mean difference and `significant` true when the interval
    * excludes 0 (lo > 0: A better; hi < 0: B better). `significant`
    * is an interval-exclusion test at the CHOSEN coverage
    * (`lower`/`upper`), NOT a p-value — it answers "does the
    * (1 − 2·lower) CI exclude zero", and says nothing about the
    * probability of the observed difference under the null. Pairs with a
    * null on either side sit out ([[lengthBias]]'s rule). Exactly
    * [[bootstrapCi]] on the difference column — same hash-seeded
    * Poisson draws, same determinism and scale shape.
    */
  def pairedDiffCi(df: DataFrame, idCol: String, aCol: String,
                   bCol: String, b: Int,
                   lower: Double = 0.025, upper: Double = 0.975,
                   scale: Double = 1e9): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    bootstrapCi(
      df.withColumn("__pd",
        col(aCol).cast(DoubleType) - col(bCol).cast(DoubleType)),
      idCol, "__pd", b, lower, upper, scale)
      .withColumn("significant",
        col("lo") > 0.0 || col("hi") < 0.0)
  }

  /** CLUSTERED Poisson-bootstrap CI — resample whole CLUSTERS, not
    * units: when eval items are correlated within a group (prompts
    * generated from one template, docs from one source/domain),
    * unit-level resampling treats n correlated items as n independent
    * draws and the interval comes out too narrow — the classic
    * clustered-standard-error failure. Keying the per-resample
    * Poisson weight on the CLUSTER id (this is exactly
    * [[bootstrapCi]] with the cluster as the resample unit — every
    * unit in a cluster shares its weight) makes each resample draw
    * whole clusters, so the between-cluster variance — the part unit
    * resampling misses — survives into the interval; larger clusters
    * weight by their size through the ratio-estimator mean, the
    * standard one-stage cluster bootstrap. Output as
    * [[bootstrapCi]]: (n, b, mean, lo, hi) with `n` the UNIT count
    * (the point mean stays the plain per-unit mean). Same hash-seeded
    * determinism and narrow-fan-out scale shape.
    */
  def bootstrapCiClustered(df: DataFrame, clusterCol: String,
                           valueCol: String, b: Int,
                           lower: Double = 0.025, upper: Double = 0.975,
                           scale: Double = 1e9): DataFrame =
    bootstrapCi(df, clusterCol, valueCol, b, lower, upper, scale)

  /** Per-rater agreement with the leave-one-out consensus — the
    * annotator-QA companion to [[fleissKappa]]: kappa says whether
    * the LABEL SET is reliable, this says WHICH rater to retrain or
    * drop. For each (item, rater) vote, the consensus is the
    * majority category among the item's OTHER raters (ties to the
    * smaller category — the [[graft.operators.Similarity
    * .knnClassify]] rule); a rater scores agreement when their own
    * vote matches it. Items where a rater has no co-raters
    * contribute nothing for that rater (no consensus to compare
    * against). Duplicate ratings by the same rater on the same item
    * collapse to the smallest category first (deterministic,
    * engine-portable). One row per rater:
    * (raterCol, n_items, n_agree, agree_rate).
    *
    * Scale shape: two map-side-combining hash aggs (vote dedup, then
    * per-(item, category) counts), ONE item-keyed equi-join fanning
    * each vote out over its item's ≤|categories| count rows, a
    * min-struct argmax per (item, rater) (no window), and a final
    * rater-keyed agg. Nothing driver-side; skew bounded by
    * categories-per-item, which annotation schemas keep small.
    */
  def raterAgreement(ratings: DataFrame, itemCol: String,
                     raterCol: String, categoryCol: String): DataFrame =
    raterAgreementFromCounts(
      ratings.groupBy(col(itemCol), col(raterCol), col(categoryCol))
        .agg(count(lit(1)).as("__n")),
      itemCol, raterCol, categoryCol, "__n")

  /** [[raterAgreement]] over PRE-AGGREGATED per-(item, rater,
    * category) rating counts — the streamed-store shape
    * ([[fleissKappaFromCounts]]'s sibling): the vote dedup is a min
    * over the categories PRESENT for an (item, rater), which only
    * needs count existence, so the merged store reproduces the full
    * replayed log's fit exactly (spec-pinned via the row form).
    * Null or non-positive count rows drop up front.
    */
  def raterAgreementFromCounts(counts: DataFrame, itemCol: String,
                               raterCol: String, categoryCol: String,
                               nCol: String): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // votes feeds the per-(item, category) tallies AND the candidate
    // join — persisted (the cb convention, as in
    // fleissKappaFromCounts) so the counts scan runs once; on the
    // streamed path that scan is the whole merged store
    val votes = counts
      .filter(col(nCol).isNotNull && col(nCol) > 0)
      .groupBy(col(itemCol).as("__it"), col(raterCol).as("__rt"))
      .agg(min(col(categoryCol)).as("__own"))
      .persist(MEMORY_AND_DISK)
    val tallies = votes.groupBy(col("__it"), col("__own").as("__cat"))
      .agg(count(lit(1)).as("__vn"))
    val cand = votes.join(tallies, Seq("__it"))
      .withColumn("__adj", col("__vn") -
        when(col("__cat") === col("__own"), 1L).otherwise(0L))
      .filter(col("__adj") > 0)
    cand.groupBy(col("__it"), col("__rt"))
      .agg(min(struct((-col("__adj")).as("na"), col("__cat").as("c")))
          .as("__mj"),
        max(col("__own")).as("__o"))
      .select(col("__rt"),
        (col("__mj.c") === col("__o")).as("__agree"))
      .groupBy(col("__rt").as(raterCol))
      .agg(count(lit(1)).as("n_items"),
        sum(when(col("__agree"), 1L).otherwise(0L)).as("n_agree"))
      .withColumn("agree_rate",
        col("n_agree").cast(DoubleType) / col("n_items").cast(DoubleType))
  }
}
