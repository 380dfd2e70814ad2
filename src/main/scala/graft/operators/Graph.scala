package graft.operators

import graft.functions.Par
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph operators over an edge list — the web-graph half of a
  * crawl-curation pipeline (rank pages for crawl priority / quality
  * weighting, degree stats for spam heuristics).
  *
  * Scale shape: PageRank here is the canonical iterative
  * join-aggregate — per iteration ONE equi-join of edges to ranks on
  * src and ONE hash aggregation by dst. Edges and ranks co-partition
  * on the join key, so a 100 TB graph pays one co-partitioned shuffle
  * per iteration and nothing is ever driver-side except the node
  * count (a scalar). Iterations are a fixed small constant (crawl
  * ranking uses 3–10), so the lineage stays bounded.
  *
  * Determinism: ranks are BIGINT fixed-point (1e12 scale) and every
  * per-iteration step is integer arithmetic — contribution =
  * `pr div out_degree`, damping = `(85 · Σ) div 100` — so the result
  * is bit-exact regardless of partitioning or add order, and a plain
  * SQL oracle reproduces it exactly (float PageRank sums would be
  * partition-order-dependent).
  */
object Graph {

  /** Fixed-point scale for [[pageRank]] ranks: 1.0 == 1e12. */
  val PrScale: Long = 1000000000000L

  /** In/out degree per node of a distinct edge list `(srcCol,
    * dstCol)`. Nodes appearing only on one side report 0 on the
    * other. Two hash aggregations and one full-outer merge.
    */
  def degrees(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val out = edges.groupBy(col(srcCol).as("node"))
      .agg(count(lit(1)).as("out_deg"))
    val in = edges.groupBy(col(dstCol).as("node"))
      .agg(count(lit(1)).as("in_deg"))
    out.join(in, Seq("node"), "full_outer")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }

  /** PageRank with damping 0.85 over a distinct edge list, `iters`
    * synchronous iterations from a uniform start. Requires every node
    * to have at least one out-edge (no dangling mass — callers drop
    * or self-loop dangling nodes first; `require`-checked). Returns
    * `(node, pr_fx, pr)` where `pr_fx` is the exact fixed-point rank
    * and `pr = pr_fx / 1e12`.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int): DataFrame =
    pageRankFrom(edges, srcCol, dstCol, iters, None)

  /** WARM-START PageRank: identical iteration map to [[pageRank]],
    * seeded from `seed` `(node, pr_fx)` — the previous crawl
    * snapshot's ranks — instead of the uniform start. Because the
    * fixed-point iteration is a deterministic integer map, a warm
    * start from near the fixed point reaches it in a small constant
    * number of iterations, which is the 100 TB path: an incremental
    * crawl re-ranks per refresh by running 2-3 warm iterations over
    * the updated edge list rather than the cold 10+ (see
    * [[graft.streaming.StreamingGraph.warmPageRank]] for the variant
    * that also takes nodes/out-degrees from the incremental degree
    * store instead of re-aggregating the edge list). Nodes absent
    * from `seed` (newly discovered pages) start at the teleport
    * value; seed rows for nodes no longer in the graph are dropped.
    * Exact composition contract (oracle-checkable): warm-starting
    * from cold(k)'s ranks for m iterations is bit-identical to
    * cold(k+m).
    */
  def pageRankWarm(edges: DataFrame, srcCol: String, dstCol: String,
                   iters: Int, seed: DataFrame): DataFrame =
    pageRankFrom(edges, srcCol, dstCol, iters, Some(seed))

  private def pageRankFrom(edges: DataFrame, srcCol: String,
                           dstCol: String, iters: Int,
                           seedOpt: Option[DataFrame]): DataFrame = {
    // e/nodes/outDeg are loop invariants consumed every iteration —
    // persist them once (the GraphX pattern; see also
    // Corpus.decontaminateBloom) instead of recomputing their upstream
    // scan per iteration. The one setup aggregate below (node count
    // and dangling count over nodes ⟕ outDeg) materializes them.
    val e = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("__src").as("node"))
      .union(e.select(col("__dst").as("node"))).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val outDeg = e.groupBy(col("__src")).agg(count(lit(1)).as("__od"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val setup = nodes.join(outDeg, col("node") === col("__src"), "left")
      .agg(count(lit(1)), count(when(col("__src").isNull, 1)))
      .head()
    val n = setup.getLong(0)
    require(n > 0, "pageRank needs a non-empty graph")
    require(setup.getLong(1) == 0,
      "pageRank requires every node to have an out-edge")
    val teleportFx = (15L * PrScale) / (100L * n)
    val ranks0 = seedOpt match {
      case None => nodes.withColumn("pr_fx", lit(PrScale / n))
      case Some(seed) => nodes
        .join(seed.select(col("node"),
          col("pr_fx").cast("long").as("__seed")), Seq("node"),
          "left_outer")
        .select(col("node"),
          coalesce(col("__seed"), lit(teleportFx)).as("pr_fx"))
    }
    pageRankLoop(e, nodes, outDeg, teleportFx, ranks0, iters)
  }

  /** The shared synchronous-iteration core: `e(__src,__dst)`,
    * `nodes(node)`, `outDeg(__src,__od)` must be persisted,
    * dangling-free loop invariants; `ranks0(node, pr_fx)` the start.
    */
  private[graft] def pageRankLoop(e: DataFrame, nodes: DataFrame,
                                  outDeg: DataFrame, teleportFx: Long,
                                  ranks0: DataFrame,
                                  iters: Int): DataFrame = {
    var ranks = ranks0
    (1 to iters).foreach { _ =>
      val contribs = e
        .join(ranks, col("__src") === col("node"))
        .join(outDeg, Seq("__src"))
        .select(col("__dst"), expr("pr_fx div __od").as("__c"))
        .groupBy(col("__dst")).agg(sum(col("__c")).as("__s"))
      ranks = nodes
        .join(contribs, col("node") === col("__dst"), "left_outer")
        .select(col("node"),
          (lit(teleportFx) +
            expr(s"(85 * coalesce(__s, 0L)) div 100")).as("pr_fx"))
    }
    // r15 A/B note: a per-iteration localCheckpoint (the hits fix) was
    // measured ~1.5× SLOWER here and reverted — pageRank's lazy chain
    // grows LINEARLY (each iteration references ranks once; ~90
    // printed Exchanges at 10 iters, sub-second planning), unlike
    // hits' per-half-step double reference (exponential, 4364), and
    // the whole run is ONE job; eager checkpoints traded sub-second
    // planning for iters× sequential job round-trips.
    ranks.select(col("node"), col("pr_fx"),
      (col("pr_fx").cast("double") / PrScale.toDouble).as("pr"))
  }

  /** HITS hubs and authorities (Kleinberg 1999) over a distinct edge
    * list, `iters` synchronous iterations from uniform hub scores.
    * Returns `(node, hub_fx, auth_fx, hub, auth)` with the `_fx`
    * columns exact fixed-point (1.0 == 1e12 before normalization).
    *
    * Per half-iteration: ONE equi-join of edges to scores and ONE hash
    * aggregation — the same co-partitioned shape as [[pageRank]] — plus
    * an L1 normalization whose total is the one driver scalar per
    * half-step (the GraphX mass-correction pattern; an A/B against a
    * broadcast-joined 1-row total showed the scalar 4× faster — each
    * broadcast subtree re-ran the whole preceding iteration chain).
    * Normalization divides by `max(total div scale, 1)` instead of
    * multiplying by the scale first, so no intermediate can overflow
    * BIGINT regardless of graph size; scores stay exact integers, so
    * the result is bit-identical under any partitioning and a plain
    * unrolled-CTE SQL oracle reproduces it. Loop invariants are
    * persisted and each half-step's |nodes|-bounded frame is
    * localCheckpoint'ed with its total observed by the same job (r15;
    * ONE SQL execution per half-step — see `normalize`; eager, and its
    * blocks are lost with an executor), so both runtime work AND the
    * logical plan stay linear in `iters`; like
    * [[Corpus.decontaminateBloom]]'s index, the frames stay cached for
    * the returned plan's lifetime (Spark evicts LRU under pressure).
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int): DataFrame =
    hitsFrom(edges, srcCol, dstCol, iters, None)

  /** WARM-START HITS: seeded from `seed` `(node, hub_fx)` — the
    * previous snapshot's hub scores — instead of the uniform start
    * (each full iteration depends only on the entering hub vector, so
    * the hub column is the complete warm-start state). Nodes absent
    * from `seed` start at the cold value (`PrScale`); extra seed rows
    * are dropped. Same exact composition contract as [[pageRankWarm]]:
    * warm(m, seed = cold(k).hub) is bit-identical to cold(k+m) — the
    * incremental re-rank path for a refreshing crawl.
    */
  def hitsWarm(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, seed: DataFrame): DataFrame =
    hitsFrom(edges, srcCol, dstCol, iters, Some(seed))

  private def hitsFrom(edges: DataFrame, srcCol: String, dstCol: String,
                       iters: Int,
                       seedOpt: Option[DataFrame]): DataFrame =
    hitsFromCounted(edges, srcCol, dstCol, iters, seedOpt)._1

  /** [[hitsFrom]] plus the number of full iterations actually
    * EXECUTED — the early-exit observability hook GraphSpec pins.
    *
    * Early exit: the full-iteration map is hub → auth′ → hub′, so the
    * entering hub vector is the complete state ([[hitsWarm]]'s
    * contract). Scores are exact integers, so once hub_t == hub_(t−1)
    * every further iteration reproduces (hub_t, auth_t) BIT FOR BIT —
    * stopping there returns exactly the full-run result, and the
    * unrolled-CTE oracle and warm/cold composition identities are
    * untouched (this is an exact fixed point, not a tolerance). The
    * check is one |nodes|-bounded join + limit-1 count per iteration,
    * and only runs where it can PAY (iterations still remaining, and
    * not the cold start's first iteration — a uniform vector is never
    * the fixed point of a non-degenerate graph, while a WARM seed may
    * well already be converged): `ext_hits` (iters = 2, cold) never
    * checks, so its benched plan is unchanged; a deep-iteration run
    * on a fast-mixing graph caps at convergence + 1 iterations.
    */
  private[operators] def hitsFromCounted(edges: DataFrame,
                                         srcCol: String, dstCol: String,
                                         iters: Int,
                                         seedOpt: Option[DataFrame])
      : (DataFrame, Int) = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .persist(MEMORY_AND_DISK)
    val nodes = e.select(col("__src").as("node"))
      .union(e.select(col("__dst").as("node"))).distinct()
      .persist(MEMORY_AND_DISK)

    // score-0 rows for the nodes with no raw row on a side (no in-edge
    // from a non-null source; no out-edge to a non-null destination),
    // so `raw ∪ zeros` holds every node once. Loop invariants.
    def zeros(from: String, to: String) = nodes
      .join(e.filter(col(from).isNotNull), col("node") === col(to),
        "left_anti")
      .select(col("node"), lit(0L).as("__raw")).persist(MEMORY_AND_DISK)
    val (authZeros, hubZeros) = (zeros("__src", "__dst"),
      zeros("__dst", "__src"))

    // raw ∪ zeros is localCheckpoint'ed, its total observed by the
    // checkpoint job; the divide is a lazy projection over it. A
    // checkpoint, not a persist (r15, the btStrengthsFromCounts fix,
    // guide §3.3/§5): each half-step's frame feeds the next
    // half-step's join AND the convergence check AND the final join,
    // so a persist-only chain kept the full logical lineage — Catalyst
    // re-planned a tree that doubled per half-step (the 4335-Exchange
    // printed plan of ext_hits) even though runtime read every subtree
    // from cache. The checkpoint truncates the plan to a LogicalRDD of
    // ≤ |nodes| rows. It is eager, and its blocks live in executor
    // storage with no lineage, so losing an executor mid-run fails the
    // job, where a persist would have recomputed the lost partitions.
    def normalize(raw: DataFrame, zeros: DataFrame, out: String) = {
      val (cp, totRow) = Par.checkpointObserving(
        raw.toDF("node", "__raw").union(zeros), sum(col("__raw")))
      val tot = if (totRow.isNullAt(0)) 0L else totRow.getLong(0)
      val divisor = math.max(tot / PrScale, 1L)
      cp.select(col("node"),
        expr(s"coalesce(__raw, 0L) div ${divisor}L").as(out))
    }

    var hub = seedOpt match {
      case None => nodes.withColumn("hub_fx", lit(PrScale))
      case Some(seed) => nodes
        .join(seed.select(col("node"),
          col("hub_fx").cast("long").as("__seed")), Seq("node"),
          "left_outer")
        .select(col("node"),
          coalesce(col("__seed"), lit(PrScale)).as("hub_fx"))
        .persist(MEMORY_AND_DISK)
    }
    var auth = nodes.withColumn("auth_fx", lit(0L))
    var it = 1
    var executed = 0
    var converged = false
    while (it <= iters && !converged) {
      val prevHub = hub
      val aRaw = e.join(hub, col("__src") === col("node"))
        .groupBy(col("__dst")).agg(sum(col("hub_fx")).as("__raw"))
      auth = normalize(aRaw, authZeros, "auth_fx")
      val hRaw = e.join(auth, col("__dst") === col("node"))
        .groupBy(col("__src")).agg(sum(col("auth_fx")).as("__raw"))
      hub = normalize(hRaw, hubZeros, "hub_fx")
      executed += 1
      if (it < iters && (it >= 2 || seedOpt.nonEmpty)) {
        val moved = hub.join(prevHub
            .select(col("node"), col("hub_fx").as("__prev")),
            Seq("node"))
          .filter(col("hub_fx") =!= col("__prev"))
          .limit(1).count()
        converged = moved == 0L
      }
      it += 1
    }
    (hub.join(auth, Seq("node"))
      .select(col("node"), col("hub_fx"), col("auth_fx"),
        (col("hub_fx").cast("double") / PrScale.toDouble).as("hub"),
        (col("auth_fx").cast("double") / PrScale.toDouble).as("auth")),
      executed)
  }
}
