package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.operators.Graph

/** Incremental web-graph degree maintenance — the streaming twin of
  * [[graft.operators.Graph.degrees]]. A 100 TB crawl doesn't recompute
  * the link graph from scratch per batch: each micro-batch of newly
  * discovered edges contributes a PARTIAL degree table, and readers
  * sum partials per node. Degree sums are the loop inputs of
  * PageRank/HITS seeding, frontier prioritization and spam heuristics,
  * so keeping them fresh incrementally is the scale path.
  *
  * Idempotency under at-least-once replay (including replays of
  * batches a compaction already folded in) comes from [[SumStore]]'s
  * owned-directory + effective-directory protocol.
  *
  * Edge contract: like the batch operator, degrees count DISTINCT
  * edges — each (src, dst) pair must reach the sink in exactly one
  * batch (the incremental-dedup operators are the upstream that
  * guarantees this for a crawl frontier); within a batch duplicates
  * are collapsed here.
  */
object StreamingGraph {

  private val Keys = Seq("node")
  private val Sums = Seq("out_deg", "in_deg")

  /** foreachBatch body: this batch's partial in/out degrees over its
    * deduplicated edges, owned-by-path. O(batch) work: two hash
    * aggregations on batch rows only — the store is never read.
    */
  def writeDegreeBatch(batch: DataFrame, storePath: String,
                       srcCol: String, dstCol: String,
                       batchId: Long): Unit =
    SumStore.writeBatch(
      Graph.degrees(batch.select(col(srcCol), col(dstCol)).distinct(),
        srcCol, dstCol),
      storePath, batchId)

  /** Wire an edge stream into a partial-degree store. */
  def degreeSink(stream: DataFrame, storePath: String, srcCol: String,
                 dstCol: String): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        writeDegreeBatch(batch, storePath, srcCol, dstCol, batchId)
    }

  /** Current `(node, out_deg, in_deg)` over everything landed so far:
    * one hash aggregation over folded + fresh partial rows.
    */
  def degrees(spark: SparkSession, storePath: String): DataFrame =
    SumStore.merged(spark, storePath, Keys, Sums)

  /** Fold the store (see [[SumStore.compact]]). */
  def compactDegrees(spark: SparkSession, storePath: String): Unit =
    SumStore.compact(spark, storePath, Keys, Sums)

  /** Incremental PageRank refresh: warm-start the
    * [[graft.operators.Graph.pageRankLoop]] iteration from the
    * PREVIOUS snapshot's ranks, with the node set and out-degrees read
    * from this degree store instead of re-aggregated from the edge
    * list. At crawl scale that turns a re-rank from "cold 10+
    * iterations plus a full-edge-list degree aggregation" into "merge
    * the store partials (O(store), incremental by construction) plus
    * 2-3 warm iterations" — the iteration join over `edges` is the
    * only full-edge-list work left per refresh.
    *
    * `edges` must be the same distinct edge list the store has
    * accumulated (the store keeps degrees, not endpoints, so the
    * contribution join still needs it) and every node must have an
    * out-edge, as in the batch operator. All three contract pieces are
    * `require`-checked — a store/edge-list divergence (an
    * un-landed batch, a stale edge list) would otherwise return
    * plausible-but-wrong ranks silently: `|edges| == Σ out_deg` (one
    * count per side, no shuffle) catches aggregate drift, and an
    * endpoints⊄store-nodes anti-join probe catches unknown nodes.
    * `prevRanks` is `(node, pr_fx)`; newly discovered nodes absent
    * from it start at the teleport value. Bit-compatible with the
    * batch operator: same loop, same integer arithmetic, so
    * warm(m, seed = cold(k)) == cold(k+m) exactly.
    */
  def warmPageRank(spark: SparkSession, storePath: String,
                   edges: DataFrame, srcCol: String, dstCol: String,
                   prevRanks: DataFrame, iters: Int): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val deg = degrees(spark, storePath).persist(MEMORY_AND_DISK)
    val nodes = deg.select(col("node")).persist(MEMORY_AND_DISK)
    // node count, dangling count and Σ out_deg in one pass over deg
    val setup = deg.agg(count(lit(1)),
      count(when(col("out_deg") <= 0, 1)), sum(col("out_deg"))).head()
    val n = setup.getLong(0)
    require(n > 0, "warmPageRank needs a non-empty degree store")
    require(setup.getLong(1) == 0,
      "pageRank requires every node to have an out-edge")
    val outDeg = deg.select(col("node").as("__src"),
      col("out_deg").as("__od")).persist(MEMORY_AND_DISK)
    val e = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .persist(MEMORY_AND_DISK)
    val sumOd = setup.getLong(2)
    val ne = e.count()
    require(ne == sumOd, s"degree store and edge list diverge: " +
      s"|edges| = $ne but store Σ out_deg = $sumOd — a batch is " +
      "un-landed or the edge list is stale/non-distinct")
    val unknown = e.select(col("__src").as("node"))
      .union(e.select(col("__dst").as("node")))
      .join(nodes, Seq("node"), "left_anti").limit(1).count()
    require(unknown == 0, "degree store and edge list diverge: an " +
      "edge endpoint is missing from the store's node set")
    val teleportFx = (15L * Graph.PrScale) / (100L * n)
    val ranks0 = nodes
      .join(prevRanks.select(col("node"),
        col("pr_fx").cast("long").as("__seed")), Seq("node"),
        "left_outer")
      .select(col("node"),
        coalesce(col("__seed"), lit(teleportFx)).as("pr_fx"))
    Graph.pageRankLoop(e, nodes, outDeg, teleportFx, ranks0, iters)
  }
}
