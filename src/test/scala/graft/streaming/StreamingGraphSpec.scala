package graft.streaming

import graft.SparkSpec
import graft.operators.Graph
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.nio.file.Files

case class Edge(src: String, dst: String)

/** Incremental degree maintenance on MemoryStream: partials summed
  * across micro-batches match the batch Graph.degrees over the union
  * of edges, at-least-once replay is emit-once BOTH before and after
  * a compaction fold, and compaction preserves the merged view.
  */
class StreamingGraphSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toString

  private val b1 = Seq(Edge("a", "b"), Edge("a", "c"), Edge("b", "c"))
  private val b2 = Seq(Edge("c", "a"), Edge("d", "a"), Edge("d", "b"))

  private def merged(store: String): Map[String, (Long, Long)] =
    StreamingGraph.degrees(spark, store)
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

  private def batchParity(edges: Seq[Edge]): Map[String, (Long, Long)] =
    Graph.degrees(edges.toDF("src", "dst"), "src", "dst")
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

  test("streamed partials match batch degrees; replay is emit-once") {
    implicit val sqlCtx = spark.sqlContext
    val store = tmp("deg_store")
    val src = MemoryStream[Edge]
    val q = StreamingGraph.degreeSink(src.toDF(), store, "src", "dst")
      .option("checkpointLocation", tmp("deg_ckpt")).start()
    try {
      src.addData(b1: _*); q.processAllAvailable()
      src.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val expect = batchParity(b1 ++ b2)
    assert(merged(store) === expect)
    // at-least-once redelivery of batch 1 rewrites identical bytes
    StreamingGraph.writeDegreeBatch(b2.toDF("src", "dst"), store,
      "src", "dst", 1L)
    assert(merged(store) === expect)
    // in-batch duplicate edges collapse like the batch operator's
    // distinct edge list
    StreamingGraph.writeDegreeBatch(
      (b2 ++ b2).toDF("src", "dst"), store, "src", "dst", 1L)
    assert(merged(store) === expect)
  }

  test("compaction folds partials; replay of a FOLDED batch is ignored") {
    val store = tmp("deg_store2")
    StreamingGraph.writeDegreeBatch(b1.toDF("src", "dst"), store,
      "src", "dst", 0L)
    StreamingGraph.writeDegreeBatch(b2.toDF("src", "dst"), store,
      "src", "dst", 1L)
    val expect = batchParity(b1 ++ b2)
    StreamingGraph.compactDegrees(spark, store)
    assert(merged(store) === expect, "fold must preserve the view")
    // replaying batch 1 AFTER it was folded re-creates its directory,
    // but it sits at/below the fold watermark — not double-counted
    StreamingGraph.writeDegreeBatch(b2.toDF("src", "dst"), store,
      "src", "dst", 1L)
    assert(merged(store) === expect)
    // new batches after the fold still count
    val b3 = Seq(Edge("e", "a"))
    StreamingGraph.writeDegreeBatch(b3.toDF("src", "dst"), store,
      "src", "dst", 2L)
    assert(merged(store) === batchParity(b1 ++ b2 ++ b3))
    // a second fold (now including batch 2) stays correct
    StreamingGraph.compactDegrees(spark, store)
    assert(merged(store) === batchParity(b1 ++ b2 ++ b3))
    // a folded batch replayed after the second fold stays ignored, and
    // a further fold with no newer partial leaves the view unchanged
    StreamingGraph.writeDegreeBatch(b3.toDF("src", "dst"), store,
      "src", "dst", 2L)
    assert(merged(store) === batchParity(b1 ++ b2 ++ b3))
    StreamingGraph.compactDegrees(spark, store)
    assert(merged(store) === batchParity(b1 ++ b2 ++ b3))
    assert(batchDirs(store) === Set("batch=-3"))
  }

  private def batchDirs(store: String): Set[String] =
    new java.io.File(store).listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).toSet

  private def copyTree(from: java.nio.file.Path,
                       to: java.nio.file.Path): Unit = {
    val walk = Files.walk(from)
    try walk.forEach(p => Files.copy(p, to.resolve(from.relativize(p))))
    finally walk.close()
  }

  test("fold crash between publish and deletes counts nothing twice; " +
      "a fold with no newer partials is a no-op") {
    val store = tmp("deg_store_crash")
    StreamingGraph.writeDegreeBatch(b1.toDF("src", "dst"), store,
      "src", "dst", 0L)
    StreamingGraph.writeDegreeBatch(b2.toDF("src", "dst"), store,
      "src", "dst", 1L)
    val expect = batchParity(b1 ++ b2)
    // keep the fold's sources aside, fold, then put them back: the
    // state a crash leaves after the publish rename, before the deletes
    val aside = Files.createTempDirectory("deg_store_aside")
    Seq("batch=0", "batch=1").foreach { d =>
      copyTree(java.nio.file.Paths.get(store, d), aside.resolve(d))
    }
    StreamingGraph.compactDegrees(spark, store)
    Seq("batch=0", "batch=1").foreach { d =>
      copyTree(aside.resolve(d), java.nio.file.Paths.get(store, d))
    }
    assert(batchDirs(store) === Set("batch=-2", "batch=0", "batch=1"))
    assert(merged(store) === expect, "surviving sources double-counted")
    // re-running the fold only deletes the surviving sources
    StreamingGraph.compactDegrees(spark, store)
    assert(batchDirs(store) === Set("batch=-2"))
    assert(merged(store) === expect)
    // a second fold with no newer partials leaves the target untouched
    val files = new java.io.File(store, "batch=-2").list().toSet
    StreamingGraph.compactDegrees(spark, store)
    assert(batchDirs(store) === Set("batch=-2"))
    assert(new java.io.File(store, "batch=-2").list().toSet === files)
    assert(merged(store) === expect)
  }

  test("warmPageRank: store-degree path is bit-compatible with the " +
      "batch operator, and a previous-snapshot seed converges faster " +
      "than the cold uniform start") {
    val store = tmp("deg_store3")
    // G1 = 10-node cycle + every node pointing at hub 0 (a SKEWED
    // fixed point — a near-regular graph ranks ~uniform and the warm
    // seed would be indistinguishable from the cold start); G2
    // perturbs it with two new edges — the incremental-crawl shape (a
    // refresh touches a sliver of the graph, so last snapshot's ranks
    // are already near the new fixed point while the uniform start is
    // far from it)
    val base = ((0L until 10L).map(i => (i, (i + 1) % 10)) ++
      (1L until 10L).map(j => (j, 0L))).distinct
    val extra = Seq((3L, 7L), (7L, 3L))
    assert(extra.forall(e => !base.contains(e)))
    StreamingGraph.writeDegreeBatch(base.toDF("src", "dst"), store,
      "src", "dst", 0L)
    val prev = Graph.pageRank(base.toDF("src", "dst"), "src", "dst",
      iters = 12).select("node", "pr_fx")
    StreamingGraph.writeDegreeBatch(extra.toDF("src", "dst"), store,
      "src", "dst", 1L)
    val all = (base ++ extra).toDF("src", "dst")
    def ranks(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.select("node", "pr_fx").as[(Long, Long)].collect().toMap
    def cold(k: Int) = ranks(Graph.pageRank(all, "src", "dst", k))
    // 1) exact bit-compat: warm(2) from cold(2) over STORE degrees
    //    equals cold(4) — store-maintained node set/out-degrees feed
    //    the identical integer loop
    val seed2 = Graph.pageRank(all, "src", "dst", 2)
      .select("node", "pr_fx")
    assert(ranks(StreamingGraph.warmPageRank(spark, store, all,
      "src", "dst", seed2, iters = 2)) === cold(4))
    // 2) convergence: after the same 3 iterations, the warm start is
    //    strictly closer to the settled ranks than the cold start
    val ref = cold(20)
    def l1(m: Map[Long, Long]) =
      ref.map { case (n, v) => math.abs(v - m(n)) }.sum
    val dWarm = l1(ranks(StreamingGraph.warmPageRank(spark, store, all,
      "src", "dst", prev, iters = 3)))
    val dCold = l1(cold(3))
    assert(dWarm * 2 < dCold,
      s"warm start should at least halve the residual: warm=$dWarm cold=$dCold")
  }
}
