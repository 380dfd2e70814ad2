package graft.props

import graft.SparkSpec
import graft.streaming.DauPipeline
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalacheck.{Gen, Prop, Properties, Test}

import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}

/** One delivered event of [[DauEvictionProps]]. Top level, not nested
  * in the object: Spark's generated encoder cannot construct a case
  * class nested in an object and falls back to interpreted evaluation.
  */
case class DauEvictionEvent(mid: String, ts: Long)

/** Property-based check of the A2 streaming dedup's DAY-BOUNDARY
  * semantics (`dropDuplicatesWithinWatermark("mid","dt")` + 24 h
  * watermark, [[DauPipeline.dedupDailyStreaming]]) — the SURVEY §7
  * "hard part": each generated scenario is a two-day stream whose
  * events straddle midnight and arrive LATE (day-2-morning events
  * delivered in earlier micro-batches than day-1-evening ones), and
  * the output must be delivery-order first-wins per (mid, dt), with
  * the two sides of midnight deduplicating independently.
  *
  * All 100 scenarios flow through ONE long-lived streaming query — a
  * 1000-day stream — with each scenario's window 10 days after the
  * previous one, so the advancing watermark must EVICT the previous
  * scenario's state: the per-scenario state-row bound asserted below
  * would blow past within a handful of scenarios if eviction ever
  * stopped (the unbounded-growth failure mode the watermarked dedup
  * exists to prevent).
  *
  * Generator constraints that keep the model exact: every scenario's
  * events span ≤ 12 h (18:00 → 06:00 across midnight), so no
  * delivery order can make an event beyond-watermark late; and a
  * (mid, dt) key appears at most once per micro-batch, so first-wins
  * is deterministic (in-batch duplicate order is covered by the
  * example-based specs).
  */
object DauEvictionProps extends Properties("dauEviction") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(100)

  private lazy val spark = SparkSpec.spark

  private lazy val source: MemoryStream[DauEvictionEvent] = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    MemoryStream[DauEvictionEvent]
  }

  private lazy val query = {
    val ckpt = java.nio.file.Files
      .createTempDirectory("dau_evict_prop_ckpt").toString
    DauPipeline.dedupDailyStreaming(source.toDF())
      .writeStream.format("memory").queryName("dau_evict_prop")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()
  }

  private val DayFmt =
    DateTimeFormatter.ofPattern("yyyy-MM-dd").withZone(ZoneOffset.UTC)
  private val Epoch0 = 1704067200000L // 2024-01-01T00:00:00Z
  private val H = 3600000L

  // one scenario: per mid, events in [18:00 day1, 06:00 day2], each
  // tagged with a delivery batch (late delivery = smaller-batch morning
  // events alongside larger-batch evening ones)
  private case class Ev(mid: Int, offH: Double, batch: Int)

  private val scenarioGen: Gen[(Int, List[Ev])] = for {
    nMids <- Gen.chooseNum(3, 5)
    nBatches <- Gen.chooseNum(2, 4)
    evs <- Gen.sequence[List[List[Ev]], List[Ev]]((0 until nMids).map {
      m =>
        for {
          nEve <- Gen.chooseNum(1, 3)
          nMor <- Gen.chooseNum(1, 3)
          eve <- Gen.listOfN(nEve, Gen.zip(
            Gen.chooseNum(18.0, 23.99), Gen.chooseNum(0, nBatches - 1)))
          mor <- Gen.listOfN(nMor, Gen.zip(
            Gen.chooseNum(24.0, 29.99), Gen.chooseNum(0, nBatches - 1)))
        } yield (eve ++ mor).map { case (h, b) => Ev(m, h, b) }
    }.toList)
  } yield (nBatches, evs.flatten)

  // monotone scenario counter: scenario k lives 10k days after epoch
  private var scenario = 0
  private var prevKeys = 0

  property("two-day late-delivery stream: first-wins per (mid, dt) " +
      "across midnight, and old state is evicted") =
    Prop.forAllNoShrink(scenarioGen) { case (nBatches, evs) =>
      val k = scenario; scenario += 1
      val base = Epoch0 + k.toLong * 10 * 24 * H
      val rows = evs.map(e => (DauEvictionEvent(s"c${k}_m${e.mid}",
        base + (e.offH * H).toLong), e.batch))
      // one event per (mid, dt) per batch → deterministic first-wins
      val byBatch = (0 until nBatches).map { b =>
        val mine = rows.collect { case (s, `b`) => s }
        val seen = scala.collection.mutable.Set.empty[(String, String)]
        mine.filter(s => seen.add((s.mid, DayFmt.format(
          Instant.ofEpochMilli(s.ts)))))
      }
      // in-memory model: delivery-order first-wins per (mid, dt)
      val seen = scala.collection.mutable.Set.empty[(String, String)]
      val want = byBatch.flatten.flatMap { s =>
        val key = (s.mid, DayFmt.format(Instant.ofEpochMilli(s.ts)))
        if (seen.add(key)) Some((s.mid, key._2, s.ts)) else None
      }.toSet
      byBatch.filter(_.nonEmpty).foreach { b =>
        source.addData(b: _*)
        query.processAllAvailable()
      }
      val got = spark.table("dau_evict_prop")
        .where(org.apache.spark.sql.functions.col("mid")
          .startsWith(s"c${k}_"))
        .select("mid", "dt", "ts").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      val firstWinsOk = got == want
      // eviction: live state may hold at most this scenario's keys
      // plus (one-batch eviction lag) the previous scenario's
      val stateRows = query.recentProgress.reverse
        .find(_.stateOperators.nonEmpty)
        .map(_.stateOperators(0).numRowsTotal).getOrElse(-1L)
      val bound = seen.size + prevKeys
      prevKeys = seen.size
      val evictionOk = stateRows >= 0 && stateRows <= bound
      if (!firstWinsOk) println(s"scenario $k first-wins mismatch: " +
        s"got=${got.toSeq.sorted} want=${want.toSeq.sorted}")
      if (!evictionOk) println(s"scenario $k state rows $stateRows " +
        s"exceed bound $bound — eviction stopped")
      firstWinsOk && evictionOk
    }
}
