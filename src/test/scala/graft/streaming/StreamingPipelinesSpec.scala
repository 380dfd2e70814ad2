package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** End-to-end Structured Streaming behavior on MemoryStream sources:
  * the DAU dedup keeps first-per-(mid,day) across micro-batches via the
  * state store, and the order-wide stream-stream join completes pairs
  * across batches (the reference's Redis-cached cross-batch path,
  * FIXTURES.md detail-lags-info scenario).
  */
case class Doc(doc_id: Long, text: String, ts: java.sql.Timestamp)
case class Page(mid: String, user_id: String, province_id: String,
                last_page_id: String, ts: Long)
case class Info(id: Long, user_id: Long, total_amount: Double,
                create_ts: java.sql.Timestamp)
case class Detail(order_id: Long, sku_id: Long, split_total_amount: Double,
                  create_ts: java.sql.Timestamp)

class StreamingPipelinesSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toString

  test("streaming DAU dedup is first-wins per (mid, day) across batches") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Page]
    val day0 = 1700000000000L // 2023-11-14
    val pages = source.toDF()
    val deduped = DauPipeline.dedupDailyStreaming(
      DauPipeline.sessionStarts(pages))
    val q = deduped.writeStream
      .format("memory").queryName("dau_test")
      .outputMode("append")
      .option("checkpointLocation", tmp("dau_ckpt"))
      .start()
    try {
      // batch 1: mid_1 twice (same day) + a non-session-start row
      source.addData(
        Page("mid_1", "1", "110000", null, day0),
        Page("mid_1", "1", "110000", null, day0 + 1000),
        Page("mid_2", "2", "310000", "home", day0)) // filtered: not a start
      q.processAllAvailable()
      // batch 2: mid_1 again (same day → dropped by state store),
      // mid_2 proper start (kept)
      source.addData(
        Page("mid_1", "1", "110000", null, day0 + 60000),
        Page("mid_2", "2", "310000", null, day0 + 120000))
      q.processAllAvailable()
      val rows = spark.table("dau_test").select("mid").as[String]
        .collect().sorted.toSeq
      assert(rows == Seq("mid_1", "mid_2"))
    } finally q.stop()
  }

  test("streaming and batch DAU dedup agree on the kept key set") {
    implicit val sqlCtx = spark.sqlContext
    val day0 = 1700000000000L
    val rows = Seq(
      Page("m1", "1", "p", null, day0 + 1000),
      Page("m1", "1", "p", null, day0 + 2000),
      Page("m2", "2", "p", null, day0 + 3000),
      Page("m1", "1", "p", null, day0 + 86400000L + 500), // next day
      Page("m3", "3", "p", "home", day0)) // filtered
    val batchKeys = DauPipeline.dedupDaily(
        DauPipeline.sessionStarts(rows.toDF()))
      .select("mid", "dt").collect().map(r =>
        (r.getString(0), r.getString(1))).toSet
    val src = MemoryStream[Page]
    val q = DauPipeline.dedupDailyStreaming(
        DauPipeline.sessionStarts(src.toDF()))
      .writeStream.format("memory").queryName("parity_test")
      .outputMode("append")
      .option("checkpointLocation", tmp("parity_ckpt"))
      .start()
    try {
      rows.grouped(2).foreach { batch =>
        src.addData(batch: _*); q.processAllAvailable()
      }
      val streamKeys = spark.table("parity_test")
        .select("mid", "dt").collect().map(r =>
          (r.getString(0), r.getString(1))).toSet
      assert(streamKeys == batchKeys)
    } finally q.stop()
  }

  test("full streaming DAU wide-row with broadcast dim enrichment") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Page]
    val day0 = 1700000000000L
    val dimUser = Seq(("1", "F", "1995-06-15")).toDF(
      "id", "gender", "birthday")
    val dimProvince = Seq(("110000", "Beijing", "010", "CN-11", "CN-BJ"))
      .toDF("id", "name", "area_code", "iso_code", "iso_3166_2")
    val wide = DauPipeline.dau(source.toDF(), dimUser, dimProvince)
    val q = wide.writeStream
      .format("memory").queryName("dau_wide_test")
      .outputMode("append")
      .option("checkpointLocation", tmp("dau_wide_ckpt"))
      .start()
    try {
      source.addData(
        Page("m1", "1", "110000", null, day0),
        Page("m9", "42", "999999", null, day0)) // no dim matches
      q.processAllAvailable()
      val rows = spark.table("dau_wide_test")
        .select("mid", "user_gender", "province_name").collect()
        .map(r => r.getString(0) -> ((r.getString(1), r.getString(2))))
        .toMap
      assert(rows("m1") == (("F", "Beijing")))
      assert(rows("m9") == ((null, null))) // left-join survival
    } finally q.stop()
  }

  test("order-wide join completes detail-lags-info across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val infoS = MemoryStream[Info]
    val detailS = MemoryStream[Detail]
    val t0 = new java.sql.Timestamp(1700000000000L)
    val wide = OrderWidePipeline.orderWide(infoS.toDF(), detailS.toDF())
      .select(col("i.id"), col("d.sku_id"), col("d.split_total_amount"))
    val q = wide.writeStream
      .format("memory").queryName("ow_test")
      .outputMode("append")
      .option("checkpointLocation", tmp("ow_ckpt"))
      .start()
    try {
      // batch 1: info arrives alone (reference forces this with its
      // 200 ms detail lag, OdsBaseDbApp.scala:139-141)
      infoS.addData(Info(1L, 10L, 99.5, t0))
      q.processAllAvailable()
      assert(spark.table("ow_test").count() == 0) // parked in state
      // batch 2: two details for order 1 (1:N) + an orphan detail
      detailS.addData(
        Detail(1L, 100L, 49.5, t0),
        Detail(1L, 101L, 50.0, t0),
        Detail(999L, 102L, 1.0, t0))
      q.processAllAvailable()
      val rows = spark.table("ow_test")
        .as[(Long, Long, Double)].collect().sortBy(_._2).toSeq
      assert(rows == Seq((1L, 100L, 49.5), (1L, 101L, 50.0)))
    } finally q.stop()
  }

  test("order-info dim enrichment lands user + province columns") {
    val info = Seq((1L, 7L, "11", 99.0)).toDF(
      "id", "user_id", "province_id", "total_amount")
    val dimUser = Seq(("7", "F", "1990-03-01")).toDF(
      "id", "gender", "birthday")
    val dimProvince = Seq(("11", "Beijing", "010", "CN-11", "CN-BJ"))
      .toDF("id", "name", "area_code", "iso_code", "iso_3166_2")
    val wide = OrderWidePipeline.enrichInfo(info, dimUser, dimProvince)
      .collect().head
    assert(wide.getAs[String]("user_gender") == "F")
    assert(wide.getAs[Int]("user_age") >= 36) // as of 2026+
    assert(wide.getAs[String]("province_name") == "Beijing")
    assert(wide.getAs[String]("province_iso_code") == "CN-11")
    assert(wide.getAs[String]("province_area_code") == "010")
    assert(wide.getAs[String]("province_3166_2") == "CN-BJ")
  }

  test("CDC split routes facts to synthesized topics and upserts dims") {
    val raw = Seq(
      """{"database":"gmall","table":"order_info","type":"insert","ts":1,"data":{"id":"1","total_amount":"99"}}""",
      """{"database":"gmall","table":"order_info","type":"update","ts":2,"data":{"id":"1","total_amount":"88"}}""",
      """{"database":"gmall","table":"user_info","type":"insert","ts":3,"data":{"id":"7","gender":"F"}}""",
      """{"database":"gmall","table":"user_info","type":"update","ts":4,"data":{"id":"7","gender":"M"}}""",
      """{"database":"gmall","table":"ignored","type":"insert","ts":5,"data":{"id":"9"}}""",
      """{"database":"gmall","table":"order_info","type":"ddl","ts":6,"data":{}}"""
    ).toDF("value")
    val decoded = CdcSplit.decoded(CdcSplit.parse(raw))
    val facts = CdcSplit.facts(decoded, Set("order_info"))
      .select("topic").as[String].collect().sorted.toSeq
    assert(facts == Seq("DWD_ORDER_INFO_I", "DWD_ORDER_INFO_U"))
    val dims = CdcSplit.dims(decoded, Set("user_info")).collect()
    assert(dims.length == 1) // last-write-wins within the batch
    assert(get_json(dims.head.getAs[String]("data")) == "M")
  }

  private def get_json(data: String): String =
    spark.range(1).select(
      get_json_object(lit(data), "$.gender")).first().getString(0)

  test("streaming content dedup suppresses exact dups across batches") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Doc]
    val t0 = new java.sql.Timestamp(1700000000000L)
    val q = StreamingDedup.exactFirstSeen(src.toDF(), "text", "ts")
      .writeStream.format("memory").queryName("sdedup_test")
      .outputMode("append")
      .option("checkpointLocation", tmp("sdedup_ckpt"))
      .start()
    try {
      src.addData(
        Doc(1L, "the quick brown fox", t0),
        Doc(2L, "The  QUICK brown fox", t0)) // same after normalization
      q.processAllAvailable()
      src.addData(
        Doc(3L, "the quick brown fox", t0),  // cross-batch dup
        Doc(4L, "a different document", t0))
      q.processAllAvailable()
      val kept = spark.table("sdedup_test").select("doc_id")
        .as[Long].collect().toSet
      assert(kept.size == 2)
      assert(kept.contains(4L))
      assert((kept - 4L).subsetOf(Set(1L, 2L))) // one of the dup pair
    } finally q.stop()
  }

  test("streaming near-dedup gates batches against the growing index") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Doc]
    val (idx, out) = (tmp("neardedup_idx"), tmp("neardedup_out"))
    val t0 = new java.sql.Timestamp(1700000000000L)
    val q = StreamingNearDedup.nearDedupSink(src.toDF(), "doc_id",
        "text", idx, out, tmp("neardedup_ckpt"),
        trigger = org.apache.spark.sql.streaming.Trigger
          .ProcessingTime("0 seconds"))
      .start()
    try {
      // batch 1: 1≈2 within-batch near-dups (greedy min-id keeps 1);
      // 3 unrelated
      src.addData(
        Doc(1L, "pack my box with five dozen liquor jugs tonight friend",
          t0),
        Doc(2L, "pack my box with five dozen liquor jugs tonight buddy",
          t0),
        Doc(3L, "sphinx of black quartz judge my vow again and again",
          t0))
      q.processAllAvailable()
      // batch 2: 4 near-dups the ALREADY-LANDED 1 (cross-batch, via
      // the index); 5 is new
      src.addData(
        Doc(4L, "pack my box with five dozen liquor jugs tonight friend",
          t0),
        Doc(5L, "the quick brown fox jumps over the lazy dog today",
          t0))
      q.processAllAvailable()
      val landed = spark.read.parquet(out)
        .select("doc_id").as[Long].collect().toSet
      assert(landed == Set(1L, 3L, 5L))
      // the index holds exactly the landed docs' banded signatures
      val indexed = spark.read.parquet(idx)
        .select("did").distinct().as[Long].collect().toSet
      assert(indexed == Set(1L, 3L, 5L))
    } finally q.stop()
  }

  test("streaming decontamination gates batches against the eval index") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Doc]
    val (idx, out) = (tmp("decon_idx"), tmp("decon_out"))
    val t0 = new java.sql.Timestamp(1700000000000L)
    // the benchmark suite: its distinct 3-grams are the index
    val eval = Seq(
      (100L, "the secret eval answer key"),
      (101L, "benchmark question forty two")).toDF("doc_id", "text")
    graft.operators.Corpus.evalGramIndex(eval, "text", n = 3)
      .write.mode("overwrite").parquet(idx)
    val q = StreamingDecontaminate.decontaminateSink(src.toDF(),
        "doc_id", "text", idx, out, tmp("decon_ckpt"), n = 3,
        trigger = org.apache.spark.sql.streaming.Trigger
          .ProcessingTime("0 seconds"))
      .start()
    try {
      src.addData(
        Doc(1L, "contains the secret eval answer inside it", t0), // hit
        Doc(2L, "a perfectly clean training document here", t0),
        Doc(3L, "too short", t0)) // < n tokens: no grams, kept
      q.processAllAvailable()
      src.addData(
        Doc(4L, "asks benchmark question forty two verbatim", t0), // hit
        Doc(5L, "another clean document with plenty of words", t0))
      q.processAllAvailable()
      val landed = spark.read.parquet(out)
        .select("doc_id").as[Long].collect().toSet
      assert(landed == Set(2L, 3L, 5L))
      // parity: the batch-side operator marks exactly the dropped docs
      val all = Seq(1L, 2L, 4L, 5L).map(i => i ->
        Map(1L -> "contains the secret eval answer inside it",
            2L -> "a perfectly clean training document here",
            4L -> "asks benchmark question forty two verbatim",
            5L -> "another clean document with plenty of words")(i))
        .toDF("doc_id", "text")
      val contaminated = graft.operators.Corpus
        .decontaminate(all, eval, "doc_id", "text", n = 3)
        .filter($"contaminated").select("doc_id").as[Long].collect().toSet
      assert(contaminated == Set(1L, 4L))
    } finally q.stop()
  }

  test("near-dedup batch gate is replay-idempotent by path") {
    val (idx, out) = (tmp("nd_replay_idx"), tmp("nd_replay_out"))
    val batch = Seq(
      (1L, "pack my box with five dozen liquor jugs tonight friend"),
      (2L, "sphinx of black quartz judge my vow again and again"))
      .toDF("doc_id", "text")
    def runBatch(): Unit = {
      // excludeBatch drops the replayed batch's own earlier index
      // append — without it every doc self-matches on the retry
      val kept = StreamingNearDedup.gateBatch(batch,
        StreamingNearDedup.readIndex(spark, idx, excludeBatch = Some(0L)),
        "doc_id", "text", n = 3, k = 24, bands = 6, threshold = 0.5)
      kept.write.mode("overwrite").parquet(s"$out/batch=0")
      graft.operators.Dedup.minhashIndex(kept, "doc_id", "text", 3, 24, 6)
        .write.mode("overwrite").parquet(s"$idx/batch=0")
    }
    runBatch(); runBatch() // crash-replay of the same micro-batch
    assert(spark.read.parquet(out).count() == 2) // not doubled
    assert(spark.read.parquet(idx).select("did").distinct().count() == 2)
  }

  test("index compaction collapses committed batch dirs, keeps the rest") {
    val idx = tmp("nd_compact_idx")
    def writeBatch(bid: Long, ids: Seq[Long]): Unit =
      graft.operators.Dedup.minhashIndex(
          ids.map(i => (i, s"unique doc number $i with words w$i x$i y$i"))
            .toDF("doc_id", "text"),
          "doc_id", "text", 3, 24, 6)
        .write.mode("overwrite").parquet(s"$idx/batch=$bid")
    writeBatch(0L, Seq(1L)); writeBatch(1L, Seq(2L)); writeBatch(2L, Seq(3L))
    val before = spark.read.parquet(idx)
      .select("did", "sig", "band").collect().toSet
    StreamingNearDedup.compactIndex(spark, idx, upToBatch = 1L)
    // committed dirs merged to one negative-id partition; the
    // replayable one stays in place
    val dirs = new java.io.File(idx).listFiles().map(_.getName)
      .filter(_.startsWith("batch=")).toSet
    assert(dirs == Set("batch=-2", "batch=2"))
    // no row lost or duplicated by the rewrite
    assert(spark.read.parquet(idx)
      .select("did", "sig", "band").collect().toSet == before)
    // the replayable batch can still exclude itself; compacted rows
    // remain visible
    val visible = StreamingNearDedup
      .readIndex(spark, idx, excludeBatch = Some(2L))
      .select("did").as[Long].collect().toSet
    assert(visible == Set(1L, 2L))
    // a later merge folds the previous merge dir in with newer batches
    writeBatch(3L, Seq(4L))
    StreamingNearDedup.compactIndex(spark, idx, upToBatch = 2L)
    val dirs2 = new java.io.File(idx).listFiles().map(_.getName)
      .filter(_.startsWith("batch=")).toSet
    assert(dirs2 == Set("batch=-3", "batch=3"))
    assert(spark.read.parquet(idx).select("did").distinct().count() == 4)
  }

  test("index compaction survives a crash at every protocol step") {
    val idx = tmp("nd_crash_idx")
    def writeBatch(bid: Long, ids: Seq[Long]): Unit =
      graft.operators.Dedup.minhashIndex(
          ids.map(i => (i, s"unique doc number $i with words w$i x$i y$i"))
            .toDF("doc_id", "text"),
          "doc_id", "text", 3, 24, 6)
        .write.mode("overwrite").parquet(s"$idx/batch=$bid")
    writeBatch(0L, Seq(1L)); writeBatch(1L, Seq(2L)); writeBatch(2L, Seq(3L))
    val before = spark.read.parquet(idx)
      .select("did", "sig", "band").collect().toSet
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // crash 1: mid-staging-write — a leftover dot-dir is invisible to
    // readers and discarded by the next merge
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$idx/.__merge_tmp/garbage"))
    assert(spark.read.parquet(idx)
      .select("did", "sig", "band").collect().toSet == before)
    // crash 2: after the publish rename, before the source deletes —
    // simulate by copying the covered dirs' content to the target the
    // merge would have produced, keeping the sources in place
    spark.read.parquet(s"$idx/batch=0", s"$idx/batch=1")
      .select("did", "sig", "band")
      .write.parquet(s"$idx/batch=-2")
    // duplicate rows are visible but the gate's existence semantics
    // are unchanged: distinct dids are intact
    assert(StreamingNearDedup.readIndex(spark, idx)
      .select("did").distinct().count() == 3)
    // re-running the merge with the same upToBatch finishes cleanup
    StreamingNearDedup.compactIndex(spark, idx, upToBatch = 1L)
    val dirs = new java.io.File(idx).listFiles().map(_.getName)
      .filter(_.startsWith("batch=")).toSet
    assert(dirs == Set("batch=-2", "batch=2"))
    assert(spark.read.parquet(idx)
      .select("did", "sig", "band").collect().toSet == before)
    // a LARGER upToBatch also heals leftover duplicates via distinct:
    // recreate the duplicate state, then merge further
    spark.read.parquet(s"$idx/batch=-2").write.parquet(s"$idx/batch=1")
    StreamingNearDedup.compactIndex(spark, idx, upToBatch = 2L)
    assert(spark.read.parquet(idx)
      .select("did", "sig", "band").collect().toSet == before)
    assert(spark.read.parquet(idx).count() == before.size) // truly deduped
  }

  test("observe metrics surface per micro-batch without extra jobs") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Page]
    val observed = Metrics.observeRows(src.toDF(), "dau_in", "mid")
    val q = observed.writeStream
      .format("memory").queryName("obs_test")
      .option("checkpointLocation", tmp("obs_ckpt"))
      .start()
    try {
      src.addData(
        Page("m1", "1", "p", null, 1L),
        Page(null, "2", "p", null, 2L))
      q.processAllAvailable()
      val m = q.lastProgress.observedMetrics.get("dau_in")
      assert(m.getAs[Long]("rows") == 2L)
      assert(m.getAs[Long]("null_keys") == 1L)
    } finally q.stop()
  }

  test("keyed parquet sink is idempotent under batch replay") {
    val out = tmp("sink_out")
    val batch = Seq(
      ("m1", "2024-01-05", 10), ("m1", "2024-01-05", 11),
      ("m2", "2024-01-06", 12)).toDF("mid", "dt", "v")
    Sinks.upsertBatch(batch, out, "mid", batchId = 7L)
    Sinks.upsertBatch(batch, out, "mid", batchId = 7L) // replayed batch
    // the replay rewrote its own batch: one copy of the two winners
    // on disk, not an appended second copy
    assert(spark.read.parquet(out).count() == 2)
    val got = Sinks.latest(Sinks.readStore(spark, out), "mid")
    assert(got.count() == 2) // PK-deduped, not duplicated by replay
    assert(got.select("dt").distinct().count() == 2)
    // deterministic in-batch winner: highest v for the (m1, day) dup
    assert(got.filter(col("mid") === "m1").select("v")
      .as[Int].head() == 11)
  }

  test("keyed parquet sink ACCUMULATES across batches and upserts keys") {
    val out = tmp("sink_acc")
    Sinks.upsertBatch(Seq(("m1", "2024-01-05", 1), ("m2", "2024-01-05", 2))
      .toDF("mid", "dt", "v"), out, "mid", batchId = 1L)
    // later batch: new key for the same day + updated value for m2 +
    // the same key on a different day (must keep both day rows)
    Sinks.upsertBatch(Seq(("m3", "2024-01-05", 3), ("m2", "2024-01-05", 9),
        ("m2", "2024-01-06", 4))
      .toDF("mid", "dt", "v"), out, "mid", batchId = 2L)
    // an empty batch (a stateful query's no-data batch) lands nothing
    Sinks.upsertBatch(Seq(("m9", "2024-01-05", 0)).toDF("mid", "dt", "v")
      .limit(0), out, "mid", batchId = 3L)
    val store = Sinks.readStore(spark, out)
    assert(store.columns.toSet == Set("mid", "v", "dt", Sinks.SeqCol))
    val got = Sinks.latest(store, "mid")
      .select("mid", "dt", "v").collect()
      // dt comes back as DateType (partition-column type inference)
      .map(r => (r.getString(0), r.get(1).toString) -> r.getInt(2)).toMap
    assert(got == Map(
      ("m1", "2024-01-05") -> 1,  // earlier batch's row survives
      ("m2", "2024-01-05") -> 9,  // key upserted in place
      ("m3", "2024-01-05") -> 3,  // new key added
      ("m2", "2024-01-06") -> 4)) // same key, second day kept
  }

  test("a batch never rewrites a day partition it doesn't touch") {
    val out = tmp("sink_appendonly")
    Sinks.upsertBatch(Seq(("m1", "2024-01-05", 1), ("m2", "2024-01-06", 2))
      .toDF("mid", "dt", "v"), out, "mid", batchId = 1L)
    def files(dir: String) = {
      val d = new java.io.File(dir)
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toSet
    }
    val day05 = files(s"$out/batch=1/dt=2024-01-05")
    val day06 = files(s"$out/batch=1/dt=2024-01-06")
    // second batch touches only 2024-01-06, in its own directory;
    // the first batch's files of both days stay byte-identical
    Sinks.upsertBatch(Seq(("m9", "2024-01-06", 9))
      .toDF("mid", "dt", "v"), out, "mid", batchId = 2L)
    assert(files(s"$out/batch=1/dt=2024-01-05") == day05)
    assert(files(s"$out/batch=1/dt=2024-01-06") == day06)
    assert(new java.io.File(s"$out/batch=2").list()
      .filterNot(_.startsWith("_")).filterNot(_.startsWith(".")).toSet ==
      Set("dt=2024-01-06"))
  }

  test("compaction preserves the read view and bounds the store") {
    val out = tmp("sink_compact")
    // 5 batches rewriting the same two keys
    (1 to 5).foreach { i =>
      Sinks.upsertBatch(Seq(("m1", "2024-01-05", i), ("m2", "2024-01-05", i))
        .toDF("mid", "dt", "v"), out, "mid", batchId = i.toLong)
    }
    def view = Sinks.latest(Sinks.readStore(spark, out), "mid")
      .select("mid", "v").as[(String, Int)].collect().toSet
    val viewBefore = view
    assert(Sinks.readStore(spark, out).count() == 10) // history accumulated
    Sinks.compact(spark, out, "mid")
    assert(Sinks.readStore(spark, out).count() == 2)  // latest-only now
    assert(spark.read.parquet(out).count() == 2) // sources deleted
    assert(view == viewBefore)
    assert(viewBefore == Set("m1" -> 5, "m2" -> 5))
    // a post-compaction batch still upserts over the compacted rows
    Sinks.upsertBatch(Seq(("m1", "2024-01-05", 42))
      .toDF("mid", "dt", "v"), out, "mid", batchId = 6L)
    assert(view == Set("m1" -> 42, "m2" -> 5))
  }

  test("compaction swap: staged rewrite recovers from crashes and failures") {
    val out = tmp("sink_swap")
    (1 to 3).foreach { i =>
      Sinks.upsertBatch(Seq(("m1", "2024-01-05", i), ("m2", "2024-01-05", i))
        .toDF("mid", "dt", "v"), out, "mid", batchId = i.toLong)
    }
    def view = Sinks.latest(Sinks.readStore(spark, out), "mid")
      .select("mid", "v").as[(String, Int)].collect().toSet
    // a failed fold job leaves every batch directory in place
    intercept[RuntimeException] {
      BatchDirs.compactAll(spark, out,
        _ => sys.error("executor died mid-compaction"), Seq("dt"))
    }
    assert(view == Set("m1" -> 3, "m2" -> 3))
    assert(Sinks.readStore(spark, out).count() == 6)
    // stale staging from a crash mid-write is invisible, then discarded
    val staging = new java.io.File(s"$out/.__merge_tmp")
    staging.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(staging, "junk").toPath, "not parquet")
    assert(view == Set("m1" -> 3, "m2" -> 3))
    Sinks.compact(spark, out, "mid")
    assert(view == Set("m1" -> 3, "m2" -> 3))
    assert(!staging.exists())
    assert(Sinks.readStore(spark, out).count() == 2)
  }

  test("a serving fold crashed after publish counts nothing twice") {
    val out = tmp("sink_fold_crash")
    (1 to 3).foreach { i =>
      Sinks.upsertBatch(Seq(("m1", "2024-01-05", i), (s"k$i", "2024-01-05", i))
        .toDF("mid", "dt", "v"), out, "mid", batchId = i.toLong)
    }
    def view = Sinks.latest(Sinks.readStore(spark, out), "mid")
      .select("mid", "v").as[(String, Int)].collect().toSet
    val before = view
    FoldCrash.afterPublish(out)(Sinks.compact(spark, out, "mid"))
    // the sources are back on disk beside the target, yet hidden
    assert(spark.read.parquet(out).count() == 6 + 4)
    assert(Sinks.readStore(spark, out).count() == 4)
    assert(view == before)
    // re-running the fold only deletes the hidden sources
    Sinks.compact(spark, out, "mid")
    assert(spark.read.parquet(out).count() == 4)
    assert(view == before)
  }

  test("serving-store append after a crashed swap keeps the compacted " +
      "history") {
    val out = tmp("sink_swap_append")
    Sinks.upsertBatch(Seq(("m1", "2024-01-05", 1), ("m2", "2024-01-05", 2))
      .toDF("mid", "dt", "v"), out, "mid", batchId = 1L)
    Sinks.upsertBatch(Seq(("m2", "2024-01-05", 5))
      .toDF("mid", "dt", "v"), out, "mid", batchId = 2L)
    FoldCrash.afterPublish(out)(Sinks.compact(spark, out, "mid"))
    // the next batch lands before anyone finishes the fold's cleanup
    Sinks.upsertBatch(Seq(("m1", "2024-01-05", 3))
      .toDF("mid", "dt", "v"), out, "mid", batchId = 3L)
    assert(Sinks.latest(Sinks.readStore(spark, out), "mid")
      .select("mid", "v").as[(String, Int)].collect().toSet ==
      Set("m1" -> 3, "m2" -> 5))
    assert(Sinks.readStore(spark, out).count() == 3) // target 2 + batch 3
  }

  test("a write into a root from the older layout fails loudly") {
    val out = tmp("sink_legacy")
    // a serving root as the append layout left it: dt partitions
    // straight under the root
    Seq(("m1", "2024-01-05", 1, 0L)).toDF("mid", "dt", "v", Sinks.SeqCol)
      .write.mode("append").partitionBy("dt").parquet(out)
    val err = intercept[IllegalStateException] {
      Sinks.upsertBatch(Seq(("m1", "2024-01-05", 2))
        .toDF("mid", "dt", "v"), out, "mid", batchId = 5L)
    }
    assert(err.getMessage.contains("dt=2024-01-05"))
    assert(err.getMessage.contains("older store layout"))
    intercept[IllegalStateException](Sinks.compact(spark, out, "mid"))
    // nothing was written; the plain root still reads whole
    assert(!new java.io.File(s"$out/batch=5").exists())
    assert(Sinks.latest(Sinks.readStore(spark, out), "mid")
      .select("mid", "v").as[(String, Int)].collect().toSet ==
      Set("m1" -> 1))
    // a root that holds batch directories AND older data refuses reads
    // too, rather than hide the older rows
    Seq(("m2", "2024-01-05", 2, 6L)).toDF("mid", "dt", "v", Sinks.SeqCol)
      .write.partitionBy("dt").parquet(s"$out/batch=6")
    intercept[IllegalStateException](Sinks.readStore(spark, out))
  }

  test("a root with no batch directory is read whole") {
    // written exactly as a dim-store bootstrap outside the engine does
    // it: the CDC dim branch appended as plain table-partitioned parquet
    val store = tmp("plain_root")
    val drop = s"${tmp("plain_drop")}/dims.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(drop),
      java.util.Arrays.asList(
        """{"database":"g","table":"user_info","type":"bootstrap-insert","ts":1,"data":{"id":"1","gender":"F"}}""",
        """{"database":"g","table":"base_province","type":"bootstrap-insert","ts":1,"data":{"id":"11","name":"BJ"}}"""))
    CdcSplit.dims(CdcSplit.decoded(CdcSplit.parse(spark.read.text(drop))),
        Set("user_info", "base_province"))
      .write.mode("append").partitionBy("table").parquet(store)
    val got = CdcSplit.latestDims(Sinks.readStore(spark, store))
      .select("table", "id").as[(String, String)].collect().toSet
    assert(got == Set(("user_info", "1"), ("base_province", "11")))
    // an absent root is an error naming the path, not an empty store
    val err = intercept[java.io.FileNotFoundException](
      Sinks.readStore(spark, s"$store-absent"))
    assert(err.getMessage.contains("Path does not exist"))
  }

  private def cdc(json: String*) =
    CdcSplit.decoded(CdcSplit.parse(json.toDF("value")))

  /** The runner's OdsDbApp dim write. */
  private def landDims(decoded: org.apache.spark.sql.DataFrame,
                       store: String, bid: Long): Unit =
    BatchDirs.write(CdcSplit.dims(decoded, Set("user_info", "base_province"),
      bid), store, bid, Seq("table"))

  test("CompactionJob main dispatches dim and serving compaction") {
    val dim = tmp("cj_dim")
    landDims(cdc(
      """{"database":"g","table":"user_info","type":"insert","ts":1,"data":{"id":"1","gender":"F"}}"""),
      dim, 0L)
    landDims(cdc(
      """{"database":"g","table":"user_info","type":"update","ts":2,"data":{"id":"1","gender":"M"}}""",
      """{"database":"g","table":"user_info","type":"insert","ts":2,"data":{"id":"2","gender":"F"}}"""),
      dim, 1L)
    def dimView = CdcSplit.latestDims(Sinks.readStore(spark, dim))
      .select("id", "data").as[(String, String)].collect().toSet
    val dimBefore = dimView
    // run the dim job through its dispatch core (main owns/stops its
    // own session; tests drive run())
    graft.runner.StreamingApps.CompactionJob.run(spark, Seq("dim", dim))
    assert(Sinks.readStore(spark, dim).count() == 2) // one row per key
    assert(dimView == dimBefore)
    assert(new java.io.File(dim).list().filter(_.startsWith("batch="))
      .toSeq == Seq("batch=-2"))
    val serving = tmp("cj_serving")
    (1 to 3).foreach(i => Sinks.upsertBatch(
      Seq(("k", "2024-01-05", i), (s"k$i", "2024-01-06", i))
        .toDF("pk", "dt", "v"), serving, "pk", batchId = i.toLong))
    def servingView = Sinks.latest(Sinks.readStore(spark, serving), "pk")
      .select("pk", "dt", "v").collect().map(_.toString).toSet
    val servingBefore = servingView
    graft.runner.StreamingApps.CompactionJob.run(spark,
      Seq("serving", serving, "pk"))
    assert(Sinks.readStore(spark, serving).count() == 4)
    assert(servingView == servingBefore)
    assert(Sinks.latest(Sinks.readStore(spark, serving), "pk")
      .filter(col("pk") === "k").select("v").as[Int].head() == 3)
    // the fold keeps the dt partitioning below its target directory
    assert(new java.io.File(s"$serving/batch=-4").list()
      .filter(_.startsWith("dt=")).toSet ==
      Set("dt=2024-01-05", "dt=2024-01-06"))
    // bad args fail fast instead of silently doing nothing
    intercept[RuntimeException] {
      graft.runner.StreamingApps.CompactionJob.run(spark, Seq("nope"))
    }
    ()
  }

  test("dim store compaction: latestDims identical before and after") {
    val out = tmp("dim_compact")
    val raw = Seq(
      """{"database":"g","table":"user_info","type":"insert","ts":1,"data":{"id":"1","gender":"F"}}""",
      """{"database":"g","table":"user_info","type":"update","ts":2,"data":{"id":"1","gender":"M"}}""",
      """{"database":"g","table":"user_info","type":"insert","ts":1,"data":{"id":"2","gender":"F"}}""",
      """{"database":"g","table":"user_info","type":"delete","ts":3,"data":{"id":"2","gender":"F"}}""",
      """{"database":"g","table":"base_province","type":"insert","ts":1,"data":{"id":"11","name":"BJ"}}""")
    // each row as its own micro-batch (worst-case history)
    raw.zipWithIndex.foreach { case (j, i) => landDims(cdc(j), out, i.toLong) }
    // at-least-once: the first batch redelivered under its own id
    landDims(cdc(raw.head), out, 0L)
    def view = CdcSplit.latestDims(Sinks.readStore(spark, out))
      .select("table", "id", "op").as[(String, String, String)]
      .collect().toSet
    val before = view
    assert(spark.read.parquet(out).count() == 5) // one copy on disk
    CdcSplit.compactDimStore(spark, out)
    assert(Sinks.readStore(spark, out).count() == 3) // one row/key, D kept
    assert(view == before)
    assert(before == Set(("user_info", "1", "U"),
      ("base_province", "11", "I"))) // id=2 tombstoned away
  }

  test("same-second updates across batches keep arrival order via __seq") {
    val out = tmp("dim_seq")
    // first batch's payload sorts HIGHER lexicographically (Z > A):
    // without the batch-id tiebreak, the payload-desc fallback would
    // resurrect it over the later arrival
    landDims(cdc("""{"database":"g","table":"user_info","type":"update","ts":5,"data":{"id":"1","gender":"Z"}}"""), out, 1L)
    landDims(cdc("""{"database":"g","table":"user_info","type":"update","ts":5,"data":{"id":"1","gender":"A"}}"""), out, 2L)
    val got = CdcSplit.latestDims(Sinks.readStore(spark, out))
      .select(get_json_object(col("data"), "$.gender")).as[String]
      .collect().toSeq
    assert(got == Seq("A")) // later batch wins the same-second tie
  }

  test("same-second CDC tie resolves by op precedence, not arrival") {
    // Maxwell ts is second-granularity: an insert and update of the
    // same row in the same second must resolve to the update
    // regardless of row order
    val fwd = Seq(
      """{"database":"g","table":"user_info","type":"insert","ts":5,"data":{"id":"1","gender":"F"}}""",
      """{"database":"g","table":"user_info","type":"update","ts":5,"data":{"id":"1","gender":"M"}}""")
    Seq(fwd, fwd.reverse).foreach { order =>
      val got = CdcSplit.dims(CdcSplit.decoded(CdcSplit.parse(
          order.toDF("value"))), Set("user_info"))
        .select("op").as[String].collect().toSeq
      assert(got == Seq("U"))
    }
  }
}
