package graft.operators

import graft.SparkSpec
import graft.functions.{Par, TextFns, VectorFns}
import org.apache.spark.graftspec.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.{Seconds, Span}

/** The eager call sites whose scalars ride their checkpoint job
  * ([[Par.checkpointObserving]]): how many SQL executions each runs at
  * call time, and full-row / schema parity with the bodies they
  * replaced (checkpoint, then a second execution reading a scalar
  * back), kept below as witnesses. `Observation.get` blocks until its
  * metrics arrive, so every case runs under a time limit that
  * interrupts the test thread.
  */
class CheckpointObservingSpec extends SparkSpec with TimeLimits {
  import spark.implicits._

  implicit val signaler: Signaler = ThreadSignaler
  private val limit = Span(120, Seconds)

  /** `body`'s result and the number of SQL executions it ran on this
    * thread (jobs grouped by root execution id; a job outside any
    * execution counts alone).
    */
  private def executions[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"executions-${java.util.UUID.randomUUID}"
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val p = j.properties
        if (p != null && p.getProperty("spark.jobGroup.id") == group)
          seen.add(Option(p.getProperty("spark.sql.execution.root.id"))
            .orElse(Option(p.getProperty("spark.sql.execution.id")))
            .getOrElse(s"job ${j.jobId}"))
      }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "execution count")
    try {
      val out = body
      ListenerBus.drain(sc)
      (out, seen.size)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def sameFrame(got: DataFrame, want: DataFrame,
                        clue: String): Unit = {
    assert(got.schema === want.schema, clue)
    sameRows(got, want, clue)
  }

  private def sameRows(got: DataFrame, want: DataFrame,
                       clue: String): Unit = {
    // Row equality compares doubles bit-wise (0.0 and -0.0 differ)
    def rows(d: DataFrame) = d.collect().toSeq.sortBy(_.toString)
    assert(rows(got) === rows(want), clue)
  }

  /** Distinct buckets of the prefix sum's auto grid over `v`. */
  private def bucketsOccupied(df: DataFrame): Int = {
    val vs = df.select(col("v")).as[Long].collect()
    val width = math.max(4096L,
      math.ceil((vs.max.toDouble - vs.min.toDouble + 1) / (1 << 20)).toLong)
    vs.map(Math.floorDiv(_, width)).distinct.length
  }

  // ---- fixtures ----

  // 1 and 4 are source-only (no in-edge), 3 is sink-only (no out-edge)
  private def sourceSink = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 3L))
    .toDF("src", "dst")

  private def graph16 = (0L until 200L)
    .map(i => (i % 16, (i * 7 + 3) % 16))
    .filter(p => p._1 != p._2).distinct.toDF("src", "dst")

  private def counts(n: Int) = (0 until n)
    .map(i => ((i * 37) % 101 - 40).toLong -> (i % 7 + 1).toLong)
    .groupBy(_._1).map { case (v, cs) => (v, cs.map(_._2).sum) }
    .toSeq.toDF("v", "c")

  private def groupedCounts = (0 until 120)
    .map(i => (s"g${i % 3}", ((i * 53) % 97).toLong, (i % 5 + 1).toLong))
    .groupBy(t => (t._1, t._2))
    .map { case ((g, v), ts) => (g, v, ts.map(_._3).sum) }
    .toSeq.toDF("g", "v", "c")

  private def docs = (1L to 40L).map { i =>
    (i, (i * 17) % 23, if (i % 4 == 0) null else s"s${i % 3}",
      Seq.fill((i % 6 + 1).toInt)(s"w$i").mkString(" "))
  }.toDF("id", "score", "src", "text")

  private def vecs = (1L to 12L).map { i =>
    (i, Seq(math.sin(i.toDouble).toFloat, math.cos(i * 0.7).toFloat,
      (i % 3).toFloat), (i * 31 % 17).toDouble / 17)
  }.toDF("id", "vec", "rel")

  private def pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 7L),
    (9L, 99L)).toDF("id_a", "id_b")

  private def docIds = (1L to 10L).toDF("id")

  // ---- execution counts ----

  test("each rewired site runs one SQL execution fewer: hits one per " +
      "half-step, the grouped prefix sum one in all") {
    failAfter(limit) {
      def n(body: => DataFrame) = executions(body)._2
      val store = java.nio.file.Files.createTempDirectory("deg_store")
        .toString
      graft.streaming.StreamingGraph.writeDegreeBatch(graph16, store,
        "src", "dst", 0L)
      val got = Seq(
        "hits" -> n(Graph.hits(graph16, "src", "dst", 2)),
        "cumBelowByValue keyed" -> n(Stats.cumBelowByValue(
          groupedCounts, Seq("g"), "v", Seq("c"))),
        "cumBelowByValue unkeyed" -> n(
          Stats.cumBelowByValue(counts(50), Nil, "v", Seq("c"))),
        "selectByBudget" -> n(
          Corpus.selectByBudget(docs, "id", "score", "text", 60L)),
        "curriculumOrder" -> n(
          Corpus.curriculumOrder(docs, "src", "id", "score")),
        "mixtureWeights" -> n(Corpus.mixtureWeights(docs, "src", "text")),
        "mmrSelect k=3" -> n(
          Similarity.mmrSelect(vecs, "id", "vec", "rel", 3, 0.7)),
        "clusters, driver union-find" -> n(
          Dedup.clusters(docIds, "id", pairs)),
        "clusters, propagation loop" -> n(
          Dedup.clusters(docIds, "id", pairs, maxDriverPairs = 0L)),
        "pageRank setup" -> n(Graph.pageRank(graph16, "src", "dst", 2)),
        "warmPageRank" -> n(graft.streaming.StreamingGraph.warmPageRank(
          spark, store, graph16, "src", "dst",
          Seq((0L, 1L)).toDF("node", "pr_fx"), 2)))
      // the probe-after-checkpoint forms ran 8, 2, 3, 3, 3, 2, 5, 4
      // and 10 (the loop: the pairs checkpoint + their count, the seed
      // labels + their sum, then a checkpoint + a sum per iteration,
      // 3 to the fixpoint); the driver union-find then ran 3 (a second
      // collect read the valid endpoints), pageRank's setup 2 (node
      // count, dangling probe) and warmPageRank 6 (the degree store
      // read's parquet schema job, then node count, out-degree probe,
      // Σ out_deg, edge count, unknown-endpoint probe)
      assert(got === Seq(
        "hits" -> 4, // one per half-step
        "cumBelowByValue keyed" -> 1,
        "cumBelowByValue unkeyed" -> 2, // checkpoint, bucket totals
        "selectByBudget" -> 2,
        "curriculumOrder" -> 2,
        "mixtureWeights" -> 1,
        "mmrSelect k=3" -> 4, // checkpoint, one per pick
        "clusters, driver union-find" -> 2, // checkpoint, valid pairs
        "clusters, propagation loop" -> 5,
        "pageRank setup" -> 1, // node and dangling counts in one agg
        "warmPageRank" -> 4)) // store read, store agg, edge count,
                              // endpoint probe
    }
  }

  // ---- edge cases against the witnesses ----

  test("hits: source-only and sink-only nodes score 0 on the side " +
      "they lack, hand-computed, and equal the witness") {
    failAfter(limit) {
      // half-steps (1e12 = 1.0): auth raw 2:1, 3:3 of 4 → /4; hub raw
      // 1:1, 2:.75, 4:.75 → /2; auth raw 2:.5, 3:1.25 → /1; hub raw
      // 1:1.75, 2:1.25, 4:1.25 → /4
      val got = Graph.hits(sourceSink, "src", "dst", 2)
        .select("node", "hub_fx", "auth_fx").as[(Long, Long, Long)]
        .collect().sortBy(_._1).toSeq
      assert(got === Seq((1L, 437500000000L, 0L),
        (2L, 312500000000L, 500000000000L),
        (3L, 0L, 1250000000000L), (4L, 312500000000L, 0L)))
      val nullEnds = Seq[(Option[Long], Option[Long])](
          (Some(1L), Some(2L)), (Some(2L), Some(3L)), (None, Some(3L)),
          (Some(4L), None), (None, Some(5L)), (Some(3L), Some(1L)))
        .toDF("src", "dst")
      for (e <- Seq(sourceSink, graph16, nullEnds); iters <- 1 to 3) {
        val (got, n) = Graph.hitsFromCounted(e, "src", "dst", iters, None)
        val (want, m) = hitsWitness(e, "src", "dst", iters, None)
        assert(n === m)
        sameFrame(got, want, s"hits iters=$iters")
      }
      val seed = Graph.hits(graph16, "src", "dst", 1)
        .select("node", "hub_fx")
      sameFrame(Graph.hitsWarm(graph16, "src", "dst", 2, seed),
        hitsWitness(graph16, "src", "dst", 2, Some(seed))._1, "warm")
    }
  }

  test("hits: an empty edge list gives no rows and the witness schema") {
    failAfter(limit) {
      val e = Seq.empty[(Long, Long)].toDF("src", "dst")
      val got = Graph.hits(e, "src", "dst", 2)
      assert(got.isEmpty)
      sameFrame(got, hitsWitness(e, "src", "dst", 2, None)._1, "empty")
    }
  }

  test("prefix sums: empty, single-value and wide inputs equal the " +
      "witnesses (no observed range falls back to width 4096)") {
    failAfter(limit) {
      val empty = counts(0)
      val single = Seq((7L, 3L)).toDF("v", "c")
      val wide = Seq((-5000000000L, 2L), (0L, 1L), (3L, 4L),
        (9000000000L, 5L)).toDF("v", "c")
      // the fixture's values spread 10^4 apart: ~50 of the auto grid's
      // 4096-wide buckets, so the in-bucket sums and the bucket offsets
      // both carry
      val sparse = counts(50).withColumn("v", col("v") * 10000L)
      assert(bucketsOccupied(sparse) > 1)
      assert(bucketsOccupied(wide) > 1)
      for ((name, df) <- Seq("empty" -> empty, "single" -> single,
          "wide" -> wide, "fixture" -> counts(50), "sparse" -> sparse)) {
        val flat = Stats.cumBelowByValue(df, Nil, "v", Seq("c"))
        sameFrame(flat, cumBelowWitness(df, "v", Seq("c")), s"flat $name")
        val g = df.withColumn("g", lit("x"))
        val keyed = Stats.cumBelowByValue(g, Seq("g"), "v", Seq("c"))
        sameFrame(keyed, cumBelowGroupedWitness(g, Seq("g"), "v", Seq("c")),
          s"grouped $name")
        // one constant key: the keyed plan (bucket offsets by a window
        // per key) gives the unkeyed plan's rows (driver-folded offsets)
        assert(keyed.columns.toSeq === "g" +: flat.columns.toSeq)
        sameRows(keyed.drop("g"), flat, s"keyed ≡ unkeyed $name")
      }
      sameFrame(Stats.cumBelowByValue(groupedCounts, Seq("g"), "v",
          Seq("c")),
        cumBelowGroupedWitness(groupedCounts, Seq("g"), "v", Seq("c")),
        "grouped fixture")
    }
  }

  test("curriculumOrder: a null group key is not counted as a group " +
      "and the order equals the witness") {
    failAfter(limit) {
      // groups s0, s1, s2 and null: three non-null groups fit
      // maxGroups = 3 only if the null key is left out
      sameFrame(Corpus.curriculumOrder(docs, "src", "id", "score", 3),
        curriculumWitness(docs, "src", "id", "score", 3), "null key")
      val e = intercept[IllegalArgumentException](
        Corpus.curriculumOrder(docs, "src", "id", "score", 2))
      assert(e.getMessage.contains("saw 3 groups"))
      val none = docs.limit(0)
      sameFrame(Corpus.curriculumOrder(none, "src", "id", "score"),
        curriculumWitness(none, "src", "id", "score", 4096), "empty")
    }
  }

  test("selectByBudget, mixtureWeights, mmrSelect and clusters equal " +
      "the witnesses, on the fixtures and on empty input") {
    failAfter(limit) {
      val none = docs.limit(0)
      for ((name, d) <- Seq("docs" -> docs, "empty" -> none);
           budget <- Seq(0L, 60L)) {
        sameFrame(Corpus.selectByBudget(d, "id", "score", "text", budget),
          selectByBudgetWitness(d, "id", "score", "text", budget),
          s"budget $name $budget")
      }
      sameFrame(Corpus.mixtureWeights(docs, "src", "text"),
        mixtureWitness(docs, "src", "text"), "mixture")
      val got = intercept[IllegalArgumentException](
        Corpus.mixtureWeights(none, "src", "text")).getMessage
      val want = intercept[IllegalArgumentException](
        mixtureWitness(none, "src", "text")).getMessage
      assert(got === want)
      assert(got.contains("mixtureWeights needs a non-empty corpus"))
      for ((name, v) <- Seq("vecs" -> vecs, "empty" -> vecs.limit(0));
           k <- Seq(1, 4, 20)) {
        sameFrame(Similarity.mmrSelect(v, "id", "vec", "rel", k, 0.6),
          mmrWitness(v, "id", "vec", "rel", k, 0.6), s"mmr $name k=$k")
      }
      val tooMany = intercept[IllegalArgumentException](
        Similarity.mmrSelect(vecs, "id", "vec", "rel", 2, 0.5, 5L))
      assert(tooMany.getMessage.contains("got 12 candidates > 5"))
      val noPairs = pairs.limit(0)
      for ((name, p) <- Seq("pairs" -> pairs, "empty" -> noPairs);
           gate <- Seq(0L, 2000000L)) {
        sameFrame(Dedup.clusters(docIds, "id", p, maxDriverPairs = gate),
          clustersWitness(docIds, "id", p, 20, gate),
          s"clusters $name gate=$gate")
      }
      sameFrame(Dedup.clusters(docIds.limit(0), "id", noPairs),
        clustersWitness(docIds.limit(0), "id", noPairs, 20, 2000000L),
        "clusters, no docs")
    }
  }

  // ---- parity witnesses: the bodies that probed after checkpointing ----

  private def hitsWitness(edges: DataFrame, srcCol: String,
                          dstCol: String, iters: Int,
                          seedOpt: Option[DataFrame]): (DataFrame, Int) = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val PrScale = Graph.PrScale
    val e = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .persist(MEMORY_AND_DISK)
    val nodes = e.select(col("__src").as("node"))
      .union(e.select(col("__dst").as("node"))).distinct()
      .persist(MEMORY_AND_DISK)
    def normalize(raw0: DataFrame, keyCol: String, out: String) = {
      val raw = raw0.persist(MEMORY_AND_DISK)
      val totRow = raw.agg(sum(col("__raw"))).head
      val tot = if (totRow.isNullAt(0)) 0L else totRow.getLong(0)
      val divisor = math.max(tot / PrScale, 1L)
      nodes.join(raw, col("node") === col(keyCol), "left_outer")
        .select(col("node"),
          expr(s"coalesce(__raw, 0L) div ${divisor}L").as(out))
        .localCheckpoint()
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
      auth = normalize(aRaw, "__dst", "auth_fx")
      val hRaw = e.join(auth, col("__dst") === col("node"))
        .groupBy(col("__src")).agg(sum(col("auth_fx")).as("__raw"))
      hub = normalize(hRaw, "__src", "hub_fx")
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

  private def cumBelowWitness(grouped: DataFrame, valCol: String,
                              sumCols: Seq[String]): DataFrame = {
    val base = grouped.localCheckpoint()
    val r = base.agg(min(col(valCol).cast(LongType)),
      max(col(valCol).cast(LongType))).head()
    val width: Long =
      if (r.isNullAt(0)) 4096L
      else {
        val range = r.getLong(1).toDouble - r.getLong(0).toDouble + 1
        math.max(4096L, math.ceil(range / (1 << 20)).toLong)
      }
    val bkt = base.withColumn("__bkt",
      expr(s"(cast($valCol as long) - pmod(cast($valCol as long), " +
        s"${width}L)) div ${width}L"))
    val w = Window.partitionBy(col("__bkt")).orderBy(col(valCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withIn = sumCols.foldLeft(bkt)((d, c) =>
      d.withColumn(s"__in_$c", sum(col(c)).over(w)))
    val totals = bkt.groupBy(col("__bkt"))
      .agg(sum(col(sumCols.head)).as(sumCols.head),
        sumCols.tail.map(c => sum(col(c)).as(c)): _*)
      .orderBy(col("__bkt"))
      .collect()
    val accs = Array.fill(sumCols.size)(0L)
    val offRows = totals.map { row =>
      val offs = accs.toSeq
      sumCols.indices.foreach(i => accs(i) += row.getLong(i + 1))
      Row.fromSeq(row.getLong(0) +: offs)
    }
    val sp = grouped.sparkSession
    val offSchema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("__bkt", LongType) +:
        sumCols.map(c => org.apache.spark.sql.types.StructField(
          s"__off_$c", LongType)))
    val offsets = sp.createDataFrame(
      sp.sparkContext.parallelize(offRows.toSeq, 1), offSchema)
    sumCols.foldLeft(withIn.join(broadcast(offsets), "__bkt")) {
      (d, c) =>
        d.withColumn(s"cum_$c",
          col(s"__off_$c") + col(s"__in_$c") - col(c))
          .drop(s"__in_$c", s"__off_$c")
    }.drop("__bkt")
  }

  private def cumBelowGroupedWitness(grouped: DataFrame,
                                     groupCols: Seq[String],
                                     valCol: String,
                                     sumCols: Seq[String]): DataFrame = {
    val base = grouped.localCheckpoint()
    val r = base.agg(min(col(valCol).cast(LongType)),
      max(col(valCol).cast(LongType))).head()
    val width: Long =
      if (r.isNullAt(0)) 4096L
      else {
        val range = r.getLong(1).toDouble - r.getLong(0).toDouble + 1
        math.max(4096L, math.ceil(range / (1 << 20)).toLong)
      }
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
    val totW = Window.partitionBy(gcols: _*).orderBy(col("__bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sumCols.foldLeft(
        bkt.groupBy(gcols :+ col("__bkt"): _*)
          .agg(sum(col(sumCols.head)).as(s"__t_${sumCols.head}"),
            sumCols.tail.map(c => sum(col(c)).as(s"__t_$c")): _*))(
        (d, c) => d.withColumn(s"__off_$c",
          coalesce(sum(col(s"__t_$c")).over(totW), lit(0L))))
      .select(gcols ++ (col("__bkt") +:
        sumCols.map(c => col(s"__off_$c"))): _*)
    sumCols.foldLeft(
        withIn.join(offsets, groupCols :+ "__bkt")) { (d, c) =>
      d.withColumn(s"cum_$c", col(s"__off_$c") + col(s"__in_$c"))
        .drop(s"__in_$c", s"__off_$c")
    }.drop("__bkt")
  }

  private def curriculumWitness(df: DataFrame, groupCol: String,
                                idCol: String, scoreCol: String,
                                maxGroups: Int): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(scoreCol).desc, col(idCol))
    val ranked = df
      .withColumn("grp_rank", row_number().over(w).cast("long"))
      .localCheckpoint()
    val head = ranked
      .agg(max(col("grp_rank")), countDistinct(col(groupCol))).head()
    if (head.isNullAt(0))
      return ranked.withColumn("global_pos", lit(0L))
    val maxN = head.getLong(0)
    val nGroups = head.getLong(1)
    require(nGroups <= maxGroups)
    val width = math.max(1L, (maxN + maxGroups - 1) / maxGroups)
    val bucketed = ranked.withColumn("__bucket",
      expr(s"(grp_rank - 1L) div ${width}L"))
    val sizes = bucketed.groupBy(col("__bucket"))
      .agg(count(lit(1)).as("__n")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val offsets = sizes.scanLeft((0L, 0L)) {
      case ((_, acc), (b, n)) => (b, acc + n)
    }.init.zip(sizes).map { case ((_, off), (b, _)) => (b, off) }
    val offsetsDf = offsets.toSeq.toDF("__bucket", "__offset")
    val wb = Window.partitionBy(col("__bucket"))
      .orderBy(col("grp_rank"), col(groupCol))
    bucketed.join(broadcast(offsetsDf), Seq("__bucket"))
      .withColumn("global_pos",
        col("__offset") + row_number().over(wb).cast("long") - 1L)
      .drop("__bucket", "__offset")
  }

  private def selectByBudgetWitness(docs: DataFrame, idCol: String,
                                    scoreCol: String, textCol: String,
                                    budget: Long,
                                    bands: Int = 100): DataFrame = {
    val base = Par.fanOut(docs).select(col(idCol),
        col(scoreCol).cast("long").as("__s"),
        size(TextFns.toks(col(textCol))).cast("long").as("__n"))
      .localCheckpoint()
    val mm = base.agg(
      min(col("__s")), max(col("__s")),
      min(col(idCol).cast("long")), max(col(idCol).cast("long")),
      sum(when(col("__s").isNull || col(idCol).isNull, 1L)
        .otherwise(0L)),
      count(lit(1))).head()
    if (mm.getLong(5) == 0L)
      return base.select(col(idCol), col("__s").as(scoreCol),
        lit(0L).as("band"), col("__n").as("n_tokens"),
        lit(0L).as("cum_tokens"), lit(false).as("kept"))
    require(mm.getLong(4) == 0L)
    val (sLo, sHi) = (mm.getLong(0), mm.getLong(1))
    val sRange = sHi - sLo + 1
    val band = expr(s"((__s - $sLo) * $bands) div $sRange").cast("long")
    val idRange = mm.getLong(3).toDouble - mm.getLong(2).toDouble + 1
    val effChunk: Long = math.max(4096L,
      math.ceil(idRange / math.max(1, (1 << 20) / bands)).toLong)
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
    val offsets = offRows.toDF("__band", "__chk", "__off")
    cumIn.join(broadcast(offsets), Seq("__band", "__chk"))
      .select(col(idCol), col("__s").as(scoreCol),
        col("__band").as("band"), col("__n").as("n_tokens"),
        (col("__off") + col("__cum")).as("cum_tokens"))
      .withColumn("kept", col("cum_tokens") <= budget)
  }

  private def mixtureWitness(docs: DataFrame, groupCol: String,
                             textCol: String): DataFrame = {
    import graft.functions.Cols.fxSum
    val grp = Par.fanOut(docs)
      .select(col(groupCol),
        size(TextFns.toks(col(textCol))).cast("long").as("__nt"))
      .groupBy(col(groupCol)).agg(sum(col("__nt")).as("n_tokens"))
      .localCheckpoint()
    val inv = lit(1.0) / col("n_tokens").cast("double")
    val dRow = grp.agg(fxSum(inv, 1e12)).head()
    require(!dRow.isNullAt(0), "mixtureWeights needs a non-empty corpus")
    val denom = dRow.getLong(0).toDouble / 1e12
    grp.select(col(groupCol), col("n_tokens"),
      (inv / lit(denom)).as("weight"))
  }

  private def mmrWitness(items: DataFrame, idCol: String, vecCol: String,
                         scoreCol: String, k: Int,
                         lambda: Double): DataFrame = {
    var cand = items.select(col(idCol).as("id"), col(vecCol).as("vec"),
        col(scoreCol).cast("double").as("rel"),
        lit(0.0).as("max_sim"))
      .localCheckpoint()
    val n = cand.count()
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

  private def clustersWitness(docs: DataFrame, idCol: String,
                              pairs: DataFrame, maxIter: Int,
                              maxDriverPairs: Long): DataFrame = {
    val pc = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .localCheckpoint()
    val longIds = docs.schema(idCol).dataType == LongType &&
      pc.schema.fields.forall(_.dataType == LongType)
    if (longIds && pc.count() <= maxDriverPairs)
      return clustersDriverWitness(docs, idCol, pc)
    val edges = pc
      .union(pc.select(col("dst").as("src"), col("src").as("dst")))
    var labels = edges.select(col("src").as("id")).distinct()
      .join(docs.select(col(idCol).as("id")), Seq("id"), "left_semi")
      .withColumn("cluster_id", col("id")).localCheckpoint()
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val v = df.agg(
        sum(col("cluster_id").cast(DecimalType(38, 0)))).head()
      if (v.isNullAt(0)) java.math.BigDecimal.ZERO else v.getDecimal(0)
    }
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "dst2"),
          col("dst") === col("dst2"))
        .groupBy(col("src")).agg(min(col("cluster_id")).as("nmin"))
      val next = labels
        .join(neighborMin, labels("id") === neighborMin("src"), "left")
        .select(col("id"),
          least(col("cluster_id"),
            coalesce(col("nmin"), col("cluster_id"))).as("cluster_id"))
        .localCheckpoint()
      val nextSum = labelSum(next)
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      labels = next
      iter += 1
    }
    docs.select(col(idCol))
      .join(labels.withColumnRenamed("id", "__eid"),
        col(idCol) === col("__eid"), "left")
      .select(col(idCol),
        coalesce(col("cluster_id"), col(idCol)).as("cluster_id"))
  }

  private def clustersDriverWitness(docs: DataFrame, idCol: String,
                                    pc: DataFrame): DataFrame = {
    val raw = pc.as[(Long, Long)].collect()
    val valid = pc.select(col("src").as("id"))
      .union(pc.select(col("dst").as("id"))).distinct()
      .join(docs.select(col(idCol).as("id")), Seq("id"), "left_semi")
      .as[Long].collect().toSet
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    raw.foreach { case (a, b) =>
      if (valid.contains(a) && valid.contains(b)) {
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val ra = find(a); val rb = find(b)
        if (ra < rb) parent(rb) = ra
        else if (rb < ra) parent(ra) = rb
      }
    }
    val labels = valid.toSeq
      .map(id => (id, if (parent.contains(id)) find(id) else id))
    docs.select(col(idCol))
      .join(broadcast(labels.toDF("__eid", "cluster_id")),
        col(idCol) === col("__eid"), "left")
      .select(col(idCol),
        coalesce(col("cluster_id"), col(idCol)).as("cluster_id"))
  }
}
