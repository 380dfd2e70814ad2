package graft.streaming

import graft.operators.Similarity
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Streaming twin of the incremental-ANN serving stack
  * ([[Similarity.ivfIndex]] / [[Similarity.ivfAppend]] /
  * [[Similarity.knnAgainstIndex]]) — the 100 TB embedding-INGESTION
  * pipeline as a foreachBatch sink: the IVF index is built ONCE over
  * the resident corpus ([[initIndex]] — centroids parquet + a
  * postings store), then every micro-batch of new vectors (a) probes
  * the index for its top-k neighbors over everything landed so far
  * and (b) files its own postings under the FIXED centroids — so the
  * corpus is never re-scanned, per-batch cost is |batch| ×
  * |centroids| assignment plus the cell-keyed probe equi-join, and
  * batch N+1 automatically retrieves against batches 1..N. The same
  * shape serves near-duplicate screening ("what do we already hold
  * that looks like this?") and retrieval-index freshness.
  *
  * Replay safety (the [[StreamingNearDedup]] contract): both the
  * neighbor output and the postings append land in the batch's own
  * [[BatchDirs]] directories with overwrite, and the probe reads the
  * postings store EXCLUDING its own batch id — a batch replayed after
  * a crash rewrites its directories byte-identically instead of
  * double-appending or self-matching against its pre-crash postings.
  *
  * Centroids stay fixed forever by design (re-seeding would silently
  * re-cluster the store); monitor cell skew with
  * [[Similarity.ivfStats]] over the grown store and re-seed OFFLINE
  * via [[Similarity.ivfRebalance]] + an atomic store swap when the
  * load ratio drifts past the probe budget.
  */
object StreamingKnn {

  /** The initial build's postings directory id: far below any merge
    * target id `-(upToBatch+1)`, so [[BatchDirs]] never mistakes the
    * seed directory for a merge target, and below every live batch id
    * so it is never excluded by a replay filter.
    */
  private[streaming] val InitBatch = Long.MinValue

  /** Deterministic postings dedup by id — the rebalance healing step
    * (the rebalance re-files EVERY directory, hidden ones included).
    * [[knnSink]]'s contract is that `neighbor_id` is unique across the
    * stream (an id re-ingested with a DIFFERENT vector is an upstream
    * bug — the store is append-only and cannot represent both), but
    * healing must not depend on it: when duplicates carry distinct
    * payloads this keeps, per id, the row with the MINIMUM struct over
    * the remaining columns (array ordering is lexicographic), so the
    * result never depends on partitioning, unlike `dropDuplicates(id)`
    * which picks an arbitrary row per run.
    */
  private[streaming] def dedupPostingsById(df: DataFrame): DataFrame = {
    val others = df.columns.filter(_ != "neighbor_id").toSeq
    df.groupBy(col("neighbor_id"))
      .agg(min(struct(others.map(col): _*)).as("__row"))
      .select(col("neighbor_id") +:
        others.map(c => col(s"__row.$c").as(c)): _*)
  }

  /** Build the index over the resident corpus and persist it:
    * centroids at `centroidsPath`, postings in the [[InitBatch]]
    * directory under `postingsPath`. Must run once before the sink
    * starts; the corpus must be non-empty (the seeds ARE the first
    * `cells` vectors).
    */
  def initIndex(corpus: DataFrame, idCol: String, vecCol: String,
                centroidsPath: String, postingsPath: String,
                cells: Int = 16): Unit = {
    val ix = Similarity.ivfIndex(corpus, idCol, vecCol, cells)
    ix.centroids.write.mode("overwrite").parquet(centroidsPath)
    BatchDirs.write(ix.postings, postingsPath, InitBatch)
  }

  /** The persisted index as [[Similarity.IvfIndexFrames]].
    * `excludeBatch` drops one batch directory: a REPLAYED micro-batch
    * must not probe its own pre-crash postings append. The probe is a
    * top-k heap ([[Similarity.topK]] keeps duplicates as separate
    * entries), so it relies on the effective-directory read: a
    * [[compactPostings]] crash between its publish rename and its
    * source deletes leaves the surviving sources hidden, never
    * duplicated next to the merge target.
    */
  private[streaming] def readIndex(spark: SparkSession,
                                   centroidsPath: String,
                                   postingsPath: String,
                                   excludeBatch: Option[Long] = None)
      : Similarity.IvfIndexFrames =
    Similarity.IvfIndexFrames(
      spark.read.parquet(centroidsPath),
      BatchDirs.readAll(spark, postingsPath, excludeBatch)
        .select(col("neighbor_id"), col("cv"), col("cell")))

  /** One micro-batch: probe then append from ONE fused cell
    * assignment ([[Similarity.knnAndAppend]] — the assignment is the
    * dominant per-batch CPU, and the two one-shot operators would
    * compute it twice; outputs are spec-pinned identical to
    * `knnAgainstIndex` + `ivfAppend`). Probe writes first: a crash
    * between the writes leaves a neighbor output whose replay
    * overwrites it byte-identically, and the probe's exclusion
    * filter already hides this batch's postings directory either
    * way.
    */
  private[streaming] def processBatch(batch: DataFrame, bid: Long,
                                      idCol: String, vecCol: String,
                                      centroidsPath: String,
                                      postingsPath: String,
                                      outPath: String,
                                      k: Int, nProbe: Int): Unit = {
    val spark = batch.sparkSession
    val ix = readIndex(spark, centroidsPath, postingsPath,
      excludeBatch = Some(bid))
    Similarity.knnAndAppend(ix, batch, idCol, vecCol, k, nProbe) {
      (neighbors, appended) =>
        BatchDirs.write(neighbors, outPath, bid)
        BatchDirs.write(appended, postingsPath, bid)
    }
  }

  /** Attach the probe-and-append sink to a streaming vector frame.
    * Per batch: top-`k` neighbors of each vector against everything
    * landed so far, in the batch's own directory under `outPath`; the
    * batch's own postings in its directory under `postingsPath`.
    * `idCol` must be a bigint and UNIQUE across the stream — the
    * store is append-only, so re-ingesting an id with a different
    * vector cannot be represented; the rebalance resolves duplicates
    * deterministically ([[dedupPostingsById]]) but the second vector
    * is lost by contract. [[initIndex]] must have run against the
    * same paths.
    */
  def knnSink(vecs: DataFrame, idCol: String, vecCol: String,
              centroidsPath: String, postingsPath: String,
              outPath: String, checkpoint: String,
              k: Int = 5, nProbe: Int = 4,
              trigger: Trigger = Trigger.ProcessingTime("5 seconds"))
      : DataStreamWriter[Row] =
    vecs.writeStream
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        processBatch(batch, bid, idCol, vecCol, centroidsPath,
          postingsPath, outPath, k, nProbe)
      }

  /** Merge the per-micro-batch postings directories — the
    * [[BatchDirs.compactInPlace]] in-place maintenance merge (see its
    * scaladoc for the concurrency/crash-safety contract) with this
    * store's row shape.
    */
  def compactPostings(spark: SparkSession, postingsPath: String,
                      upToBatch: Long): Unit =
    BatchDirs.compactInPlace(spark, postingsPath, upToBatch,
      _.select(col("neighbor_id"), col("cv"), col("cell")))

  /** Cell-balance report over the LIVE store —
    * [[Similarity.ivfStats]] on the persisted index: the skew monitor
    * the append-only streaming design needs, because [[knnSink]]
    * files every batch under FIXED centroids forever and months of
    * micro-batch appends drift the cell sizes (and with them the
    * probe cost) silently. Alert on `max(load_ratio)` and run
    * [[rebalanceSwap]] when it crosses the probe-latency budget —
    * [[maintainIndex]] wires the two together.
    */
  def storeStats(spark: SparkSession, centroidsPath: String,
                 postingsPath: String): org.apache.spark.sql.DataFrame =
    Similarity.ivfStats(readIndex(spark, centroidsPath, postingsPath))

  /** Re-seed and re-file the ENTIRE persisted store — the
    * skew-repair maintenance operation for a [[knnSink]] store, with
    * the exact [[Similarity.ivfRebalance]] contract: the rebuilt
    * index equals a fresh [[Similarity.ivfIndex]] over everything
    * ever ingested (the postings ARE the corpus; duplicates from a
    * crashed merge are healed by id first). Directory layout after
    * the swap:
    *
    *  - every directory with id ≤ `upToBatch` (a COMMITTED batch id —
    *    the [[compactPostings]] contract) merges into ONE re-filed
    *    merge-target directory ([[BatchDirs.targetOf]]);
    *  - every LATER directory (an uncommitted batch that may still
    *    replay) is re-filed IN PLACE under its own id, so a replayed
    *    batch's `excludeBatch` pruning keeps working across the swap
    *    — and the replay itself overwrites the dir with the same
    *    vectors re-assigned under the new centroids, converging to
    *    the identical store;
    *  - the centroid table is replaced last.
    *
    * MAINTENANCE WINDOW ONLY (the [[BatchDirs.compactInPlace]]
    * read-path contract, which this operation widens to the centroid
    * table): run it between micro-batches or with the stream
    * stopped. The live store stays fully intact until the staging
    * writes complete (phase A — all dot-prefixed, invisible to
    * readers; in-flight probes keep reading the old store), then the
    * publish (phase B) replaces directories by rename. A crash
    * anywhere is healed by RE-RUNNING with the same arguments:
    * before the commit marker (the staged-centroids rename) phase A
    * simply re-runs against the untouched live store; after it,
    * phase B's per-directory publishes are existence-guarded and
    * complete without recomputation.
    */
  def rebalanceSwap(spark: SparkSession, centroidsPath: String,
                    postingsPath: String, upToBatch: Long,
                    cells: Int = -1, refineIters: Int = 0,
                    refineFraction: Double = 1.0): Unit = {
    require(upToBatch < Long.MaxValue,
      "upToBatch must be a committed batch id, not Long.MaxValue")
    val root = new org.apache.hadoop.fs.Path(postingsPath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val cLive = new org.apache.hadoop.fs.Path(centroidsPath)
    val cParent = cLive.getParent
    val cStage = new org.apache.hadoop.fs.Path(cParent,
      "." + cLive.getName + "__rebal_stage")
    val cCommit = new org.apache.hadoop.fs.Path(cParent,
      "." + cLive.getName + "__rebal_commit")
    def batchDirs(): Seq[(Long, org.apache.hadoop.fs.Path)] =
      BatchDirs.listBatchIds(fs, root)
    def stageOf(name: String) =
      new org.apache.hadoop.fs.Path(root, ".__rebal_" + name)
    if (!fs.exists(cCommit)) {
      // ---- phase A: stage everything; the live store is untouched.
      // Any surviving `.__rebal_*` staging first DELETES (the
      // BatchDirs stale-`.__merge_tmp` rule): it belongs to a run
      // that crashed BEFORE its commit rename, was filed under
      // never-committed centroids, and phase B would otherwise
      // resurrect it — publishing rows whose cell ids match no live
      // centroid table.
      fs.listStatus(root).toSeq.map(_.getPath)
        .filter(_.getName.startsWith(".__rebal_"))
        .foreach(fs.delete(_, true))
      val dirs = batchDirs()
      require(dirs.nonEmpty, s"no postings directories under $postingsPath")
      val all = dedupPostingsById( // heal a crashed-merge window
        spark.read.parquet(dirs.map(_._2.toString): _*)
          .select(col("neighbor_id"), col("cv")))
      // the rebuild IS Similarity.ivfRebalance over the live store
      // (store = corpus, default cells = the live centroid count);
      // refineIters > 0 is the lever that actually SPLITS a hot cell
      // (deterministic re-seeding alone re-files under id-order
      // seeds, which a near-constant ingest stream still collapses
      // onto); refineIters = 0 keeps the rebalance ≡ fresh-ivfIndex
      // parity the spec pins
      val ix = Similarity.ivfRebalance(
        Similarity.IvfIndexFrames(
          spark.read.parquet(centroidsPath), all),
        cells, refineIters, refineFraction)
      ix.centroids.write.mode("overwrite").parquet(cStage.toString)
      val cents = spark.read.parquet(cStage.toString)
      // re-filing is ivfAppend under the staged centroids (postings
      // frame unused by append — the empty frame keeps the contract
      // visible)
      def refile(src: Seq[org.apache.hadoop.fs.Path], stage: String): Unit =
        Similarity.ivfAppend(
            Similarity.IvfIndexFrames(cents, cents.limit(0)),
            dedupPostingsById(
              spark.read.parquet(src.map(_.toString): _*)
                .select(col("neighbor_id"), col("cv"))),
            "neighbor_id", "cv")
          .write.mode("overwrite").parquet(stageOf(stage).toString)
      val (covered, later) = dirs.partition(_._1 <= upToBatch)
      if (covered.nonEmpty) refile(covered.map(_._2), "merged")
      later.foreach { case (b, p) => refile(Seq(p), s"b_$b") }
      // ---- commit marker: one rename; phase B is now inevitable
      if (!fs.rename(cStage, cCommit))
        throw new java.io.IOException(s"rebalance: cannot commit $cCommit")
    }
    // ---- phase B: publish by rename, each step existence-guarded so
    // a re-run after any crash completes without recomputation
    val mergedStage = stageOf("merged")
    if (fs.exists(mergedStage)) {
      batchDirs().filter(_._1 <= upToBatch)
        .foreach { case (_, p) => fs.delete(p, true) }
      val target = BatchDirs.targetOf(postingsPath, upToBatch)
      if (!fs.rename(mergedStage, target))
        throw new java.io.IOException(s"rebalance: cannot publish $target")
    }
    fs.listStatus(root).toSeq.map(_.getPath)
      .filter(_.getName.startsWith(".__rebal_b_"))
      .foreach { st =>
        val b = st.getName.stripPrefix(".__rebal_b_")
        val live = BatchDirs.dirOf(postingsPath, b.toLong)
        fs.delete(live, true)
        if (!fs.rename(st, live))
          throw new java.io.IOException(s"rebalance: cannot publish $live")
      }
    fs.delete(cLive, true)
    if (!fs.rename(cCommit, cLive))
      throw new java.io.IOException(s"rebalance: cannot publish $cLive")
    ()
  }

  /** The closed maintenance loop: [[storeStats]] over the live store,
    * and past `maxLoadRatio` the [[rebalanceSwap]] (same maintenance-
    * window contract). Returns true when a swap ran. `maxLoadRatio`
    * is in [[Similarity.ivfStats]] units — 1.0 = perfectly uniform
    * cells; a probe of a cell at ratio L costs L× the uniform
    * estimate, so the threshold IS the probe-latency budget.
    */
  def maintainIndex(spark: SparkSession, centroidsPath: String,
                    postingsPath: String, upToBatch: Long,
                    maxLoadRatio: Double = 4.0,
                    cells: Int = -1, refineIters: Int = 0,
                    refineFraction: Double = 1.0): Boolean = {
    // a store with no postings rows aggregates max(load_ratio) to
    // null — "nothing to rebalance", not an NPE
    val row = storeStats(spark, centroidsPath, postingsPath)
      .agg(org.apache.spark.sql.functions.max(col("load_ratio")))
      .head()
    val worst = if (row.isNullAt(0)) Double.NegativeInfinity
                else row.getDouble(0)
    if (worst > maxLoadRatio) {
      rebalanceSwap(spark, centroidsPath, postingsPath, upToBatch,
        cells, refineIters, refineFraction)
      true
    } else false
  }
}
