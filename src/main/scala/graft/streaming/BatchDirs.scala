package graft.streaming

import java.io.{FileNotFoundException, IOException}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** The one owner of the `batch=<id>` store layout behind every
  * owned-by-path streaming store (the [[SumStore]] partials, the
  * [[StreamingSeen]] membership store, the near-dedup MinHash index,
  * the incremental-ANN postings): each micro-batch OVERWRITES its own
  * `batch=<id>` directory, so an at-least-once redelivery rewrites
  * identical bytes instead of appending twice.
  *
  * Maintenance merges IN PLACE under the store root ([[compactInPlace]]):
  * every directory with id ≤ u (including prior merges, which live at
  * negative ids) is rewritten into one `batch=-(u+1)` target, then the
  * covered sources are deleted. At a 5 s trigger a store grows ~17k
  * directories/day, and join planning degrades with file count long
  * before data size matters. The root itself is never renamed or
  * replaced.
  *
  * Readers see the EFFECTIVE directories ([[read]]): the newest merge
  * target `batch=-(u+1)` (greatest u) plus every directory above u.
  * Everything else — older targets, a crashed merge's surviving
  * sources, a batch replayed after a merge already absorbed it — sits
  * at or below u and is hidden, so:
  *
  *  - a crash BETWEEN a merge's publish rename and its source deletes
  *    changes nothing a reader sees: no duplicated row, no double
  *    count; re-running the merge only deletes the hidden sources;
  *  - a batch replayed after a merge absorbed it re-creates a
  *    directory at or below u and is ignored, never counted twice;
  *  - a CONCURRENT live stream's APPENDS are safe: they land at batch
  *    ids > u (ids the checkpoint has not committed yet) and are never
  *    read or deleted by the merge. Its READS are not: a micro-batch
  *    that planned its scan before the merge's deletes fails mid-job
  *    with missing-file errors when they land (the stream's retry
  *    replans and heals, at the cost of a failed attempt). Run merges
  *    in a maintenance window — between micro-batches, or with the
  *    stream stopped.
  *
  * `u` must be a batch id the streaming checkpoint has COMMITTED when
  * the stream keeps running: the one batch that can still replay after
  * a crash must keep its own directory, or its replay's self-exclusion
  * (`excludeBatch`) would stop seeing it. The staging write is
  * dot-prefixed (invisible to listing) and the publish is one rename,
  * so the store is never missing or partial.
  */
private[streaming] object BatchDirs {

  private val Prefix = "batch="

  /** A store's directory for batch `id`. */
  def dirOf(rootPath: String, id: Long): Path =
    new Path(rootPath, s"$Prefix$id")

  /** The target directory of a merge covering every id ≤ `upToBatch`. */
  def targetOf(rootPath: String, upToBatch: Long): Path =
    dirOf(rootPath, -(upToBatch + 1))

  /** Land one batch's rows in its own directory, owned-by-path. */
  def write(df: DataFrame, rootPath: String, batchId: Long): Unit =
    df.write.mode(SaveMode.Overwrite)
      .parquet(dirOf(rootPath, batchId).toString)

  private def fsOf(spark: SparkSession, root: Path): FileSystem =
    root.getFileSystem(spark.sessionState.newHadoopConf())

  /** The store's `batch=<id>` directories as (id, path); other names
    * (dot-prefixed staging, non-numeric ids) are ignored.
    */
  def listBatchIds(fs: FileSystem, root: Path): Seq[(Long, Path)] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter(_.getName.startsWith(Prefix))
      .flatMap(p => p.getName.stripPrefix(Prefix).toLongOption
        .map(_ -> p))

  /** The newest merge target's u, read from its `batch=-(u+1)` name.
    * The seed directory `batch=Long.MinValue` ([[StreamingKnn]]'s
    * initial build) is a coverable source, never a target.
    */
  private def watermark(ids: Seq[Long]): Option[Long] =
    ids.filter(t => t < 0 && t != Long.MinValue)
      .map(t => -(t + 1)).maxOption

  private def effective(dirs: Seq[(Long, Path)]): Seq[(Long, Path)] =
    watermark(dirs.map(_._1)).fold(dirs) { u =>
      dirs.filter { case (id, _) => id == -(u + 1) || id > u }
    }

  /** The store's effective rows (see the class doc), minus
    * `excludeBatch`'s own directory — the replay-stable read for a
    * micro-batch that consults the store before overwriting its own
    * directory. `None` when the store is absent or nothing is left to
    * read. A root set aside by a crashed whole-root swap (the fold
    * protocol before in-place merges) is restored first.
    */
  def read(spark: SparkSession, rootPath: String,
           excludeBatch: Option[Long] = None): Option[DataFrame] = {
    val root = new Path(rootPath)
    val fs = fsOf(spark, root)
    Sinks.recoverStore(fs, root)
    val dirs = effective(listBatchIds(fs, root))
      .filterNot { case (id, _) => excludeBatch.contains(id) }
    if (dirs.isEmpty) None
    else Some(spark.read.parquet(dirs.map(_._2.toString): _*))
  }

  /** [[read]] for a store that must hold rows. */
  def readAll(spark: SparkSession, rootPath: String,
              excludeBatch: Option[Long] = None): DataFrame =
    read(spark, rootPath, excludeBatch).getOrElse(
      throw new FileNotFoundException(
        s"no batch directories under $rootPath"))

  /** Merge as described in the class doc; `project` shapes (or folds)
    * the store's rows. Re-running after any crash completes the
    * merge: a surviving staging dir is discarded, an already-published
    * target flips the call to cleanup-only. No-op when the store does
    * not exist or at most one effective directory is covered.
    */
  def compactInPlace(spark: SparkSession, rootPath: String,
                     upToBatch: Long,
                     project: DataFrame => DataFrame): Unit = {
    // -(Long.MaxValue + 1) would overflow to Long.MinValue — exactly
    // StreamingKnn's seed-directory id. Real batch ids are
    // checkpoint-assigned small longs; reject the boundary instead of
    // corrupting the store.
    require(upToBatch < Long.MaxValue,
      "upToBatch must be a committed batch id, not Long.MaxValue")
    val root = new Path(rootPath)
    val fs = fsOf(spark, root)
    val target = targetOf(rootPath, upToBatch)
    val dirs = listBatchIds(fs, root)
    // compare by name: listed paths are scheme-qualified, target is not
    val sources = dirs.filter(_._1 <= upToBatch).map(_._2)
      .filterNot(_.getName == target.getName)
    if (fs.exists(target)) {
      // a prior merge to this same target crashed after its publish
      // rename: only the source cleanup remains
      sources.foreach(fs.delete(_, true))
    } else {
      val live = effective(dirs).filter(_._1 <= upToBatch).map(_._2)
      if (live.size > 1) {
        val tmp = new Path(root, ".__merge_tmp")
        fs.delete(tmp, true) // stale staging from a crash mid-write
        project(spark.read.parquet(live.map(_.toString): _*))
          .write.mode(SaveMode.Overwrite)
          .parquet(tmp.toString)
        if (!fs.rename(tmp, target))
          throw new IOException(s"store merge: cannot publish $target")
        sources.foreach(fs.delete(_, true))
      }
    }
  }

  /** [[compactInPlace]] up to the greatest batch id the store holds or
    * has absorbed (the newest target's u or a later directory's id):
    * with the writing stream STOPPED, folds everything. Re-running with
    * no newer batch only deletes hidden directories.
    */
  def compactAll(spark: SparkSession, rootPath: String,
                 project: DataFrame => DataFrame): Unit = {
    val root = new Path(rootPath)
    val ids = listBatchIds(fsOf(spark, root), root).map(_._1)
    (watermark(ids) ++ ids.filter(_ >= 0)).maxOption
      .foreach(compactInPlace(spark, rootPath, _, project))
  }
}
