package graft.streaming

import java.io.{FileNotFoundException, IOException}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** The one owner of the `batch=<id>` store layout behind every
  * owned-by-path streaming store: the [[Sinks]] serving tables, the
  * [[CdcSplit]] dim store, the [[StreamingSketch]] HLL registers, the
  * [[SumStore]] partials, the [[StreamingSeen]] membership store, the
  * near-dedup MinHash index and the incremental-ANN postings. Each
  * micro-batch OVERWRITES its own `batch=<id>` directory, keeping the
  * store's inner partitioning (`dt`, `table`, `__part`) below it, so an
  * at-least-once redelivery rewrites identical bytes instead of
  * appending a second copy.
  *
  * Maintenance merges IN PLACE under the store root ([[compactInPlace]]):
  * every directory with id ≤ u (including prior merges, which live at
  * negative ids) is rewritten into one `batch=-(u+1)` target, then the
  * covered sources are deleted. At a 5 s trigger a store grows ~17k
  * directories/day, and join planning degrades with file count long
  * before data size matters (past 32 directories a read's file listing
  * also runs as a Spark job). The root itself is never renamed or
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
  * A reader may briefly miss a batch's rows while a replay of that
  * batch overwrites its directory (the overwrite deletes before it
  * writes).
  *
  * `u` must be a batch id the streaming checkpoint has COMMITTED when
  * the stream keeps running: the one batch that can still replay after
  * a crash must keep its own directory, or its replay's self-exclusion
  * (`excludeBatch`) would stop seeing it. The staging write is
  * dot-prefixed (invisible to listing) and the publish is one rename,
  * so the store is never missing or partial.
  *
  * A root with no `batch=` directory at all is a PLAIN root (parquet
  * written by another tool) and reads whole. Any other data beside the
  * `batch=` directories, or in a root a batch is written or merged
  * into, comes from an older layout: it is not migrated, and the call
  * fails loudly rather than let the effective-set read hide its rows.
  */
private[graft] object BatchDirs {

  private val BatchCol = "batch"
  private val Prefix = s"$BatchCol="

  /** Rows of `dirs`, a subset of the root's batch directories. The
    * root is the partition-discovery base, so the partitioning below
    * each directory (`dt`, `table`, ...) comes back as columns; the
    * batch id itself is not one.
    */
  private def readDirs(spark: SparkSession, rootPath: String,
                       dirs: Seq[Path]): DataFrame =
    spark.read.option("basePath", rootPath)
      .parquet(dirs.map(_.toString): _*)
      .drop(BatchCol)

  /** A store's directory for batch `id`. */
  def dirOf(rootPath: String, id: Long): Path =
    new Path(rootPath, s"$Prefix$id")

  /** The target directory of a merge covering every id ≤ `upToBatch`. */
  def targetOf(rootPath: String, upToBatch: Long): Path =
    dirOf(rootPath, -(upToBatch + 1))

  /** Land one batch's rows in its own directory, owned-by-path,
    * partitioned below it by `partitionCols`. An empty frame written
    * with partition columns leaves no file to carry the schema, only
    * `_SUCCESS`; that directory is deleted, so the batch reads as
    * absent instead of failing schema inference on every later read.
    */
  def write(df: DataFrame, rootPath: String, batchId: Long,
            partitionCols: Seq[String] = Nil): Unit = {
    val root = new Path(rootPath)
    val fs = fsOf(df.sparkSession, root)
    listBatchIds(fs, root) // refuses a legacy root
    val dir = dirOf(rootPath, batchId)
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*)
      .parquet(dir.toString)
    if (!fs.listStatus(dir).exists(st => isData(st.getPath.getName)))
      fs.delete(dir, true)
  }

  private def fsOf(spark: SparkSession, root: Path): FileSystem =
    root.getFileSystem(spark.sessionState.newHadoopConf())

  /** Spark's own listing rule: dot-prefixed names (staging) and
    * underscore-prefixed ones (`_SUCCESS`) hold no store data, except a
    * partition directory such as `__part=3`.
    */
  private def isData(name: String): Boolean =
    !name.startsWith(".") && (!name.startsWith("_") || name.contains("="))

  /** The root's `batch=<id>` directories as (id, path), and its other
    * visible entries. Names that hold no data (see [[isData]]) are
    * neither; so are `batch=` names with no numeric id.
    */
  private def layout(fs: FileSystem, root: Path)
      : (Seq[(Long, Path)], Seq[Path]) = {
    val visible =
      if (!fs.exists(root)) Nil
      else fs.listStatus(root).toSeq.filter(st => isData(st.getPath.getName))
    val (batches, other) = visible.partition(_.getPath.getName.startsWith(Prefix))
    (batches.filter(_.isDirectory).map(_.getPath)
      .flatMap(p => p.getName.stripPrefix(Prefix).toLongOption.map(_ -> p)),
      other.map(_.getPath))
  }

  private def refuseLegacy(root: Path, other: Seq[Path]): Unit =
    if (other.nonEmpty) throw new IllegalStateException(
      s"store $root holds ${other.head.getName} outside batch= " +
        "directories: it was written under an older store layout, " +
        "which is not migrated")

  /** The store's `batch=<id>` directories as (id, path); throws when
    * the root also holds data outside them (see the class doc).
    */
  def listBatchIds(fs: FileSystem, root: Path): Seq[(Long, Path)] = {
    val (dirs, other) = layout(fs, root)
    refuseLegacy(root, other)
    dirs
  }

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
    * directory. A plain root (no `batch=` directory) reads whole.
    * `None` when the store is absent or nothing is left to read. No
    * Spark job runs here beyond Spark's own file listing.
    */
  def read(spark: SparkSession, rootPath: String,
           excludeBatch: Option[Long] = None): Option[DataFrame] = {
    val root = new Path(rootPath)
    val (dirs, other) = layout(fsOf(spark, root), root)
    if (dirs.isEmpty) Option.when(other.nonEmpty)(spark.read.parquet(rootPath))
    else {
      refuseLegacy(root, other)
      val live = effective(dirs)
        .filterNot { case (id, _) => excludeBatch.contains(id) }
      Option.when(live.nonEmpty)(readDirs(spark, rootPath, live.map(_._2)))
    }
  }

  /** [[read]] for a store that must hold rows. */
  def readAll(spark: SparkSession, rootPath: String,
              excludeBatch: Option[Long] = None): DataFrame =
    read(spark, rootPath, excludeBatch).getOrElse(
      throw new FileNotFoundException(
        s"Path does not exist or holds no store data: $rootPath"))

  /** Merge as described in the class doc; `project` shapes (or folds)
    * the store's rows, and the target is partitioned by
    * `partitionCols` like the directories it replaces. Re-running
    * after any crash completes the merge: a surviving staging dir is
    * discarded, an already-published target flips the call to
    * cleanup-only. No-op when the store does not exist or at most one
    * effective directory is covered.
    */
  def compactInPlace(spark: SparkSession, rootPath: String,
                     upToBatch: Long,
                     project: DataFrame => DataFrame,
                     partitionCols: Seq[String] = Nil): Unit = {
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
        project(readDirs(spark, rootPath, live))
          .write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*)
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
                 project: DataFrame => DataFrame,
                 partitionCols: Seq[String] = Nil): Unit = {
    val root = new Path(rootPath)
    val ids = listBatchIds(fsOf(spark, root), root).map(_._1)
    (watermark(ids) ++ ids.filter(_ >= 0)).maxOption
      .foreach(compactInPlace(spark, rootPath, _, project, partitionCols))
  }
}
