package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._

/** Per-row nearest-centroid ranking against a DRIVER-RESIDENT codebook
  * — the map-only replacement for the ANN family's
  * `join(broadcast(centroids))` + `row_number() OVER (PARTITION BY id
  * ORDER BY score)` argmax, which materializes |vectors| × |centroids|
  * vector-carrying rows and SHUFFLES them into the window sort. The
  * centroid table is bounded (≤ 4096 rows by every caller's `require`)
  * and already driver-collected for seeding, so ranking belongs in one
  * narrow projection: per input row, score the vector against each
  * centroid in a primitive loop and keep the best `keep` — zero joins,
  * zero exchanges, zero window state, at any corpus size. This is the
  * FAISS shape: the coarse quantizer lives in memory, assignment is a
  * streaming scan.
  *
  * Arguments: `sub` (int — the codebook selector; PQ subspace id, or
  * `lit(0)` for the single-codebook callers; out of range throws
  * IllegalArgumentException) and `vec` (array<float|double>).
  * `centsBySub(s)` is codebook `s` as (cell, centroid) pairs sorted by
  * cell ascending.
  *
  * Output: array<struct<cell: bigint, score: double>> of the best
  * `keep` cells, best first — EXACTLY the first `keep` rows of the
  * window formulation it replaces:
  *
  *  - `bySqDist = false` (cosine): score = [[CosineSimilarity]]'s
  *    sequential-fold cosine, order (score DESC, cell ASC) with
  *    Spark's DESC semantics — NaN above every value, null (length
  *    mismatch) below every value;
  *  - `bySqDist = true` (squared L2): score = the sequential-fold
  *    `Pq.sqDist`, order (score ASC, cell ASC) with Spark's ASC
  *    semantics — null FIRST, NaN above every value.
  *
  * All arithmetic is the same widen-to-double sequential fold as the
  * declarative forms, so assignments (and emitted scores) are
  * bit-identical — the DuckDB oracle hashes pin it.
  *
  * KNOWN DIVERGENCE on NULL input vectors (r15 advice note): a null
  * `vec` (or `sub`) gives null, so a subsequent explode/posexplode
  * DROPS the row — whereas the replaced
  * broadcast-join + window assigned a null vector to the LOWEST cell
  * with a null score. Length-MISMATCHED vectors are unaffected (they
  * score null per cell and keep the window's null ordering, pinned by
  * NearestCellsSpec). Every gated caller's vectors are non-null by
  * construction; callers over nullable vector columns must pre-filter
  * or coalesce if the old null-row behavior matters.
  */
object NearestCells {

  /** Single-codebook ranking column (the kmeans/IVF callers). */
  def single(vec: Column, cents: Seq[(Long, IndexedSeq[Double])],
             keep: Int, bySqDist: Boolean): Column =
    bySub(lit(0), vec, Seq(cents), keep, bySqDist)

  /** Per-subspace codebook ranking column (the PQ callers). */
  def bySub(sub: Column, vec: Column,
            centsBySub: Seq[Seq[(Long, IndexedSeq[Double])]],
            keep: Int, bySqDist: Boolean): Column = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    require(centsBySub.nonEmpty, "centsBySub must not be empty")
    // cells ascending is the (score, cell ASC) tiebreak's contract
    centsBySub.foreach { cs =>
      val cells = cs.map(_._1)
      require(cells == cells.sorted,
        "centsBySub codebooks must be sorted by cell ascending")
    }
    Kernel.call(Codebooks(centsBySub, keep, bySqDist),
      ArrayType(StructType(Seq(
        StructField("cell", LongType, nullable = false),
        StructField("score", DoubleType, nullable = true))),
        containsNull = false),
      Kernel.arg(sub, IntegerType) +: FloatArrays.arg(vec))
  }
}

/** The prepared state of [[NearestCells]]: the codebooks, how many
  * cells to keep and the metric. Equal codebooks make equal kernels.
  */
final case class Codebooks(centsBySub: Seq[Seq[(Long, IndexedSeq[Double])]],
                           keep: Int, bySqDist: Boolean) {

  override def toString: String =
    s"Codebooks(${centsBySub.size}x${centsBySub.map(_.size).max} cells, " +
      s"keep=$keep, ${if (bySqDist) "sqdist" else "cosine"})"

  // flat primitive codebooks for the scoring loop
  @transient private lazy val cellsArr: Array[Array[Long]] =
    centsBySub.map(_.map(_._1).toArray).toArray
  @transient private lazy val cvArr: Array[Array[Array[Double]]] =
    centsBySub.map(_.map(_._2.toArray).toArray).toArray

  /** score of vec x against centroid c — null (as java.lang.Double)
    * when lengths differ, matching zip_with's null-pad behavior.
    */
  private def score(x: ArrayData, xd: Boolean,
                    c: Array[Double]): java.lang.Double = {
    val n = x.numElements()
    if (n != c.length) null
    else if (bySqDist) {
      var acc = 0.0; var i = 0
      while (i < n) {
        val xi = FloatArrays.elem(x, i, xd)
        val d = xi - c(i)
        acc += d * d
        i += 1
      }
      java.lang.Double.valueOf(acc)
    } else {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < n) {
        val xi = FloatArrays.elem(x, i, xd)
        val ci = c(i)
        dot += xi * ci; na += xi * xi; nb += ci * ci
        i += 1
      }
      java.lang.Double.valueOf(
        dot / (math.sqrt(na) * math.sqrt(nb)))
    }
  }

  /** true when a ranks strictly better than b under the window order
    * this kernel replaces. Cosine: DESC — NaN above all values,
    * null below all (nulls last). SqDist: ASC — null above all (nulls
    * first), NaN below every real value (Double.compare: NaN greatest).
    */
  private def better(a: java.lang.Double, b: java.lang.Double): Boolean =
    if (bySqDist) {
      if (a == null) b != null
      else if (b == null) false
      else java.lang.Double.compare(a, b) < 0
    } else {
      if (a == null) false
      else if (b == null) true
      else java.lang.Double.compare(a, b) > 0
    }

  def compute(s: Int, x: ArrayData, xd: Boolean): ArrayData = {
    if (s < 0 || s >= cellsArr.length)
      throw new IllegalArgumentException(
        s"nearest_cells: sub $s out of range [0, ${cellsArr.length})")
    val cells = cellsArr(s)
    val cvs = cvArr(s)
    val m = math.min(keep, cells.length)
    // insertion into a best-first buffer; cells iterate ASCENDING, so
    // on ties the earlier (lower) cell stays ahead — the (score, cell
    // ASC) tiebreak for free
    val bc = new Array[Long](m)
    val bs = new Array[java.lang.Double](m)
    var filled = 0
    var ci = 0
    while (ci < cells.length) {
      val sc = score(x, xd, cvs(ci))
      // find insertion position: first slot whose kept score this one
      // strictly beats (stable for ties — lower cell already in place)
      var pos = filled
      while (pos > 0 && better(sc, bs(pos - 1))) pos -= 1
      if (pos < m) {
        val last = math.min(filled, m - 1)
        var j = last
        while (j > pos) { bc(j) = bc(j - 1); bs(j) = bs(j - 1); j -= 1 }
        bc(pos) = cells(ci); bs(pos) = sc
        if (filled < m) filled += 1
      }
      ci += 1
    }
    val out = new Array[Any](filled)
    var i = 0
    while (i < filled) {
      out(i) = InternalRow(bc(i), bs(i) match {
        case null => null
        case d => d.doubleValue()
      })
      i += 1
    }
    new GenericArrayData(out)
  }
}
